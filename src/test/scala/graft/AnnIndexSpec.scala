package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.store.{AnnIndex, SecondaryIndex, TableStore}

/** Persisted IVF ANN index ([[graft.store.AnnIndex]], VERDICT r11 next #2):
  * cells trained once at create, frozen across refreshes; maintenance is
  * the GSI replay with cell derivation as the projection; point top-k reads
  * a STRICT SUBSET of the index files (the probed cells' buckets) and never
  * touches the base table. */
class AnnIndexSpec extends SparkSuite {
  import spark.implicits._

  private val dim = 8

  /** Deterministic corpus in two well-separated direction families, so
    * recall is structural: ids 0..199 point near axis (id%4), with a tiny
    * id-dependent wobble on a different axis; clones of the query are
    * power-of-two scalings (bit-identical normalization). */
  private def corpus(n: Int) = (0L until n.toLong).map { id =>
    val v = new Array[Float](dim)
    v((id % 4).toInt) = 1.0f
    v(4 + (id % 3).toInt) = 0.01f * ((id % 7) + 1)
    (id, v)
  }.toDF("vec_id", "embedding")

  private def clones(qv: Array[Float], ids: Seq[Long]) =
    ids.map { j =>
      (10000000L + j, qv.map(x => x * math.pow(2.0, j.toDouble).toFloat))
    }.toDF("vec_id", "embedding")

  private def memoOff[T](body: => T): T = {
    spark.conf.set("spark.graft.meta.manifestCache", "false")
    try body finally spark.conf.unset("spark.graft.meta.manifestCache")
  }

  private def freshStore() = new TableStore(spark,
    Files.createTempDirectory("graft_ann").toString)

  test("create + point top-k: planted clones found at cosine 1.0; the " +
      "query reads a strict subset of index files and zero base files") {
    val store = freshStore()
    val qv = Array.fill(dim)(0f); qv(0) = 1f; qv(5) = 0.5f
    store.commitBucketed(
      corpus(200).unionByName(clones(qv, 1L to 5L))
        .unionByName(Seq((999L, qv)).toDF("vec_id", "embedding")),
      Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 3,
      numBuckets = 8)
    def search() = AnnIndex.topk(store, "ann", qv, k = 6, nProbe = 2,
      excludeId = Some(999L))
    // an index past the held gate (here: the memo off) is read bucket by
    // bucket
    val fileRows = memoOff {
      val top = search()
      val idxFiles = top.inputFiles.toSet
      val allIdx = SecondaryIndex.indexStore(store, "ann")
        .readSnapshot().inputFiles.toSet
      assert(idxFiles.nonEmpty && idxFiles.subsetOf(allIdx) &&
        idxFiles.size < allIdx.size,
        s"point query must read a strict subset of index files: " +
          s"${idxFiles.size} of ${allIdx.size}")
      assert(!top.inputFiles.exists(_.contains(s"${store.root}/data")),
        "point query must never touch the base table")
      top.collect().toSeq
    }
    // a held index answers the same from the driver: no job, no file
    search().collect() // holds the index rows
    var top: org.apache.spark.sql.DataFrame = null
    var heldRows = Seq.empty[org.apache.spark.sql.Row]
    val jobs = jobsDuring { top = search(); heldRows = top.collect().toSeq }
    assert(jobs == 0 && top.inputFiles.isEmpty,
      s"a held search ran $jobs jobs over ${top.inputFiles.toSeq}")
    assert(heldRows == fileRows)
    val rows = heldRows.map(r => (r.getLong(0), r.getDouble(1)))
    val planted = rows.filter(_._1 >= 10000000L)
    assert(planted.map(_._1).toSeq == (1L to 5L).map(10000000L + _),
      s"planted set missing from top-k: ${rows.toSeq}")
    assert(planted.forall(_._2 == 1.0),
      s"clone cosine must be exactly 1.0: ${planted.toSeq}")
  }

  test("topkBatch (r16): the index-served batch probe matches per-query " +
      "topk exactly at the same nProbe, reads a strict subset of index " +
      "files, and never touches the base table") {
    val store = freshStore()
    store.commitBucketed(corpus(200), Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 3,
      numBuckets = 8)
    // 30 queries clustered on 3 directions (axes 0..2)
    val queries = (0 until 30).map { i =>
      val v = new Array[Float](dim); v(i % 3) = 1.0f
      v(4 + (i % 3)) = 0.02f
      (i.toLong, v)
    }.toDF("q_id", "qv")
    val got = AnnIndex.topkBatch(store, "ann", queries, "q_id", "qv",
      k = 4, nProbe = 2)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // parity per query with the single-vector path at the same probe
    (0 until 30).foreach { i =>
      val v = new Array[Float](dim); v(i % 3) = 1.0f
      v(4 + (i % 3)) = 0.02f
      val single = AnnIndex.topk(store, "ann", v, k = 4, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = rows.filter(_._1 == i.toLong).sortBy(_._2)
        .map(r => (r._3, r._4)).toSeq
      assert(batch == single,
        s"batch row set diverged from topk for query $i:\n" +
          s"batch  $batch\nsingle $single")
    }
    val allIdx = SecondaryIndex.indexStore(store, "ann")
      .readSnapshot().inputFiles.toSet
    val idxRead = got.inputFiles.toSet.filter(allIdx)
    assert(idxRead.nonEmpty && idxRead.size < allIdx.size,
      s"batch probe must read a strict subset of index files: " +
        s"${idxRead.size} of ${allIdx.size}")
    assert(!got.inputFiles.exists(_.contains(s"${store.root}/data")),
      "batch probe must never touch the base table")
  }

  test("topkBatch parity with topk under keyFilter + widenToFill (r17, " +
      "VERDICT r16 next #1): a selective key predicate empties some " +
      "queries' probed cells at nProbe=1 — widening fills k per query, " +
      "matching the single-query adaptive probe exactly") {
    val store = freshStore()
    store.commitBucketed(corpus(200), Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 3,
      numBuckets = 8)
    // vec_id % 4 == 0 ⇔ direction family axis 0: queries near axes 1/2
    // find ZERO survivors in their nearest cell — the exact under-fill
    // trap widenToFill closes
    val filt = Some(col("vec_id") % 4 === 0)
    val queries = (0 until 12).map { i =>
      val v = new Array[Float](dim); v(i % 3) = 1.0f
      v(4 + (i % 3)) = 0.02f
      (i.toLong, v)
    }.toDF("q_id", "qv")
    val got = AnnIndex.topkBatch(store, "ann", queries, "q_id", "qv",
      k = 4, nProbe = 1, keyFilter = filt, widenToFill = true)
    val rows = got.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // k-FILL: every query gets exactly k rows despite the filter
    (0 until 12).foreach { i =>
      assert(rows.count(_._1 == i.toLong) == 4,
        s"query $i must widen to fill k=4, got " +
          s"${rows.count(_._1 == i.toLong)}")
    }
    // every returned id satisfies the predicate
    assert(rows.forall(_._3 % 4 == 0), "keyFilter must be exact")
    // per-query parity with the single-vector adaptive path
    (0 until 12).foreach { i =>
      val v = new Array[Float](dim); v(i % 3) = 1.0f
      v(4 + (i % 3)) = 0.02f
      val single = AnnIndex.topk(store, "ann", v, k = 4, nProbe = 1,
        keyFilter = filt, widenToFill = true)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = rows.filter(_._1 == i.toLong).sortBy(_._2)
        .map(r => (r._3, r._4)).toSeq
      assert(batch == single,
        s"filtered+widened batch diverged from topk for query $i:\n" +
          s"batch  $batch\nsingle $single")
    }
  }

  test("topkBatch unbroadcast route (r17, VERDICT r16 next #3): " +
      "broadcastBatch=false shuffles the cell equi-join instead of " +
      "broadcasting the batch, with identical results") {
    val store = freshStore()
    store.commitBucketed(corpus(200), Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 3,
      numBuckets = 8)
    val queries = (0 until 20).map { i =>
      val v = new Array[Float](dim); v(i % 3) = 1.0f
      v(4 + (i % 3)) = 0.02f
      (i.toLong, v)
    }.toDF("q_id", "qv")
    val bro = AnnIndex.topkBatch(store, "ann", queries, "q_id", "qv",
      k = 4, nProbe = 2)
    val shf = AnnIndex.topkBatch(store, "ann", queries, "q_id", "qv",
      k = 4, nProbe = 2, broadcastBatch = false)
    // structural: the static plan picks a shuffled hash join (the hint),
    // not a broadcast of the batch side
    val plan = shf.queryExecution.sparkPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"unbroadcast route must shuffle the equi-join:\n$plan")
    assert(shf.collect().toSeq == bro.collect().toSeq,
      "both join routes must return identical rows")
  }

  test("refresh assigns new vectors into FROZEN cells incrementally and " +
      "retracts deletes; centroids never retrain") {
    val store = freshStore()
    val qv = Array.fill(dim)(0f); qv(1) = 1f; qv(6) = 0.25f
    store.commitBucketed(
      corpus(200).unionByName(Seq((999L, qv)).toDF("vec_id", "embedding")),
      Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 3)
    val idx = SecondaryIndex.indexStore(store, "ann")
    val centsBefore = idx.manifest(idx.currentVersion())
      .props("graft.ann.centroids")
    // live feed: plant clones, delete a corpus vector, refresh
    store.upsertEq(clones(qv, 1L to 4L).withColumn("op", lit("PUT")))
    store.deleteEq(Seq(Tuple1(7L)).toDF("vec_id"))
    val iv0 = idx.currentVersion()
    AnnIndex.refresh(store, "ann")
    assert(idx.currentVersion() > iv0, "refresh must commit")
    assert(idx.manifest(idx.currentVersion()).props("graft.ann.centroids")
      == centsBefore, "refresh must never retrain centroids")
    // the refreshed index serves the planted set...
    val top = AnnIndex.topk(store, "ann", qv, k = 5, nProbe = 2,
      excludeId = Some(999L))
    val got = top.collect().map(_.getLong(0)).filter(_ >= 10000000L).toSeq
    assert(got == (1L to 4L).map(10000000L + _),
      s"refresh must land the planted clones in the query's cell: $got")
    // ...and the deleted key is OUT of the index entirely
    assert(idx.readSnapshot().filter(col("vec_id") === 7L).count() == 0,
      "deleteEq retraction must leave the index")
    // a second refresh with no base movement is a no-op
    assert(AnnIndex.refresh(store, "ann") == store.currentVersion())
  }

  test("the blanket GSI cadence refresh routes ANN indexes through the " +
      "cell projection (kind prop dispatch)") {
    val store = freshStore()
    store.commitBucketed(corpus(100), Seq("vec_id"), 4)
    AnnIndex.create(store, "ann", "embedding", clusters = 4, iters = 2)
    store.upsertEq(Seq((5000L, Array.fill(dim)(0.5f), "PUT"))
      .toDF("vec_id", "embedding", "op"))
    // the generic entry point — what StreamingOps.maintain calls
    SecondaryIndex.refresh(store, "ann")
    val idx = SecondaryIndex.indexStore(store, "ann")
    assert(idx.readSnapshot().filter(col("vec_id") === 5000L).count() == 1,
      "generic refresh must have applied the ANN projection")
    assert(SecondaryIndex.status(store).exists(s => s._1 == "ann" &&
      s._3 == store.currentVersion()), "status must show the index current")
  }

  test("the maintenance CADENCE keeps the ANN index fresh: compaction " +
      "(content-preserving) is a watermark-only advance, real churn " +
      "replays through the cell projection") {
    val store = freshStore()
    val qv = Array.fill(dim)(0f); qv(3) = 1f
    store.commitBucketed(corpus(200), Seq("vec_id"), 4)
    AnnIndex.create(store, "ann", "embedding", clusters = 4, iters = 2)
    val idx = SecondaryIndex.indexStore(store, "ann")
    // live feed: new vectors + a compaction, then ONE cadence pass
    store.upsertEq(clones(qv, 1L to 3L).withColumn("op", lit("PUT")))
    store.compact(targetFiles = 2)
    graft.streaming.StreamingOps.maintain(store,
      graft.streaming.StreamingOps.CdcMaintenance(everyNCommits = 1,
        keepSnapshots = 3))
    assert(SecondaryIndex.status(store)
      .exists(s => s._1 == "ann" && s._3 == store.currentVersion()),
      "the cadence must leave the ANN index at the base head")
    val got = AnnIndex.topk(store, "ann", qv, k = 3, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(got == (1L to 3L).map(10000000L + _),
      s"cadence-refreshed index must serve the planted set: $got")
    // a second pass with nothing new is a no-op for the index store
    val iv = idx.currentVersion()
    graft.streaming.StreamingOps.maintain(store,
      graft.streaming.StreamingOps.CdcMaintenance(everyNCommits = 1,
        keepSnapshots = 3))
    assert(SecondaryIndex.status(store)
      .exists(s => s._1 == "ann" && s._3 == store.currentVersion()))
    assert(idx.currentVersion() <= iv + 1,
      "an idle cadence must not rebuild the ANN index")
  }

  test("SQL procedure surface: create_ann_index trains and builds; the " +
      "GENERIC refresh_index advances it; ann_topk_view serves the point " +
      "query as a temp view") {
    val w = Files.createTempDirectory("graft_annsql").toString
    spark.conf.set("spark.sql.catalog.ann_cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ann_cat.warehouse", w)
    val store = new TableStore(spark, s"$w/analytics/vecs")
    val qv = Array.fill(dim)(0f); qv(2) = 1f; qv(7) = 0.125f
    store.commitBucketed(
      corpus(150).unionByName(Seq((999L, qv)).toDF("vec_id", "embedding")),
      Seq("vec_id"), 8)
    spark.sql("CALL ann_cat.system.create_ann_index('analytics.vecs', " +
      "'emb', 'embedding', 8, 2)")
    store.upsertEq(clones(qv, 1L to 3L).withColumn("op", lit("PUT")))
    spark.sql("CALL ann_cat.system.refresh_index('analytics.vecs', 'emb')")
    val vn = spark.sql("CALL ann_cat.system.ann_topk_view(" +
      "'analytics.vecs', 'emb', 999L, 4, 2)").head().getString(0)
    val got = spark.sql(
      s"SELECT vec_id FROM $vn ORDER BY cos_sim DESC, vec_id")
      .collect().map(_.getLong(0)).toSeq
    assert(got.take(3) == (1L to 3L).map(10000000L + _),
      s"SQL-served top-k must lead with the planted clones: $got")
  }

  test("create is refused on unkeyed bases; topk on a missing index fails " +
      "actionably") {
    val store = freshStore()
    store.commitSnapshot(corpus(50))
    val e = intercept[IllegalArgumentException](
      AnnIndex.create(store, "ann", "embedding"))
    assert(e.getMessage.contains("unkeyed"))
    val e2 = intercept[IllegalArgumentException](
      AnnIndex.topk(store, "nope", Array.fill(dim)(1f), 5))
    assert(e2.getMessage.contains("does not exist"))
  }

  test("COMPOSITE (and non-long) keys: create + refresh + point top-k carry " +
      "the full key tuple (VERDICT r12 next #2d)") {
    val store = freshStore()
    // wobble 0.005 is outside the corpus family (0.01..0.07), so only the
    // planted clones can hit cosine exactly 1.0
    val qv = Array.fill(dim)(0f); qv(0) = 1f; qv(4) = 0.005f
    // key = (tenant STRING, seq LONG)
    val base = corpus(120)
      .select(concat(lit("t"), col("vec_id") % 3).as("tenant"),
        col("vec_id").as("seq"), col("embedding"))
    store.commitBucketed(base, Seq("tenant", "seq"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 2)
    // live feed: planted clones (power-of-two scalings, bit-identical
    // normalization) under fresh composite keys, through the GSI replay
    val planted = clones(qv, 1L to 3L)
      .select(lit("tq").as("tenant"), col("vec_id").as("seq"), col("embedding"),
        lit("PUT").as("op"))
    store.upsertEq(planted)
    AnnIndex.refresh(store, "ann")
    val top = AnnIndex.topk(store, "ann", qv, k = 3, nProbe = 2)
    assert(top.columns.toSeq == Seq("tenant", "seq", "cos_sim"))
    val rows = top.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.forall { case (t, _, c) => t == "tq" && c == 1.0 },
      s"planted composite-keyed clones must lead the top-k: ${rows.toSeq}")
    assert(!top.inputFiles.exists(_.contains(s"${store.root}/data")),
      "point query must never touch the base table")
  }

  test("retrain re-trains on the CURRENT snapshot and swaps atomically as " +
      "the next index version (VERDICT r12 next #2c)") {
    val store = freshStore()
    store.commitBucketed(corpus(100), Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 4, iters = 2)
    val idx = SecondaryIndex.indexStore(store, "ann")
    val iv0 = idx.currentVersion()
    val cents0 = idx.manifest(iv0).props("graft.ann.centroids")
    // drift: a new dense direction family the frozen cells never trained on
    val drift = (5000L until 5100L).map { id =>
      val v = new Array[Float](dim); v(7) = 1.0f
      v(4) = 0.001f * (id % 5); (id, v)
    }.toDF("vec_id", "embedding").withColumn("op", lit("PUT"))
    store.upsertEq(drift)
    AnnIndex.refresh(store, "ann") // frozen cells absorb the drift rows
    val bv = AnnIndex.retrain(store, "ann", clusters = 8, iters = 2)
    assert(bv == store.currentVersion())
    val iv1 = idx.currentVersion()
    assert(iv1 > iv0, "retrain must commit a NEW index version (atomic swap)")
    assert(idx.manifest(iv1).props("graft.ann.centroids") != cents0,
      "retrain must produce fresh centroids")
    assert(idx.manifest(iv1).props("graft.index.kind") == "ann-ivf")
    // the swapped index is complete and serves the drifted family
    assert(idx.readSnapshot().count() == 200L)
    val qd = new Array[Float](dim); qd(7) = 1f
    val got = AnnIndex.topk(store, "ann", qd, k = 5, nProbe = 2)
      .collect().map(_.getLong(0))
    assert(got.forall(_ >= 5000L),
      s"retrained cells must serve the drifted direction: ${got.toSeq}")
    // prior version still readable (readers mid-flight stay consistent)
    assert(idx.readSnapshot(iv0).count() == 100L)
  }

  test("k-means|| seeding spreads cells on a SKEWED corpus: lowest-id " +
      "near-duplicates cannot collapse every seed (VERDICT r12 next #8)") {
    val store = freshStore()
    // ids 0..15 all point the same direction (the lowest-id seeding trap);
    // the real corpus spans 4 direction families
    val trap = (0L until 16L).map { id =>
      val v = new Array[Float](dim); v(0) = 1.0f
      v(4) = 0.0001f * id; (id, v)
    }
    val real = (16L until 416L).map { id =>
      val v = new Array[Float](dim); v((id % 4).toInt) = 1.0f
      v(4 + (id % 3).toInt) = 0.01f * ((id % 7) + 1); (id, v)
    }
    store.commitBucketed((trap ++ real).toDF("vec_id", "embedding"),
      Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 3)
    val idx = SecondaryIndex.indexStore(store, "ann")
    val sizes = idx.readSnapshot().groupBy("cell").count()
      .collect().map(_.getLong(1))
    val mean = sizes.sum.toDouble / 8 // over ALL cells incl. empty
    assert(sizes.length >= 4,
      s"seeding must populate the distinct direction families: ${sizes.length} cells")
    assert(sizes.max / mean <= 4.0,
      s"cell balance: max ${sizes.max} vs mean $mean over 8 cells")
  }

  test("cells default to ~sqrt(N) when unspecified") {
    val store = freshStore()
    store.commitBucketed(corpus(400), Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", iters = 1)
    val idx = SecondaryIndex.indexStore(store, "ann")
    val cents = graft.store.AnnIndex.centsFromJson(
      idx.manifest(idx.currentVersion()).props("graft.ann.centroids"))
    assert(cents.length >= 10 && cents.length <= 20,
      s"sqrt(400) = 20 cells expected (less only if directions collapse), " +
        s"got ${cents.length}")
  }
}
