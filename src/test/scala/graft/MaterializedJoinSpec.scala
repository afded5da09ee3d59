package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.{MaterializedJoin, SecondaryIndex, TableStore}

/** Incrementally-maintained join views ([[MaterializedJoin]]): every
  * refresh is checked against a recompute-from-scratch join over the two
  * bases' CURRENT snapshots, across fact-side and dim-side change routes,
  * with the delta-keyed upsert economy (only affected view buckets
  * rewrite) and the watermark-only no-op paths pinned. */
class MaterializedJoinSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(): (TableStore, TableStore) = {
    val root = java.nio.file.Files.createTempDirectory("graft_mjoin").toString
    val fact = new TableStore(spark, s"$root/fact")
    val dim = new TableStore(spark, s"$root/dim")
    (fact, dim)
  }

  /** fact(id PK, fk → dim, amt); dim(k PK, attr [projected], extra
    * [unprojected]). fk covers dim keys 0..39, dim has 0..49. */
  private def seed(fact: TableStore, dim: TableStore, n: Int = 300): Unit = {
    fact.commitBucketed((1L to n.toLong).map(i =>
      (i, i % 40, i * 10)).toDF("id", "fk", "amt"), Seq("id"), 8)
    dim.commitBucketed((0L to 49L).map(k =>
      (k, s"a$k", s"x$k")).toDF("k", "attr", "extra"), Seq("k"), 4)
  }

  private def recompute(fact: TableStore, dim: TableStore,
      joinType: String): Seq[String] =
    canon(fact.readSnapshot().as("l")
      .join(dim.readSnapshot().select(col("k"), col("attr")).as("r"),
        col("l.fk") === col("r.k"), joinType)
      .select(col("id"), col("fk"), col("amt"), col("attr")))

  private def viewRows(fact: TableStore, name: String = "jv"): Seq[String] =
    canon(MaterializedJoin.read(fact, name)
      .select(col("id"), col("fk"), col("amt"), col("attr")))

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  private def viewFiles(fact: TableStore): Set[String] = {
    val st = MaterializedJoin.viewStore(fact, "jv")
    st.manifest(st.currentVersion()).inlineFiles.toSet
  }

  test("create materializes the join; covering index on the join column") {
    val (fact, dim) = fresh(); seed(fact, dim)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
    assert(SecondaryIndex.list(fact).contains("join-jv"),
      "dim-churn lookups need the covering index on the join column")
    val st = MaterializedJoin.viewStore(fact, "jv")
    assert(st.manifest(st.currentVersion()).bucketKeys == Seq("id"),
      "the view must be keyed like the fact table")
  }

  test("fact-side deltas: upsert, delete, and re-point refresh exactly") {
    val (fact, dim) = fresh(); seed(fact, dim)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    // amount update + hard delete, confined to single fact buckets (a
    // scattered eq mask would price the span onto the recompute route)
    val b = graft.store.TableStore.bucketExpr(Seq("id"), 8)
    fact.upsertEq(fact.readSnapshot().filter(b === 2 && col("id") % 3 === 0)
      .withColumn("amt", col("amt") + 1).withColumn("op", lit("PUT")))
    val delIds = fact.readSnapshot().filter(b === 5 && col("id") % 4 === 0)
      .select("id")
    fact.deleteEq(delIds)
    val before = viewFiles(fact)
    MaterializedJoin.refresh(fact, "jv")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
    assert(viewFiles(fact).intersect(before).nonEmpty,
      "a sparse fact delta must not rewrite the whole view")
    // re-point: a fact row moves to another dim key (new attr)
    fact.upsertMor(fact.readSnapshot().filter(col("id") === 10)
      .withColumn("fk", lit(45L)).withColumn("op", lit("PUT")))
    MaterializedJoin.refresh(fact, "jv")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
    assert(MaterializedJoin.read(fact, "jv").filter(col("id") === 10)
      .head().getAs[String]("attr") == "a45")
  }

  test("dim-side deltas route through the index; unprojected churn no-ops") {
    val (fact, dim) = fresh(); seed(fact, dim)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    // projected column changes → the joining facts refresh
    dim.upsertEq(dim.readSnapshot().filter(col("k").isin(3L, 17L))
      .withColumn("attr", concat(col("attr"), lit("_v2")))
      .withColumn("op", lit("PUT")))
    MaterializedJoin.refresh(fact, "jv")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
    assert(MaterializedJoin.read(fact, "jv").filter(col("fk") === 3)
      .select("attr").distinct().head().getString(0) == "a3_v2")
    // UNPROJECTED column changes → netting on the projection cancels:
    // watermark-only advance, zero view files rewritten
    dim.upsertEq(dim.readSnapshot().filter(col("k") === 5)
      .withColumn("extra", lit("noise")).withColumn("op", lit("PUT")))
    val before = viewFiles(fact)
    MaterializedJoin.refresh(fact, "jv")
    assert(viewFiles(fact) == before,
      "unprojected dim churn must advance the watermark only")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
  }

  test("inner drops unmatched facts on dim delete; left keeps them NULL") {
    val (fact, dim) = fresh(); seed(fact, dim)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    MaterializedJoin.create(fact, "jvl", dim, Seq("fk"), Seq("k"),
      Seq("attr"), joinType = "left")
    dim.deleteEq(Seq(11L).toDF("k"))
    MaterializedJoin.refresh(fact, "jv")
    MaterializedJoin.refresh(fact, "jvl")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
    assert(canon(MaterializedJoin.read(fact, "jvl")
      .select(col("id"), col("fk"), col("amt"), col("attr"))) ==
      recompute(fact, dim, "left"))
    assert(MaterializedJoin.read(fact, "jv")
      .filter(col("fk") === 11).count() == 0,
      "inner join rows must leave the view with their dim key")
    val leftNulls = MaterializedJoin.read(fact, "jvl")
      .filter(col("fk") === 11)
    assert(leftNulls.count() > 0 &&
      leftNulls.filter(col("attr").isNotNull).count() == 0,
      "left join keeps unmatched facts with NULL dim columns")
    // a dim re-insert restores the matches
    dim.upsertEq(Seq((11L, "a11_back", "x")).toDF("k", "attr", "extra")
      .withColumn("op", lit("PUT")))
    MaterializedJoin.refresh(fact, "jv")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
    assert(MaterializedJoin.read(fact, "jv").filter(col("fk") === 11)
      .select("attr").distinct().head().getString(0) == "a11_back")
  }

  test("content-preserving fact maintenance advances the watermark only") {
    val (fact, dim) = fresh(); seed(fact, dim)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    fact.compact(targetFiles = 4)
    val before = viewFiles(fact)
    MaterializedJoin.refresh(fact, "jv")
    assert(viewFiles(fact) == before,
      "fact compaction must be a metadata-only view advance")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
  }

  test("scattered fact churn routes to full recompute; parity holds") {
    val (fact, dim) = fresh(); seed(fact, dim, n = 600)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    fact.deleteEq((1L to 600L).filter(_ % 5 == 0).toDF("id"))
    val before = viewFiles(fact)
    MaterializedJoin.refresh(fact, "jv")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
    assert(viewFiles(fact).intersect(before).isEmpty,
      "a scattered span must route to the recompute path")
  }

  test("the join view rides the CDC maintenance cadence, both sides") {
    val (fact, dim) = fresh(); seed(fact, dim)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    dim.upsertEq(dim.readSnapshot().filter(col("k") === 9)
      .withColumn("attr", lit("a9_cadence")).withColumn("op", lit("PUT")))
    val b = graft.store.TableStore.bucketExpr(Seq("id"), 8)
    fact.upsertEq(fact.readSnapshot().filter(b === 1 && col("id") % 2 === 0)
      .withColumn("amt", col("amt") + 5).withColumn("op", lit("PUT")))
    graft.streaming.StreamingOps.maintain(fact,
      graft.streaming.StreamingOps.CdcMaintenance())
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
    assert(MaterializedJoin.status(fact).forall(s => s._4 == s._5 &&
      s._6 == s._7), "the cadence must leave the view fresh on both sides")
    // derivative hygiene: more refresh cycles must not accumulate view
    // snapshots past the retention (each refresh is a commit)
    (1 to 3).foreach { i =>
      fact.upsertEq(fact.readSnapshot().filter(b === 1 && col("id") % 2 === 0)
        .withColumn("amt", col("amt") + i).withColumn("op", lit("PUT")))
      graft.streaming.StreamingOps.maintain(fact,
        graft.streaming.StreamingOps.CdcMaintenance())
    }
    val vst = MaterializedJoin.viewStore(fact, "jv")
    assert(vst.existingVersions().size <= 2,
      s"view snapshots must be vacuumed by the cadence, " +
        s"got ${vst.existingVersions()}")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
  }

  test("an aggregate view STACKS on a join view; the cadence refreshes " +
      "the whole pyramid") {
    val (fact, dim) = fresh(); seed(fact, dim)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    // the join view is a regular graft table — the aggregate machinery
    // applies unchanged: SUM(amt) by dim attribute over denormalized rows
    val vs = MaterializedJoin.viewStore(fact, "jv")
    graft.store.MaterializedAgg.create(vs, "by_attr", Seq("attr"),
      Seq("amt"), 2)
    def aggRows(): Seq[String] =
      canon(graft.store.MaterializedAgg.read(vs, "by_attr")
        .select(col("attr"), col("sum_amt"), col("_cnt")))
    def want(): Seq[String] =
      canon(fact.readSnapshot().as("l")
        .join(dim.readSnapshot().select(col("k"), col("attr")).as("r"),
          col("l.fk") === col("r.k"), "inner")
        .groupBy("attr").agg(sum("amt").as("sum_amt"),
          count(lit(1)).as("_cnt"))
        .select(col("attr"), col("sum_amt"), col("_cnt")))
    assert(aggRows() == want())
    // two-sided churn, then ONE maintenance pass on the fact refreshes
    // join view -> stacked aggregate in order
    dim.upsertEq(dim.readSnapshot().filter(col("k").isin(2L, 12L))
      .withColumn("attr", lit("a_hot")).withColumn("op", lit("PUT")))
    val b = graft.store.TableStore.bucketExpr(Seq("id"), 8)
    fact.deleteEq(fact.readSnapshot()
      .filter(b === 3 && col("id") % 2 === 0).select("id"))
    graft.streaming.StreamingOps.maintain(fact,
      graft.streaming.StreamingOps.CdcMaintenance())
    assert(aggRows() == want(),
      "the stacked aggregate must reflect both sides' changes after one " +
        "fact-side maintenance pass")
  }

  test("MULTI-DIM: churn on every side refreshes exactly; per-dim " +
      "covering indexes; the cadence keeps the star fresh") {
    val (fact, dim) = fresh()
    fact.commitBucketed((1L to 300L).map(i =>
      (i, i % 40, i * 10, i % 10)).toDF("id", "fk", "amt", "amt_b"),
      Seq("id"), 8)
    dim.commitBucketed((0L to 49L).map(k =>
      (k, s"a$k", s"x$k")).toDF("k", "attr", "extra"), Seq("k"), 16)
    val dim2 = new TableStore(spark,
      fact.root.stripSuffix("/fact") + "/dim2")
    dim2.commitBucketed((0L to 199L).map(g =>
      (g, s"g$g", g * 100)).toDF("gk", "gname", "gval"), Seq("gk"), 8)
    MaterializedJoin.createMulti(fact, "star", Seq(
      MaterializedJoin.Dim(dim, Seq("fk"), Seq("k"), Seq("attr")),
      MaterializedJoin.Dim(dim2, Seq("amt_b"), Seq("gk"), Seq("gname"))))
    def recompute3(): Seq[String] =
      canon(fact.readSnapshot().as("l")
        .join(dim.readSnapshot().select(col("k"), col("attr")).as("r"),
          col("l.fk") === col("r.k"), "inner")
        .join(dim2.readSnapshot().select(col("gk"), col("gname")).as("g"),
          col("l.amt_b") === col("g.gk"), "inner")
        .select(col("id"), col("fk"), col("amt"), col("amt_b"),
          col("attr"), col("gname")))
    def starRows(): Seq[String] =
      canon(MaterializedJoin.read(fact, "star")
        .select(col("id"), col("fk"), col("amt"), col("amt_b"),
          col("attr"), col("gname")))
    assert(starRows() == recompute3())
    assert(SecondaryIndex.list(fact).contains("join-star") &&
      SecondaryIndex.list(fact).contains("join-star-d1"),
      "each non-PK dim key needs its own covering index")
    // churn EVERY side: projected dim1 update, dim2 update + delete,
    // fact update — one refresh reconciles all of it
    dim.upsertEq(dim.readSnapshot().filter(col("k").isin(7L, 21L))
      .withColumn("attr", concat(col("attr"), lit("_s")))
      .withColumn("op", lit("PUT")))
    dim2.upsertEq(dim2.readSnapshot().filter(col("gk") === 3L)
      .withColumn("gname", lit("g3_new")).withColumn("op", lit("PUT")))
    dim2.deleteEq(Seq(8L).toDF("gk"))
    val b = graft.store.TableStore.bucketExpr(Seq("id"), 8)
    fact.upsertEq(fact.readSnapshot().filter(b === 2 && col("id") % 3 === 0)
      .withColumn("amt", col("amt") + 1).withColumn("op", lit("PUT")))
    val before = {
      val st = MaterializedJoin.viewStore(fact, "star")
      st.manifest(st.currentVersion()).inlineFiles.toSet
    }
    MaterializedJoin.refresh(fact, "star")
    assert(starRows() == recompute3())
    val after = {
      val st = MaterializedJoin.viewStore(fact, "star")
      st.manifest(st.currentVersion()).inlineFiles.toSet
    }
    assert(after.intersect(before).nonEmpty,
      "sparse multi-side churn must stay on the delta path")
    assert(MaterializedJoin.read(fact, "star")
      .filter(col("amt_b") === 8L).count() == 0,
      "inner rows must leave with their deleted dim2 key")
    // $joins-style status: one row per dim, all fresh after the refresh
    val st = MaterializedJoin.status(fact).filter(_._1 == "star")
    assert(st.size == 2 && st.forall(s => s._4 == s._5 && s._6 == s._7))
    // the maintenance cadence refreshes the star too
    dim2.upsertEq(Seq((8L, "g8_back", 800L)).toDF("gk", "gname", "gval")
      .withColumn("op", lit("PUT")))
    graft.streaming.StreamingOps.maintain(fact,
      graft.streaming.StreamingOps.CdcMaintenance())
    assert(starRows() == recompute3(),
      "the cadence must reconcile dim2 churn through the star view")
    // drop cleans up BOTH dims' pins and BOTH indexes
    assert(MaterializedJoin.drop(fact, "star"))
    assert(!SecondaryIndex.list(fact).exists(_.startsWith("join-star")))
    assert(!dim2.listRefs().exists(_.name.contains("-star")))
  }

  test("derivative-base contract: view-as-FACT stacks (the pyramid, " +
      "cadence-maintained since r11); view-as-DIM and index/agg facts " +
      "still refuse") {
    val (fact, dim) = fresh(); seed(fact, dim)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    val vs = MaterializedJoin.viewStore(fact, "jv")
    // join view over a join view: ALLOWED (StreamingOps.maintain walks
    // the pyramid parent-before-child; exactness pinned in the PYRAMID
    // test above) — here just the registration contract
    MaterializedJoin.create(vs, "jj", dim, Seq("fk"), Seq("k"),
      Seq("extra"))
    assert(MaterializedJoin.list(vs) == Seq("jj"))
    assert(MaterializedJoin.drop(vs, "jj"))
    // a join view as the DIM side: refused (no cadence refreshes a dim)
    val e2 = intercept[IllegalArgumentException](MaterializedJoin.create(
      fact, "jd", vs, Seq("id"), Seq("id"), Seq()))
    assert(e2.getMessage.contains("derivative"))
    // index/agg stores as fact: refused (their rows are not the fact
    // relation)
    val idxStore = SecondaryIndex.indexStore(fact, "join-jv")
    val e3 = intercept[IllegalArgumentException](MaterializedJoin.create(
      idxStore, "ji", dim, Seq("fk"), Seq("k"), Seq("extra")))
    assert(e3.getMessage.contains("aggregate/index"))
  }

  test("a duplicate-keyed dim is refused at create (the one-live-row " +
      "contract is enforced, not documented)") {
    val (fact, dim) = fresh()
    fact.commitBucketed((1L to 50L).map(i =>
      (i, i % 5, i)).toDF("id", "fk", "amt"), Seq("id"), 4)
    // seed the dim through a RAW bucketed commit carrying a duplicate key
    dim.commitBucketed((0L to 5L).map(k => (k, s"a$k"))
      .toDF("k", "attr").union(Seq((3L, "a3_dup")).toDF("k", "attr")),
      Seq("k"), 2)
    val e = intercept[IllegalArgumentException](MaterializedJoin.create(
      fact, "jv", dim, Seq("fk"), Seq("k"), Seq("attr")))
    assert(e.getMessage.contains("duplicate rows"))
  }

  test("a pre-existing index under the view's name must cover the join " +
      "or create refuses; it survives a failed create") {
    val (fact, dim) = fresh(); seed(fact, dim)
    // a USER index squatting the view's index name, on the WRONG keys
    SecondaryIndex.create(fact, "join-jv", Seq("amt"), Seq("fk"), 4)
    val e = intercept[IllegalArgumentException](MaterializedJoin.create(
      fact, "jv", dim, Seq("fk"), Seq("k"), Seq("attr")))
    assert(e.getMessage.contains("does not cover"))
    assert(SecondaryIndex.list(fact).contains("join-jv"),
      "a failed create must not drop a pre-existing user index")
    SecondaryIndex.drop(fact, "join-jv")
    // a pre-existing index on the RIGHT keys with full coverage is adopted
    SecondaryIndex.create(fact, "join-jv", Seq("fk"),
      fact.manifest(fact.currentVersion()).schema.fieldNames.toSeq
        .filterNot(c => c == "fk" || c == "id"), 8)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    dim.upsertEq(dim.readSnapshot().filter(col("k") === 2L)
      .withColumn("attr", lit("a2_x")).withColumn("op", lit("PUT")))
    MaterializedJoin.refresh(fact, "jv")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
  }

  test("drop removes view, covering index, and pins on both stores") {
    val (fact, dim) = fresh(); seed(fact, dim)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    assert(fact.listRefs().exists(_.name.startsWith("join-pin-jv")))
    assert(dim.listRefs().exists(_.name.contains("-jv-")))
    assert(MaterializedJoin.drop(fact, "jv"))
    assert(MaterializedJoin.list(fact).isEmpty)
    assert(!SecondaryIndex.list(fact).contains("join-jv"))
    assert(!fact.listRefs().exists(_.name.startsWith("join-pin-jv")))
    assert(!dim.listRefs().exists(_.name.contains("-jv-")))
  }

  test("refusals: unkeyed dim, column collisions, bad join type") {
    val (fact, dim) = fresh(); seed(fact, dim)
    val e1 = intercept[IllegalArgumentException](MaterializedJoin.create(
      fact, "bad", dim, Seq("fk"), Seq("attr"), Seq("extra")))
    assert(e1.getMessage.contains("KEYED ON the join columns"))
    val e2 = intercept[IllegalArgumentException](MaterializedJoin.create(
      fact, "bad", dim, Seq("fk"), Seq("k"), Seq("k")))
    assert(e2.getMessage.contains("repeat the join key"))
    val e3 = intercept[IllegalArgumentException](MaterializedJoin.create(
      fact, "bad", dim, Seq("fk"), Seq("k"), Seq("attr"), joinType = "full"))
    assert(e3.getMessage.contains("inner or left"))
  }

  test("a duplicate-keyed FACT is refused at create (row-level " +
      "maintenance is an equality upsert — r11, the dim contract's twin)") {
    val (fact, dim) = fresh()
    fact.commitBucketed(Seq((1L, 2L, 10L), (1L, 2L, 11L), (2L, 3L, 12L))
      .toDF("id", "fk", "amt"), Seq("id"), 2)
    dim.commitBucketed((0L to 9L).map(k => (k, s"a$k")).toDF("k", "attr"),
      Seq("k"), 2)
    val e = intercept[IllegalArgumentException](MaterializedJoin.create(
      fact, "bad", dim, Seq("fk"), Seq("k"), Seq("attr")))
    assert(e.getMessage.contains("one live row per fact key"))
    // and the failed create left no covering index behind
    assert(!SecondaryIndex.list(fact).contains("join-bad"))
  }

  test("TAIL: dim churn serves exactly through the lockstep index (new " +
      "dim keys included) and the re-join bucket-prunes the dim read") {
    // the file-count gate skips pruning for toy dims; force it on so the
    // pruned plan SHAPE is pinned here
    spark.conf.set("spark.graft.agg.rewrite.tail.pruneDimMinFiles", "1")
    val (fact, dim, vm, allDim) = try {
      val (fact, dim) = fresh()
      fact.commitBucketed((1L to 300L).map(i =>
        (i, i % 40, i * 10)).toDF("id", "fk", "amt"), Seq("id"), 8)
      // dim covers only 0..35: fact rows with fk 36..39 are inner-unmatched
      // and ABSENT from the stored view
      dim.commitBucketed((0L to 35L).map(k =>
        (k, s"a$k")).toDF("k", "attr"), Seq("k"), 16)
      MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
        Seq("attr"))
      val idxSt = SecondaryIndex.indexStore(fact, "join-jv")
      val (vvB, ivB) = (MaterializedJoin.viewStore(fact, "jv")
        .currentVersion(), idxSt.currentVersion())
      // dim churn only, NO refresh: a projected update + NEW keys — the
      // new-key fact rows must be found via the covering index even though
      // the stored view never carried them
      dim.upsertEq((Seq((3L, "a3_v2")) ++ (36L to 39L).map(k =>
        (k, s"new$k"))).toDF("k", "attr").withColumn("op", lit("PUT")))
      val vm = MaterializedJoin.viewMeta(fact, "jv").get
      val t = MaterializedJoin.storedPlusTail(fact, vm,
        fact.currentVersion(), Seq(dim.currentVersion())).get
      assert(canon(t.frame.select(col("id"), col("fk"), col("amt"),
        col("attr"))) == recompute(fact, dim, "inner"),
        "dim-churn tail must equal a recompute at the scanned snapshots")
      // a READ path commits nothing — view and index stores untouched
      assert(MaterializedJoin.viewStore(fact, "jv").currentVersion() == vvB
        && idxSt.currentVersion() == ivB)
      // the re-join reads a strict subset of the dim's files (the changed
      // keys' buckets), not the whole dim — the refresh economy on the
      // read path (VERDICT r10 missing #3)
      val dimFiles = t.frame.inputFiles.filter(_.contains("/dim")).toSet
      val allDim = dim.readSnapshot().inputFiles.toSet
      assert(dimFiles.nonEmpty && dimFiles.subsetOf(allDim) &&
        dimFiles.size < allDim.size,
        s"tail re-join must bucket-prune the dim: read ${dimFiles.size} " +
          s"of ${allDim.size}")
      (fact, dim, vm, allDim)
    } finally spark.conf.unset("spark.graft.agg.rewrite.tail.pruneDimMinFiles")
    // at the default file-count gate this toy dim is below it: the
    // re-join reads every dim file and stays exact
    val t2 = MaterializedJoin.storedPlusTail(fact, vm,
      fact.currentVersion(), Seq(dim.currentVersion())).get
    assert(canon(t2.frame.select(col("id"), col("fk"), col("amt"),
      col("attr"))) == recompute(fact, dim, "inner"))
    assert(t2.frame.inputFiles.filter(_.contains("/dim")).toSet == allDim,
      "below the file-count gate the re-join must read the whole dim")
  }

  test("LEGACY PROPS: a pre-multi-dim view (un-suffixed props) still " +
      "reads, refreshes exactly, and migrates to suffixed props") {
    val (fact, dim) = fresh(); seed(fact, dim)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    // simulate the r9 persisted format: rewrite the view manifest's props
    // to the legacy UN-SUFFIXED names (the shape views created before the
    // multi-dim release carry on disk — ADVICE r10: viewMeta must not
    // throw on them)
    val st = MaterializedJoin.viewStore(fact, "jv")
    val p = st.manifest(st.currentVersion()).props
    val legacy = Map(
      "graft.join.l-version" -> p("graft.join.l-version"),
      "graft.join.type" -> p("graft.join.type"),
      "graft.join.r-root" -> p("graft.join.r-root.0"),
      "graft.join.l-keys" -> p("graft.join.l-keys.0"),
      "graft.join.r-keys" -> p("graft.join.r-keys.0"),
      "graft.join.r-cols" -> p("graft.join.r-cols.0"),
      "graft.join.r-version" -> p("graft.join.r-version.0")) ++
      p.get("graft.join.l-index.0").map("graft.join.l-index" -> _)
    st.commitIncremental(st.readSnapshot().limit(0), Nil, props = legacy)
    // metadata paths parse the legacy shape
    val vm = MaterializedJoin.viewMeta(fact, "jv").get
    assert(vm.dims.size == 1 && vm.dims.head.rRoot == dim.root &&
      vm.dims.head.lKeys == Seq("fk"))
    assert(MaterializedJoin.status(fact).nonEmpty)
    // refresh over real churn stays exact AND migrates the props in place
    dim.upsertEq(dim.readSnapshot().filter(col("k") === 7)
      .withColumn("attr", lit("legacy_new")).withColumn("op", lit("PUT")))
    MaterializedJoin.refresh(fact, "jv")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
    val p2 = st.manifest(st.currentVersion()).props
    assert(p2.contains("graft.join.r-root.0") &&
      p2.contains("graft.join.n-dims") &&
      !p2.contains("graft.join.r-root"),
      s"refresh must migrate legacy props to the suffixed form, got $p2")
    // and the migrated view keeps refreshing exactly
    dim.upsertEq(dim.readSnapshot().filter(col("k") === 8)
      .withColumn("attr", lit("post_migrate")).withColumn("op", lit("PUT")))
    MaterializedJoin.refresh(fact, "jv")
    assert(viewRows(fact) == recompute(fact, dim, "inner"))
  }

  test("PYRAMID: a join view stacks over a join view (snowflake dim on a " +
      "level-1 projected column); refresh parent-then-child stays exact " +
      "and one maintenance pass walks every level") {
    val root = java.nio.file.Files.createTempDirectory("graft_pyr").toString
    val fact = new TableStore(spark, s"$root/fact")
    val d1 = new TableStore(spark, s"$root/d1")
    val d2 = new TableStore(spark, s"$root/d2")
    // fact(id, fk→d1, amt); d1(k, grp [projected], attr1); d2(g, attr2) —
    // d2 keys on d1's PROJECTED column `grp`: the snowflake shape a
    // single multi-dim view cannot express (its dims key on fact columns)
    fact.commitBucketed((1L to 400L).map(i => (i, i % 40, i * 10))
      .toDF("id", "fk", "amt"), Seq("id"), 8)
    d1.commitBucketed((0L to 49L).map(k => (k, k % 7, s"a$k"))
      .toDF("k", "grp", "attr1"), Seq("k"), 4)
    d2.commitBucketed((0L to 6L).map(g => (g, s"g$g"))
      .toDF("g", "attr2"), Seq("g"), 2)
    MaterializedJoin.create(fact, "v1", d1, Seq("fk"), Seq("k"),
      Seq("grp", "attr1"))
    val v1 = MaterializedJoin.viewStore(fact, "v1")
    MaterializedJoin.create(v1, "v2", d2, Seq("grp"), Seq("g"),
      Seq("attr2"))
    def expect(): Seq[String] = canon(
      fact.readSnapshot().join(d1.readSnapshot()
          .select(col("k"), col("grp"), col("attr1")),
        col("fk") === col("k"), "inner").drop("k")
        .join(d2.readSnapshot(), col("grp") === col("g"), "inner")
        .select(col("id"), col("fk"), col("amt"), col("grp"),
          col("attr1"), col("attr2")))
    def got(): Seq[String] = canon(MaterializedJoin.read(v1, "v2")
      .select(col("id"), col("fk"), col("amt"), col("grp"), col("attr1"),
        col("attr2")))
    assert(got() == expect(), "pyramid create must equal the 3-way join")
    // churn ALL THREE levels: fact amounts, a d1 row RE-GROUPED (its fact
    // rows must swing to another d2 row's attr — the snowflake cascade),
    // a d2 attr update; refresh parent then child (the cadence order)
    fact.upsertEq(fact.readSnapshot().filter(col("id") % 17 === 3)
      .withColumn("amt", col("amt") + 5).withColumn("op", lit("PUT")))
    d1.upsertEq(Seq((3L, 5L, "a3_v2")).toDF("k", "grp", "attr1")
      .withColumn("op", lit("PUT")))
    d2.upsertEq(Seq((5L, "g5_v2")).toDF("g", "attr2")
      .withColumn("op", lit("PUT")))
    MaterializedJoin.refresh(fact, "v1")
    MaterializedJoin.refresh(v1, "v2")
    assert(got() == expect(), "pyramid refresh must stay exact")
    // ONE maintenance pass on the BASE covers the whole pyramid in
    // dependency order (level 2 must never refresh before level 1)
    fact.upsertEq(fact.readSnapshot().filter(col("id") % 23 === 1)
      .withColumn("amt", col("amt") + 7).withColumn("op", lit("PUT")))
    d1.upsertEq(Seq((8L, 1L, "a8_v2")).toDF("k", "grp", "attr1")
      .withColumn("op", lit("PUT")))
    graft.streaming.StreamingOps.maintain(fact,
      graft.streaming.StreamingOps.CdcMaintenance(keepSnapshots = 3))
    assert(got() == expect(), "one maintain pass must walk the pyramid")
    assert(MaterializedJoin.status(v1).forall(r => r._4 == r._5 &&
      r._6 == r._7), "level 2 must end the pass fresh")
    // DEPTH 3: one more level (d3 keyed on v2's projected attr2) — the
    // recursion has no depth-special cases, pin that it actually holds
    val v2 = MaterializedJoin.viewStore(v1, "v2")
    val d3 = new TableStore(spark, s"$root/d3")
    d3.commitBucketed((0L to 6L).map(g => (s"g$g", s"z$g"))
      .toDF("a2", "attr3"), Seq("a2"), 2)
    MaterializedJoin.create(v2, "v3", d3, Seq("attr2"), Seq("a2"),
      Seq("attr3"))
    fact.upsertEq(fact.readSnapshot().filter(col("id") % 19 === 2)
      .withColumn("amt", col("amt") + 11).withColumn("op", lit("PUT")))
    d3.upsertEq(Seq(("g2", "z2_v2")).toDF("a2", "attr3")
      .withColumn("op", lit("PUT")))
    graft.streaming.StreamingOps.maintain(fact,
      graft.streaming.StreamingOps.CdcMaintenance(keepSnapshots = 3))
    val expect3 = canon(fact.readSnapshot()
      .join(d1.readSnapshot().select(col("k"), col("grp"), col("attr1")),
        col("fk") === col("k"), "inner").drop("k")
      .join(d2.readSnapshot(), col("grp") === col("g"), "inner").drop("g")
      .join(d3.readSnapshot(), col("attr2") === col("a2"), "inner")
      .select(col("id"), col("amt"), col("attr1"), col("attr2"),
        col("attr3")))
    assert(canon(MaterializedJoin.read(v2, "v3")
      .select(col("id"), col("amt"), col("attr1"), col("attr2"),
        col("attr3"))) == expect3,
      "a depth-3 pyramid must stay exact under one maintain pass")
    // drop cascades: the nested views (and their pins) go with v1
    assert(MaterializedJoin.drop(fact, "v1"))
    assert(MaterializedJoin.list(fact).isEmpty)
    assert(!d2.listRefs().exists(_.name.contains("-v2-")),
      "dropping v1 must drop the nested v2's pins on d2")
    assert(!d3.listRefs().exists(_.name.contains("-v3-")),
      "dropping v1 must cascade to depth 3's pins on d3")
  }

  test("PYRAMID guards: agg/index stores refuse as the fact; any " +
      "derivative still refuses as a dim") {
    val (fact, dim) = fresh(); seed(fact, dim)
    MaterializedJoin.create(fact, "jv", dim, Seq("fk"), Seq("k"),
      Seq("attr"))
    val vs = MaterializedJoin.viewStore(fact, "jv")
    val e1 = intercept[IllegalArgumentException](MaterializedJoin.create(
      fact, "bad", vs, Seq("fk"), Seq("id"), Seq("attr")))
    assert(e1.getMessage.contains("real tables as dims"))
    graft.store.MaterializedAgg.create(fact, "a1", Seq("fk"), Nil,
      numBuckets = 2)
    val aggSt = graft.store.MaterializedAgg.aggStore(fact, "a1")
    val e2 = intercept[IllegalArgumentException](MaterializedJoin.create(
      aggSt, "bad", dim, Seq("fk"), Seq("k"), Seq("attr")))
    assert(e2.getMessage.contains("aggregate/index stores"))
  }
}
