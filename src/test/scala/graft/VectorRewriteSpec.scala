package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.catalog.{GraftCatalog, VectorTopKRewrite}
import graft.store.{AnnIndex, TableStore}

/** Transparent vector top-k rewrite
  * ([[graft.catalog.VectorTopKRewriteRule]], VERDICT r12 next #3): plain
  * SQL `ORDER BY round(graft_cosine(...), 6) DESC LIMIT k` over a graft
  * base table serves from a FRESH persisted ANN index; every soundness
  * gate declines to the brute-force scan, never breaks the query. */
class VectorRewriteSpec extends SparkSuite {
  import spark.implicits._

  private val dim = 8

  private lazy val warehouse = {
    val w = Files.createTempDirectory("graft_vecrw").toString
    spark.conf.set("spark.sql.catalog.vr_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.vr_cat.warehouse", w)
    w
  }

  private def corpus(n: Int) = (0L until n.toLong).map { id =>
    val v = new Array[Float](dim)
    v((id % 4).toInt) = 1.0f
    v(4 + (id % 3).toInt) = 0.01f * ((id % 7) + 1)
    (id, v)
  }.toDF("vec_id", "embedding")

  private def memoOff[T](body: => T): T = {
    spark.conf.set("spark.graft.meta.manifestCache", "false")
    try body finally spark.conf.unset("spark.graft.meta.manifestCache")
  }

  /** `q` served from the held index rows: `want`, with no Spark job and no
    * file read (base or index). */
  private def assertHeld(q: String, want: Seq[org.apache.spark.sql.Row])
      : Unit = {
    var df: org.apache.spark.sql.DataFrame = null
    var got = Seq.empty[org.apache.spark.sql.Row]
    val jobs = jobsDuring { df = spark.sql(q); got = df.collect().toSeq }
    assert(jobs == 0 && df.inputFiles.isEmpty && got == want,
      s"$jobs jobs, files ${df.inputFiles.toSeq} serving a held index:\n$q")
  }

  private def arrLit(v: Array[Float]): String =
    v.map(f => s"CAST($f AS FLOAT)").mkString("ARRAY(", ",", ")")

  private def topkSql(table: String, lit: String, extra: String = "",
      k: Int = 5): String =
    s"""SELECT vec_id, round(graft_cosine(embedding, $lit), 6) AS cos_sim
       |FROM $table $extra
       |ORDER BY cos_sim DESC, vec_id ASC
       |LIMIT $k""".stripMargin

  test("fresh index serves the SQL top-k; results identical to the brute " +
      "scan; stale index / filter / unrounded sort all decline correctly") {
    val store = new TableStore(spark, s"$warehouse/analytics/vecs")
    store.commitBucketed(corpus(240), Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 3)
    graft.functions.GraftFunctions.register(spark)
    spark.catalog.refreshTable("vr_cat.analytics.vecs")
    val qv = new Array[Float](dim); qv(2) = 1f; qv(5) = 0.005f
    val lit = arrLit(qv)

    // rewrite fires: index-served plan, zero base-table relations
    val served = spark.sql(topkSql("vr_cat.analytics.vecs", lit))
    assert(VectorTopKRewrite.served(served),
      s"expected index serve:\n${served.queryExecution.optimizedPlan}")
    val servedRows = served.collect().map(r => (r.getLong(0), r.getDouble(1)))
    // ground truth: the same query with the rewrite disabled
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val brute = try spark.sql(topkSql("vr_cat.analytics.vecs", lit))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      finally spark.conf.unset("spark.graft.ann.rewrite")
    assert(servedRows.toSeq == brute.toSeq,
      s"default serve (nProbe=all) must be EXACT: $servedRows vs $brute")

    // a WHERE over the index KEY columns SERVES (r13 next #1): the keys
    // ride every index row, so the predicate applies before the top-k —
    // result-identical to the brute scan at the default exhaustive probe
    val filtered = spark.sql(
      topkSql("vr_cat.analytics.vecs", lit,
        extra = "WHERE vec_id > 10 AND vec_id % 2 = 0"))
    assert(VectorTopKRewrite.served(filtered),
      s"key-column filter must serve:\n${filtered.queryExecution.optimizedPlan}")
    val filteredRows = filtered.collect().map(r => (r.getLong(0), r.getDouble(1)))
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val filteredBrute = try spark.sql(
        topkSql("vr_cat.analytics.vecs", lit,
          extra = "WHERE vec_id > 10 AND vec_id % 2 = 0"))
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      finally spark.conf.unset("spark.graft.ann.rewrite")
    assert(filteredRows.toSeq == filteredBrute.toSeq,
      s"filtered serve must be EXACT: ${filteredRows.toSeq} vs ${filteredBrute.toSeq}")
    assert(filteredRows.forall { case (id, _) => id > 10 && id % 2 == 0 },
      s"served rows must satisfy the predicate: ${filteredRows.toSeq}")

    // a WHERE touching a NON-key column declines (index rows cannot
    // re-apply it)
    val nonKey = spark.sql(
      topkSql("vr_cat.analytics.vecs", lit, extra = "WHERE size(embedding) = 8"))
    assert(!VectorTopKRewrite.served(nonKey), "non-key filter must decline")
    assert(nonKey.collect().length == 5)

    // an UNROUNDED sort key declines (the index serves 6-dp scores)
    val raw = spark.sql(
      s"""SELECT vec_id, graft_cosine(embedding, $lit) AS c
         |FROM vr_cat.analytics.vecs ORDER BY c DESC LIMIT 5""".stripMargin)
    assert(!VectorTopKRewrite.served(raw), "unrounded sort must decline")

    // STALE index declines: new rows land, no refresh
    store.upsertEq(Seq((9000L, qv, "PUT")).toDF("vec_id", "embedding", "op"))
    spark.catalog.refreshTable("vr_cat.analytics.vecs")
    val stale = spark.sql(topkSql("vr_cat.analytics.vecs", lit))
    assert(!VectorTopKRewrite.served(stale), "stale index must decline")
    assert(stale.collect().head.getLong(0) == 9000L,
      "the brute fallback must see the new row the index missed")

    // refresh restores the serve, now including the new row
    AnnIndex.refresh(store, "ann")
    spark.catalog.refreshTable("vr_cat.analytics.vecs")
    val again = spark.sql(topkSql("vr_cat.analytics.vecs", lit))
    assert(VectorTopKRewrite.served(again), "refresh must restore the serve")
    assert(again.collect().head.getLong(0) == 9000L)
  }

  test("a subquery-shaped plan (stacked Projects, alias-of-alias) still " +
      "serves — the expansion runs to fixpoint") {
    val store = new TableStore(spark, s"$warehouse/analytics/vecs3")
    store.commitBucketed(corpus(160), Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 2)
    graft.functions.GraftFunctions.register(spark)
    spark.catalog.refreshTable("vr_cat.analytics.vecs3")
    val qv = new Array[Float](dim); qv(3) = 1f
    val df = spark.sql(
      s"""SELECT id_out AS vec_id, score AS cos_sim FROM (
         |  SELECT vec_id AS id_out,
         |    round(graft_cosine(embedding, ${arrLit(qv)}), 6) AS score
         |  FROM vr_cat.analytics.vecs3)
         |ORDER BY cos_sim DESC, vec_id ASC LIMIT 5""".stripMargin)
    assert(VectorTopKRewrite.served(df),
      s"nested-select shape must serve:\n${df.queryExecution.optimizedPlan}")
    assert(df.collect().length == 5)
  }

  test("a WHERE consumed by exact file-decidable pushdown (no residual " +
      "Filter node) must decline the index serve — r13 advisor wrong-results") {
    val store = new TableStore(spark, s"$warehouse/analytics/vecs4")
    // two range-disjoint bucketed commits: `vec_id < 240` is all-match for
    // the first commit's files and PRUNES the second's — exact pushdown
    // consumes the Filter node AND drops rows, the case the rules must see
    val all = (0L until 480L).map { id =>
      val v = new Array[Float](dim)
      v((id % 4).toInt) = 1.0f
      v(4 + (id % 3).toInt) = 0.01f * ((id % 7) + 1)
      (id, v)
    }.toDF("vec_id", "embedding")
    store.commitBucketed(all.where("vec_id < 240"), Seq("vec_id"), 8)
    store.commitAppend(all.where("vec_id >= 240").coalesce(2))
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 2)
    graft.functions.GraftFunctions.register(spark)
    spark.catalog.refreshTable("vr_cat.analytics.vecs4")
    val qv = new Array[Float](dim); qv(2) = 1f; qv(5) = 0.005f
    val df = spark.sql(
      topkSql("vr_cat.analytics.vecs4", arrLit(qv), extra = "WHERE vec_id < 240"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Filter ("),
      s"fixture broke: the WHERE should be exactly pushed (no Filter):\n" +
        plan.take(600))
    assert(!VectorTopKRewrite.served(df),
      s"row-pruning exact-pushed WHERE must decline the index serve:\n" +
        s"${df.queryExecution.optimizedPlan}")
    val got = df.collect().map(_.getLong(0))
    assert(got.length == 5 && got.forall(_ < 240),
      s"filtered top-k leaked out-of-range ids: ${got.toSeq}")
    // an ALL-MATCH exactly-pushed predicate keeps every row — the scan is
    // still the whole corpus, so the serve is sound and stays on
    val am = spark.sql(
      topkSql("vr_cat.analytics.vecs4", arrLit(qv), extra = "WHERE vec_id >= 0"))
    assert(VectorTopKRewrite.served(am),
      "all-match exact pushdown must not kill the index serve")
    assert(am.collect().length == 5)
  }

  test("explicit nProbe trades recall: the probed serve reads fewer index " +
      "buckets and still returns k rows") {
    val store = new TableStore(spark, s"$warehouse/analytics/vecs2")
    store.commitBucketed(corpus(240), Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 3)
    graft.functions.GraftFunctions.register(spark)
    spark.catalog.refreshTable("vr_cat.analytics.vecs2")
    val qv = new Array[Float](dim); qv(1) = 1f
    spark.conf.set("spark.graft.ann.sql.nProbe", "2")
    try {
      val q = topkSql("vr_cat.analytics.vecs2", arrLit(qv))
      val df = spark.sql(q)
      assert(VectorTopKRewrite.served(df))
      val heldRows = df.collect().toSeq
      assert(heldRows.length == 5)
      val allIdx = graft.store.SecondaryIndex.indexStore(store, "ann")
        .readSnapshot().inputFiles.toSet
      // an index past the held gate (here: the memo off) is read bucket
      // by bucket; a held one answers the same with no job and no file
      memoOff {
        val fileDf = spark.sql(q)
        val read = fileDf.inputFiles.toSet
        assert(read.nonEmpty && read.size < allIdx.size,
          "nProbe=2 of 8 cells must read a strict subset of index buckets")
        assert(fileDf.collect().toSeq == heldRows)
      }
      assertHeld(q, heldRows)
      // filtered + probed: still a strict-subset bucket read; a dense
      // predicate (half of every cell matches) fills k from the initial
      // probe, and every returned row satisfies it
      val fq = topkSql("vr_cat.analytics.vecs2", arrLit(qv),
        extra = "WHERE vec_id % 2 = 0")
      val fdf = spark.sql(fq)
      assert(VectorTopKRewrite.served(fdf), "filtered probed serve expected")
      val fHeld = fdf.collect().toSeq
      memoOff {
        val fileDf = spark.sql(fq)
        val read = fileDf.inputFiles.toSet
        assert(read.nonEmpty && read.size < allIdx.size,
          "the filtered probe must keep the bucket-subset read")
        assert(fileDf.collect().toSeq == fHeld)
      }
      assertHeld(fq, fHeld)
      val fRows = fdf.collect().map(_.getLong(0))
      assert(fRows.forall(_ % 2 == 0),
        s"probed filtered serve returned non-matching rows: ${fRows.toSeq}")
      assert(fRows.length == 5,
        s"a dense predicate must fill k under probing, got ${fRows.length}")
      // SELECTIVE predicate (r15 widening): only 5 matching rows exist
      // corpus-wide, scattered across cells — the old nProbe=2 serve
      // under-filled; the adaptive loop widens (up to exhaustive) until
      // k survivors, so the result is exactly the brute-force top-k
      val sdf = spark.sql(topkSql("vr_cat.analytics.vecs2", arrLit(qv),
        extra = "WHERE vec_id < 5"))
      assert(VectorTopKRewrite.served(sdf), "selective probed serve expected")
      val sRows = sdf.collect().map(r => (r.getLong(0), r.getDouble(1)))
      spark.conf.set("spark.graft.ann.rewrite", "false")
      val sBrute = try spark.sql(topkSql("vr_cat.analytics.vecs2",
          arrLit(qv), extra = "WHERE vec_id < 5"))
          .collect().map(r => (r.getLong(0), r.getDouble(1)))
        finally spark.conf.unset("spark.graft.ann.rewrite")
      assert(sRows.length == 5 && sRows.toSeq == sBrute.toSeq,
        s"widened selective serve must match brute force: " +
          s"${sRows.toSeq} vs ${sBrute.toSeq}")
      // an all-match predicate (kept residual: modulo never reaches the
      // exact-pushdown path) keeps the full k under the same probe
      val adf = spark.sql(topkSql("vr_cat.analytics.vecs2", arrLit(qv),
        extra = "WHERE vec_id % 2 >= 0"))
      assert(VectorTopKRewrite.served(adf) && adf.collect().length == 5,
        "all-match filtered probe must still return k rows")
    } finally spark.conf.unset("spark.graft.ann.sql.nProbe")
  }

  test("BATCH rewrite (r17): the join-shaped per-query rank window over " +
      "queries × corpus serves from the index, bit-identical to brute " +
      "force at the exhaustive probe; a stale index declines") {
    val store = new TableStore(spark, s"$warehouse/analytics/vecb")
    store.commitBucketed(corpus(240), Seq("vec_id"), 8)
    AnnIndex.create(store, "ann", "embedding", clusters = 8, iters = 3)
    graft.functions.GraftFunctions.register(spark)
    spark.catalog.refreshTable("vr_cat.analytics.vecb")
    corpus(240).filter(col("vec_id") < 6)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      .createOrReplaceTempView("vrq")
    val sql =
      """WITH scored AS (
        |  SELECT q.q_id, t.vec_id,
        |    round(graft_cosine(t.embedding, q.qv), 6) AS cos_sim
        |  FROM vrq q CROSS JOIN vr_cat.analytics.vecb t),
        |ranked AS (
        |  SELECT q_id, vec_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY cos_sim DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id, cos_sim FROM ranked WHERE rank <= 3
        |ORDER BY q_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin
    val served = spark.sql(sql)
    assert(VectorTopKRewrite.served(served),
      s"batch rewrite expected:\n${served.queryExecution.optimizedPlan}")
    val got = served.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val brute = try spark.sql(sql).collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      finally spark.conf.unset("spark.graft.ann.rewrite")
    assert(got == brute,
      s"batch serve must match brute force:\ngot   $got\nbrute $brute")
    // KEY-FILTERED batch (r17): a corpus-key predicate — pushed below the
    // join by the optimizer — rides topkBatch's exact keyFilter; at the
    // exhaustive probe the filtered serve equals brute force bit-for-bit
    val fsql =
      """WITH scored AS (
        |  SELECT q.q_id, t.vec_id,
        |    round(graft_cosine(t.embedding, q.qv), 6) AS cos_sim
        |  FROM vrq q CROSS JOIN vr_cat.analytics.vecb t
        |  WHERE t.vec_id % 2 = 0),
        |ranked AS (
        |  SELECT q_id, vec_id, cos_sim,
        |    ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY cos_sim DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT q_id, rank, vec_id, cos_sim FROM ranked WHERE rank <= 3
        |ORDER BY q_id ASC NULLS FIRST, rank ASC NULLS FIRST""".stripMargin
    val fServed = spark.sql(fsql)
    assert(VectorTopKRewrite.served(fServed),
      s"key-filtered batch rewrite expected:\n" +
        s"${fServed.queryExecution.optimizedPlan}")
    val fGot = fServed.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(fGot.forall(_._3 % 2 == 0), "keyFilter must be exact")
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val fBrute = try spark.sql(fsql).collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      finally spark.conf.unset("spark.graft.ann.rewrite")
    assert(fGot == fBrute,
      s"filtered batch serve must match brute force:\n" +
        s"got   $fGot\nbrute $fBrute")
    // stale index: an append the index has not replayed declines the serve
    store.commitAppend(corpus(4).withColumn("vec_id",
      col("vec_id") + 5000L).coalesce(1))
    spark.catalog.refreshTable("vr_cat.analytics.vecb")
    val stale = spark.sql(sql)
    assert(!VectorTopKRewrite.served(stale),
      "a stale index must decline the batch serve")
  }
}
