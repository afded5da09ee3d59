package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.GraftCatalog
import graft.store.{MaterializedAgg, SecondaryIndex, TableStore}

/** Transparent materialized-view rewrite ([[graft.catalog.AggViewRewriteRule]]):
  * a GROUP BY over the catalog table must answer from the aggregate view
  * when (and only when) the view is fresh and the shape is coverable, with
  * results identical to the un-rewritten plan — including NULL group keys,
  * NULL-only sums, compound grouping expressions, and filters on keys. */
class AggViewRewriteSpec extends SparkSuite {
  import spark.implicits._

  private lazy val warehouse = {
    val w = Files.createTempDirectory("graft_mvrw").toString
    spark.conf.set("spark.sql.catalog.mv_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mv_cat.warehouse", w)
    w
  }

  /** (id, grp, reg, n, d, v): id bucket key; grp/reg group keys (grp has a
    * NULL slice); n integral sum col; d nullable decimal sum col; v minmax
    * col with a NULL slice. */
  private def rows(from: Long, to: Long): DataFrame =
    (from to to).map { k =>
      val grp: Option[String] = if (k % 11 == 0) None else Some(s"g${k % 5}")
      val d: Option[BigDecimal] =
        if (k % 4 == 0) None else Some(BigDecimal(k).setScale(2) / 8)
      val v: Option[Long] = if (k % 7 == 0) None else Some(1000 - k)
      (k, grp, s"r${k % 3}", k * 2, d, v)
    }.toDF("id", "grp", "reg", "n", "d", "v")
      .withColumn("d", col("d").cast("decimal(18,2)"))

  private def setup(): TableStore = {
    val store = new TableStore(spark, s"$warehouse/analytics/sales")
    if (store.currentVersion() < 0) {
      store.commitBucketed(rows(1, 500), Seq("id"), 8)
      MaterializedAgg.create(store, "by_grp_reg", Seq("grp", "reg"),
        sumCols = Seq("n", "d"), numBuckets = 4, minMaxCols = Seq("v"))
    }
    store
  }

  private def fired(df: DataFrame): Boolean =
    graft.catalog.AggViewRewrite.served(df)

  /** Collect twice — rewrite on vs off — and insist on identical rows AND
    * that the on-plan actually reads the view. */
  private def checkRewrites(sql: String, expectFire: Boolean): Unit = {
    val on = spark.sql(sql)
    val onRows = on.collect().map(_.toString).sorted.toSeq
    assert(fired(on) == expectFire,
      s"expected fired=$expectFire for:\n$sql\n${on.queryExecution.executedPlan}")
    spark.conf.set("spark.graft.agg.rewrite", "false")
    try {
      val off = spark.sql(sql)
      assert(!fired(off))
      assert(onRows == off.collect().map(_.toString).sorted.toSeq,
        s"rewrite changed results for:\n$sql")
    } finally spark.conf.set("spark.graft.agg.rewrite", "true")
  }

  test("exact-key GROUP BY answers from the view, result-identical") {
    setup()
    checkRewrites(
      """SELECT grp, reg, COUNT(*) AS cnt, SUM(n) AS sn, SUM(d) AS sd,
        |  MIN(v) AS mnv, MAX(v) AS mxv, AVG(n) AS an, COUNT(d) AS cd
        |FROM mv_cat.analytics.sales GROUP BY grp, reg""".stripMargin,
      expectFire = true)
  }

  test("subset + compound grouping re-aggregates the view partials") {
    setup()
    // subset of the view keys
    checkRewrites(
      """SELECT grp, SUM(n) AS sn, COUNT(*) AS cnt, MIN(v) AS mnv,
        |  MAX(reg) AS mxr
        |FROM mv_cat.analytics.sales GROUP BY grp""".stripMargin,
      expectFire = true)
    // compound expression over a view key + filter on the other key
    checkRewrites(
      """SELECT substring(reg, 2) AS rnum, SUM(d) AS sd, COUNT(*) AS cnt
        |FROM mv_cat.analytics.sales WHERE grp IS NOT NULL
        |GROUP BY substring(reg, 2)""".stripMargin,
      expectFire = true)
    // compound OUTPUT over aggregates (CollapseProject folds the cast in)
    checkRewrites(
      """SELECT grp, CAST(SUM(n) AS DOUBLE) / 7 AS sn7
        |FROM mv_cat.analytics.sales WHERE reg <> 'r1'
        |GROUP BY grp""".stripMargin,
      expectFire = true)
  }

  test("unsupported shapes decline but stay correct") {
    setup()
    // DISTINCT aggregate
    checkRewrites(
      """SELECT grp, COUNT(DISTINCT reg) AS dr
        |FROM mv_cat.analytics.sales GROUP BY grp""".stripMargin,
      expectFire = false)
    // filter on a non-key column
    checkRewrites(
      """SELECT grp, SUM(n) AS sn FROM mv_cat.analytics.sales
        |WHERE n > 100 GROUP BY grp""".stripMargin,
      expectFire = false)
    // untracked aggregate column
    checkRewrites(
      """SELECT grp, SUM(id) AS si FROM mv_cat.analytics.sales
        |GROUP BY grp""".stripMargin,
      expectFire = false)
    // MIN over a sum-tracked (not minmax-tracked) column
    checkRewrites(
      """SELECT grp, MIN(n) AS mn FROM mv_cat.analytics.sales
        |GROUP BY grp""".stripMargin,
      expectFire = false)
    // grouping by a non-key column
    checkRewrites(
      """SELECT id % 2 AS par, SUM(n) AS sn FROM mv_cat.analytics.sales
        |GROUP BY id % 2""".stripMargin,
      expectFire = false)
  }

  test("staleness gates the rewrite; refresh re-arms it") {
    val store = setup()
    val q =
      """SELECT grp, reg, SUM(n) AS sn, MIN(v) AS mnv
        |FROM mv_cat.analytics.sales GROUP BY grp, reg""".stripMargin
    checkRewrites(q, expectFire = true)
    // base advances: the view is stale — MUST NOT answer
    store.commitAppend(rows(501, 560))
    spark.catalog.refreshTable("mv_cat.analytics.sales")
    checkRewrites(q, expectFire = false)
    MaterializedAgg.refresh(store, "by_grp_reg")
    checkRewrites(q, expectFire = true)
    // time travel to the materialized snapshot: rewrite legally serves it
    val v = store.currentVersion()
    checkRewrites(
      s"""SELECT grp, SUM(n) AS sn
         |FROM mv_cat.analytics.sales VERSION AS OF $v
         |GROUP BY grp""".stripMargin, expectFire = true)
    checkRewrites(
      s"""SELECT grp, SUM(n) AS sn
         |FROM mv_cat.analytics.sales VERSION AS OF ${v - 1}
         |GROUP BY grp""".stripMargin, expectFire = false)
  }

  test("COUNT(DISTINCT) answers from the companion view, exact across " +
      "merged groups and NULLs") {
    val store = new TableStore(spark, s"$warehouse/analytics/dsales")
    if (store.currentVersion() < 0) {
      // v repeats ACROSS groups (id % 9, NULL slice) — a subset grouping
      // must still count each shared value once per merged group
      store.commitBucketed(rows(1, 400)
        .withColumn("v", when(col("id") % 7 === 0, lit(null))
          .otherwise(col("id") % 9)), Seq("id"), 8)
      MaterializedAgg.create(store, "dgr", Seq("grp", "reg"),
        sumCols = Seq("n"), numBuckets = 4, distinctCols = Seq("v"))
    }
    def firedD(df: org.apache.spark.sql.DataFrame): Boolean =
      graft.catalog.AggViewRewrite.served(df)
    def check(sql: String, expectFire: Boolean): Unit = {
      val on = spark.sql(sql)
      val onRows = on.collect().map(_.toString).sorted.toSeq
      assert(firedD(on) == expectFire,
        s"expected fired=$expectFire:\n$sql\n${on.queryExecution.executedPlan}")
      spark.conf.set("spark.graft.agg.rewrite", "false")
      try assert(onRows ==
        spark.sql(sql).collect().map(_.toString).sorted.toSeq, sql)
      finally spark.conf.set("spark.graft.agg.rewrite", "true")
    }
    // exact keys: distinct + plain aggregates together
    check(
      """SELECT grp, reg, COUNT(DISTINCT v) AS dv, SUM(n) AS sn,
        |  COUNT(*) AS cnt
        |FROM mv_cat.analytics.dsales GROUP BY grp, reg""".stripMargin,
      expectFire = true)
    // merged groups: the same v value in several (grp, reg) fine groups
    // must count once per grp — and a distinct-only query works too
    check(
      """SELECT grp, COUNT(DISTINCT v) AS dv
        |FROM mv_cat.analytics.dsales WHERE reg <> 'r2'
        |GROUP BY grp""".stripMargin, expectFire = true)
    // untracked distinct column declines
    check(
      """SELECT grp, COUNT(DISTINCT reg) AS dr
        |FROM mv_cat.analytics.dsales GROUP BY grp""".stripMargin,
      expectFire = false)
  }

  test("FRESHNESS-TOLERANT serving: the tail union answers stale views " +
      "EXACTLY; the staleness budget serves the watermark snapshot") {
    val store = new TableStore(spark, s"$warehouse/analytics/tsales")
    if (store.currentVersion() < 0) {
      store.commitBucketed(rows(1, 400), Seq("id"), 8)
      MaterializedAgg.create(store, "tg", Seq("grp", "reg"),
        sumCols = Seq("n", "d"), numBuckets = 4, distinctCols = Seq("v"))
    }
    val q =
      """SELECT grp, SUM(n) AS sn, SUM(d) AS sd, COUNT(*) AS cnt,
        |  COUNT(DISTINCT v) AS dv
        |FROM mv_cat.analytics.tsales GROUP BY grp""".stripMargin
    checkRewrites(q, expectFire = true)
    val wmV = store.currentVersion()
    // the base advances (an append AND a keyed delete — both must ride
    // the tail); the delete stays bucket-local so the span prices onto
    // the tail path (a scattered mask correctly declines — next test)
    store.commitAppend(rows(401, 460))
    val b8 = graft.store.TableStore.bucketExpr(Seq("id"), 8)
    store.deleteEq(store.readSnapshot()
      .filter(b8 === 3 && col("id") % 5 === 0).select("id"))
    spark.catalog.refreshTable("mv_cat.analytics.tsales")
    checkRewrites(q, expectFire = false)
    // 1) TAIL UNION: stored partials ∪ signed tail delta — fires AND is
    // EXACT (checkRewrites compares against the live full scan). The
    // span-cost guard is relaxed here: toy commits write file counts the
    // pricing reads as heavy churn; the guard's decline is pinned in the
    // next test via the MIN/MAX gate.
    spark.conf.set("spark.graft.agg.rewrite.tailUnion", "true")
    spark.conf.set("spark.graft.agg.refresh.rescanFraction", "0.99")
    try checkRewrites(q, expectFire = true)
    finally {
      spark.conf.unset("spark.graft.agg.rewrite.tailUnion")
      spark.conf.unset("spark.graft.agg.refresh.rescanFraction")
    }
    // 2) STALENESS BUDGET: within budget the view serves AS OF its
    // watermark — a consistent snapshot answer, equal to recomputing
    // over the materialized base snapshot
    spark.conf.set("spark.graft.agg.rewrite.maxStalenessMs", "600000")
    try {
      val df = spark.sql(q)
      assert(fired(df), s"budget-stale serve must fire:\n" +
        s"${df.queryExecution.optimizedPlan}")
      val want = store.readSnapshot(wmV).groupBy("grp")
        .agg(sum("n").as("sn"), sum("d").as("sd"),
          count(lit(1)).as("cnt"), count_distinct(col("v")).as("dv"))
        .collect().map(_.toString).sorted.toSeq
      assert(df.collect().map(_.toString).sorted.toSeq == want,
        "budget-stale serving must answer exactly as of the watermark")
      // an exceeded budget declines (measured from the first commit
      // after the watermark, which is already older than 1 ms)
      spark.conf.set("spark.graft.agg.rewrite.maxStalenessMs", "1")
      Thread.sleep(20)
      assert(!fired(spark.sql(q)),
        "an exceeded staleness budget must fall back to the scan")
    } finally
      spark.conf.unset("spark.graft.agg.rewrite.maxStalenessMs")
    // a refresh restores the exact path with no opt-ins
    MaterializedAgg.refresh(store, "tg")
    checkRewrites(q, expectFire = true)
  }

  test("tail union declines spans that churned most files (the full scan " +
      "is comparable there)") {
    val store = setup()
    store.commitAppend(rows(561, 580))
    spark.catalog.refreshTable("mv_cat.analytics.sales")
    spark.conf.set("spark.graft.agg.rewrite.tailUnion", "true")
    // default rescanFraction: the toy append's file diff prices as heavy
    // churn relative to the table's few files — the span guard declines
    try {
      checkRewrites(
        """SELECT grp, SUM(n) AS sn FROM mv_cat.analytics.sales
          |GROUP BY grp""".stripMargin, expectFire = false)
    } finally spark.conf.unset("spark.graft.agg.rewrite.tailUnion")
    MaterializedAgg.refresh(store, "by_grp_reg")
  }

  test("MIN/MAX tail serving (VERDICT r11 #3): inserts merge " +
      "monotonically; an extremum retraction dirty-rescans through the " +
      "covering index at the lockstep watermark; off-watermark declines") {
    val store = new TableStore(spark, s"$warehouse/analytics/mmtail")
    store.commitBucketed(rows(1, 400), Seq("id"), 8)
    MaterializedAgg.create(store, "mmg", Seq("grp"), sumCols = Seq("n"),
      numBuckets = 4, minMaxCols = Seq("v"))
    val q =
      """SELECT grp, SUM(n) AS sn, MIN(v) AS mn, MAX(v) AS mx,
        |  COUNT(*) AS cnt
        |FROM mv_cat.analytics.mmtail GROUP BY grp""".stripMargin
    checkRewrites(q, expectFire = true)
    spark.conf.set("spark.graft.agg.rewrite.tailUnion", "true")
    spark.conf.set("spark.graft.agg.refresh.rescanFraction", "0.99")
    try {
      // 1) MONOTONE: appended rows (v = 1000-k, k in 401..450 → new
      // per-group minima) extend extrema without touching the index —
      // checkRewrites proves exactness against the live scan
      store.commitAppend(rows(401, 450))
      spark.catalog.refreshTable("mv_cat.analytics.mmtail")
      checkRewrites(q, expectFire = true)
      // 2) RETRACTION: ids 1..10 hold the top v values (999, 998, …) —
      // deleting them retracts several groups' stored MAX; the serve must
      // dirty-rescan those groups through the covering index (still at
      // the CREATE watermark — lockstep) adjusted by the signed span
      store.deleteEq((1L to 10L).toDF("id"))
      spark.catalog.refreshTable("mv_cat.analytics.mmtail")
      checkRewrites(q, expectFire = true)
      // 3) the index ADVANCED TO THE SCANNED HEAD also serves (rescan
      // reads the index alone, no span adjustment)
      SecondaryIndex.refresh(store, MaterializedAgg.mmIndexName("mmg"))
      checkRewrites(q, expectFire = true)
      // 4) an index at an INTERMEDIATE version (neither the view's
      // watermark nor the head) cannot be adjusted soundly — declines
      store.deleteEq(Seq(11L, 12L).toDF("id"))
      spark.catalog.refreshTable("mv_cat.analytics.mmtail")
      checkRewrites(q, expectFire = false)
      // the cadence refresh restores exact serving
      MaterializedAgg.refresh(store, "mmg")
      checkRewrites(q, expectFire = true)
    } finally {
      spark.conf.unset("spark.graft.agg.rewrite.tailUnion")
      spark.conf.unset("spark.graft.agg.refresh.rescanFraction")
    }
  }

  test("tail union declines when a tracked column left the base schema " +
      "(drift gate, not an optimizer-time AnalysisException)") {
    // own store: a full-snapshot rewrite RENAMES a summed column after the
    // view materialized — the stale span cannot replay m2, so even a query
    // over the SURVIVING sum column must decline to the scan (ADVICE r10:
    // the gate must decline deliberately; the changelog frames aligned to
    // the new schema would otherwise throw inside the rule)
    val store = new TableStore(spark, s"$warehouse/analytics/drifty")
    store.commitBucketed((1L to 200L).map(i =>
      (i, i % 6, i * 2, i * 3)).toDF("id", "k", "m1", "m2"), Seq("id"), 4)
    MaterializedAgg.create(store, "by_k", Seq("k"),
      sumCols = Seq("m1", "m2"), numBuckets = 2)
    store.commitBucketed((1L to 210L).map(i =>
      (i, i % 6, i * 2, i * 5)).toDF("id", "k", "m1", "m9"), Seq("id"), 4)
    spark.catalog.refreshTable("mv_cat.analytics.drifty")
    spark.conf.set("spark.graft.agg.rewrite.tailUnion", "true")
    spark.conf.set("spark.graft.agg.refresh.rescanFraction", "2.0")
    try {
      checkRewrites(
        """SELECT k, SUM(m1) AS s1 FROM mv_cat.analytics.drifty
          |GROUP BY k""".stripMargin, expectFire = false)
    } finally {
      spark.conf.unset("spark.graft.agg.rewrite.tailUnion")
      spark.conf.unset("spark.graft.agg.refresh.rescanFraction")
    }
  }

  test("budget serving never answers a pinned (time-travel) scan — " +
      "exact-version semantics beat the staleness trade") {
    val store = new TableStore(spark, s"$warehouse/analytics/pinned")
    store.commitBucketed((1L to 200L).map(i =>
      (i, i % 6, i * 2)).toDF("id", "k", "m"), Seq("id"), 4)
    MaterializedAgg.create(store, "by_k", Seq("k"), sumCols = Seq("m"),
      numBuckets = 2)
    val v0 = store.currentVersion()
    store.upsertEq(store.readSnapshot().filter($"id" === 5L)
      .withColumn("m", $"m" + 1000L).withColumn("op", lit("PUT")))
    val pinV = store.currentVersion()
    store.upsertEq(store.readSnapshot().filter($"id" === 6L)
      .withColumn("m", $"m" + 1000L).withColumn("op", lit("PUT")))
    spark.catalog.refreshTable("mv_cat.analytics.pinned")
    assert(pinV == v0 + 1)
    spark.conf.set("spark.graft.agg.rewrite.maxStalenessMs", "3600000")
    try {
      val head = spark.sql(
        "SELECT k, SUM(m) AS sm FROM mv_cat.analytics.pinned GROUP BY k")
      assert(fired(head), s"head scan within budget must serve:\n" +
        s"${head.queryExecution.optimizedPlan}")
      checkRewrites(
        s"""SELECT k, SUM(m) AS sm
           |FROM mv_cat.analytics.pinned VERSION AS OF $pinV
           |GROUP BY k""".stripMargin, expectFire = false)
    } finally spark.conf.unset("spark.graft.agg.rewrite.maxStalenessMs")
  }

  test("a WHERE consumed by exact file-decidable pushdown (no residual " +
      "Filter node) must decline the view serve — r13 advisor wrong-results") {
    val store = new TableStore(spark, s"$warehouse/analytics/exactmv")
    // 4 range-disjoint COMMITS on `day` (commit i holds day ∈ (i*100,
    // (i+1)*100]) over a bucketed base: every file's [min,max] on day sits
    // inside one chunk, so `day <= 200` is all-or-nothing per file
    def chunk(i: Int) = ((i * 100L + 1) to (i * 100L + 100))
      .map(d => (d, d, s"g${d % 3}", d * 2)).toDF("id", "day", "grp", "n")
    store.commitBucketed(chunk(0), Seq("id"), 4)
    (1 to 3).foreach(i => store.commitAppend(chunk(i)))
    MaterializedAgg.create(store, "by_grp", Seq("grp"), sumCols = Seq("n"),
      numBuckets = 4)
    spark.catalog.refreshTable("mv_cat.analytics.exactmv")
    // `day <= 200` is all-or-nothing per file → pushFilters claims it FULLY
    // pushed and Spark drops the Filter node; the rule must still see the
    // scan as filtered (ExactPushedScans) and answer from the base table
    val q = "SELECT grp, SUM(n) AS sn FROM mv_cat.analytics.exactmv " +
      "WHERE day <= 200 GROUP BY grp"
    val on = spark.sql(q)
    val onRows = on.collect().map(_.toString).sorted.toSeq
    assert(!fired(on),
      s"exact-pushed WHERE must decline the view serve:\n" +
        s"${on.queryExecution.executedPlan}")
    spark.conf.set("spark.graft.agg.rewrite", "false")
    try {
      val offRows = spark.sql(q).collect().map(_.toString).sorted.toSeq
      assert(onRows == offRows, s"filtered agg drifted: $onRows vs $offRows")
    } finally spark.conf.set("spark.graft.agg.rewrite", "true")
    // sanity: the same fixture DOES serve unfiltered queries from the view
    assert(fired(spark.sql(
      "SELECT grp, SUM(n) AS sn FROM mv_cat.analytics.exactmv GROUP BY grp")))
  }

  test("kill switch disables the rule outright") {
    setup()
    spark.conf.set("spark.graft.agg.rewrite", "false")
    try {
      val df = spark.sql(
        "SELECT grp, reg, SUM(n) AS sn FROM mv_cat.analytics.sales " +
          "GROUP BY grp, reg")
      assert(!fired(df))
    } finally spark.conf.set("spark.graft.agg.rewrite", "true")
  }

  test("the serve-rule base: a serve that throws leaves the plan " +
      "unchanged, and with the switch off serve never runs") {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
    var calls = 0
    val rule = new graft.catalog.ServeRule("spark.graft.agg.rewrite",
        "probe rewrite") {
      protected def serve: PartialFunction[LogicalPlan, LogicalPlan] = {
        case _: Aggregate => calls += 1; throw new IllegalStateException("x")
      }
    }
    val plan = spark.range(10).groupBy(col("id") % 3).count()
      .queryExecution.optimizedPlan
    SparkSession.setActiveSession(spark)
    assert(rule(plan) == plan)
    assert(calls == 1, "serve must run once, on the one Aggregate")
    spark.conf.set("spark.graft.agg.rewrite", "false")
    try {
      assert(rule(plan) eq plan)
      assert(calls == 1, "a switched-off rule must never call serve")
    } finally spark.conf.unset("spark.graft.agg.rewrite")
  }
}
