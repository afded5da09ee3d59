package graft

import java.nio.file.Files

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.catalog.{AggViewRewrite, GraftCatalog}
import graft.store.{MaterializedAgg, MaterializedJoin, TableStore}

/** Held view snapshots: a small view snapshot the aggregate or join rewrite
  * serves is held on the driver ([[TableStore#heldSnapshot]], the shared
  * [[TableStore.rowMemo]]) and the rewritten plan folds over its rows at
  * plan time into one `LocalRelation` — the query runs no Spark job. The
  * fold must answer exactly as the rewrite switched off and as a plain
  * DataFrame over `readSnapshot()`, errors included; the memo must follow
  * view refreshes and drops and stay inside its row budget. */
class HeldViewSpec extends SparkSuite {

  private lazy val warehouse = {
    val w = Files.createTempDirectory("graft_held").toString
    spark.conf.set("spark.sql.catalog.hv_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.hv_cat.warehouse", w)
    w
  }

  private def store(name: String) =
    new TableStore(spark, s"$warehouse/analytics/$name")

  private def frame(rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  private def orNull[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 4 -> g)

  /** Doubles on a quarter grid: every sum is exact, so a view's partial
    * sums re-add to the base plan's sum bit for bit. */
  private val quarter: Gen[Double] = Gen.chooseNum(-400, 400).map(_ / 4.0)

  private val ptSchema = StructType(Seq(
    StructField("id", LongType), StructField("g", StringType),
    StructField("h", IntegerType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("dec", DecimalType(18, 2)),
    StructField("dbl", DoubleType)))

  private def ptRow(id: Long): Gen[Row] = for {
    g <- orNull(Gen.oneOf("g0", "g1", "g2", "g3"))
    h <- Gen.chooseNum(0, 4)
    i <- orNull(Gen.chooseNum(-1000, 1000))
    l <- orNull(Gen.chooseNum(-1000000L, 1000000L))
    dec <- orNull(Gen.chooseNum(-99999L, 99999L)
      .map(v => new java.math.BigDecimal(v).movePointLeft(2)))
    dbl <- orNull(quarter)
  } yield Row(id, g, h, i, l, dec, dbl)

  private val jfSchema = StructType(Seq(
    StructField("id", LongType), StructField("fk", LongType),
    StructField("amt", IntegerType), StructField("x", LongType),
    StructField("dec", DecimalType(18, 2)), StructField("dbl", DoubleType)))

  private def jfRow(id: Long): Gen[Row] = for {
    fk <- Gen.chooseNum(0L, 24L)
    amt <- orNull(Gen.chooseNum(-500, 500))
    x <- orNull(Gen.chooseNum(-100000L, 100000L))
    dec <- orNull(Gen.chooseNum(-99999L, 99999L)
      .map(v => new java.math.BigDecimal(v).movePointLeft(2)))
    dbl <- orNull(quarter)
  } yield Row(id, fk, amt, x, dec, dbl)

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** The parity fixture, generated once from a fixed seed: `pt` with the
    * aggregate view `pv` over (g, h) (`dbl` untracked), and `jf ⋈ jd` with the join view
    * `jv` projecting (seg, tier). Both views are far under the row gate. */
  private lazy val fixture: (TableStore, TableStore, TableStore) = {
    val pt = store("pt")
    pt.commitBucketed(frame(sample(Gen.sequence[List[Row], Row](
      (1L to 300L).map(ptRow)), 7001L), ptSchema), Seq("id"), 4)
    MaterializedAgg.create(pt, "pv", Seq("g", "h"),
      sumCols = Seq("i", "l", "dec"), numBuckets = 2,
      minMaxCols = Seq("i"))
    val jf = store("jf")
    val jd = store("jd")
    jf.commitBucketed(frame(sample(Gen.sequence[List[Row], Row](
      (1L to 300L).map(jfRow)), 7002L), jfSchema), Seq("id"), 4)
    jd.commitBucketed(frame((0L to 19L).map(k =>
      Row(k, if (k % 6 == 0) null else s"s${k % 3}", (k % 4).toInt)),
      StructType(Seq(StructField("k", LongType),
        StructField("seg", StringType), StructField("tier", IntegerType)))),
      Seq("k"), 2)
    MaterializedJoin.create(jf, "jv", jd, Seq("fk"), Seq("k"),
      Seq("seg", "tier"))
    (pt, jf, jd)
  }

  /** Plain temp views over `readSnapshot()` — no catalog, no rewrite. */
  private def plainViews(): Unit = {
    val (pt, jf, jd) = fixture
    pt.readSnapshot().createOrReplaceTempView("pt_plain")
    jf.readSnapshot().createOrReplaceTempView("jf_plain")
    jd.readSnapshot().createOrReplaceTempView("jd_plain")
  }

  private def canon(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.mkString("|")).sorted.toSeq

  /** The rows, or the error condition the query raised. */
  private def outcome(df: => DataFrame): Either[String, Seq[String]] =
    try Right(canon(df.collect()))
    catch { case e: Exception =>
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      Left(chain.collectFirst { case s: SparkThrowable => s.getCondition }
        .getOrElse(chain.last.getClass.getName))
    }

  private def rewriteOff[T](body: => T): T = {
    spark.conf.set("spark.graft.agg.rewrite", "false")
    try body finally spark.conf.unset("spark.graft.agg.rewrite")
  }

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** (folded answer, rewrite-off answer, plain answer) of one query text
    * over the catalog tables, and the same text over the plain views. */
  private def threeWays(sql: String): (DataFrame, Seq[Either[String, Seq[String]]]) = {
    val on = spark.sql(sql)
    val plain = sql.replace("hv_cat.analytics.pt", "pt_plain")
      .replace("hv_cat.analytics.jf", "jf_plain")
      .replace("hv_cat.analytics.jd", "jd_plain")
    (on, Seq(outcome(on), rewriteOff(outcome(spark.sql(sql))),
      outcome(spark.sql(plain))))
  }

  // every aggregate the view rewrite covers over `pv` (an aggregate view
  // refuses a double SUM column: double sums ride the join view's fold)
  private val viewAggs = Seq("count(*)", "count(i)", "count(l)",
    "count(dec)", "sum(i)", "sum(l)", "sum(dec)", "avg(i)", "avg(l)",
    "min(i)", "max(i)", "min(h)", "max(g)")
  private val viewGroups = Seq(Seq("g"), Seq("h"), Seq("g", "h"),
    Seq("h % 2"), Seq("upper(g)"), Seq("coalesce(g, 'none')", "h"))
  // the empty filters stay residual: a filter file stats decide is
  // answered by pruning, before any view is considered
  private val viewConds = Seq("", "WHERE h = 3", "WHERE h % 10 = 9",
    "WHERE g IS NULL", "WHERE g <> 'g1' AND h >= 2", "WHERE h % 10 > 5")

  private val joinAggs = Seq("count(*)", "count(f.x)", "sum(f.amt)",
    "sum(f.x)", "sum(f.dec)", "sum(f.dbl)", "avg(f.amt)", "avg(f.dec)",
    "min(f.x)", "max(f.dec)", "min(d.seg)", "max(f.dbl)")
  private val joinGroups = Seq(Nil, Seq("d.seg"), Seq("d.tier"),
    Seq("f.fk % 3"), Seq("d.seg", "d.tier"))
  private val joinConds = Seq("", "WHERE f.amt > 100",
    "WHERE f.amt % 1000 = 999", "WHERE d.seg IS NULL", "WHERE d.tier = 2")

  private def query(table: String, groups: Seq[String], aggs: Seq[String],
      cond: String): String = {
    val sel = (groups.zipWithIndex.map { case (g, i) => s"$g AS k$i" } ++
      aggs.zipWithIndex.map { case (a, i) => s"$a AS a$i" }).mkString(", ")
    s"SELECT $sel FROM $table $cond" +
      (if (groups.isEmpty) "" else groups.mkString(" GROUP BY ", ", ", ""))
  }

  private val genViewQuery: Gen[String] = for {
    gs <- Gen.oneOf(viewGroups)
    n <- Gen.chooseNum(1, 5)
    as <- Gen.pick(n, viewAggs)
    c <- Gen.oneOf(viewConds)
  } yield query("hv_cat.analytics.pt", gs, as.toSeq, c)

  private val genJoinQuery: Gen[String] = for {
    gs <- Gen.oneOf(joinGroups)
    n <- Gen.chooseNum(1, 5)
    as <- Gen.pick(n, joinAggs)
    c <- Gen.oneOf(joinConds)
  } yield query("hv_cat.analytics.jf f JOIN hv_cat.analytics.jd d " +
    "ON f.fk = d.k", gs, as.toSeq, c)

  private def parity(gen: Gen[String], marker: String, seed: Long): Unit = {
    fixture; plainViews()
    val prop = Prop.forAllNoShrink(gen) { sql =>
      val (on, Seq(fold, off, plain)) = threeWays(sql)
      Prop(fold == off && fold == plain && fold.isRight &&
        AggViewRewrite.served(on, marker) && folded(on)) :|
        s"$sql\n fold=$fold\n off=$off\n plain=$plain\n" +
          on.queryExecution.optimizedPlan
    }
    val result = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(14).withInitialSeed(Seed(seed)), prop)
    assert(result.passed, result.status.toString)
  }

  test("fold parity over the aggregate view: re-aggregation folded at plan " +
      "time answers as the rewrite off and as the plain snapshot") {
    parity(genViewQuery, "/agg/", 8101L)
  }

  test("fold parity over the join view: the GROUP BY above the join " +
      "splice folds and answers as the rewrite off and the plain snapshot") {
    parity(genJoinQuery, "/join/", 8102L)
  }

  test("zero-row filters: a global aggregate folds to one row, a grouped " +
      "one to none") {
    fixture; plainViews()
    val global = "SELECT count(*) AS n, sum(f.x) AS s, max(f.dec) AS m " +
      "FROM hv_cat.analytics.jf f JOIN hv_cat.analytics.jd d " +
      "ON f.fk = d.k WHERE f.amt % 1000 = 999"
    val grouped = "SELECT g, count(*) AS n, sum(l) AS s " +
      "FROM hv_cat.analytics.pt WHERE h % 10 = 9 GROUP BY g"
    val (gOn, gAll) = threeWays(global)
    assert(gAll.distinct == Seq(Right(Seq("0|null|null"))) && folded(gOn),
      s"$gAll\n${gOn.queryExecution.optimizedPlan}")
    val (rOn, rAll) = threeWays(grouped)
    assert(rAll.distinct == Seq(Right(Nil)) && folded(rOn),
      s"$rAll\n${rOn.queryExecution.optimizedPlan}")
  }

  test("an overflowing decimal SUM raises the same error with and without " +
      "the fold") {
    val big = new java.math.BigDecimal("6E+37").setScale(0)
    val ov = store("ov")
    ov.commitBucketed(frame(Seq(Row(1L, "a", 1, big), Row(2L, "a", 2, big),
      Row(3L, "b", 1, java.math.BigDecimal.ONE)),
      StructType(Seq(StructField("id", LongType), StructField("g", StringType),
        StructField("h", IntegerType), StructField("big", DecimalType(38, 0))))),
      Seq("id"), 2)
    MaterializedAgg.create(ov, "ovv", Seq("g", "h"), sumCols = Seq("big"),
      numBuckets = 2)
    val of = store("of")
    val od = store("od")
    of.commitBucketed(frame(Seq(Row(1L, 1L, big), Row(2L, 1L, big)),
      StructType(Seq(StructField("id", LongType), StructField("fk", LongType),
        StructField("big", DecimalType(38, 0))))), Seq("id"), 2)
    od.commitBucketed(frame(Seq(Row(1L, "s")), StructType(Seq(
      StructField("k", LongType), StructField("seg", StringType)))),
      Seq("k"), 2)
    MaterializedJoin.create(of, "ojv", od, Seq("fk"), Seq("k"), Seq("seg"))
    ov.readSnapshot().createOrReplaceTempView("ov_plain")
    of.readSnapshot().createOrReplaceTempView("of_plain")
    od.readSnapshot().createOrReplaceTempView("od_plain")
    val ansi = spark.conf.get("spark.sql.ansi.enabled").toBoolean
    Seq("SELECT g, sum(big) AS s FROM %s GROUP BY g" -> Seq("ov"),
      "SELECT d.seg, sum(f.big) AS s FROM %s f JOIN %s d ON f.fk = d.k " +
        "GROUP BY d.seg" -> Seq("of", "od")).foreach { case (q, ts) =>
      val sql = q.format(ts.map("hv_cat.analytics." + _): _*)
      val fold = outcome(spark.sql(sql))
      val off = rewriteOff(outcome(spark.sql(sql)))
      val plain = outcome(spark.sql(q.format(ts.map(_ + "_plain"): _*)))
      assert(fold == off && fold == plain, s"$sql: $fold / $off / $plain")
      assert(fold.isLeft == ansi, s"$sql: $fold")
    }
  }

  /** Job ids started while `body` runs, fenced by two marker jobs: the
    * listener bus delivers in order, so once the closing marker's start
    * is seen every job of `body` has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("-"))
    }
    def marker(name: String): Unit = {
      spark.sparkContext.setJobDescription(name)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    def awaitMarker(name: String): Seq[String] = {
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      var e = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      while (e != null && e != name) {
        got += e; e = seen.poll(30, java.util.concurrent.TimeUnit.SECONDS)
      }
      assert(e == name, s"marker job $name never reached the listener")
      got.toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("held-open"); awaitMarker("held-open")
      body
      marker("held-close"); awaitMarker("held-close").size
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("zero-job pin: on a memo hit an agg-view and a join-view query " +
      "collect with no Spark job; with the manifest cache off they read " +
      "the view files and answer the same") {
    fixture
    val qs = Seq(
      "SELECT g, count(*) AS n, sum(dec) AS s FROM hv_cat.analytics.pt " +
        "WHERE h = 2 GROUP BY g" -> "/agg/",
      "SELECT d.seg, count(*) AS n, sum(f.dec) AS s " +
        "FROM hv_cat.analytics.jf f JOIN hv_cat.analytics.jd d " +
        "ON f.fk = d.k WHERE d.tier = 1 GROUP BY d.seg" -> "/join/")
    val warm = qs.map { case (q, _) => canon(spark.sql(q).collect()) }
    qs.zip(warm).foreach { case ((q, marker), want) =>
      var df: DataFrame = null
      var got: Seq[String] = Nil
      val jobs = jobsDuring {
        df = spark.sql(q)
        got = canon(df.collect())
      }
      assert(jobs == 0, s"$jobs Spark jobs on a memo hit:\n$q\n" +
        df.queryExecution.executedPlan)
      assert(got == want && AggViewRewrite.served(df, marker) && folded(df),
        s"$q\n${df.queryExecution.optimizedPlan}")
    }
    spark.conf.set("spark.graft.meta.manifestCache", "false")
    try qs.zip(warm).foreach { case ((q, marker), want) =>
      var df: DataFrame = null
      var got: Seq[String] = Nil
      val jobs = jobsDuring {
        df = spark.sql(q)
        got = canon(df.collect())
      }
      assert(jobs > 0 && !folded(df) && AggViewRewrite.served(df, marker),
        s"with the memo off the view files must be read:\n$q\n" +
          df.queryExecution.optimizedPlan)
      assert(got == want, s"memo off changed the answer of $q")
    } finally spark.conf.unset("spark.graft.meta.manifestCache")
  }

  private def heldKeys(st: TableStore): Seq[(String, String, String)] = {
    import scala.jdk.CollectionConverters._
    TableStore.rowMemo.keySet.asScala.toSeq
      .filter(k => k._1 == st.epochMemoKey && k._2 == "view")
  }

  test("memo lifecycle: a refresh serves the new view version, a drop " +
      "releases the held rows, an over-gate view is not held") {
    import spark.implicits._
    val base = store("lc")
    base.commitBucketed((1L to 200L).map(i => (i, s"g${i % 3}", i % 4, i))
      .toDF("id", "g", "h", "v"), Seq("id"), 4)
    MaterializedAgg.create(base, "lcv", Seq("g", "h"), sumCols = Seq("v"),
      numBuckets = 2)
    val vs = MaterializedAgg.aggStore(base, "lcv")
    val q = "SELECT g, sum(v) AS s, count(*) AS n FROM hv_cat.analytics.lc " +
      "GROUP BY g"
    def ask(): (DataFrame, Seq[String]) = {
      val df = spark.sql(q)
      (df, canon(df.collect()))
    }
    val (d1, a1) = ask()
    val v1 = vs.currentVersion()
    assert(folded(d1) && AggViewRewrite.served(d1) &&
      heldKeys(vs).map(_._3) == Seq(v1.toString))
    // a base change plus a refresh: the next query answers from the new
    // view version, not from the rows held for the old one
    base.upsertEq(Seq((1L, "g1", 1L, 1000L, "PUT"),
      (2L, "g2", 2L, 0L, "REMOVE"))
      .toDF("id", "g", "h", "v", "op"))
    MaterializedAgg.refresh(base, "lcv")
    val v2 = vs.currentVersion()
    assert(v2 > v1)
    val (d2, a2) = ask()
    assert(a2 != a1 && a2 == rewriteOff(ask()._2) && folded(d2) &&
      heldKeys(vs).map(_._3).contains(v2.toString),
      s"$a1 -> $a2\n${d2.queryExecution.optimizedPlan}")
    // dropping the view releases every row set held under it
    MaterializedAgg.drop(base, "lcv")
    assert(heldKeys(vs).isEmpty)
    assert(!AggViewRewrite.served(spark.sql(q)))

    // past the row gate: served by Spark from the view files, never held
    val wide = store("wide")
    val n = TableStore.MaskMemoMaxRows + 1
    wide.commitBucketed(spark.range(0, n).selectExpr("id", "id % 7 AS v"),
      Seq("id"), 4)
    MaterializedAgg.create(wide, "by_id", Seq("id"), sumCols = Seq("v"),
      numBuckets = 4)
    val ws = MaterializedAgg.aggStore(wide, "by_id")
    assert(ws.manifest(ws.currentVersion()).totalRows > TableStore.MaskMemoMaxRows)
    val wq = "SELECT id % 5 AS b, sum(v) AS s FROM hv_cat.analytics.wide " +
      "GROUP BY id % 5"
    val wdf = spark.sql(wq)
    val wgot = canon(wdf.collect())
    assert(AggViewRewrite.served(wdf) && !folded(wdf) && heldKeys(ws).isEmpty,
      wdf.queryExecution.optimizedPlan.toString)
    assert(wgot == rewriteOff(canon(spark.sql(wq).collect())))
    assert(TableStore.rowMemoRows <= TableStore.MaskMemoMaxRows)
  }

  test("memo budget: held rows never exceed the shared row budget") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val attr = Seq(AttributeReference("x", LongType)())
    def rel(n: Int) = LocalRelation(attr, Seq.fill(n)(InternalRow(1L)))
    val budget = TableStore.MaskMemoMaxRows.toInt
    def key(v: String) = (s"$warehouse/budget@-", "view", v)
    try {
      TableStore.rowMemoPut(key("1"), rel(budget - 10))
      assert(TableStore.rowMemoRows <= budget)
      TableStore.rowMemoPut(key("2"), rel(20))
      assert(TableStore.rowMemoRows <= budget &&
        TableStore.rowMemo.containsKey(key("2")))
      TableStore.rowMemoPut(key("3"), rel(budget + 1))
      assert(TableStore.rowMemoRows <= budget &&
        !TableStore.rowMemo.containsKey(key("3")))
      (4 to 80).foreach(i => TableStore.rowMemoPut(key(i.toString), rel(1)))
      assert(TableStore.rowMemo.size <= 65 &&
        TableStore.rowMemoRows <= budget)
    } finally TableStore.invalidateMeta(s"$warehouse/budget")
  }
}
