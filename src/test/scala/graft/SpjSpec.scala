package graft

import org.apache.spark.sql.DataFrame

import graft.catalog.GraftCatalog
import graft.store.TableStore

/** Storage-partitioned joins over co-bucketed graft tables: with
  * `spark.sql.sources.v2.bucketing.enabled` the scans report their on-disk
  * `bucket(n, key)` grouping and the join plans with NO exchange on either
  * side; with the conf off (the default) plans are stock. Results must be
  * identical either way. */
class SpjSpec extends SparkSuite {

  private lazy val wh = graft.util.Scratch.stable("spj_wh")
  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.spjcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spjcat.warehouse", wh)
    "spjcat"
  }

  private lazy val setup: Unit = {
    val so = new TableStore(spark, s"$wh/a/ob")
    so.commitBucketed(Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice"), Seq("o_orderkey"), 8)
    val sl = new TableStore(spark, s"$wh/a/lb")
    sl.commitBucketed(Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity"), Seq("l_orderkey"), 8)
    val sw = new TableStore(spark, s"$wh/a/lb16")
    sw.commitBucketed(Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity"), Seq("l_orderkey"), 16)
  }

  private def joinDf(right: String): DataFrame = spark.sql(
    s"""SELECT o.o_orderkey, o.o_totalprice, l.l_quantity
       |FROM $cat.a.ob o JOIN $cat.a.$right l
       |ON o.o_orderkey = l.l_orderkey""".stripMargin)

  private val noBroadcast = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  test("co-bucketed join plans with zero exchanges under v2 bucketing") {
    setup
    var spjRows: Array[org.apache.spark.sql.Row] = null
    withConf(noBroadcast :+
      ("spark.sql.sources.v2.bucketing.enabled" -> "true"): _*) {
      val df = joinDf("lb")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"expected no exchange:\n$p")
      assert(p.contains("Join"), p)
      spjRows = df.collect().sortBy(r => (r.getLong(0), r.getDouble(2)))
      assert(spjRows.length > 1000)
    }
    // v2 bucketing off (its Spark 4 default is ON): same result through
    // real shuffles, and the scan reverts to the stock parquet plan
    withConf(noBroadcast :+
      ("spark.sql.sources.v2.bucketing.enabled" -> "false"): _*) {
      val df = joinDf("lb")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Exchange"), s"conf-off plan should shuffle:\n$p")
      assert(!p.contains("KeyGrouped"), s"conf-off scan should be stock:\n$p")
      val stock = df.collect().sortBy(r => (r.getLong(0), r.getDouble(2)))
      assert(stock.toSeq == spjRows.toSeq)
    }
  }

  test("mismatched bucket counts fall back to shuffle, same result") {
    setup
    withConf(noBroadcast :+
      ("spark.sql.sources.v2.bucketing.enabled" -> "true"): _*) {
      val df = joinDf("lb16")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Exchange"), s"8-vs-16 buckets cannot co-partition:\n$p")
      assert(df.count() == joinDf("lb").count())
    }
  }

  test("one-side shuffle: plain side hashes INTO graft's bucketing") {
    // spark.sql.sources.v2.bucketing.shuffle.enabled shuffles the
    // non-bucketed side with GraftBucketFunction.produceResult — rows only
    // meet their join partners if the function replays the write path's
    // pmod(xxhash64(k), n) exactly, so result parity here IS the
    // driver/executor hash-parity proof for the V2 function.
    setup
    Tables.load(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
      .createOrReplaceTempView("spj_plain_li")
    // ground truth straight from the parquet fixtures, no catalog involved
    val expected = Tables.load(spark, sfDir, "orders").select("o_orderkey")
      .join(Tables.load(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_quantity"),
        org.apache.spark.sql.functions.col("o_orderkey") ===
          org.apache.spark.sql.functions.col("l_orderkey"))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).sorted
    withConf(noBroadcast ++ Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true"): _*) {
      val df = spark.sql(
        s"""SELECT o.o_orderkey, l.l_quantity
           |FROM $cat.a.ob o JOIN spj_plain_li l
           |ON o.o_orderkey = l.l_orderkey""".stripMargin)
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
      assert(got.length == expected.length && got.sameElements(expected),
        "one-side-shuffle join result diverges from ground truth")
      // AQE prints Final + Initial sections; assert on the final one only
      val finalPlan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // exactly ONE exchange: the plain side, hashed by the V2 function
      // into graft's bucketing; the bucketed side reads in place
      assert("- Exchange ".r.findAllIn(finalPlan).length == 1, finalPlan)
      assert(finalPlan.contains("Exchange keygroupedpartitioning"), finalPlan)
      assert(finalPlan.contains("GraftBucketFunction"), finalPlan)
      assert(finalPlan.contains("KeyGrouped(bucket(8"), finalPlan)
    }
  }

  test("group-by on the bucket key aggregates with zero exchanges") {
    // KeyGroupedPartitioning over bucket(n, k) satisfies the aggregation's
    // ClusteredDistribution(k): every group lives in one bucket, so the
    // final HashAggregate sits directly on the partial one with no
    // shuffle — at 100 TB a full-table GROUP BY on the table key becomes
    // a map-only pass.
    setup
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val df = spark.sql(
        s"SELECT o_orderkey, COUNT(*) AS n FROM $cat.a.ob GROUP BY o_orderkey")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"expected shuffle-free agg:\n$p")
      assert(p.contains("HashAggregate"), p)
      assert(df.count() ==
        Tables.load(spark, sfDir, "orders").select("o_orderkey").distinct().count())
    }
  }

  test("single-table scan under v2 bucketing still reads all rows") {
    setup
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val n = spark.sql(s"SELECT * FROM $cat.a.lb").count()
      assert(n == Tables.load(spark, sfDir, "lineitem").count())
    }
  }
}
