package graft

import org.apache.spark.sql.DataFrame

import graft.catalog.{GraftCatalog, RuntimePruning}
import graft.store.TableStore

/** Join-driven runtime file pruning (DSv2 dynamic pruning, SPARK-35779):
  * a bucketed fact scan advertises its bucket keys, Spark plans an
  * IN-subquery over the selective dim side, and the scan re-plans over
  * `keyEqualityBuckets(IN set) ∩ stats` survivors before executing —
  * literal point-lookup pruning extended to star joins. */
class RuntimeFilterSpec extends SparkSuite {

  private lazy val wh = graft.util.Scratch.stable("rtf_wh")
  private lazy val cat: String = {
    spark.conf.set("spark.sql.catalog.rtfcat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rtfcat.warehouse", wh)
    "rtfcat"
  }

  private val nBuckets = 8

  private lazy val setup: Unit = {
    val fact = new TableStore(spark, s"$wh/a/fact")
    fact.commitBucketed(Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity"), Seq("l_orderkey"), nBuckets)
    // dim: a handful of orderkeys, one selective attribute
    val dim = new TableStore(spark, s"$wh/a/dim")
    import spark.implicits._
    val keys = Tables.load(spark, sfDir, "orders")
      .select("o_orderkey").as[Long].take(40)
    dim.commitSnapshot(keys.zipWithIndex.toSeq
      .map { case (k, i) => (k, if (i < 3) "hot" else "cold") }
      .toDF("k", "tag"))
  }

  private def starJoin(): DataFrame = spark.sql(
    s"""SELECT f.l_orderkey, f.l_quantity, d.tag
       |FROM $cat.a.fact f JOIN $cat.a.dim d ON f.l_orderkey = d.k
       |WHERE d.tag = 'hot'""".stripMargin)

  private def factFilesPlanned(): Int = {
    import scala.jdk.CollectionConverters._
    RuntimePruning.lastPlannedFiles.entrySet().asScala
      .filter(_.getKey.startsWith(s"$cat.a.fact@"))
      .map(_.getValue.intValue()).headOption.getOrElse(-1)
  }

  // force the DPP benefit heuristic: tiny test tables otherwise make the
  // planner decline what a 100 TB fact table would obviously accept
  private val dppOn = Seq(
    "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
    "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
    "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10.0")

  test("star join runtime-prunes the bucketed fact scan to the dim keys' buckets") {
    setup
    var expect: Seq[(Long, Double, String)] = null
    withConf(dppOn :+
      ("spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false"): _*) {
      val df = starJoin()
      import spark.implicits._
      expect = df.as[(Long, Double, String)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(expect.nonEmpty)
      assert(factFilesPlanned() == nBuckets,
        s"DPP off: full fact scan expected, planned ${factFilesPlanned()}")
    }
    withConf(dppOn: _*) {
      val df = starJoin()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") || plan.contains("RuntimeFilters"),
        s"expected a runtime filter on the fact scan:\n$plan")
      import spark.implicits._
      val got = df.as[(Long, Double, String)].collect().sortBy(r => (r._1, r._2)).toSeq
      assert(got == expect)
      val planned = factFilesPlanned()
      // 3 hot keys hash into at most 3 of the 8 buckets
      assert(planned >= 1 && planned <= 3,
        s"runtime prune should plan <= 3 of $nBuckets bucket files, planned $planned")
    }
  }

  test("runtime pruning composes with storage-partitioned joins (key-grouped scan)") {
    setup
    withConf(dppOn ++ Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true"): _*) {
      val df = starJoin()
      import spark.implicits._
      val got = df.as[(Long, Double, String)].collect().sortBy(r => (r._1, r._2))
      assert(got.nonEmpty)
      val planned = factFilesPlanned()
      assert(planned >= 1 && planned <= 3,
        s"keygrouped runtime prune planned $planned of $nBuckets")
    }
  }

  test("wrapped bucketed scans still report size stats: small dim auto-broadcasts") {
    setup
    // both wraps engaged (SPJ conf on + runtime-prunable): the scan must
    // still forward the parquet scan's size estimate — losing it re-prices
    // the dim at defaultSizeInBytes and the join falls back to shuffle
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val dimB = new TableStore(spark, s"$wh/a/dimb")
      if (dimB.currentVersion() < 0) {
        import spark.implicits._
        dimB.commitBucketed(
          (1L to 100L).map(k => (k, s"t$k")).toDF("k", "tag"), Seq("k"), 4)
      }
      spark.catalog.refreshTable(s"$cat.a.dimb")
      val df = spark.sql(
        s"""SELECT f.l_orderkey, d.tag FROM $cat.a.fact f
           |JOIN $cat.a.dimb d ON f.l_orderkey = d.k""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"small bucketed dim should broadcast:\n$plan")
      assert(df.count() > 0)
    }
  }

  test("an oversized runtime IN set summarizes to its [min, max] range " +
      "instead of dropping pruning (r16): a 200k-key runtime filter still " +
      "plans a strict file subset on a range-chunked fact") {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, GreaterThanOrEqual, In, LessThanOrEqual, Literal}
    import org.apache.spark.sql.types.LongType
    val a = AttributeReference("l_orderkey", LongType)()
    val big = In(a, (1 to (RuntimePruning.MaxRuntimeInValues + 1))
      .map(i => Literal(i.toLong)))
    assert(RuntimePruning.inValueCount(big) > RuntimePruning.MaxRuntimeInValues)
    // the fold: [min, max] range, a strict superset of the key set
    RuntimePruning.summarizeOversized(big) match {
      case And(GreaterThanOrEqual(_, Literal(lo, _)),
          LessThanOrEqual(_, Literal(hi, _))) =>
        assert(lo == 1L && hi == (RuntimePruning.MaxRuntimeInValues + 1).toLong)
      case other => fail(s"expected a range fold, got $other")
    }
    // end-to-end on a real range-chunked catalog table: push a 200k-key
    // runtime filter through the wrapper's filter() hook and assert the
    // re-plan kept only the chunks the range overlaps
    import org.apache.spark.sql.functions.col
    val fact = new TableStore(spark, s"$wh/a/factrange")
    if (fact.currentVersion() < 0) {
      import spark.implicits._
      val base = (0L until 600000L by 3L).toDF("k") // 200k rows
      fact.commitSnapshot(base.filter(col("k") < 150000L).coalesce(1))
      (1 to 3).foreach(i => fact.commitAppend(base.filter(
        col("k") >= i * 150000L && col("k") < (i + 1) * 150000L)
        .coalesce(1)))
    }
    spark.catalog.refreshTable(s"$cat.a.factrange")
    val df = spark.sql(s"SELECT k FROM $cat.a.factrange")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[graft.catalog.RuntimePrunableScan] =>
        b.scan.asInstanceOf[graft.catalog.RuntimePrunableScan]
    }
    assert(scans.nonEmpty, "catalog scan must be runtime-prunable")
    // 150,000 distinct keys, all inside chunk 0's [0, 150k) range
    val keys: Array[Any] =
      (0L until 150000L).map(v => v: Any).toArray
    scans.head.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", keys)))
    val planned = {
      import scala.jdk.CollectionConverters._
      RuntimePruning.lastPlannedFiles.entrySet().asScala
        .filter(_.getKey.startsWith(s"$cat.a.factrange@"))
        .map(_.getValue.intValue()).headOption.getOrElse(-1)
    }
    assert(planned == 1,
      s"summarized 150k-key runtime filter must keep only chunk 0, " +
        s"planned $planned of 4")
  }
}
