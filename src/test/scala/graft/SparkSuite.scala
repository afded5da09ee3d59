package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one SparkContext per JVM). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with the session confs `kvs` set, then restores each
    * key's prior value (or unsets it), so no test leaves a key set on the
    * shared session. */
  protected def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Job ids started while `body` runs, fenced by two marker jobs: the
    * listener bus delivers in order, so once the closing marker's start
    * is seen every job of `body` has been counted. */
  protected def jobsDuring(body: => Unit): Int = {
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
      marker("jobs-open"); awaitMarker("jobs-open")
      body
      marker("jobs-close"); awaitMarker("jobs-close").size
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
