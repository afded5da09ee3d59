package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The run's health record and JVM-level counters. */
object Health {
  /** Versions plus a constant-work probe: a fixed driver-side CPU loop and a
    * fixed small Spark job, timed before the workload starts. A co-tenant
    * that steals cores shows up as a slow probe next to the result. */
  def probe(spark: SparkSession): Json.Obj = {
    spark.range(0, 1000).selectExpr("sum(id)").collect() // warm the scheduler
    val c0 = System.nanoTime()
    var acc = 0L
    var i = 0L
    while (i < 50000000L) { acc += (i * 2654435761L) >>> 17; i += 1 }
    val cpuMs = (System.nanoTime() - c0) / 1e6
    val s0 = System.nanoTime()
    spark.range(0, 1000000L, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(pmod(id * 31, 1009))").collect()
    val sparkMs = (System.nanoTime() - s0) / 1e6
    Json.obj(
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "probe_cpu_ms" -> cpuMs, "probe_spark_ms" -> sparkMs,
      "probe_checksum" -> (acc & 0xff))
  }

  /** CPU time this process has used, in ms. */
  def processCpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** (total, steal) jiffies over all CPUs, from /proc/stat: steal is time
    * the hypervisor ran someone else on this machine's CPUs. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = src.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (xs.sum, if (xs.length > 7) xs(7) else 0L)
    } finally src.close()
  }

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Heap still in use after full collections: what the run's caches and
    * state retain at its end. Spark frees broadcast and shuffle blocks from
    * a cleaner thread once their handles are collected, so this takes the
    * least of three collections spaced to let the cleaner run. */
  def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** Peak resident set size (`VmHWM`) of this process. */
  def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}
