package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Shared state of one run. `dir` is the run's scratch tree; every store
  * the workload makes lives under it. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val seed: Long,
    val dir: String, val cores: Int) {
  private var failures = List.empty[String]
  private var checked = 0

  /** A correctness check; a failed one fails the run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    checked += 1
    if (!ok) failures ::= s"$name: $detail"
    System.err.println(f"[perfbench] ${rec.nowMs / 1000}%.1f s: check $name " +
      (if (ok) "ok" else "FAILED " + detail))
  }
  def checkCount: Int = synchronized(checked)
  def failedChecks: Seq[String] = synchronized(failures.reverse)
}

/** Runs independent steps of a check on their own threads and waits for
  * all of them; a step that throws rethrows here. For work outside the
  * timed phase only. */
object Par {
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val tasks = xs.map(x => new java.util.concurrent.FutureTask[B](() => f(x)))
    tasks.foreach(t => new Thread(t).start())
    tasks.map(_.get())
  }
}

/** A workload: `setup` builds its state, `measure` runs the timed phase,
  * `verify` checks the outputs after it. Counts go to the recorder:
  * `attempted`, `failed` and `work` (rows, docs or queries done). */
trait Workload {
  def setup(ctx: Ctx, dir: String): Unit
  def measure(ctx: Ctx, seconds: Double): Unit
  def verify(ctx: Ctx): Unit
  /** Bytes under the workload's table roots (derivatives included), as
    * their mean over the timed phase, and the live rows at the end. */
  def footprint(ctx: Ctx): (Long, Long)
  def clients: Int = 1
}

/** Runs one workload in this JVM and writes its raw record as JSON.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --dir SCRATCH --out RAW.json
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dir = opt("dir")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.catalog.bench", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.bench.warehouse", s"$dir/catalog")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(traced, spark.sparkContext)
    val listener = new JobListener(rec)
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, rec, seed, dir, cores)
    val w: Workload = workload match {
      case "cdc_bulk" => new CdcBulk
      case "cdc_serve" => new CdcServe
      case "serve_static" => new ServeStatic
      case "corpus_curate" => new CorpusCurate
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${rec.nowMs / 1000}%.1f s: $what")
    phase("session up")
    val health = Health.probe(spark)
    val s0 = System.nanoTime()
    w.setup(ctx, s"$dir/catalog/r1")
    val setupS = (System.nanoTime() - s0) / 1e9
    phase(f"setup took $setupS%.3f s")
    System.gc()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val gc0 = Health.gcMs()
    val (cpu0, jif0) = (Health.processCpuMs(), Health.cpuJiffies())
    phase("measure")
    val start = rec.nowMs
    w.measure(ctx, seconds)
    val end = rec.nowMs
    val gcMs = Health.gcMs() - gc0
    val (cpu1, jif1) = (Health.processCpuMs(), Health.cpuJiffies())
    phase("verify")
    w.verify(ctx)
    val (bytes, rows) = w.footprint(ctx)
    val retainedMb = Health.retainedHeapMb()
    if (traced) {
      val inPhase = rec.spanList.count(s => s.startMs >= start && s.endMs <= end)
      rec.set("trace.overhead_ms", inPhase * Recorder.spanCostMs(spark.sparkContext))
    }
    phase("done")
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

    val json = Json(Json.obj(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cores" -> cores, "clients" -> w.clients,
      "phase" -> Json.obj("start_ms" -> start, "end_ms" -> end, "cpu_ms" -> (cpu1 - cpu0),
        "steal_share" -> (jif1._2 - jif0._2).toDouble / math.max(1L, jif1._1 - jif0._1)),
      "setup_s" -> setupS,
      "checks" -> ctx.checkCount, "failed_checks" -> ctx.failedChecks,
      "footprint" -> Json.obj("bytes" -> bytes, "rows" -> rows),
      "jvm" -> Json.obj("gc_ms" -> gcMs, "heap_peak_mb" -> Health.heapPeakMb(),
        "vm_hwm_mb" -> Health.vmHwmMb(), "retained_mb" -> retainedMb),
      "health" -> health,
      "values" -> Json.obj(rec.valueMap: _*),
      "samples" -> Json.obj(rec.sampleMap.toSeq.sortBy(_._1): _*),
      "spans" -> rec.spanList.map(s => Seq(s.id, s.parent, s.thread, s.layer,
        s.name, s.startMs, s.endMs, s.op)),
      "jobs" -> listener.jobList.map(j => Seq(j.id, j.startMs, j.endMs, j.span)),
      "stages" -> listener.stageList.map(s => Seq(s.id, s.job, s.tasks,
        s.busyMs, s.inputBytes, s.outputBytes, s.shuffleBytes, s.skew, s.inputRecords))))
    Files.write(Paths.get(opt("out")), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
