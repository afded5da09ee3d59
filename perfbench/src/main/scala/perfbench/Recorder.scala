package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext

/** One timed call into an engine module. Times are ms since the recorder
  * was made; `parent` is the enclosing span on the same thread (-1 at the
  * top), `op` groups the spans of one logical operation (a batch, a query). */
final case class Span(id: Long, parent: Long, thread: String, layer: String,
    name: String, startMs: Double, endMs: Double, op: Long)

/** Everything a run measures, kept in memory and written once at the end.
  *
  * `time` wraps each call the benchmark makes into an engine module. In an
  * untraced run it only returns the elapsed time; in a traced run it also
  * records a [[Span]] and tags the Spark jobs the call launches with the
  * span id (a job-local property), so [[JobListener]] can attribute them. */
final class Recorder(val traced: Boolean, sc: SparkContext) {
  private val t0 = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private var nextId = 0L
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val opOf = new ThreadLocal[Long] { override def initialValue() = -1L }

  /** Run `body` as a span of `layer`; returns its result and elapsed ms. */
  def timed[A](layer: String, name: String)(body: => A): (A, Double) = {
    if (!traced) {
      val s = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - s) / 1e6)
    } else {
      val id = synchronized { nextId += 1; nextId }
      val parents = stack.get()
      val prevProp = sc.getLocalProperty(Recorder.SpanProp)
      stack.set(id :: parents)
      sc.setLocalProperty(Recorder.SpanProp, id.toString)
      val start = nowMs
      try {
        val a = body
        (a, nowMs - start)
      } finally {
        val end = nowMs
        sc.setLocalProperty(Recorder.SpanProp, prevProp)
        stack.set(parents)
        synchronized {
          spans += Span(id, parents.headOption.getOrElse(-1L),
            Thread.currentThread().getName, layer, name, start, end, opOf.get())
        }
      }
    }
  }

  def time[A](layer: String, name: String)(body: => A): A =
    timed(layer, name)(body)._1

  /** Mark the spans this thread opens next as belonging to operation `op`. */
  def beginOp(op: Long): Unit = opOf.set(op)

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def set(name: String, v: Any): Unit = synchronized { values(name) = v }
  def add(name: String, v: Double): Unit = synchronized {
    values(name) = values.get(name).map(_.asInstanceOf[Double]).getOrElse(0.0) + v
  }
  def get(name: String): Option[Any] = synchronized { values.get(name) }

  /** Drop every sample and value whose name starts with `prefix`: calls
    * made to warm up before the timed phase are not part of it. */
  def forget(prefix: String): Unit = synchronized {
    samples.keys.filter(_.startsWith(prefix)).toList.foreach(samples.remove)
    values.keys.filter(_.startsWith(prefix)).toList.foreach(values.remove)
  }

  def spanList: Seq[Span] = synchronized(spans.toList)
  def sampleMap: Map[String, Seq[Double]] = synchronized(samples.map { case (k, v) => k -> v.toList }.toMap)
  def valueMap: Seq[(String, Any)] = synchronized(values.toList)
}

object Recorder {
  val SpanProp = "perfbench.span"

  /** Cost in ms of one traced span around an empty body: the recorder's
    * own bookkeeping plus the job-property tagging. */
  def spanCostMs(sc: SparkContext): Double = {
    val probe = new Recorder(traced = true, sc)
    val n = 20000
    (1 to 2000).foreach(_ => probe.time("x", "warm")(()))
    val s = System.nanoTime()
    (1 to n).foreach(_ => probe.time("x", "probe")(()))
    (System.nanoTime() - s) / 1e6 / n
  }
}
