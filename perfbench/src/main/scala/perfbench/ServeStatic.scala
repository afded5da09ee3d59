package perfbench

import java.util.SplittableRandom

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.etl.CdcApply
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.CdcMaintenance

/** `serve_static`: reads only, closed loop, four clients. Setup replays a
  * fixed seeded history onto the served table shape ([[Shop]]): orders is
  * loaded from DynamoDB export lines and bucketed, customer added, and the
  * GSI, aggregate view and join view created. Two CDC batches follow
  * through `applyCdcBatchAuto`: changes to keys scattered over the table
  * (equality deletes) and changes to a hot key set in two buckets (delete
  * vectors). `maintain` runs with derivative refreshes off, then the three
  * derivatives are refreshed. The deletes stay outstanding, so every base
  * read is mask-aware, and the views are fresh, so they serve the agg and
  * join classes: serving a stale view with its tail is opt-in
  * (`spark.graft.agg.rewrite.tailUnion`) and the benchmark sets no
  * `spark.graft.*` key. The timed phase sends the dashboard mix with seeded
  * parameters from four closed-loop clients, one per core. */
final class ServeStatic extends Workload {
  val Rows = 10000L
  val Buckets = 8
  val Scattered = 400L
  val HotChanges = 200L
  val HotKeys = 40
  val Clients = 4
  /** The p90 needs 100 samples; a slow run keeps serving past the deadline
    * until it has this many. */
  val MinSamples = 100
  /** Queries each client runs before the timed phase: without them the
    * first fifth of the phase's queries ran 30-40% slower than the rest,
    * while the JVM compiled the serve path. */
  val WarmPerClient = 5
  val Maint = CdcMaintenance(refreshIndexes = false, refreshAggs = false)
  override def clients: Int = Clients

  private var shop: Shop = _
  private var dash: Dashboard = _
  private var hot: Array[Long] = _
  private var liveRows = 0L
  /** The first answer the timed phase got per class, checked afterwards. */
  private val answers = TrieMap.empty[String, (String, Array[Row])]

  private def hotKey(seed: Long)(id: Column, u: Column): Column =
    element_at(array(hot.toSeq.map(lit): _*),
      (pmod(xxhash64(id, lit(seed), lit(61)), lit(hot.length.toLong)) + 1).cast("int"))

  /** The history: change ids [0, Scattered) remove or modify uniform keys,
    * [Scattered, Scattered + HotChanges) the hot keys; 60% REMOVE in both. */
  private def history(ctx: Ctx): Seq[DataFrame] = Seq(
    Gen.changes(ctx.spark, ctx.seed, 0, Scattered, shop.nCust,
      (id, _) => Gen.uniformKey(ctx.seed, id, Rows), Gen.opMix(0, 60)),
    Gen.changes(ctx.spark, ctx.seed, Scattered, Scattered + HotChanges, shop.nCust,
      hotKey(ctx.seed), Gen.opMix(0, 60)))

  def setup(ctx: Ctx, dir: String): Unit = {
    val rec = ctx.rec
    shop = new Shop(ctx, dir, Rows, Buckets)
    shop.load()
    shop.addDimension()
    shop.createDerivatives()
    val r = new SplittableRandom(ctx.seed)
    val b1 = r.nextInt(Buckets)
    hot = Shop.hotKeys(ctx, shop, Seq(b1, (b1 + 1 + r.nextInt(Buckets - 1)) % Buckets), HotKeys)
    history(ctx).zip(Seq(Scattered, HotChanges)).foreach { case (changes, n) =>
      val batch = rec.time("gen", "change_batch")(Gen.local(ctx.spark, changes))
      val v0 = Store.version(ctx, shop.orders)
      val (_, ms) = rec.timed("apply", "applyCdcBatchAuto") {
        StreamingOps.applyCdcBatchAuto(batch, shop.orders, shop.Keys, Buckets, maintenance = None)
      }
      rec.sample("apply.ms", ms)
      Store.afterApply(ctx, shop.orders, v0, n)
    }
    val (_, mms) = rec.timed("maintain", "maintain")(StreamingOps.maintain(shop.orders, Maint))
    rec.sample("maintain.ms", mms)
    shop.refreshAll()
    dash = new Dashboard(shop.ns, shop.orders, shop.customer, Rows, shop.nCust)
    // plan each class once, then run the clients' loop briefly, so the
    // timed phase starts on warm code
    dash.Shares.foreach { case (c, _) => dash.serve(ctx, c, dash.text(c, r)) }
    val warm = (0 until Clients).map { c =>
      new Thread(() => {
        val wr = new SplittableRandom(ctx.seed * 31 + 1000 + c)
        val deck = dash.deck(wr)
        (1 to WarmPerClient).foreach { _ =>
          val (cls, sql) = dash.draw(deck, wr)
          dash.serve(ctx, cls, sql)
        }
      }, s"warm-$c")
    }
    warm.foreach(_.start())
    warm.foreach(_.join())
    rec.forget("serve.")
  }

  /** `Clients` threads, each a closed loop over its own seeded parameter
    * stream, until the deadline and [[MinSamples]] answered queries. */
  def measure(ctx: Ctx, seconds: Double): Unit = {
    val rec = ctx.rec
    val head = shop.orders.currentVersion()
    val (g, a, j) = shop.watermarks()
    val deadline = rec.nowMs + seconds * 1000
    val served = new java.util.concurrent.atomic.AtomicLong()
    def more = rec.nowMs < deadline || served.get < MinSamples
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val r = new SplittableRandom(ctx.seed * 31 + 7 + c)
        val deck = dash.deck(r)
        var k = 0L
        while (more) {
          k += 1
          rec.beginOp(c * 1000000L + k)
          val (cls, sql) = rec.time("gen", "draw")(dash.draw(deck, r))
          rec.add("attempted", 1)
          val s = rec.nowMs
          try {
            val rows = dash.serve(ctx, cls, sql)
            val ms = rec.nowMs - s
            answers.putIfAbsent(cls, (sql, rows))
            rec.sample("latency", ms)
            rec.sample(s"serve.$cls.latency", ms)
            rec.sample("gsi.lag", (head - g).toDouble)
            rec.sample("agg.lag", (head - a).toDouble)
            rec.sample("join.lag", (head - j).toDouble)
            rec.add("work", 1)
            served.incrementAndGet()
          } catch {
            case e: Exception =>
              rec.add("failed", 1)
              System.err.println(s"[perfbench] query failed: $sql: $e")
          }
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    rec.set("serve.repeat_share", dash.repeatShare(ctx))
  }

  def verify(ctx: Ctx): Unit = {
    val expected = CdcApply(Gen.orders(ctx.spark, ctx.seed, Rows, shop.nCust, ctx.cores),
      history(ctx).reduce(_ union _), shop.Keys)
    val Seq(want, got) = Par.map(Seq(expected, shop.orders.readSnapshot()))(Gen.digest)
    liveRows = got._1
    ctx.check("serve_static.lww_snapshot", want == got, s"expected $want, got $got")
    dash.checkRoutes(ctx, "serve_static", new SplittableRandom(ctx.seed + 99), answers.toMap)
    Store.endState(ctx, Seq(shop.orders))
  }

  def footprint(ctx: Ctx): (Long, Long) = {
    Store.sampleBytes(ctx, shop.orders.root)
    (Store.meanBytes(ctx), liveRows)
  }
}
