package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.etl.CdcApply
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.CdcMaintenance

/** `cdc_serve`: mixed, open loop, two client threads. Orders (fact) and
  * customer (dimension) carry a GSI, an aggregate view and a join view.
  *
  *   - A change stream runs at a fixed rate, skewed to a hot key set that
  *     sits in a few buckets, so batches route merge-on-read. Every change
  *     is stamped with its due time.
  *   - The ingest thread applies whatever is due on a fixed micro-batch
  *     interval. Every `RefreshEvery` batches it refreshes the three
  *     derivatives and runs `maintain` with their refreshes off.
  *   - The serve thread sends the dashboard mix on its own fixed schedule;
  *     latency runs from each query's due time.
  *
  * Freshness: a change is visible once the base table and every derivative
  * reflect the commit that carried it; visibility is read from the version
  * and the derivative watermarks after each call. */
final class CdcServe extends Workload {
  val Rows = 40000L
  val Buckets = 16
  val RatePerS = 40.0
  val IntervalMs = 1000.0
  val RefreshEvery = 1
  val QueryIntervalMs = 1000.0
  val Maint = CdcMaintenance(refreshIndexes = false, refreshAggs = false)
  override def clients: Int = 2

  private var shop: Shop = _
  private var dash: Dashboard = _
  private var hot: Array[Long] = _
  private var applied = 0L

  /** 5% INSERT of fresh keys, 5% REMOVE and 85% MODIFY of hot keys, 5%
    * MODIFY of uniform keys. */
  private def key(seed: Long)(id: org.apache.spark.sql.Column, u: org.apache.spark.sql.Column) =
    when(u < 5, lit(Rows) + id + 1)
      .when(u < 95, element_at(array(hot.toSeq.map(lit): _*),
        (pmod(xxhash64(id, lit(seed), lit(60)), lit(hot.length.toLong)) + 1).cast("int")))
      .otherwise(Gen.uniformKey(seed, id, Rows))

  private def changes(ctx: Ctx, lo: Long, hi: Long) =
    Gen.changes(ctx.spark, ctx.seed, lo, hi, shop.nCust, key(ctx.seed), Gen.opMix(5, 5))

  private def apply(ctx: Ctx, n: Long): (Long, Double) = {
    val batch = ctx.rec.time("gen", "change_batch")(Gen.local(ctx.spark, changes(ctx, applied, applied + n)))
    val v0 = Store.version(ctx, shop.orders)
    val (_, ms) = ctx.rec.timed("apply", "applyCdcBatchAuto") {
      StreamingOps.applyCdcBatchAuto(batch, shop.orders, shop.Keys, Buckets, maintenance = None)
    }
    applied += n
    (v0, ms)
  }

  def setup(ctx: Ctx, dir: String): Unit = {
    shop = new Shop(ctx, dir, Rows, Buckets)
    shop.load()
    shop.addDimension()
    shop.createDerivatives()
    val r = new SplittableRandom(ctx.seed)
    val b1 = r.nextInt(Buckets)
    hot = Shop.hotKeys(ctx, shop, Seq(b1, (b1 + 1 + r.nextInt(Buckets - 1)) % Buckets), 64)
    dash = new Dashboard(shop.ns, shop.orders, shop.customer, Rows, shop.nCust)
    applied = 0L
    // warm the apply, refresh, maintain and serve paths once
    apply(ctx, RatePerS.toLong)
    shop.refreshAll()
    StreamingOps.maintain(shop.orders, Maint)
    dash.Shares.foreach { case (c, _) => dash.serve(ctx, c, dash.text(c, r)) }
  }

  def measure(ctx: Ctx, seconds: Double): Unit = {
    val rec = ctx.rec
    val t0 = rec.nowMs
    val deadline = t0 + seconds * 1000
    val head = new AtomicLong(shop.orders.currentVersion())
    val wm0 = shop.watermarks()
    val wms = Seq(new AtomicLong(wm0._1), new AtomicLong(wm0._2), new AtomicLong(wm0._3))
    val changesOut = mutable.ArrayBuffer.empty[Seq[Double]]
    val visible = mutable.ArrayBuffer.empty[Seq[Double]]
    def observe(): Unit = visible += Seq(rec.nowMs, wms.map(_.get).min.toDouble)
    def dueAt(j: Long): Double = t0 + j * 1000.0 / RatePerS
    val applied0 = applied
    var applyMs = 0.0

    val server = new Thread(() => {
      val r = new SplittableRandom(ctx.seed * 31 + 7)
      val deck = dash.deck(r)
      var k = 0L
      var due = t0
      while (due < deadline) {
        val wait = due - rec.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        rec.sample("gen.late_ms", math.max(0.0, rec.nowMs - due))
        val (cls, sql) = dash.draw(deck, r)
        rec.beginOp(1000000L + k)
        rec.add("attempted", 1)
        try {
          dash.serve(ctx, cls, sql)
          rec.sample(s"serve.$cls.latency", rec.nowMs - due)
          val h = head.get
          Seq("gsi", "agg", "join").zip(wms).foreach { case (d, w) =>
            rec.sample(s"$d.lag", (h - w.get).toDouble)
          }
        } catch {
          case e: Exception =>
            rec.add("failed", 1)
            System.err.println(s"[perfbench] query failed: $sql: $e")
        }
        k += 1
        due = t0 + k * QueryIntervalMs
      }
    }, "serve")
    server.start()

    var batches = 0L
    var tick = 0L
    try {
      while (rec.nowMs < deadline) {
        val due = ((rec.nowMs - t0) / 1000.0 * RatePerS).toLong
        val sent = applied - applied0
        if (due > sent) {
          rec.beginOp(batches + 1)
          rec.add("attempted", 1)
          val (v0, ms) = apply(ctx, due - sent)
          applyMs += ms
          rec.sample("apply.ms", ms)
          head.set(Store.afterApply(ctx, shop.orders, v0, due - sent))
          (sent until due).foreach(j => changesOut += Seq((v0 + 1).toDouble, dueAt(j)))
          batches += 1
          if (batches % RefreshEvery == 0) refreshRound(ctx, wms, head, observe _)
        }
        tick = math.max(tick + 1, ((rec.nowMs - t0) / IntervalMs).toLong + 1)
        val wait = t0 + tick * IntervalMs - rec.nowMs
        if (wait > 0) Thread.sleep(wait.toLong)
      }
      rec.set("gen.backlog_end_rows",
        (((rec.nowMs - t0) / 1000.0 * RatePerS).toLong - (applied - applied0)).toDouble)
      // the last changes become visible through one more refresh
      refreshRound(ctx, wms, head, observe _)
    } finally server.join()
    rec.beginOp(-1)
    rec.set("work", (applied - applied0).toDouble)
    rec.set("work_s", applyMs / 1000)
    rec.set("fresh", Json.obj("changes" -> changesOut.toList, "visible" -> visible.toList))
    rec.set("serve.repeat_share", dash.repeatShare(ctx))
  }

  private def refreshRound(ctx: Ctx, wms: Seq[AtomicLong], head: AtomicLong,
      observe: () => Unit): Unit = {
    shop.refreshAll()
    val (g, a, j) = shop.watermarks()
    wms.zip(Seq(g, a, j)).foreach { case (w, v) => w.set(v) }
    observe()
    val (_, ms) = ctx.rec.timed("maintain", "maintain")(StreamingOps.maintain(shop.orders, Maint))
    ctx.rec.sample("maintain.ms", ms)
    head.set(Store.version(ctx, shop.orders))
    Store.sampleBytes(ctx, shop.orders.root)
  }

  def verify(ctx: Ctx): Unit = {
    val expected = CdcApply(Gen.orders(ctx.spark, ctx.seed, Rows, shop.nCust, ctx.cores),
      changes(ctx, 0, applied), shop.Keys)
    val want = Gen.digest(expected)
    val got = Gen.digest(shop.orders.readSnapshot())
    ctx.check("cdc_serve.lww_snapshot", want == got, s"expected $want, got $got")
    dash.checkRoutes(ctx, "cdc_serve", new SplittableRandom(ctx.seed + 99))
    Store.endState(ctx, Seq(shop.orders))
    if (ctx.rec.traced)
      ctx.rec.set("store.change_bytes", Store.exportBytes(changes(ctx, 0, applied)))
  }

  def footprint(ctx: Ctx): (Long, Long) =
    (Store.meanBytes(ctx, 1), shop.orders.readSnapshot().count())
}
