package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.etl.CdcApply
import graft.store.TableStore
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.CdcMaintenance

/** `cdc_bulk`: writes only, closed loop, one client. Setup writes the
  * orders table as DynamoDB-JSON export lines and loads them with
  * [[SnapshotLoad.run]], then buckets the table. The timed phase applies
  * large scattered change batches (keys uniform over the table, a
  * MODIFY/INSERT/REMOVE mix with repeated keys inside a batch) through
  * `applyCdcBatchAuto` and runs `maintain` whenever the version reaches the
  * policy's cadence, as the built-in loop does. No derivatives, no queries. */
final class CdcBulk extends Workload {
  val Rows = 1500000L
  val Batch = 5000L
  val Buckets = 16
  val Keys = Seq("o_orderkey")
  val Policy = CdcMaintenance()

  private var store: TableStore = _
  private var applied = 0L
  private def nCust = Rows / 10

  /** Change `id`: a fresh key past the table for INSERT, else a uniform key;
    * one draw in ten reuses the previous change's key, so keys repeat
    * inside a batch. */
  private def changes(ctx: Ctx, lo: Long, hi: Long): DataFrame =
    Gen.changes(ctx.spark, ctx.seed, lo, hi, nCust,
      (id, u) => when(u < 15, lit(Rows) + id + 1)
        .when(u % 10 === 0, Gen.uniformKey(ctx.seed, id - 1, Rows))
        .otherwise(Gen.uniformKey(ctx.seed, id, Rows)),
      Gen.opMix(15, 15))

  def setup(ctx: Ctx, dir: String): Unit = {
    store = new TableStore(ctx.spark, s"$dir/orders")
    Shop.exportAndLoad(ctx, dir, store, Rows, nCust, Buckets, Keys)
    applied = 0L
    // one batch and one maintenance pass warm the write path's code
    applyBatch(ctx)
    StreamingOps.maintain(store, Policy)
  }

  private def applyBatch(ctx: Ctx): Double = {
    val rec = ctx.rec
    val batch = rec.time("gen", "change_batch") {
      Gen.local(ctx.spark, changes(ctx, applied, applied + Batch))
    }
    val (_, ms) = rec.timed("apply", "applyCdcBatchAuto") {
      StreamingOps.applyCdcBatchAuto(batch, store, Keys, Buckets, maintenance = None)
    }
    applied += Batch
    ms
  }

  /** Batches back to back until the deadline. Each batch gives one latency
    * sample, its apply call (`apply.ms`); a run has about eight, too few
    * for a percentile, so this workload reports throughput and no p50/p90. */
  def measure(ctx: Ctx, seconds: Double): Unit = {
    val rec = ctx.rec
    val deadline = rec.nowMs + seconds * 1000
    val applied0 = applied
    var op = 0L
    while (rec.nowMs < deadline) {
      op += 1
      rec.beginOp(op)
      val v0 = Store.version(ctx, store)
      rec.add("attempted", 1)
      rec.sample("apply.ms", applyBatch(ctx))
      val v1 = Store.afterApply(ctx, store, v0, Batch)
      Store.sampleBytes(ctx, store.root)
      if (v1 % Policy.everyNCommits == 0) {
        val (_, mms) = rec.timed("maintain", "maintain") { StreamingOps.maintain(store, Policy) }
        rec.sample("maintain.ms", mms)
        Store.sampleBytes(ctx, store.root)
      }
    }
    rec.beginOp(-1)
    rec.set("work", (applied - applied0).toDouble)
  }

  def verify(ctx: Ctx): Unit = {
    val expected = CdcApply(Gen.orders(ctx.spark, ctx.seed, Rows, nCust, ctx.cores),
      changes(ctx, 0, applied), Keys)
    val want = Gen.digest(expected)
    val got = Gen.digest(store.readSnapshot())
    ctx.check("cdc_bulk.lww_snapshot", want == got, s"expected $want, got $got")
    Store.endState(ctx, Seq(store))
    if (ctx.rec.traced)
      ctx.rec.set("store.change_bytes", Store.exportBytes(changes(ctx, 0, applied)))
  }

  /** Bytes over the phase's first `FootprintCommits` byte samples (one per
    * commit or maintenance pass), per live row at the end. */
  def footprint(ctx: Ctx): (Long, Long) =
    (Store.meanBytes(ctx, CdcBulk.FootprintCommits), store.readSnapshot().count())
}

object CdcBulk {
  /** Even a slow run commits this many batches in its phase. */
  val FootprintCommits = 4
}
