package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.DdbAttr
import graft.store.TableStore

/** Store-layer readings the workloads share: the head version (timed, as
  * `store.current_version_ms`), the route and commit count of each CDC
  * apply, and the end-state file, delete-file and snapshot counts. */
object Store {
  def version(ctx: Ctx, store: TableStore): Long = {
    val (v, ms) = ctx.rec.timed("store", "currentVersion")(store.currentVersion())
    ctx.rec.sample("store.current_version_ms", ms)
    v
  }

  /** Book one applied batch: its route (manifest prop `graft.cdc.route`)
    * and the versions it advanced beyond one. Returns the new head. */
  def afterApply(ctx: Ctx, store: TableStore, v0: Long, rows: Long): Long = {
    val v1 = version(ctx, store)
    val route = ctx.rec.time("store", "manifest") {
      store.manifest(v0 + 1).props.getOrElse("graft.cdc.route", "cow")
    }
    ctx.rec.add(s"apply.route_$route", 1)
    ctx.rec.add("apply.extra_commits", (v1 - v0 - 1).toDouble)
    ctx.rec.add("apply.rows", rows.toDouble)
    v1
  }

  def endState(ctx: Ctx, stores: Seq[TableStore]): Unit = {
    val heads = stores.map(s => s -> s.manifest(s.currentVersion()))
    ctx.rec.set("store.files_live", heads.map(_._2.nFiles).sum.toDouble)
    ctx.rec.set("store.delete_files_live",
      heads.map { case (_, m) => m.dvRefs.size + m.eqRefs.size }.sum.toDouble)
    ctx.rec.set("store.snapshots_live",
      stores.map(_.existingVersions().size).sum.toDouble)
  }

  /** Sample the bytes under `roots`; the footprint is the mean of the
    * samples, so it does not depend on where in the maintenance cadence the
    * timed phase stopped. */
  def sampleBytes(ctx: Ctx, roots: String*): Unit =
    ctx.rec.sample("store.bytes", roots.map(bytesUnder(ctx, _)).sum.toDouble)

  /** Mean of the first `first` byte samples: a workload whose progress
    * depends on its speed counts a fixed prefix, so the figure does not. */
  def meanBytes(ctx: Ctx, first: Int = Int.MaxValue): Long = {
    val xs = ctx.rec.sampleMap("store.bytes").take(first)
    (xs.sum / xs.size).toLong
  }

  def bytesUnder(ctx: Ctx, root: String): Long = {
    val p = new Path(root)
    p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
  }

  /** Size of `changes` as DynamoDB-JSON stream records: the denominator of
    * write amplification. */
  def exportBytes(changes: DataFrame): Double = {
    val payload = changes.schema.copy(
      fields = changes.schema.fields.filterNot(f => f.name == "seq" || f.name == "op"))
    changes.select(length(DdbAttr.encodeLine(payload)).cast("long").as("n"))
      .agg(coalesce(sum("n"), lit(0L))).collect().head.getLong(0).toDouble
  }
}
