package graft.store

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils

/** Small immutable row sets held on the driver, one [[Memo]] per kind:
  *  - `mask`: delete masks, each with the in-scan probe built from its
  *    rows ([[maskProbe]], [[HeldMask]]);
  *  - `view`: view snapshots the view rewrites serve and fold
  *    ([[graft.catalog.HeldViews]]);
  *  - `index`: ANN index snapshots [[AnnIndex.topk]] searches.
  *
  * Each kind has its own row budget, so a put of one kind never evicts
  * another: `mask` and `view` hold up to [[MaxRows]] rows each, `index`
  * up to [[AnnIndex.HeldMaxRows]], and each at most 64 entries. A set
  * larger than its kind's budget is never held; past a cap, the least
  * recently used entries of the kind leave. A `view` or `index` put drops
  * the older held versions of its store, so a refresh leaves one. Every
  * kind is bypassed by `spark.graft.meta.manifestCache=false` and dropped
  * with the other metadata memos ([[Memo.invalidate]]). */
private[graft] object HeldRows {

  /** Row budget of the `mask` and `view` kinds, per entry and in total. */
  val MaxRows = 250000L

  private def memo(kind: String, maxRows: Long,
      versioned: Boolean): Memo[String, Held] =
    new Memo[String, Held](s"held.$kind", 64, maxRows, _.rows,
      supersedes = Option.when(versioned)((k, o) => o.toLong < k.toLong))

  val kinds: Map[String, Memo[String, Held]] = Map(
    "mask" -> memo("mask", MaxRows, versioned = false),
    "view" -> memo("view", MaxRows, versioned = true),
    "index" -> memo("index", AnnIndex.HeldMaxRows, versioned = true))

  /** One held row set: the rows, their unsafe-row bytes, and the in-scan
    * probe built from the rows on first use ([[HeldMask]]). The probe is a
    * Spark broadcast released with the entry and never destroyed: a plan
    * in flight may still hold it, and Spark's ContextCleaner frees it once
    * nothing does. */
  final class Held(val rel: LocalRelation) {
    val rows: Long = rel.data.size.toLong
    val bytes: Long = rel.data.iterator.map {
      case u: UnsafeRow => u.getSizeInBytes.toLong
      case _ => 0L
    }.sum
    private var built: (SparkContext, Broadcast[Any]) = _

    /** The probe `build` makes of the rows, broadcast once per context. */
    def probe[P](sc: SparkContext)(build: LocalRelation => P)
        : Broadcast[P] = synchronized {
      if (built == null || (built._1 ne sc))
        built = (sc, sc.broadcast[Any](build(rel)))
      built._2.asInstanceOf[Broadcast[P]]
    }
  }

  /** Entries, rows and unsafe-row bytes one kind holds, and how many of
    * its entries were evicted to fit a put. */
  final case class MemoStats(entries: Int, rows: Long, bytes: Long,
      evicted: Long)

  /** [[MemoStats]] by kind (`mask`, `view`, `index`). */
  def stats: Map[String, MemoStats] = kinds.map { case (kind, m) =>
    val held = m.snapshot.map(_._2)
    kind -> MemoStats(held.size, held.map(_.rows).sum, held.map(_.bytes).sum,
      m.evicted)
  }

  /** The rows `load` reads, held under (`st`'s epochMemoKey, `key`) in
    * memo `kind`. `key` must name rows that never change (write-once
    * delete files, a committed snapshot version). None — the caller reads
    * the files itself — when `rows` (a metadata count, checked before any
    * read) exceeds the kind's budget or `spark.graft.meta.manifestCache`
    * is false. A miss loads outside the memo: a Spark job never runs
    * under its lock. */
  private def hold(st: TableStore, kind: String, key: String, rows: Long)(
      load: => DataFrame): Option[Held] = {
    val m = kinds(kind)
    if (!st.metaCacheOn || rows > m.maxWeight) return None
    m.get(st.epochMemoKey, key).orElse {
      val d = load
      val ext = LocalRelation.fromExternalRows(
        DataTypeUtils.toAttributes(d.schema), d.collect().toSeq)
      // held as unsafe rows, more compact than the boxed external rows
      val proj = UnsafeProjection.create(ext.output, ext.output)
      val held = new Held(ext.copy(data = ext.data.map(proj(_).copy())))
      m.put(st.epochMemoKey, key, held)
      Some(held)
    }
  }

  /** Snapshot `version` of `st` as rows held on the driver under `kind`:
    * `view` for view snapshots, `index` for ANN index snapshots. Gated
    * before any read on the manifest's totals: within the kind's row
    * budget and [[TableStore.BroadcastBytes]] bytes, with stats on every
    * file. None past the gate or with the memo off. */
  def snapshot(st: TableStore, version: Long, kind: String)
      : Option[LocalRelation] = {
    val m = st.manifest(version)
    val counted = m.isSharded || m.inlineFiles.forall(m.inlineStats.contains)
    if (!counted || m.totalBytes > TableStore.BroadcastBytes) None
    else hold(st, kind, version.toString, m.totalRows)(
      st.readSnapshot(version)).map(_.rel)
  }

  /** A mask over the delete set `dels` reads, named by `key`.
    * `DvV1Scan.buildScan` plans a masked read at PLAN time, so a mask read
    * from the files runs a Spark job on every plan. A set within
    * [[TableStore.BroadcastBytes]] bytes that [[hold]] admits is held
    * (kind `mask`) and turned once into the in-scan `probe` its entry
    * keeps (Left; [[HeldMask]]), and planning runs no job. Otherwise
    * (Right) the caller anti-joins the rows read from the files, and
    * Spark's own join selection broadcasts or shuffles them. Every mask
    * built from the files counts in [[TableStore.maskLoads]]. */
  def maskProbe[P](st: TableStore, key: String, bytes: Long, rows: Long,
      probe: LocalRelation => P, dels: => DataFrame)
      : Either[Broadcast[P], DataFrame] = {
    val held =
      if (bytes > TableStore.BroadcastBytes) None
      else hold(st, "mask", key, rows) {
        TableStore.maskLoads.incrementAndGet()
        dels
      }
    held match {
      case Some(h) => Left(h.probe(st.spark.sparkContext)(probe))
      case None =>
        TableStore.maskLoads.incrementAndGet()
        Right(dels)
    }
  }
}
