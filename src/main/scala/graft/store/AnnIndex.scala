package graft.store

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Descending, Literal, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LocalRelation, LogicalPlan, Project, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge, DatasetBridge}
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.VecKernels

/** Persisted IVF ANN index (VERDICT r11 next #2) — the serving path the
  * in-query IVF variants (`sim_search_ivf*`, graft.ops.LlmSim) cannot be at
  * 100 TB: those re-train centroids and re-assign the whole corpus on EVERY
  * query; this one materializes the cell assignment ONCE as an index table
  * under `<base-root>/index/<name>` bucketed by cell id, with the trained
  * centroids frozen in the table props, and maintains it incrementally on
  * the changelog cadence exactly like a GSI. A point top-k then reads only
  * the `nProbe` probed cells' buckets — O(corpus/cells × nProbe) I/O,
  * sublinear in the corpus — instead of scanning and re-clustering
  * everything.
  *
  * Semantics notes:
  *  - Centroids are trained at CREATE and never retrained by refresh (the
  *    standard IVF practice — FAISS's `IndexIVF` keeps its quantizer fixed
  *    and `add()`s into existing cells): refresh assigns changed vectors to
  *    the frozen cells, so maintenance is O(changed rows + touched cell
  *    buckets) and never re-shuffles the index. [[retrain]] handles
  *    distribution drift: it re-trains on the current snapshot and swaps
  *    the index ATOMICALLY as the next version of the index store (one
  *    manifest CAS — readers at the old version stay consistent, VERDICT
  *    r12 next #2c).
  *  - Cell count defaults to ≈ √N at create (the FAISS IndexIVF sizing
  *    rule: N/√N ≈ √N vectors per cell balances probe cost against cell
  *    fan-out); `nProbe` then trades recall against the √N-per-cell read —
  *    nProbe/cells is the fraction of the corpus a point query touches.
  *  - Seeding is a deterministic k-means|| style oversample (VERDICT r12
  *    next #8): per-partition cost-weighted sampling of candidates far
  *    from the current seed set, reduced driver-side by farthest-first
  *    selection — so a skewed corpus (many near-identical lowest ids)
  *    cannot collapse every seed into one direction the way lowest-id
  *    seeding could.
  *  - The index IS a [[SecondaryIndex]] whose key (`cell`) is DERIVED from
  *    the vector column: create/refresh reuse the GSI machinery through its
  *    `project` hook (netting, touched-bucket routing, content-preserving
  *    fast path, snapshot pins all inherited), and the blanket
  *    maintenance-cadence call sites route here via the kind prop. The
  *    base's bucket keys (single or COMPOSITE, any type) ride into the
  *    index rows unchanged and are recorded in props.
  *  - The stored embedding is the ORIGINAL vector (not normalized), so
  *    index-served cosine scores are bit-identical to a brute-force scan
  *    over the base table. */
object AnnIndex {

  /** Marks an index store as ANN so generic GSI paths (the blanket cadence
    * refresh) route through [[refresh]] instead of projecting a derived
    * column off base rows. */
  private[graft] val KindProp = "graft.index.kind"
  private[graft] val KindAnn = "ann-ivf"
  private val CentroidsProp = "graft.ann.centroids"
  private val VecColProp = "graft.ann.vec-col"
  /** Base key columns carried into every index row (csv, in base key
    * order) — composite keys supported (VERDICT r12 next #2d). */
  private val IdColsProp = "graft.ann.id-cols"
  /** cell→bucket map ("c:b,…"), computed ONCE at create with the engine's
    * own bucket expression and frozen with the centroids — point queries
    * resolve probed cells to bucket ids from metadata, zero plan-time
    * jobs. */
  private val CellBucketsProp = "graft.ann.cell-buckets"
  /** The largest index version [[topk]] searches on the driver, and the
    * row budget of the `index` kind of [[HeldRows]] (past it, and past
    * the [[HeldRows.snapshot]] gate, the bucket-targeted read answers):
    * the largest size at which a driver search was measured to beat the
    * bucket read at every probe width (NOTES.md "Held ANN search"). */
  private[graft] val HeldMaxRows = 64000L

  // ------------------------------------------------------------- training

  /** Deterministic k-means||-style seeding (VERDICT r12 next #8): start
    * from the lowest-id vector, then for a few rounds OVERSAMPLE — each
    * partition nominates its vectors farthest (squared cosine distance)
    * from the current seed set, the driver keeps the global farthest
    * `clusters` and adds them — and finally REDUCE the ≤ 1+rounds×clusters
    * candidate pool to `clusters` seeds by farthest-first traversal. Every
    * step is deterministic (distance then id tie-break), one distributed
    * pass per round, and the driver never holds more than the candidate
    * pool. A corpus whose lowest ids are near-identical (the failure mode
    * of lowest-id seeding: every seed in one direction, one cell owning
    * the whole corpus) now spreads seeds across the real directions. */
  private[graft] def seedCentroids(unit: Dataset[(Long, Array[Double])],
      clusters: Int, rounds: Int = 3): Array[Array[Double]] = {
    import unit.sparkSession.implicits._
    val sc = unit.sparkSession.sparkContext
    val first = unit.orderBy(col("_1").asc).limit(1).collect()
    require(first.nonEmpty, "kmeans needs at least one seed vector")
    var pool: Array[(Long, Array[Double])] = Array(first.head)
    for (_ <- 1 to rounds) {
      val bc = sc.broadcast(pool.map(_._2))
      val k = clusters
      val cand = unit.mapPartitions { it =>
        val seeds = bc.value
        // per-partition top-k by distance to the nearest seed (min-heap on
        // (dist, -id) so the SMALLEST distance is evicted first)
        val heap = new scala.collection.mutable.PriorityQueue[
          (Double, Long, Array[Double])]()(
          Ordering.by[(Double, Long, Array[Double]), (Double, Long)] {
            case (d, id, _) => (-d, id)
          })
        it.foreach { case (id, v) =>
          var best = Double.MaxValue
          var i = 0
          while (i < seeds.length) {
            val d = 1.0 - VecKernels.dotD(v, seeds(i)) // unit vecs: cos dist
            if (d < best) best = d
            i += 1
          }
          heap.enqueue((best, id, v))
          if (heap.size > k) heap.dequeue()
        }
        heap.iterator
      }.collect()
      bc.destroy()
      val seedSet = pool
      // global farthest `clusters` of the partition nominees, re-scored
      // against the same seed set (deterministic: (dist desc, id asc))
      val top = cand.sortBy { case (d, id, _) => (-d, id) }.take(clusters)
        .filter(_._1 > 1e-12) // an exact duplicate of a seed adds nothing
        .map { case (_, id, v) => (id, v) }
      pool = (seedSet ++ top).distinct
    }
    // Farthest-first reduction of the pool to `clusters` seeds, with the
    // nearest-selected distance per candidate maintained INCREMENTALLY
    // (VERDICT r13 nit: the re-scan-everything form was
    // O(clusters² × pool × dim) of single-threaded driver CPU — minutes
    // at the 4096-cell clamp). Each selection now costs one O(pool × dim)
    // update against just the NEW seed, fanned over the JVM's common
    // fork-join pool (independent slots — race-free); selection stays
    // sequential with the same (dist desc, id asc) tie-break, so the
    // seed set is deterministic.
    val arr = pool.sortBy(_._1) // deterministic candidate order
    val n = arr.length
    val target = math.min(clusters, n)
    val dist = Array.fill(n)(Double.MaxValue)
    val taken = Array.fill(n)(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    var nextIdx = 0 // lowest id first (arr is id-sorted)
    while (out.size < target && nextIdx >= 0) {
      taken(nextIdx) = true
      out += arr(nextIdx)
      val seed = arr(nextIdx)._2
      java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
        if (!taken(i)) {
          val d = 1.0 - VecKernels.dotD(arr(i)._2, seed)
          if (d < dist(i)) dist(i) = d
        }
      }
      // argmax over (dist desc, id asc); stop when only duplicate
      // directions remain
      var best = -1
      var bestD = 1e-12
      var i = 0
      while (i < n) {
        if (!taken(i) && dist(i) > bestD) { best = i; bestD = dist(i) }
        i += 1
      }
      nextIdx = best
    }
    out.map(_._2).toArray
  }

  /** Spherical k-means over unit vectors, Lloyd iterations as map-side
    * partial sums (moved here from graft.ops.LlmSim, which delegates):
    * centroids seed via [[seedCentroids]]; each iteration is ONE
    * distributed pass producing per-partition (cluster, count, sum-vector)
    * partials, so driver traffic is O(partitions × clusters × dim) per
    * iteration — independent of corpus size. Empty clusters keep their
    * previous centroid. */
  def kmeansCentroids(unit: Dataset[(Long, Array[Double])],
      clusters: Int, iters: Int): Array[Array[Double]] = {
    import unit.sparkSession.implicits._
    val sc = unit.sparkSession.sparkContext
    var cents: Array[Array[Double]] = seedCentroids(unit, clusters)
    require(cents.nonEmpty, "kmeans needs at least one seed vector")
    for (_ <- 1 to iters) {
      val bc = sc.broadcast(cents)
      val partials = unit.mapPartitions { it =>
        val cs = bc.value
        val dim = cs(0).length
        val sums = Array.fill(cs.length)(new Array[Double](dim))
        val cnts = new Array[Long](cs.length)
        it.foreach { case (_, v) =>
          val c = VecKernels.nearestCentroid(v, cs)
          cnts(c) += 1
          var i = 0
          while (i < dim) { sums(c)(i) += v(i); i += 1 }
        }
        cnts.indices.iterator.filter(cnts(_) > 0)
          .map(c => (c, cnts(c), sums(c)))
      }.collect() // ≤ partitions × clusters rows of dim doubles — metadata-sized
      val dim = cents(0).length
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnts = new Array[Long](cents.length)
      partials.foreach { case (c, n, s) =>
        cnts(c) += n
        var i = 0
        while (i < dim) { sums(c)(i) += s(i); i += 1 }
      }
      cents = cents.indices.map { c =>
        if (cnts(c) == 0) cents(c)
        else {
          val mean = sums(c).map(_ / cnts(c))
          val norm = math.sqrt(VecKernels.dotD(mean, mean))
          if (norm > 0) mean.map(_ / norm) else cents(c)
        }
      }.toArray
      bc.destroy()
    }
    cents
  }

  // --------------------------------------------------- centroid (de)ser

  private def centsToJson(cents: Array[Array[Double]]): String =
    cents.map(_.map(d => java.lang.Double.toString(d))
      .mkString("[", ",", "]")).mkString("[", ",", "]")

  private[graft] def centsFromJson(s: String): Array[Array[Double]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    JsonMethods.parse(s).extract[Seq[Seq[Double]]].map(_.toArray).toArray
  }

  /** Index bucket ids holding `cells`: from the frozen metadata map
    * (computed at create through the engine's own bucket expression),
    * or, on an index without one, one local job over the cells. */
  private def bucketsOf(cells: Seq[Int], im: TableStore.Manifest,
      s: org.apache.spark.sql.SparkSession): Seq[Long] =
    im.props.get(CellBucketsProp) match {
      case Some(m) =>
        val byCell = m.split(',').map { e =>
          val Array(c, b) = e.split(':'); c.toInt -> b.toLong
        }.toMap
        cells.map(byCell).distinct.sorted
      case None =>
        import s.implicits._
        cells.toDF("cell")
          .select(TableStore.bucketExpr(Seq("cell"), im.numBuckets).as("b"))
          .distinct().collect().map(_.getLong(0)).toSeq.sorted
    }

  // --------------------------------------------------------- assignment

  /** (cell, idCols…, vec) rows: each vector normalized and assigned to its
    * nearest frozen centroid — one map-side pass (the udf closes over the
    * BROADCAST handle, so executors read the centroids once per JVM, not
    * once per task closure), no shuffle. Key columns pass through
    * untouched, whatever their arity and type. A NULL vector, which scores
    * NULL against any query and so ranks last, is kept in cell 0. */
  private def assignCells(rows: DataFrame, idCols: Seq[String],
      vecCol: String, cents: Array[Array[Double]]): DataFrame = {
    val bc = rows.sparkSession.sparkContext.broadcast(cents)
    val cellOf = udf((v: Seq[Float]) =>
      if (v == null) 0
      else VecKernels.nearestCentroid(VecKernels.normalize(v.toArray),
        bc.value))
    rows.select((cellOf(col(vecCol)).as("cell") +:
      idCols.map(col)) :+ col(vecCol): _*)
  }

  private def idColsOf(im: TableStore.Manifest): Seq[String] =
    im.props.get(IdColsProp) match {
      case Some(csv) => csv.split(',').toSeq
      case None => // pre-r13 index: single key, derived by elimination
        val vecCol = im.props(VecColProp)
        Seq(im.schema.fieldNames
          .filterNot(Set("cell", vecCol, "_gbucket")).head)
    }

  /** ≈ √N cells (clamped to [4, 4096] and the corpus size) — the FAISS
    * IndexIVF guidance re-derived: probing p cells reads ~p·√N vectors. */
  private def defaultCells(n: Long): Int =
    math.max(4L, math.min(4096L,
      math.min(n, math.ceil(math.sqrt(n.toDouble)).toLong))).toInt

  // -------------------------------------------------------------- create

  /** Train `clusters` centroids on the current base snapshot and
    * materialize the cell-bucketed index in ONE O(base) pass — the only
    * full pass the index ever costs. `clusters <= 0` sizes cells ≈ √N from
    * the manifest's row total (zero extra jobs). `numBuckets` defaults to
    * `clusters` so a probed cell maps to ~one bucket file set. */
  def create(base: TableStore, name: String, vecCol: String,
      clusters: Int = -1, iters: Int = 4, numBuckets: Int = -1): Long = {
    import base.spark.implicits._
    // indexes are MAIN derivatives (branch versions overlap main's
    // numbering — the SecondaryIndex.create contract, enforced here too)
    SecondaryIndex.requireMainBase(base)
    require(TableStore.RefNameOk.pattern.matcher(name).matches(),
      s"index name must match [A-Za-z0-9._-]{1,128}, got '$name'")
    val bv = base.currentVersion()
    require(bv >= 0, "cannot index an empty table")
    val bm = base.manifest(bv)
    require(bm.bucketKeys.nonEmpty,
      s"the ANN index keys vectors by the base's bucket key(s); " +
        s"base '${base.root}' is unkeyed — commitBucketed it first")
    require(bm.schema.fieldNames.contains(vecCol),
      s"vector column '$vecCol' not in base schema")
    val idx = SecondaryIndex.indexStore(base, name)
    require(idx.currentVersion() < 0, s"index '$name' already exists")
    buildInto(base, idx, name, vecCol, bm.bucketKeys, bv, clusters, iters,
      numBuckets)
    SecondaryIndex.movePin(base, name, bv)
    bv
  }

  /** Shared by [[create]] and [[retrain]]: train on snapshot `bv`, assign,
    * and commit the cell-bucketed index content (create = first version;
    * retrain = next version of the same store, one atomic manifest CAS). */
  private def buildInto(base: TableStore, idx: TableStore, name: String,
      vecCol: String, idCols: Seq[String], bv: Long, clusters: Int,
      iters: Int, numBuckets: Int): Unit = {
    import base.spark.implicits._
    val corpus = base.readSnapshot(bv)
      .select((idCols.map(col) :+ col(vecCol)): _*)
    val cells =
      if (clusters > 0) clusters
      else defaultCells(base.manifest(bv).totalRows)
    // the trainer only needs (a stable LONG ordinal, unit vector); the
    // real keys (any arity/type) and NULL vectors never enter the kmeans
    // passes
    val unit = corpus.select(col(vecCol)).filter(col(vecCol).isNotNull)
      .withColumn("_ord", monotonically_increasing_id())
      .select(col("_ord"), col(vecCol)).as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) => (id, VecKernels.normalize(v)) })
    val cents = kmeansCentroids(unit, cells, iters)
    val nb = if (numBuckets > 0) numBuckets else cents.length
    // one clusters-row local job resolves every cell's bucket id through
    // the engine's own bucket expression; frozen in props so point
    // queries never pay a plan-time job for it
    val cellBuckets = cents.indices.toDF("cell")
      .select(col("cell"), TableStore.bucketExpr(Seq("cell"), nb).as("b"))
      .collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(",")
    idx.commitBucketed(assignCells(corpus, idCols, vecCol, cents),
      Seq("cell"), nb,
      props = Map(
        SecondaryIndex.BaseVersionProp -> bv.toString,
        SecondaryIndex.IndexKeysProp -> "cell",
        KindProp -> KindAnn,
        VecColProp -> vecCol,
        IdColsProp -> idCols.mkString(","),
        CentroidsProp -> centsToJson(cents),
        CellBucketsProp -> cellBuckets))
  }

  // ------------------------------------------------------------- retrain

  /** Re-train centroids on the CURRENT base snapshot and swap the index
    * atomically (VERDICT r12 next #2c — the distribution-drift answer
    * `refresh` deliberately never gives). The rebuild commits as the NEXT
    * VERSION of the existing index store: one manifest CAS flips readers
    * to the new cells, in-flight queries against the prior version stay
    * consistent, and nothing is ever dropped mid-air. Costs one O(base)
    * pass, exactly like create. */
  def retrain(base: TableStore, name: String, clusters: Int = -1,
      iters: Int = 4, numBuckets: Int = -1): Long = {
    SecondaryIndex.requireMainBase(base)
    val idx = SecondaryIndex.indexStore(base, name)
    val iv = idx.currentVersion()
    require(iv >= 0, s"ANN index '$name' does not exist; create it first")
    val im = idx.manifest(iv)
    require(im.props.get(KindProp).contains(KindAnn),
      s"'$name' is not an ANN index")
    val bv = base.currentVersion()
    buildInto(base, idx, name, im.props(VecColProp), idColsOf(im), bv,
      clusters, iters, numBuckets)
    SecondaryIndex.movePin(base, name, bv)
    bv
  }

  // ------------------------------------------------------------- refresh

  /** Advance the index to the base head on the frozen centroids: the GSI
    * replay with cell derivation as the projection — O(changed rows +
    * touched cell buckets), broad churn routed to the one-pass clustered
    * rebuild (same centroids — a rebuild re-ASSIGNS, never re-trains;
    * rebuild stays allowed here because it is part of the ANN refresh
    * contract, independent of what a generic caller passed).
    * `sharedFrames` rides through to the GSI replay (ADVICE r12): a
    * co-maintained consumer that already persisted the changelog halves
    * hands them over instead of forcing a recompute. */
  def refresh(base: TableStore, name: String,
      sharedFrames: Option[(Long, Long, DataFrame, DataFrame)] = None): Long = {
    val idx = SecondaryIndex.indexStore(base, name)
    val iv = idx.currentVersion()
    require(iv >= 0, s"ANN index '$name' does not exist; create it first")
    val im = idx.manifest(iv)
    require(im.props.get(KindProp).contains(KindAnn),
      s"'$name' is not an ANN index")
    val cents = centsFromJson(im.props(CentroidsProp))
    val vecCol = im.props(VecColProp)
    val idCols = idColsOf(im)
    SecondaryIndex.refresh(base, name, sharedFrames, allowRebuild = true,
      project = Some(df => assignCells(df, idCols, vecCol, cents)))
  }

  /** (name, index version) of a FRESH ANN index over (base, vecCol) at
    * base version `bv`, if one exists — the staleness gate of the SQL
    * top-k rewrite (exactly the agg-view rule's `baseVersion ==
    * manifest.version`): a stale index never answers, the brute-force
    * scan does. The INDEX VERSION is returned so the serve pins the
    * validated snapshot — a concurrent cadence refresh between this gate
    * and the read must not slide the serve onto a newer index than the
    * scanned base snapshot (the TOCTOU the pin closes). Deterministic
    * pick: lexicographically first match. */
  private[graft] def freshIndexFor(base: TableStore, vecCol: String,
      bv: Long): Option[(String, Long)] =
    SecondaryIndex.list(base).sorted.iterator.map { n =>
      val idx = SecondaryIndex.indexStore(base, n)
      val iv = idx.currentVersion()
      val ok = iv >= 0 && {
        val im = idx.manifest(iv)
        im.props.get(KindProp).contains(KindAnn) &&
          im.props.get(VecColProp).contains(vecCol) &&
          im.props.get(SecondaryIndex.BaseVersionProp)
            .exists(_.toLong == bv)
      }
      if (ok) Some((n, iv)) else None
    }.collectFirst { case Some(x) => x }

  /** Key columns of index `name` at a PINNED index version — exposed for
    * the SQL rewrite's output alignment. */
  private[graft] def idColsFor(base: TableStore, name: String,
      indexVersion: Long): Seq[String] = {
    val idx = SecondaryIndex.indexStore(base, name)
    idColsOf(idx.manifest(indexVersion))
  }

  // -------------------------------------------------------------- query

  /** The index store's latest version, from the registry memo: listed
    * once per index commit, not once per search. */
  private def head(idx: TableStore): Long =
    TableStore.registryCached("annhead", idx)(
      java.lang.Long.valueOf(idx.currentVersion())).longValue

  /** Point top-k: probe the `nProbe` cells nearest the query (a driver-side
    * argsort over the frozen centroids — metadata-sized), read ONLY those
    * cells' index buckets, score map-side, TakeOrdered. Never touches the
    * base table and never reads an unprobed bucket — the plan a 100 TB
    * point query needs. `nProbe <= 0` probes every cell: an EXHAUSTIVE
    * search over the compact (keys, vec) index — exact, still off the
    * (wider) base table. Returns (idCols…, cos_sim) rounded to 6 dp with
    * key tie-break, the same surface as the in-query ANN entries.
    *
    * A small index version (at most [[HeldMaxRows]] rows, and within the
    * gate of [[HeldRows.snapshot]]) is searched on the driver
    * instead: its rows are held in [[HeldRows]] (kind `index`),
    * the same probe, filter, score, sort and limit expressions fold over
    * them, and the result is one `LocalRelation` tagged with the index
    * root ([[graft.catalog.HeldViews]]), so `collect()` runs no Spark job.
    * That search runs here, when `topk` is called, not when the result is
    * collected: on a memo miss the call itself runs the Spark job that
    * reads the index version. Past the gates, or with
    * `spark.graft.meta.manifestCache=false`, the bucket-targeted read
    * above answers, and the final search runs at the caller's action.
    *
    * `keyFilter` (VERDICT r13 next #1 — the filtered vector query) is a
    * predicate over the index KEY columns, applied to the probed cells'
    * rows BEFORE the top-k: the common `WHERE <key pred> ORDER BY cos_sim
    * LIMIT k` shape stays index-served instead of paying an O(corpus)
    * brute scan. Key columns ride every index row verbatim, so the
    * predicate is exact. Recall interaction at nProbe < cells: the filter
    * shrinks each probed cell's candidate pool, so the effective recall
    * for a selective predicate is lower than unfiltered at the same
    * nProbe (matching rows may live in unprobed cells) — at the default
    * exhaustive probe the filtered serve is EXACT. `widenToFill` (r15)
    * closes the under-fill half of that trade: when the probed pool holds
    * fewer than k survivors, the probe set doubles (≤ log2(cells) bounded
    * candidate counts) until k fill or the probe is exhaustive — the
    * standard IVF adaptive-probe loop. */
  def topk(base: TableStore, name: String, queryVec: Array[Float], k: Int,
      nProbe: Int = 2, excludeId: Option[Long] = None,
      indexVersion: Long = -1L,
      keyFilter: Option[org.apache.spark.sql.Column] = None,
      widenToFill: Boolean = false): DataFrame = {
    val s = base.spark
    val idx = SecondaryIndex.indexStore(base, name)
    // indexVersion >= 0 pins a VALIDATED snapshot (the SQL rewrite's
    // freshness gate runs before the read — serving a newer index than
    // the gated one would leak rows the scanned base snapshot lacks)
    val iv = if (indexVersion >= 0) indexVersion else head(idx)
    require(iv >= 0, s"ANN index '$name' does not exist")
    val im = idx.manifest(iv)
    require(im.props.get(KindProp).contains(KindAnn),
      s"'$name' is not an ANN index")
    val cents = centsFromJson(im.props(CentroidsProp))
    val vecCol = im.props(VecColProp)
    val idCols = idColsOf(im)
    val q = VecKernels.normalize(queryVec)
    // excludeId addresses a SINGLE LONG-keyed base: on a composite or
    // non-long key the equality would cast-and-null-out and silently drop
    // every row, so refuse loudly instead (composite callers hold their
    // own query vector and pass no exclusion)
    require(excludeId.isEmpty || (idCols.size == 1 &&
        im.schema(idCols.head).dataType ==
          org.apache.spark.sql.types.LongType),
      s"excludeId addresses a single-LONG-keyed base; '$name' keys on $idCols")
    // the candidate rows at a probe width: the held index rows when the
    // version passes the gate, else a bucket-targeted read of the probed
    // cells' buckets (a strict file subset by construction, independent
    // of filter pushdown); then the probed cells, the exclusion and the
    // key filter. Each search step is one plan node over them, analyzed
    // once per step: a DataFrame per operator would re-run the analyzer
    // for each, which costs more than scoring a small index on the driver
    val held = graft.catalog.HeldViews.relation(idx, iv, "index")
    // the plan is analyzed over an empty stand-in for the held rows: each
    // analyzer rule maps every Seq field of the nodes it visits, so over
    // the held relation itself every rule would copy all its rows
    val stub = held.map(_.copy(data = Nil))
    def candidates(probe: Int): LogicalPlan = {
      val cells = cents.indices
        .sortBy(c => (-VecKernels.dotD(q, cents(c)), c)).take(probe)
      val keep = col("cell").isin(cells.map(Int.box): _*) +:
        (excludeId.map(id => col(idCols.head) =!= id) ++ keyFilter).toSeq
      Filter(ColumnBridge.catalyst(keep.reduce(_ && _)), stub.getOrElse(
        idx.readBuckets(bucketsOf(cells, im, s), iv)
          .queryExecution.analyzed))
    }
    // a plan over held rows folds to one tagged relation on the driver
    // (HeldViews.fold), so collecting it runs no Spark job
    def frame(p: LogicalPlan): DataFrame = held match {
      case Some(rows) =>
        val plan = DatasetBridge.ofRows(s, p).queryExecution.analyzed
          .transformUp { case l: LocalRelation if l.output == rows.output =>
            rows }
        DatasetBridge.ofRows(s,
          graft.catalog.HeldViews.fold(plan).getOrElse(plan))
      case None => DatasetBridge.ofRows(s, p)
    }
    val total = cents.length
    var probe = if (nProbe <= 0) total else math.min(nProbe, total)
    var kept = candidates(probe)
    // adaptive widening (r15, VERDICT r14 next #6): a selective key
    // predicate can leave < k survivors in the probed cells — a vector DB
    // widens the probe set until k fill (or the probe is exhaustive)
    // rather than returning an under-filled result. Each check collects at
    // most k keys of the candidate pool (id/key columns only after
    // pruning; no job over held rows), so the loop stays sublinear until
    // it provably cannot: the k-fill walk doubles at most log2(cells)
    // times.
    def filled: Boolean = frame(Limit(Literal(k),
      Project(idCols.map(UnresolvedAttribute.quoted), kept)))
      .collect().length >= k
    if (widenToFill && probe < total) {
      while (probe < total && !filled) {
        probe = math.min(total, probe * 2)
        kept = candidates(probe)
      }
    }
    // scoring rides the codegen'd CosineSim expression (same double fold
    // as VecKernels.cosine — the SQL rewrite's oracle parity depends on
    // that identity), not a per-row Scala UDF (r15 verdict #8)
    val score = ColumnBridge.column(graft.functions.CosineSim(
      UnresolvedAttribute.quoted(vecCol),
      Literal.create(queryVec, ArrayType(FloatType))))
    val keys = idCols.map(UnresolvedAttribute.quoted)
    val ranked = Sort(
      SortOrder(UnresolvedAttribute.quoted("cos_sim"), Descending) +:
        keys.map(SortOrder(_, Ascending)),
      global = true,
      Project(keys :+
        Alias(ColumnBridge.catalyst(round(score, 6)), "cos_sim")(), kept))
    frame(Limit(Literal(k), ranked))
  }

  /** INDEX-SERVED BATCH top-k (r16, VERDICT r15 next #5): k nearest
    * corpus vectors for EACH row of a query DataFrame, through the
    * persisted index — no driver loop over queries, no corpus brute
    * force. The create-time assignment kernel runs MAP-SIDE over the
    * batch (each query → its `nProbe` nearest cells, centroids
    * broadcast), the probed cells' union drives ONE bucket-targeted
    * index read (distinct cells are bounded by the index's cell count,
    * never the batch size), the batch side broadcasts into an equi-join
    * on `cell`, scoring rides the codegen'd [[graft.functions.CosineSim]]
    * fold, and a per-query rank window takes the top k — O(batch ×
    * nProbe × corpus/cells) work, sublinear in the corpus.
    *
    * Semantics match [[topk]] per query at the same `nProbe` (recall
    * trades identically; `nProbe <= 0` probes exhaustively and is exact).
    *
    * Parity with the single-query path (r17, VERDICT r16 next #1):
    * `keyFilter` is the same exact predicate over the index KEY columns,
    * applied to the probed cells' rows BEFORE the per-query top-k; and
    * `widenToFill` closes the same under-fill trap — at explicit nProbe a
    * selective filter (or a lopsided cell layout) can leave < k survivors
    * in a query's probed cells, so each widening round DOUBLES the probe
    * width for exactly the still-under-filled queries (per-query results
    * equal [[topk]] at the first width that fills k, or the exhaustive
    * probe). Satisfaction is decided distributed — one per-round count
    * over the ranked candidates, never a per-query driver loop — and the
    * rounds are bounded by log2(cells).
    *
    * `broadcastBatch` (r17, VERDICT r16 next #3) picks the join route:
    * true broadcasts the batch into the cell equi-join (the realistic
    * thousands-of-queries serving shape); false lets the join SHUFFLE on
    * `cell` instead (shuffled hash join, batch side the build side) — the
    * million-query route, where the per-query rank window still
    * partial-limits to ≤ k rows per query per map task before its
    * exchange. Everything else — the one bucket-targeted read of the
    * probed cells' union, bounded by the CELL count — is route-agnostic.
    *
    * `queries` needs two columns: `qidCol` (any orderable id) and
    * `vecQCol` (`array<float>`). Output: (qid, rank, idCols…, cos_sim)
    * ordered by (qid, rank). */
  def topkBatch(base: TableStore, name: String,
      queries: org.apache.spark.sql.DataFrame, qidCol: String,
      vecQCol: String, k: Int, nProbe: Int = 2,
      indexVersion: Long = -1L,
      keyFilter: Option[org.apache.spark.sql.Column] = None,
      widenToFill: Boolean = false,
      broadcastBatch: Boolean = true): DataFrame = {
    val s = base.spark
    val idx = SecondaryIndex.indexStore(base, name)
    val iv = if (indexVersion >= 0) indexVersion else head(idx)
    require(iv >= 0, s"ANN index '$name' does not exist")
    val im = idx.manifest(iv)
    require(im.props.get(KindProp).contains(KindAnn),
      s"'$name' is not an ANN index")
    val cents = centsFromJson(im.props(CentroidsProp))
    val vecCol = im.props(VecColProp)
    val idCols = idColsOf(im)
    require(!idCols.contains(qidCol) && qidCol != "cell" &&
      qidCol != vecCol, s"query id column '$qidCol' collides with index " +
      s"columns (${idCols.mkString(",")}, cell, $vecCol)")
    val total = cents.length
    // centroids broadcast once per executor; the assignment kernel closes
    // over the handle (same shape as the create-time kernel)
    val bc = s.sparkContext.broadcast(cents)
    val score = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.CosineSim(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted(vecCol),
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          .quoted("_q_vec")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_q_id")
      .orderBy(col("cos_sim").desc_nulls_last +:
        idCols.map(col(_).asc_nulls_first): _*)
    // one probing ROUND at width p over `pending`: map-side p-nearest-cell
    // assignment, ONE bucket-targeted read of the probed union (bounded by
    // the cell count, never the batch size), key filter, cell equi-join,
    // codegen'd scoring, per-query rank — rows with rank ≤ k
    def probeRound(pending: DataFrame, p: Int): DataFrame = {
      val cellsOf = org.apache.spark.sql.functions.udf((v: Seq[Float]) => {
        val q = VecKernels.normalize(v.toArray)
        val cs = bc.value
        cs.indices.sortBy(c => (-VecKernels.dotD(q, cs(c)), c)).take(p)
      })
      val exploded = pending
        .select(col(qidCol).as("_q_id"), col(vecQCol).as("_q_vec"))
        .withColumn("_q_cell", explode(cellsOf(col("_q_vec"))))
      val cells = exploded.select(col("_q_cell")).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
      val entries0 = idx.readBuckets(bucketsOf(cells, im, s), iv)
        .filter(col("cell").isin(cells.map(Int.box): _*))
      val entries = keyFilter.fold(entries0)(entries0.filter)
      val batchSide =
        if (broadcastBatch)
          org.apache.spark.sql.functions.broadcast(exploded)
        else exploded.hint("shuffle_hash")
      entries
        .join(batchSide, entries("cell") ===
          org.apache.spark.sql.functions.col("_q_cell"))
        .select((col("_q_id") +: idCols.map(col)) :+
          round(score, 6).as("cos_sim"): _*)
        .withColumn("rank",
          org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rank") <= k)
    }
    var p = if (nProbe <= 0) total else math.min(nProbe, total)
    var pending = queries
    var lastRes = probeRound(pending, p)
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // adaptive widening: per round, queries whose probed pool already
    // fills k are FINAL at this width (identical to topk's per-query
    // doubling — rank ≤ k rows count k iff the candidate pool holds ≥ k);
    // the under-filled remainder re-probes at double width. ≤ log2(cells)
    // rounds, each one bounded distributed job — no driver qid loop.
    var exhausted = p >= total
    while (widenToFill && !exhausted) {
      val sat = lastRes.groupBy(col("_q_id"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("_g_n"))
        .filter(col("_g_n") >= k).select(col("_q_id").as("_q_sat"))
      parts += lastRes.join(sat, lastRes("_q_id") === col("_q_sat"),
        "left_semi")
      pending = pending.join(sat, pending(qidCol) === col("_q_sat"),
        "left_anti")
      if (pending.isEmpty) { lastRes = null; exhausted = true }
      else {
        p = math.min(total, p * 2)
        lastRes = probeRound(pending, p)
        exhausted = p >= total
      }
    }
    if (lastRes != null) parts += lastRes
    parts.reduce(_.unionByName(_))
      .select((col("_q_id").as(qidCol) +: col("rank") +: idCols.map(col)) :+
        col("cos_sim"): _*)
      .orderBy(col(qidCol).asc_nulls_first, col("rank").asc_nulls_first)
  }

  /** [[topk]] with the query vector fetched by primary key — one
    * bucket-pruned point read of the base table, never a corpus scan.
    * Single-LONG-keyed bases only (the composite-key caller holds its own
    * query vector and uses [[topk]] directly). */
  def topkById(base: TableStore, name: String, queryId: Long, k: Int,
      nProbe: Int = 2): DataFrame = {
    val idx = SecondaryIndex.indexStore(base, name)
    val im = idx.manifest(idx.currentVersion())
    val vecCol = im.props(VecColProp)
    val idCols = idColsOf(im)
    require(idCols.size == 1 && base.manifest(base.currentVersion())
        .schema(idCols.head).dataType ==
        org.apache.spark.sql.types.LongType,
      s"topkById addresses a single-LONG-keyed base; '${base.root}' keys " +
        s"on $idCols")
    val qRows = base.readSnapshot().filter(col(idCols.head) === queryId)
      .select(col(vecCol)).limit(2).collect()
    require(qRows.length == 1, s"query id $queryId not unique in base")
    val qv = qRows.head.getSeq[Float](0).toArray
    topk(base, name, qv, k, nProbe, excludeId = Some(queryId))
  }
}
