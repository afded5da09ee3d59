package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Snapshot-versioned parquet table with an atomic manifest pointer.
  *
  * Spark-native model of the reference's Iceberg-on-S3-Tables target
  * (reference src/dynamodb-zero-etl-s3tables.ts:99-100 —
  * `GetTableMetadataLocation`/`UpdateTableMetadataLocation` +
  * `Get/PutTableData`; schema versioning per
  * src/dynamodb-zero-etl-s3tables.ts:112-115 `glue:UpdateTable` +
  * `GetTableVersions`). No Iceberg jars ship with the image (SURVEY §1.3), so
  * the manifest layer is self-managed and TIERED:
  *
  *   <root>/data/snap-<id>/...parquet      immutable columnar data files
  *   <root>/manifest/v<id>.json            snapshot pointer: schema, parent,
  *                                         and EITHER the inline file list
  *                                         (small tables) OR an O(#shards)
  *                                         manifest list
  *   <root>/manifest/shards/v<id>-nnn/     parquet manifest shards holding
  *                                         per-file metadata for big tables
  *                                         ([[ManifestShards]])
  *
  * Commit protocol (mirrors Iceberg's optimistic metadata swap and the
  * reference Lambda's `PolicyHashCondition` CAS,
  * lambda/catalog-policy-handler.js:60): write data files first, then
  * atomically `create`+`rename` the next manifest version — rename onto an
  * existing path fails, so two racing writers can commit at most one
  * `v<id>.json`; the loser retries against the new parent. Data before
  * pointer, exactly the reference's dependency ordering (src:218-221).
  *
  * Scale: all data moves through `DataFrame.write.parquet` (distributed).
  * Below the inline threshold the whole manifest rides in the pointer JSON
  * (zero extra I/O); above it the driver holds only shard SUMMARIES — file
  * listing, footer stats, shard writes, file skipping, diffs, and the
  * vacuum sweep all run as Spark jobs, and the driver's residue is
  * O(#shards) + O(selected files). Snapshot data is laid out per-commit, so
  * readers of snapshot N never see in-flight files and vacuum can GC
  * unreferenced snapshots (reference `unreferencedFileRemoval`,
  * README.md:132-137).
  */
class TableStore(val spark: SparkSession, val root: String,
    val branch: Option[String] = None) {
  import TableStore._

  // Column identity is by parquet FIELD ID, not name (Iceberg semantics via
  // Spark's native field-id matching, SPARK-38094): every commit stamps
  // stable `parquet.field.id` metadata on the schema and the written files,
  // and reads resolve requested columns by id. RENAME COLUMN is therefore a
  // metadata-only commit (old files still resolve through their id), DROP
  // is metadata-only (readers simply stop requesting the column), and a
  // re-added same-name column gets a FRESH id so it never resurrects
  // dropped data. Schemas without ids (external parquet) fall back to the
  // stock name matching — the flags only change behavior where ids exist.
  //
  // Pre-field-id tables (ADVICE r6): a table upgraded from a layout that
  // never stamped ids has id-less data files, and an id-bearing read schema
  // over those files is UNREADABLE (ignoreMissing=false throws;
  // ignoreMissing=true is worse — Spark treats id-matched columns as
  // absent, erroring on required ones and silently NULLing nullable ones —
  // probed, not assumed). So ids are stamped only when every referenced
  // file will carry them: commits that inherit files from an id-less
  // parent keep the schema id-less ([[withFieldIds]] `inheritsParentFiles`)
  // and the table stays name-matched until its first full rewrite, which
  // writes all-fresh id-stamped files — the upgrade point. These remain
  // session confs because Spark's parquet source reads them from SQLConf,
  // not per-scan options; they are no-ops for scans whose requested schema
  // carries no ids, which is every non-graft read.
  spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
  spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
  // The warehouse stores TIMESTAMP as INT64 MICROS (Iceberg's choice, and
  // what the adjusted-to-UTC flag round-trips losslessly): Spark's default
  // INT96 writes NO footer statistics, which would silently disable min/max
  // file pruning, metadata-served aggregates and group-key proofs on every
  // LTZ timestamp column the store ever writes. Session conf because
  // Spark's parquet sink reads it from SQLConf, not per-write options.
  spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  private val rootPath = new Path(root)
  private def fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  /** Snapshot-pointer directory. A BRANCH store resolves and commits its
    * manifests under `manifest/branches/<name>/` — everything else (data
    * dirs, shard dirs, refs, the commit latch) is shared with main, so
    * every commit/read path below works unchanged on a branch view and a
    * branch commit is exactly as cheap as a main commit. */
  private def manifestDir = branch match {
    case None => new Path(rootPath, "manifest")
    case Some(b) => new Path(branchesDir, b)
  }
  private def branchesDir = new Path(rootPath, "manifest/branches")
  /** Shard files always live under MAIN's metadata tree, even for branch
    * commits: fast-forward copies branch manifests verbatim (shard refs are
    * absolute paths), so shards must not live in a directory that
    * `dropBranch` deletes — orphaned branch shards are reclaimed by the
    * main vacuum's shard sweep instead. */
  private def shardsRoot = new Path(rootPath, "manifest/shards")
  private def dataDir = new Path(rootPath, "data")

  /** Snapshot ids that still have a manifest, ascending. Vacuumed versions
    * drop out of this list (their manifests are deleted with their data), so
    * every resolution path below tolerates gaps in the version sequence. */
  def existingVersions(): Seq[Long] = {
    val f = fs
    if (!f.exists(manifestDir)) Nil
    else
      f.listStatus(manifestDir).map(_.getPath.getName)
        .collect { case ManifestName(v) => v.toLong }
        .sorted.toSeq
  }

  /** Latest committed snapshot id, or -1 for an empty table. */
  def currentVersion(): Long = existingVersions().foldLeft(-1L)(math.max)

  /** Parsed snapshot manifest — memoized process-wide ([[TableStore
    * .manifestMemo]]): committed manifests are IMMUTABLE (the CAS in
    * [[writeManifestAtomic]] never replaces an existing `v$N.json`), so a
    * (store, version) pair identifies one byte content for as long as it
    * exists, and every lifecycle path that deletes or renumbers manifests
    * (DROP TABLE, derivative drops, branch drop/rebase, snapshot expiry)
    * calls [[TableStore.invalidateMeta]]. At object-store latency this
    * turns the plan-time metadata walk of every rewritten query — O(#views
    * + span length) manifest GETs + JSON parses inside the optimizer's
    * fixpoint — into memo hits (VERDICT r11 next #1). */
  def manifest(version: Long): Manifest = {
    if (!spark.conf.getOption("spark.graft.meta.manifestCache")
        .forall(_.toBoolean)) {
      TableStore.manifestLoads.incrementAndGet()
      return Manifest.fromJson(
        readSmallFile(new Path(manifestDir, s"v$version.json")))
    }
    val key = (memoKey, rootEpoch, version)
    val c = TableStore.manifestMemo.get(key)
    if (c != null) return c
    TableStore.manifestLoads.incrementAndGet()
    val m = Manifest.fromJson(
      readSmallFile(new Path(manifestDir, s"v$version.json")))
    if (TableStore.manifestMemo.size > 4096) TableStore.manifestMemo.clear()
    TableStore.manifestMemo.put(key, m)
    m
  }

  /** ROOT EPOCH — the memo's cross-process drop+recreate guard (VERDICT
    * r12 next #4, ADVICE r12). A uuid stamped into `<manifestDir>/epoch`
    * by the first commit ever made to this manifest dir; an OUT-OF-PROCESS
    * drop+recreate at the same root deletes and restamps it, so a fresh
    * [[TableStore]] instance (the second driver's handle) keys the memo
    * under the new epoch and can never be served a renumbered manifest
    * cached under the old one. Read once per instance: in-process
    * lifecycle paths are covered by [[TableStore.invalidateMeta]] (which
    * this complements, not replaces), and a LONG-LIVED instance watching a
    * root another process recreates must opt out of the memo entirely
    * (`spark.graft.meta.manifestCache=false`, the multi-driver deployment
    * documented alongside `spark.graft.meta.registryCache`). Tables
    * created before the stamp existed read as the constant pre-epoch "-"
    * until their next commit stamps one — a memo-key change, never a
    * correctness change. */
  private[graft] lazy val rootEpoch: String = {
    val p = new Path(manifestDir, "epoch")
    try {
      if (fs.exists(p)) readSmallFile(p).trim else "-"
    } catch { case _: java.io.IOException => "-" }
  }

  /** [[memoKey]] with the root epoch folded in — the key string for
    * process-wide SPAN memos (content-preserving / diff-size / diff-byte
    * facts), which are exactly as vulnerable to an out-of-process
    * drop+recreate as the manifest memo: a reused (root, from, to) triple
    * under renumbered manifests would serve another table's span facts.
    * [[TableStore.invalidateMeta]] prefix-matches across the `@`. */
  private[graft] def epochMemoKey: String = memoKey + "@" + rootEpoch

  /** Identity for process-wide span memos: a branch store's numbering is
    * its own. */
  private[graft] def memoKey: String =
    root + branch.map("#" + _).getOrElse("")

  /** Session-dependent rendering context for predicate memo keys:
    * `Expression.sql` prints timestamp literals in the session zone with
    * no zone marker, and comparison semantics follow the ANSI flag —
    * both must qualify any memo keyed on a predicate's SQL form. */
  private[graft] def sessionEvalKey: String =
    spark.sessionState.conf.sessionLocalTimeZone + "/" +
      spark.sessionState.conf.ansiEnabled

  // ------------------------------------------------- manifest tier plumbing

  /** Above this file count a commit writes a SHARDED manifest
    * ([[ManifestShards]]) instead of inlining files+stats in the snapshot
    * JSON. Tests lower it to exercise the sharded paths on small tables. */
  private def inlineThreshold: Int =
    spark.conf.getOption("spark.graft.manifest.inlineThreshold")
      .map(_.toInt).getOrElse(1000)

  private def filesPerShard: Int =
    spark.conf.getOption("spark.graft.manifest.filesPerShard")
      .map(_.toInt).getOrElse(8192)

  /** Parquet bloom filters for point-lookup columns
    * (`spark.graft.bloom.columns` = csv of column names;
    * `spark.graft.bloom.ndv` = expected distinct values per file, default
    * 100k). High-cardinality IDs are the case file stats cannot help: every
    * file's min/max spans the whole domain, so `WHERE id = x` on an
    * unclustered column scans the table. A per-row-group bloom (written by
    * parquet-mr, consulted automatically by its row-group filter on the
    * pushed predicate) turns each non-matching file's read into
    * footer+bloom I/O — the scan task opens the file, proves no row group
    * can match, and emits nothing. Orthogonal to bucket pruning (which
    * handles the BUCKET KEYS at file granularity without any I/O): blooms
    * serve the non-key columns. Applied by every data-writing commit path
    * so inherited-file semantics stay uniform — files written while the
    * conf was unset simply carry no bloom and never skip. */
  private def bloomWriteOptions: Map[String, String] =
    spark.conf.getOption("spark.graft.bloom.columns") match {
      case None => Map.empty
      case Some(csv) =>
        val ndv = spark.conf.getOption("spark.graft.bloom.ndv").getOrElse("100000")
        csv.split(',').map(_.trim).filter(_.nonEmpty).flatMap(c => Seq(
          s"parquet.bloom.filter.enabled#$c" -> "true",
          s"parquet.bloom.filter.expected.ndv#$c" -> ndv)).toMap
    }

  /** The per-file metadata relation of a snapshot — the unified surface the
    * scale paths consume. Sharded: a distributed parquet scan over the
    * manifest shards. Inline: the driver-held lists lifted to the same row
    * type (small by construction). */
  private[graft] def fileMetaDS(m: Manifest)
      : org.apache.spark.sql.Dataset[ManifestShards.FileMeta] =
    if (m.isSharded) ManifestShards.read(spark, m.shards.map(_.path))
    else ManifestShards.metaFromInline(spark, m.inlineFiles, m.inlineStats)

  /** FULL file-list materialization on the driver. Free for inline
    * manifests; on sharded manifests an export-only escape hatch (handing
    * paths to an external engine) that counts against
    * [[TableStore.driverMaterializations]] so tests can assert the scale
    * paths never take it. */
  def filesOf(m: Manifest): Seq[String] =
    if (!m.isSharded) m.inlineFiles
    else {
      TableStore.driverMaterializations.incrementAndGet()
      val sp = spark
      import sp.implicits._
      fileMetaDS(m).map(_.path).collect().toSeq
    }

  /** Metadata rows for an explicit path subset — O(subset) driver residue
    * (sharded: a broadcast semi-join against the shard scan). */
  private[graft] def metaFor(m: Manifest,
      paths: Seq[String]): Seq[ManifestShards.FileMeta] =
    if (paths.isEmpty) Nil
    else if (!m.isSharded) {
      val meta = ManifestShards.metaFromInline(spark,
        m.inlineFiles.filter(paths.toSet), m.inlineStats)
      meta.collect().toSeq
    } else {
      val sp = spark
      import sp.implicits._
      import org.apache.spark.sql.functions.broadcast
      // distinct: a duplicated input path must not duplicate join rows
      val pd = paths.distinct.toDS().toDF("path")
      fileMetaDS(m).join(broadcast(pd), "path")
        .as[ManifestShards.FileMeta].collect().toSeq
    }

  /** Stats-pruned file refs for a scan: only files whose bounds might hold a
    * matching row come back to the driver. Sharded manifests evaluate the
    * bounds as a DISTRIBUTED filter over the shard rows — the driver residue
    * is O(selected files), the Iceberg-style distributed metadata scan.
    *
    * On bucketed layouts the key-derived bucket set composes with file
    * stats (VERDICT r6 #1): hash-bucketed files carry near-full-range
    * bounds, so `WHERE k = x` prunes NOTHING by stats — the bucket hash is
    * the only narrowing that works, and it cuts the read to
    * O(table/numBuckets). Sharded manifests additionally skip whole
    * manifest shards whose covered-bucket summary misses the set. */
  private[graft] def pruneRefs(m: Manifest, dataSchema: StructType,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.graftbridge.StatsScanBridge.FileRef] = {
    import org.apache.spark.sql.graftbridge.StatsScanBridge.FileRef
    val keyBuckets = TableStore.keyEqualityBuckets(filters, m)
    if (!m.isSharded) {
      val inBucket = keyBuckets match {
        // a file with no parseable bucket segment is conservatively kept
        case Some(kb) => m.inlineFiles.filter(f =>
          TableStore.bucketOfFile(f).forall(kb.contains))
        case None => m.inlineFiles
      }
      val kept =
        if (filters.isEmpty) inBucket
        else inBucket.filter(f => m.inlineStats.get(f).forall(st =>
          FileStats.mightMatch(m.usableStat(st), dataSchema, filters)))
      kept.map { f =>
        val s = m.inlineStats.get(f)
        FileRef(f, s.map(_.bytes).getOrElse(0L), s.map(_.modTime).getOrElse(0L))
      }
    } else {
      // memoized process-wide (r15): every PLANNING PASS of every query
      // over a sharded table re-ran this distributed shard read (a
      // GROUP BY at 1,500 files paid ~2.5 s of metadata jobs per pass,
      // 3+ passes per query — optimizer, inspection, execution). The
      // survivors depend only on the IMMUTABLE manifest content, the
      // read schema, and the predicate's name-anchored form; the result
      // is exactly what the scan materializes to the driver anyway, so
      // caching it adds no new residue class — but entries are bounded
      // (count + size guard) and invalidated with the manifest memo.
      // the session timezone (and ANSI flag) joins the key: `_.sql`
      // renders timestamp literals in the session zone WITHOUT a zone
      // marker, so two sessions in one JVM with different timezones
      // querying the same table would otherwise collide on identical keys
      // for different instants (r15 advisor)
      val exprsKey =
        try sessionEvalKey + "&" + filters.map(_.sql).mkString("&")
        catch { case _: Exception => null }
      val memoOn = exprsKey != null &&
        spark.conf.getOption("spark.graft.meta.manifestCache")
          .forall(_.toBoolean)
      val mKey = (epochMemoKey, m.version,
        dataSchema.catalogString.hashCode + "#" + exprsKey)
      if (memoOn) {
        val hit = TableStore.pruneMemo.get(mKey)
        if (hit != null) return hit
      }
      val sp = spark
      import sp.implicits._
      // shard-level pruning: a ShardRef records exactly which buckets it
      // covers, so off-bucket shards are never even opened (an empty
      // covered-bucket list means unbucketed entries — kept)
      val ds = keyBuckets match {
        case Some(kb) => ManifestShards.read(spark, m.shards
          .filter(s => s.buckets.isEmpty || s.buckets.exists(kb)).map(_.path))
        case None => fileMetaDS(m)
      }
      val matched =
        if (filters.isEmpty) ds
        else {
          val schemaJson = dataSchema.json
          val fl = filters
          val dropped = m.droppedCols
          val kbOpt = keyBuckets
          ds.mapPartitions { it =>
            val sch = DataType.fromJson(schemaJson).asInstanceOf[StructType]
            it.filter { fm =>
              kbOpt.forall(kb => fm.bucket < 0 || kb.contains(fm.bucket)) &&
              (fm.stats.isEmpty || {
                val st = ManifestShards.toFileStat(fm)
                FileStats.mightMatch(
                  if (dropped.isEmpty) st else st.copy(cols = st.cols -- dropped),
                  sch, fl)
              })
            }
          }
        }
      val out =
        matched.collect().toSeq.map(fm => FileRef(fm.path, fm.bytes, fm.mod_ms))
      if (memoOn && out.size <= 100000) {
        if (TableStore.pruneMemo.size > 64) TableStore.pruneMemo.clear()
        TableStore.pruneMemo.put(mKey, out)
      }
      out
    }
  }

  /** Candidate data files that MIGHT hold a row matching `exprs` — the
    * SQL-side pruning entry (DELETE / row-level DML / scan builder).
    * Distributed for sharded manifests, driver-side for inline. */
  private[graft] def pruneCandidatePaths(m: Manifest,
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[String] =
    pruneRefs(m, m.schema, exprs).map(_.path)

  /** SHARDED-tier decidability sweep (the 100 TB half of the
    * file-decidable filter pushdown): ONE distributed pass over the shard
    * rows classifies every candidate file as no-match (dropped), ALL-match
    * (kept, with its row count and parsed column stats), or straddling.
    * Returns Right(kept metadata) when every candidate decides — exactly
    * the shape the filtered metadata aggregate consumes — or Left(the
    * might-match candidate paths) when ANY candidate straddles, so the
    * caller's conservative fallback reuses THIS sweep's verdicts instead
    * of paying a second distributed metadata scan (the straddle case is
    * the common one on arbitrary predicates). Driver residue is
    * O(candidate files) either way, the same bound the conservative
    * pruning already accepts. */
  private[graft] def exactMatchMeta(m: Manifest,
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Either[Seq[String],
        Seq[(String, Long, Map[String, FileStats.ColStat])]] = {
    val (metas, straddlers) = hybridMatchMeta(m, exprs)
    if (straddlers.nonEmpty)
      Left((metas.map(_._1) ++ straddlers).sorted)
    else Right(metas)
  }

  /** THREE-WAY decidability sweep for the sharded tier (VERDICT r13 next
    * #2): one distributed pass over the manifest shards classifies every
    * file against `exprs` as no-match (pruned outright), all-match
    * (returned WITH its parsed row/column stats — a metadata aggregate
    * merges these with zero data I/O), or straddling (path only — the
    * hybrid aggregate scans exactly these). [[exactMatchMeta]] is the
    * all-or-nothing view of the same sweep; this keeps the per-file
    * verdicts a straddler used to throw away. Driver residue is O(kept
    * files) — callers gate on [[TableStore.ExactMaxFiles]]. */
  private[graft] def hybridMatchMeta(m: Manifest,
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : (Seq[(String, Long, Map[String, FileStats.ColStat])], Seq[String]) = {
    // memoized process-wide (r15): a dashboard re-plans the SAME query
    // repeatedly — and ONE query plans several times (optimizer fixpoint,
    // require()-style plan inspection, execution) — each pass re-paying
    // this distributed sweep. The verdicts depend only on the IMMUTABLE
    // manifest content and the predicate's name-anchored form
    // (classification reads columns by NAME), so (store, epoch, version,
    // exprs.sql) identifies the result exactly like the manifest memo.
    // Entries are O(kept files): results past the size guard skip the
    // memo rather than grow it; same conf + invalidation as manifests.
    val exprsKey = // timezone/ANSI-qualified, same reason as pruneRefs'
      try sessionEvalKey + "&" + exprs.map(_.sql).mkString("&")
      catch { case _: Exception => null } // un-SQL-able shape: skip memo
    val memoOn = exprsKey != null &&
      spark.conf.getOption("spark.graft.meta.manifestCache")
        .forall(_.toBoolean)
    val mKey = (epochMemoKey, m.version, exprsKey)
    if (memoOn) {
      val hit = TableStore.classifyMemo.get(mKey)
      if (hit != null) return hit
    }
    val sp = spark
    import sp.implicits._
    val schemaJson = m.schema.json
    val fl = exprs
    val dropped = m.droppedCols
    // (mustMatch, path, rows, statsJson) for every might-match file
    val rows = fileMetaDS(m).mapPartitions { it =>
      val sch = DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      it.flatMap { fm =>
        if (fm.stats.isEmpty) Some((false, fm.path, fm.rows, fm.stats))
        else {
          val st0 = ManifestShards.toFileStat(fm)
          val st = if (dropped.isEmpty) st0
            else st0.copy(cols = st0.cols -- dropped)
          if (!FileStats.mightMatch(st, sch, fl)) None
          else Some((FileStats.mustMatch(st, sch, fl),
            fm.path, fm.rows, fm.stats))
        }
      }
    }.collect()
    val (must, straddle) = rows.partition(_._1)
    val out = (must.sortBy(_._2).toSeq.map { case (_, p, r, sj) =>
      (p, r, FileStats.colsFromJson(sj) -- dropped)
    }, straddle.map(_._2).sorted.toSeq)
    if (memoOn && out._1.size + out._2.size <= 8192) {
      if (TableStore.classifyMemo.size > 64) TableStore.classifyMemo.clear()
      TableStore.classifyMemo.put(mKey, out)
    }
    out
  }

  /** Data-file paths of the given buckets — O(selected buckets' files)
    * driver residue (sharded: only covering shards are opened). */
  private[graft] def bucketFilePaths(m: Manifest,
      buckets: Set[Long]): Seq[String] =
    if (!m.isSharded)
      m.inlineFiles.filter(f => TableStore.bucketOfFile(f).exists(buckets))
    else {
      val sp = spark
      import sp.implicits._
      val covering = m.shards.filter(_.buckets.exists(buckets)).map(_.path)
      ManifestShards.read(spark, covering)
        .filter((fm: ManifestShards.FileMeta) => buckets.contains(fm.bucket))
        .map(_.path).collect().toSeq
    }

  /** Data-file count per bucket — maintenance planning. O(#buckets) driver
    * residue in either tier. */
  private[graft] def bucketFileCounts(m: Manifest): Map[Long, Long] =
    if (!m.isSharded)
      m.inlineFiles.groupBy(f => TableStore.bucketOfFile(f).getOrElse(-1L))
        .map { case (b, fs) => b -> fs.size.toLong }
    else {
      val sp = spark
      import sp.implicits._
      fileMetaDS(m).groupBy($"bucket").count()
        .as[(Long, Long)].collect().toMap
    }

  /** Append a new snapshot whose content is exactly `df` (full-table commit).
    * `expectedParent` is the CAS guard: commit fails if another writer
    * committed since the caller read `currentVersion()`. */
  def commitSnapshot(df: DataFrame, partitionBy: Seq[String] = Nil,
      expectedParent: Option[Long] = None,
      props: Map[String, String] = Map.empty): Long = {
    val parent = checkParent(expectedParent)
    val next = parent + 1
    val pmOpt = if (parent >= 0) Some(manifest(parent)) else None
    val idFloor = pmOpt.map(_.highestFieldId).getOrElse(0L)
    val idSchema = withFieldIds(df.schema, pmOpt.map(_.schema), idFloor)
    // Unique staging dir per attempt (not the shared snap-<next>): two racing
    // writers that both compute `next` each stage into their own directory, so
    // the CAS loser's Overwrite can never clobber the winner's committed data
    // files — the same isolation Iceberg gets from uniquely-named data files
    // under its metadata swap (reference src/dynamodb-zero-etl-s3tables.ts:99).
    val snapDir = new Path(dataDir, s"snap-$next-${stagingSuffix()}")
    beginStaging(snapDir) // pin against a concurrent vacuum sweep
    val writer = applyFieldIds(df, idSchema).write.mode(SaveMode.Overwrite)
      .options(bloomWriteOptions)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .parquet(snapDir.toString)
    // hive layouts (in-schema partitionBy) always inline: their reads go
    // through Spark's own dir scan + partition pruning, never the manifest
    // file list — the 100 TB layouts are bucketed/plain, which shard
    val tier =
      if (partitionBy.nonEmpty) {
        val files = listDataFiles(snapDir)
        MetaTier(files, FileStats.collect(spark, files, idSchema), Nil, None)
      } else freshManifestMeta(snapDir, idSchema, next, bucketedDirs = false)
    val m = Manifest(next, parent, idSchema, snapDir.toString,
      tier.inlineFiles, partitionBy, System.currentTimeMillis(),
      inlineStats = tier.inlineStats, props = props, shards = tier.shards,
      maxFieldId = idMax(idSchema, idFloor))
    commitOrCleanup(m, snapDir, tier.newShardDir)
  }

  /** Freshly-written snap-dir metadata with the manifest tier decided by
    * file count. Bucketed layouts above [[TableStore.DriverListCutoff]]
    * bucket dirs never list leaf files on the driver — listing, footer
    * stats, and shard writing all run distributed. */
  private case class MetaTier(inlineFiles: Seq[String],
      inlineStats: Map[String, FileStats.FileStat],
      shards: Seq[ManifestShards.ShardRef], newShardDir: Option[Path])

  private def freshManifestMeta(snapDir: Path, schema: StructType, next: Long,
      bucketedDirs: Boolean): MetaTier = {
    if (bucketedDirs) {
      val dirs = fs.listStatus(snapDir).filter(_.isDirectory)
        .map(_.getPath.toString).toSeq
      if (dirs.size > TableStore.DriverListCutoff) {
        val meta = ManifestShards.metaFromDirs(spark, dirs, schema).persist()
        try {
          val n = meta.count()
          if (n <= inlineThreshold) inlineTier(meta.collect().toSeq)
          else shardTier(meta, n, next)
        } finally { meta.unpersist(); () }
      } else driverSideTier(snapDir, schema, next)
    } else driverSideTier(snapDir, schema, next)
  }

  private def driverSideTier(snapDir: Path, schema: StructType,
      next: Long): MetaTier = {
    val files = listDataFiles(snapDir)
    if (files.size <= inlineThreshold)
      MetaTier(files, FileStats.collect(spark, files, schema), Nil, None)
    else {
      val meta = ManifestShards.metaFromFiles(spark, files, schema)
      shardTier(meta, files.size.toLong, next)
    }
  }

  private def inlineTier(metas: Seq[ManifestShards.FileMeta]): MetaTier =
    MetaTier(metas.map(_.path),
      metas.map(fm => fm.path -> ManifestShards.toFileStat(fm)).toMap,
      Nil, None)

  private def shardTier(meta: org.apache.spark.sql.Dataset[ManifestShards.FileMeta],
      n: Long, next: Long): MetaTier = {
    val dest = new Path(shardsRoot, s"v$next-${stagingSuffix()}")
    beginStaging(dest) // pin against a concurrent shard-dir sweep
    val nShards = math.max(1L, (n + filesPerShard - 1) / filesPerShard).toInt
    val refs = ManifestShards.write(spark, meta, dest.toString, nShards)
    MetaTier(Nil, Map.empty, refs, Some(dest))
  }

  /** Read a snapshot (default: current). Time travel = pass an older id —
    * the analog of Iceberg snapshot reads over versioned metadata
    * (reference src:114-115 `GetTableVersion(s)`). Non-hive layouts scan by
    * manifest file list with stats-based file skipping; hive layouts scan
    * their dir so Spark's own partition pruning applies. */
  def readSnapshot(version: Long = -1L): DataFrame = {
    val m = manifest(resolveVersion(version))
    if (m.isSharded) return readShardedScan(m)
    val multiDir = {
      val loc = fs.makeQualified(new Path(m.location)).toString
      m.inlineFiles.exists(f => !f.startsWith(loc))
    }
    if (m.bucketKeys.nonEmpty || multiDir || m.partitionBy.isEmpty)
      readFiles(m, m.inlineFiles)
    else {
      require(!m.hasDeletes,
        "delete vectors are not supported on hive-partitioned layouts")
      val df = spark.read.schema(dataReadSchema(m)).parquet(m.location)
      // restore declared column order (partition columns come back last)
      df.select(m.schema.fieldNames.map(org.apache.spark.sql.functions.col): _*)
    }
  }

  /** Whole-table scan over a SHARDED manifest: the file list is never
    * enumerated up front — when Spark asks the scan for its files, pushed
    * data filters run as a distributed metadata scan over the shards
    * ([[pruneRefs]]) and only surviving files reach the driver's task list.
    * Sharded manifests are plain/bucketed by construction (no in-schema
    * partition columns), so the data schema is the table schema. DV-carrying
    * snapshots apply the same effective-rows anti-join as the inline tier
    * ([[finishDv]]) — merge-on-read composes with the 100 TB metadata
    * layout. */
  private def readShardedScan(m: Manifest): DataFrame = {
    import org.apache.spark.sql.graftbridge.StatsScanBridge
    finishDv(m, StatsScanBridge.dataFrame(spark, root, m.totalBytes, m.schema,
      filters => pruneRefs(m, m.schema, filters)), withPos = false)
  }

  /** UNFILTERED current-content scan — delete masks NOT applied.
    * Maintenance-internal: [[purgeDeletes]] uses it to find the buckets
    * whose files still hold rows a PARTIAL-KEY equality delete masks (the
    * filtered read hides exactly those rows, so deriving buckets from it
    * would find nothing). Column pruning still applies — callers select
    * only key columns, so the scan reads O(key columns), not the table.
    * Only reachable on bucketed layouts (the only ones that can carry
    * equality deletes), which never have in-schema partition columns. */
  private def rawUnmaskedRead(m: Manifest): DataFrame =
    if (m.isSharded) {
      import org.apache.spark.sql.graftbridge.StatsScanBridge
      StatsScanBridge.dataFrame(spark, root, m.totalBytes, m.schema,
        filters => pruneRefs(m, m.schema, filters))
    } else if (m.inlineFiles.isEmpty) emptyRead(m, withPos = false)
    else spark.read.schema(dataReadSchema(m)).parquet(m.inlineFiles: _*)

  /** Stats-scan over an explicit metadata subset (sharded manifests hand
    * the driver O(subset) rows — bucket-targeted and incremental reads).
    * `withPos` appends the `_g_file`/`_g_pos` addressing columns (MOR DML
    * writers); DV'd snapshots always read through the effective-rows
    * filter. */
  private def readMetas(m: Manifest,
      metas: Seq[ManifestShards.FileMeta],
      withPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftbridge.StatsScanBridge
    if (metas.isEmpty) return emptyRead(m, withPos)
    val statByPath = metas.map(fm =>
      fm.path -> m.usableStat(ManifestShards.toFileStat(fm))).toMap
    val refs = metas.map(fm =>
      StatsScanBridge.FileRef(fm.path, fm.bytes, fm.mod_ms))
    finishDv(m, StatsScanBridge.dataFrame(spark, root,
      refs.map(_.bytes).sum, m.schema,
      filters =>
        if (filters.isEmpty) refs
        else TableStore.bucketPrune(refs, filters, m).filter(r =>
          FileStats.mightMatch(statByPath(r.path), m.schema, filters))),
      withPos)
  }

  /** Shared scan epilogue: apply the DV effective-rows filter when the
    * snapshot carries delete vectors, keep the `_g_file`/`_g_pos`
    * addressing columns when a positional read asked for them, and restore
    * the declared column order. DV-free non-positional reads return the
    * byte-stock plan untouched (referencing `_metadata` can inhibit scan
    * optimizations). */
  private def finishDv(m: Manifest, raw: DataFrame,
      withPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    val eff =
      if (m.hasDeletes || withPos) eqFilter(dvFilter(tagPos(raw), m), m)
      else raw
    val out = m.schema.fieldNames.map(col) ++
      (if (withPos) Seq(col("_g_file"), col("_g_pos")) else Nil)
    eff.select(out.toSeq: _*)
  }

  /** Key-columns read schema for equality-delete files: ID-STRIPPED. The
    * delete files are written from the caller's raw batch (no field-id
    * stamping), and an id-bearing requested schema over id-less files is
    * unreadable under fieldId.read.enabled — name matching is correct here
    * because bucket-key names can never be renamed (schema-only commits
    * refuse it). */
  private def eqKeySchema(m: Manifest,
      cols: Seq[String] = Nil): StructType = {
    val want = if (cols.nonEmpty) cols else m.bucketKeys
    StructType(m.schema.fields.filter(f => want.contains(f.name))
      .map(f => org.apache.spark.sql.types.StructField(f.name, f.dataType,
        f.nullable)).toSeq)
  }

  /** Effective-rows filter for EQUALITY deletes: drop every row whose
    * bucket-key values appear in an [[TableStore.EqRef]] file with `since`
    * NEWER than the row's data file's commit version (derived from the
    * `snap-<v>-` path segment — pure column arithmetic, no extra I/O).
    * Stacked deletes of the same key collapse to `max(since)` before the
    * join, so the probe is one row per deleted key. Small delete sets are
    * broadcast (keyed map-side anti-join, corpus never shuffles); past
    * [[dvBroadcastThreshold]] the hint drops, same discipline as
    * [[dvFilter]]. `tagged` must carry `_g_file`. */
  private def eqFilter(tagged: DataFrame, m: Manifest): DataFrame =
    if (!m.hasEqDeletes) tagged
    else {
      import org.apache.spark.sql.functions._
      val withV0 = tagged.withColumn("_g_snapv",
        regexp_extract(col("_g_file"), "/snap-(\\d+)-", 1).cast("long"))
      // REBASED files ([[rebaseBranch]]) carry a manifest-assigned commit
      // version overriding the path-derived one — the replay re-homes a
      // file logically without moving bytes. O(rebased files) entries,
      // broadcast map-side join, corpus never shuffles.
      val withV =
        if (m.fileVersions.isEmpty) withV0
        else {
          val ov = spark.createDataFrame(m.fileVersions.toSeq)
            .toDF("_g_ovf", "_g_ovv")
          withV0.join(broadcast(ov), withV0("_g_file") === col("_g_ovf"), "left")
            .withColumn("_g_snapv",
              coalesce(col("_g_ovv"), col("_g_snapv")))
            .drop("_g_ovf", "_g_ovv")
        }
      // one anti-join per distinct key-column set: full-key refs (cols
      // empty) key on the bucket keys, PARTIAL-KEY refs mask by their
      // recorded column subset — stacked sets compose (a row survives only
      // if no delete of any shape masks it)
      val groups = m.eqRefs
        .groupBy(r => if (r.cols.nonEmpty) r.cols else m.bucketKeys)
        .toSeq.sortBy(_._1.mkString(","))
      groups.foldLeft(withV) { case (df, (cols, refs)) =>
        val probe = eqProbe(m, cols, refs)
        val cond = cols.map(k => df(k) === probe(k)).reduce(_ && _) &&
          df("_g_snapv") < probe("_eq_since")
        df.join(probe, cond, "left_anti")
      }.drop("_g_snapv")
    }

  private def resolveVersion(version: Long): Long = {
    val v = if (version >= 0) version else currentVersion()
    require(v >= 0, s"table at $root has no committed snapshot")
    require(existingVersions().contains(v),
      s"snapshot $v of table at $root does not exist (vacuumed or never committed)")
    v
  }

  /** File-list read for manifests whose files span several `snap-*` dirs
    * (incremental/append commits inherit parent files). Listing leaf files
    * keeps Spark from inferring hive path segments as partition columns, and
    * an evolved (wider) manifest schema reads missing columns in older files
    * as NULL — merge-on-read schema evolution.
    *
    * Declared partition columns that belong to the table schema (hive-layout
    * tables; NOT the derived `_gbucket`) are reconstructed from each file's
    * `<col>=<val>` path segment — Iceberg-style metadata columns. Values are
    * hive-encoded by the writer; only `__HIVE_DEFAULT_PARTITION__` (NULL) is
    * decoded here, so partition on simple scalar values (ids, flags, dates) —
    * which is also the only kind that prunes well at 100 TB. */
  private[graft] def readFiles(m: Manifest, files: Seq[String]): DataFrame =
    readFilesSel(m, files, withPos = false)

  /** [[readFiles]] plus two trailing columns `_g_file`/`_g_pos` — the
    * scan-qualified file path and file-absolute row position of each LIVE
    * row (delete vectors already applied). The merge-on-read DML writers
    * use it to address rows for positional deletes. */
  private[graft] def readFilesWithPos(m: Manifest,
      files: Seq[String]): DataFrame = readFilesSel(m, files, withPos = true)

  /** All delete entries of the snapshot as `(file_path, pos)` rows. */
  private[graft] def dvEntries(m: Manifest): DataFrame =
    spark.read.schema(TableStore.DvSchema).parquet(m.dvRefs.map(_.path): _*)

  /** Above this many DV bytes (manifest `dvRefs` totals — the decision is
    * metadata-only) the read-side anti-join is NOT broadcast-hinted: a
    * single broad `deleteMor` (`WHERE date < X` over 10% of a 100 TB table)
    * writes billions of `(file, pos)` entries in one commit, and a forced
    * broadcast would pull them onto the driver and every executor
    * regardless of `autoBroadcastJoinThreshold` (ADVICE r7 medium). Below
    * it — the CDC-trickle steady state bounded by
    * `CdcMaintenance.maxDvFiles` — the hint keeps the corpus un-shuffled. */
  private def dvBroadcastThreshold: Long =
    spark.conf.getOption("spark.graft.dv.broadcastThreshold")
      .map(_.toLong).getOrElse(TableStore.BroadcastBytes)

  /** The keys of the equality deletes `refs` over `cols`, collapsed to
    * `max(since)` per key — the probe side of [[eqFilter]] and of the
    * narrow changelog's newly-masked join. */
  private def eqProbe(m: Manifest, cols: Seq[String],
      refs: Seq[EqRef]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, max}
    val readSchema = eqKeySchema(m, cols)
    maskProbe(
      s"eq|${cols.mkString(",")}|${readSchema.catalogString}|" +
        refs.map(r => s"${r.path}:${r.since}").sorted.mkString(","),
      refs.map(_.bytes).sum, refs.map(_.rows).sum,
      refs.map { r =>
        spark.read.schema(readSchema).parquet(r.path)
          .withColumn("_eq_since", lit(r.since))
      }.reduce(_ unionByName _)
        .groupBy(cols.map(col): _*)
        .agg(max("_eq_since").as("_eq_since")))
  }

  /** The `(file_path, pos)` entries of the delete vectors `refs` — the
    * probe side of [[dvFilter]] and of the narrow changelog's
    * newly-masked join. */
  private def dvProbe(refs: Seq[DvRef]): DataFrame =
    maskProbe(
      s"dv|${TableStore.DvSchema.catalogString}|" +
        refs.map(_.path).sorted.mkString(","),
      refs.map(_.bytes).sum, refs.map(_.rows).sum,
      spark.read.schema(TableStore.DvSchema).parquet(refs.map(_.path): _*))

  /** The probe side of a mask join ([[eqProbe]], [[dvProbe]]) over
    * the delete set `dels` reads. Delete files are write-once, and
    * `DvV1Scan.buildScan` materializes the mask at PLAN time: read from
    * the files, every catalog query over a masked snapshot pays a Spark
    * job (plus the equality side's shuffle) for the same rows. A set
    * under [[dvBroadcastThreshold]] is therefore held on the driver
    * ([[heldRows]], the shared small-row-set memo) and broadcast from a
    * local relation of those rows — the same rows the broadcast pulls to
    * the driver on every query anyway. Above the byte gate the shuffled
    * join is unchanged. `key` names the delete set (mask kind, key
    * columns, read schema, sorted files with each equality ref's
    * `since`). Every mask built from the files rather than the memo
    * counts in [[TableStore.maskLoads]]. */
  private def maskProbe(key: String, bytes: Long, rows: Long,
      dels: => DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    if (bytes > dvBroadcastThreshold) {
      TableStore.maskLoads.incrementAndGet()
      return dels
    }
    heldRows("mask", key, rows) {
      TableStore.maskLoads.incrementAndGet()
      dels
    } match {
      // fresh attribute ids per use: one query may mask the same set twice
      case Some(rel) => broadcast(org.apache.spark.sql.graftbridge
        .DatasetBridge.ofRows(spark, rel.newInstance()))
      case None =>
        TableStore.maskLoads.incrementAndGet()
        broadcast(dels)
    }
  }

  /** A small immutable row set of this store, held on the driver: the
    * rows `load` reads, memoized process-wide in [[TableStore.rowMemo]]
    * under (epochMemoKey, `kind`, `key`). `key` must name rows that never
    * change (write-once delete files, a committed snapshot version). None
    * — the caller reads the files itself — when `rows` (a metadata count,
    * checked before any read) exceeds [[TableStore.MaskMemoMaxRows]] or
    * `spark.graft.meta.manifestCache=false`. A miss loads outside the map
    * (get, then put): a Spark job never runs inside a map operation. */
  private def heldRows(kind: String, key: String, rows: Long)(
      load: => DataFrame)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] = {
    if (rows > TableStore.MaskMemoMaxRows ||
        !spark.conf.getOption("spark.graft.meta.manifestCache")
          .forall(_.toBoolean)) return None
    val mKey = (epochMemoKey, kind, key)
    Option(TableStore.rowMemo.get(mKey)).orElse {
      val d = load
      val ext = org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        .fromExternalRows(org.apache.spark.sql.catalyst.types.DataTypeUtils
          .toAttributes(d.schema), d.collect().toSeq)
      // held as unsafe rows, more compact than the boxed external rows
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(ext.output, ext.output)
      val l = ext.copy(data = ext.data.map(proj(_).copy()))
      TableStore.rowMemoPut(mKey, l)
      Some(l)
    }
  }

  /** Snapshot `version` as rows held on the driver ([[heldRows]], kind
    * `view`) — the view rewrites serve a small view snapshot from these
    * and fold the query over them at plan time. Gated before any read on
    * the manifest's totals: at most [[TableStore.MaskMemoMaxRows]] rows
    * and [[TableStore.BroadcastBytes]] bytes, with stats on every file.
    * None past the gate or with the memo off. */
  private[graft] def heldSnapshot(version: Long)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] = {
    val m = manifest(version)
    val counted = m.isSharded || m.inlineFiles.forall(m.inlineStats.contains)
    if (!counted || m.totalBytes > TableStore.BroadcastBytes) None
    else heldRows("view", version.toString, m.totalRows)(
      readSnapshot(version))
  }

  /** Effective-rows filter for delete-vector snapshots: drop every
    * `(file, pos)` the DV set names, via an anti-join on the parquet
    * metadata columns. Positions are file-absolute (parquet row index), so
    * the match is exact under splits, row-group skipping, and any task
    * layout. Small DV sets (the MOR contract steady state — accumulating
    * deletes get folded into data by [[purgeDeletes]] / [[compact]]) are
    * broadcast-hinted so the anti-join is map-side and the corpus never
    * shuffles; past [[dvBroadcastThreshold]] the hint is dropped and Spark
    * plans a shuffled anti-join instead of OOMing the driver. `df` must
    * carry `_g_file`/`_g_pos` (see [[tagPos]]). */
  private def dvFilter(tagged: DataFrame, m: Manifest): DataFrame =
    if (!m.hasDvs) tagged
    else {
      val probe = dvProbe(m.dvRefs)
      tagged.join(probe,
        tagged("_g_file") === probe("file_path") && tagged("_g_pos") === probe("pos"),
        "left_anti")
    }

  /** Re-point inherited DV refs through a commit that DROPS data files
    * while keeping the DVs (COW commits over a DV'd snapshot): entries
    * masking files that leave the manifest are dead — an inherited ref
    * would keep counting them in `deletedRows` / `$snapshots.deleted_rows`
    * and its dead entries would ride every read anti-join until purge
    * (ADVICE r7 low; the documented "deleted-row arithmetic stays exact"
    * contract). One distributed O(DV entries) pass recomputes per-ref
    * live-entry counts under `keep` (an entry-level predicate over
    * `file_path`); refs left with zero live entries are dropped. Ref byte
    * sizes keep the on-disk value — the broadcast gate stays
    * conservative. */
  private def rebindDvRefs(pm: Manifest,
      keep: org.apache.spark.sql.Column): Seq[DvRef] = {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    val entries = dvEntries(pm).withColumn("_dv_src", input_file_name())
      .filter(keep)
    // DV parquet is immutable: entries killed by EARLIER rewrites are still
    // in the files and would resurface under a predicate that only knows
    // THIS commit's drops — also require the masked file to still be live
    // in the parent manifest (driver set inline; semi-join sharded)
    val live =
      if (!pm.isSharded)
        entries.filter(col("file_path").isInCollection(pm.inlineFiles))
      else entries.join(
        fileMetaDS(pm).select(col("path").as("file_path")),
        Seq("file_path"), "left_semi")
    val counts = live
      .groupBy("_dv_src").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect()
      .map { case (p, n) => new Path(p).toString -> n }.toMap
    pm.dvRefs.flatMap { r =>
      counts.get(new Path(r.path).toString) match {
        case Some(n) if n > 0 => Some(r.copy(rows = n))
        case _ => None
      }
    }
  }

  /** Zero-file read: empty frame in the declared schema, with the
    * `_g_file`/`_g_pos` address columns when a positional read asked for
    * them — a MOR delta DML over an empty or fully-pruned candidate set
    * must plan as a 0-row scan, not crash (a fresh CREATE TABLE committed
    * zero files, and MERGE INTO it is the CDC bootstrap pattern). */
  private def emptyRead(m: Manifest, withPos: Boolean): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField}
    val schema =
      if (!withPos) m.schema
      else StructType(m.schema.fields.toSeq :+
        StructField("_g_file", StringType, nullable = false) :+
        StructField("_g_pos", LongType, nullable = false))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  private def tagPos(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("_g_file", col("_metadata.file_path"))
      .withColumn("_g_pos", col("_metadata.row_index"))
  }

  private def readFilesSel(m: Manifest, files: Seq[String],
      withPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    if (files.isEmpty) return emptyRead(m, withPos)
    // sharded manifests: look the subset up in the shard relation (O(subset)
    // driver residue) and serve the same stats-pruning scan — DV'd and
    // positional reads included ([[readMetas]] shares [[finishDv]])
    if (m.isSharded) {
      val metas = metaFor(m, files)
      require(metas.size == files.distinct.size,
        s"${files.distinct.size - metas.size} files not in snapshot " +
          s"${m.version} of $root")
      return readMetas(m, metas, withPos)
    }
    val partCols = m.partitionBy.filter(m.schema.fieldNames.contains)
    val dataSchema = StructType(m.schema.filterNot(f => partCols.contains(f.name)))
    def finish(raw: DataFrame): DataFrame = finishDv(m, raw, withPos)
    // Stats-aware scan (VERDICT r4 missing #1): when every file carries
    // footer stats in the manifest, serve the scan through a pruning
    // FileIndex — pushed data filters skip files whose min/max bounds prove
    // no row can match, BEFORE any file is opened. Iceberg-style file
    // skipping on non-partition predicates.
    if (partCols.isEmpty && files.forall(m.inlineStats.contains)) {
      import org.apache.spark.sql.graftbridge.StatsScanBridge
      val refs = files.map { f =>
        val s = m.inlineStats(f)
        StatsScanBridge.FileRef(f, s.bytes, s.modTime)
      }
      return finish(StatsScanBridge.dataFrame(spark, root,
        refs.map(_.bytes).sum, dataSchema,
        filters =>
          if (filters.isEmpty) refs
          else TableStore.bucketPrune(refs, filters, m)
            .filter(r => FileStats.mightMatch(
              m.usableStat(m.inlineStats(r.path)), dataSchema, filters))))
    }
    val base = spark.read.schema(dataSchema).parquet(files: _*)
    if (partCols.isEmpty) return finish(base)
    require(!m.hasDeletes && !withPos,
      "delete vectors / positional reads are not supported on " +
        "hive-partitioned layouts")
    val withParts = partCols.foldLeft(base) { (d, c) =>
      val raw = regexp_extract(input_file_name(),
        "/" + java.util.regex.Pattern.quote(c) + "=([^/]+)/", 1)
      d.withColumn(c, when(raw === "__HIVE_DEFAULT_PARTITION__", lit(null))
        .otherwise(raw).cast(m.schema(c).dataType))
    }
    withParts.select(m.schema.fieldNames.map(col): _*)
  }

  /** Manifest-level partition pruning: read ONLY the data files of the given
    * buckets — the scan never touches (or even lists) other buckets' files,
    * the Iceberg-style file-skipping that makes a CDC merge at 100 TB read
    * O(touched partitions), not O(table). */
  def readBuckets(buckets: Seq[Long], version: Long = -1L): DataFrame = {
    val m = manifest(resolveVersion(version))
    require(m.bucketKeys.nonEmpty, s"table at $root is not bucket-partitioned")
    val bs = buckets.toSet
    if (!m.isSharded)
      readFiles(m, m.inlineFiles.filter(f => bucketOfFile(f).exists(bs.contains)))
    else {
      // two-level pruning: the manifest list names each shard's buckets, so
      // only COVERING shards are opened; their rows filter to the target
      // buckets — driver residue O(selected buckets' files)
      val covering = m.shards.filter(_.buckets.exists(bs.contains)).map(_.path)
      val metas = ManifestShards.read(spark, covering)
        .filter((fm: ManifestShards.FileMeta) => bs.contains(fm.bucket))
        .collect().toSeq
      readMetas(m, metas)
    }
  }

  /** Total data bytes of the given buckets' files at `version` — pure
    * metadata, the planning-time upper bound on rows sourced from those
    * buckets (broadcast gates size the re-join's build side from this
    * before reading anything). */
  def bucketBytes(buckets: Seq[Long], version: Long = -1L): Long = {
    val m = manifest(resolveVersion(version))
    if (m.bucketKeys.isEmpty) return Long.MaxValue
    val bs = buckets.toSet
    if (!m.isSharded)
      metaFor(m, m.inlineFiles.filter(f =>
        bucketOfFile(f).exists(bs.contains))).map(_.bytes).sum
    else {
      val covering = m.shards.filter(_.buckets.exists(bs.contains)).map(_.path)
      if (covering.isEmpty) 0L
      else ManifestShards.read(spark, covering)
        .filter((fm: ManifestShards.FileMeta) => bs.contains(fm.bucket))
        .collect().map(_.bytes).sum
    }
  }

  /** Manifest-level file diff between two committed snapshots: (added,
    * removed) data-file lists. Pure metadata — no data is listed or read.
    * Inherited files (same path in both manifests) are byte-identical by the
    * commit contract (append/incremental/replace never touch them), so rows
    * that changed between the two versions live ONLY in these lists — the
    * basis of incremental consumption at O(changed files), Iceberg's
    * incremental-scan analog on the metadata surface the reference provisions
    * (`GetTableMetadataLocation`, reference src/dynamodb-zero-etl-s3tables
    * .ts:99). */
  def changedFilesBetween(fromVersion: Long, toVersion: Long = -1L)
      : (Seq[String], Seq[String]) = {
    val fv = resolveVersion(fromVersion)
    val tv = resolveVersion(toVersion)
    require(fv <= tv, s"changedFilesBetween: from=$fv is newer than to=$tv")
    val fm = manifest(fv)
    val tm = manifest(tv)
    if (!fm.isSharded && !tm.isSharded) {
      val fromSet = fm.inlineFiles.toSet
      val toSet = tm.inlineFiles.toSet
      (tm.inlineFiles.filterNot(fromSet), fm.inlineFiles.filterNot(toSet))
    } else {
      // sharded diff: shards present in BOTH manifest lists are inherited by
      // reference — their files exist on both sides and can never appear in
      // the diff, so only differing shards are scanned (distributed), and
      // the driver collects O(changed files)
      val common = fm.shards.map(_.path).toSet
        .intersect(tm.shards.map(_.path).toSet)
      def side(m: Manifest): org.apache.spark.sql.DataFrame =
        if (m.isSharded)
          ManifestShards.read(spark,
            m.shards.map(_.path).filterNot(common)).select("path")
        else {
          val sp = spark
          import sp.implicits._
          m.inlineFiles.toDS().toDF("path")
        }
      val sp = spark
      import sp.implicits._
      val f = side(fm)
      val t = side(tm)
      val added = t.join(f, Seq("path"), "left_anti")
        .as[String].collect().toSeq
      val removed = f.join(t, Seq("path"), "left_anti")
        .as[String].collect().toSeq
      (added, removed)
    }
  }

  /** Incremental read: the rows of files ADDED between the two snapshots,
    * under the newer snapshot's schema. For append-only history this is
    * exactly the appended rows; cost is O(new files) at any table size — a
    * downstream consumer can poll the table and process only what arrived,
    * never rescanning the base. */
  def readIncremental(fromVersion: Long, toVersion: Long = -1L): DataFrame = {
    val tv = resolveVersion(toVersion)
    val (added, _) = changedFilesBetween(fromVersion, tv)
    readFiles(manifest(tv), added)
  }

  /** Row-level changelog between two snapshots of a keyed table: one row per
    * changed key with `_change_type` INSERT / UPDATE / DELETE and the
    * post-image payload (pre-image for DELETEs) — Iceberg's changelog scan,
    * the shape a downstream CDC consumer replays.
    *
    * Scale contract: only files that DIFFER between the two manifests are
    * read ([[changedFilesBetween]]). A key's rows live in its hash bucket and
    * the CDC/row-level commit paths rewrite whole buckets (or whole files via
    * [[commitReplaceFiles]]), so inherited byte-identical files cannot
    * contain changes — the diff costs O(changed partitions) + one join
    * shuffled on the key, not O(table). Rewritten-but-unchanged carry-over
    * rows are dropped by a null-safe struct comparison of the full payload.
    *
    * Sound for tables where a key's rows never migrate between files without
    * the old file leaving the manifest — true for every keyed commit path
    * here (bucketed CDC, row-level DML, compact). A bare [[commitAppend]] of
    * a key that already exists elsewhere reports that key as INSERT (append
    * is a bag operation; keyed tables are maintained through the CDC paths). */
  /** The changelog's UN-JOINED halves: rows whose containing file (or
    * delete-mask view of it) differs between the two snapshots — the
    * pre-image side read under `fromVersion`'s delete view and aligned to
    * the newer schema, the post-image side read under `toVersion`'s.
    *
    * This is the SIGNED-DELTA surface: a consumer that only needs
    * `-pre + post` contributions (an incremental aggregate) unions the
    * halves with signs and lets partial aggregation collapse them —
    * carry-over rows from content-preserving rewrites cancel in the sum,
    * so the keyed full-outer join [[readChangelog]] builds to CLASSIFY
    * changes (its single heaviest operation) is skipped entirely. */
  def changelogFrames(fromVersion: Long,
      toVersion: Long = -1L): (DataFrame, DataFrame) = {
    val fv = resolveVersion(fromVersion)
    val tv = resolveVersion(toVersion)
    val (added, removed) = changelogFileDiff(fv, tv)
    changelogFramesNarrow(fv, tv, added, removed)
      .getOrElse(changelogFramesFor(fv, tv, added, removed))
  }

  /** NARROW changelog for forward masked spans (optimization guide
    * §1.2/§2.3 — don't read what you can derive from the masks): when the
    * span's only mask changes are NEW equality deletes of one key shape,
    * or NEW delete vectors (never both, nothing un-masked, no rebase), the
    * signed delta `post ⊖ pre` of the full replay is EXACTLY
    *   pre  = rows the new masks newly hide — live at `fv`, keyed-semi
    *          against the new delete keys (or positional-semi against the
    *          new DV entries) — ∪ rows of genuinely removed files,
    *   post = rows of genuinely added files under `tv`'s view,
    * because a mask-candidate file's bytes are identical on both sides, so
    * its pre/post live sets differ only by the newly masked rows. The full
    * replay reads every candidate file TWICE (once per mask view) and nets
    * table-sized frames downstream; this reads candidates ONCE and emits
    * O(churned rows). The equivalence is an exact multiset identity, so
    * every consumer shape is preserved: signed aggregation, full-row
    * netting (carry-over rows appear on neither side here instead of
    * cancelling), and keyed pre/post classification ([[readChangelog]]).
    * None = the span shape does not qualify — callers fall back to the
    * full two-sided read. `spark.graft.changelog.narrowEqSpans=false`
    * disables (A/B kill-switch). */
  private[graft] def changelogFramesNarrow(fv: Long, tv: Long,
      added: Seq[String], removed: Seq[String])
      : Option[(DataFrame, DataFrame)] = {
    import org.apache.spark.sql.functions._
    if (!spark.conf.getOption("spark.graft.changelog.narrowEqSpans")
        .forall(_.toBoolean)) return None
    val fm = manifest(fv)
    val tm = manifest(tv)
    val tmDvPaths = tm.dvRefs.map(_.path).toSet
    if (fm.dvRefs.exists(r => !tmDvPaths(r.path)))
      return None // un-masking (rollback): resurfaced rows live in common files
    val tmEqPaths = tm.eqRefs.map(_.path).toSet
    if (fm.eqRefs.exists(r => !tmEqPaths(r.path)))
      return None // un-masking, eq side
    if (fm.fileVersions.nonEmpty || tm.fileVersions.nonEmpty)
      return None // rebased files: version arithmetic needs the overrides
    val fmEqPaths = fm.eqRefs.map(_.path).toSet
    val fmDvPaths = fm.dvRefs.map(_.path).toSet
    val newEq = tm.eqRefs.filterNot(r => fmEqPaths(r.path))
    val newDv = tm.dvRefs.filterNot(r => fmDvPaths(r.path))
    if (newEq.isEmpty && newDv.isEmpty)
      return None // no mask diff: the plain diff is already narrow
    if (newEq.nonEmpty && newDv.nonEmpty)
      return None // mixed mask kinds: one semi-join cannot dedupe overlaps
    val colSets = newEq.map(r =>
      if (r.cols.nonEmpty) r.cols else tm.bucketKeys).distinct
    if (colSets.size > 1)
      return None // mixed key shapes: one semi-join cannot dedupe overlaps
    if (newEq.nonEmpty && (colSets.head.isEmpty ||
        !colSets.head.forall(f => fm.schema.fieldNames.contains(f) &&
          tm.schema.fieldNames.contains(f)))) return None
    val addedSet = added.toSet
    val removedSet = removed.toSet
    val candidates = added.filter(removedSet) // mask-changed, on both sides
    val added0 = added.filterNot(removedSet)
    val removed0 = removed.filterNot(addedSet)
    val tagged = readFilesWithPos(fm, candidates)
    val newlyMasked =
      if (newEq.nonEmpty) {
        // new delete keys collapsed to max(since) per key — the read-side
        // eqFilter's own probe
        val cols = colSets.head
        val probe = eqProbe(tm, cols, newEq)
        val withV = tagged.withColumn("_g_snapv",
          regexp_extract(col("_g_file"), "/snap-(\\d+)-", 1).cast("long"))
        val cond = cols.map(k => withV(k) === probe(k)).reduce(_ && _) &&
          withV("_g_snapv") < probe("_eq_since")
        withV.join(probe, cond, "left_semi").drop("_g_snapv")
      } else {
        // new DV entries are exact (file, pos) row addresses
        val probe = dvProbe(newDv)
        tagged.join(probe,
          tagged("_g_file") === probe("file_path") &&
            tagged("_g_pos") === probe("pos"), "left_semi")
      }
    val preRaw = newlyMasked.drop("_g_file", "_g_pos")
      .select(fm.schema.fieldNames.map(col): _*)
      .unionByName(readFiles(fm, removed0))
    Some((alignPreImage(fm, tm, preRaw), readFiles(tm, added0)))
  }

  /** [[changelogFrames]] with the file diff already in hand — so a caller
    * that priced the replay via [[changelogFileDiff]] does not re-derive
    * the DV/eq-affected file sets (each a small Spark job). */
  private[graft] def changelogFramesFor(fv: Long, tv: Long,
      added: Seq[String], removed: Seq[String]): (DataFrame, DataFrame) = {
    val fm = manifest(fv)
    val tm = manifest(tv)
    val pre = alignPreImage(fm, tm, readFiles(fm, removed))
    val post = readFiles(tm, added)
    (pre, post)
  }

  /** Pre-image rows are read under their OWN manifest (schema + stats),
    * then aligned to the newer schema: renamed columns re-map by FIELD ID
    * (identity survives ALTER TABLE RENAME), evolved columns NULL-pad,
    * widened types up-cast — the same merge-on-read rules the table uses. */
  private def alignPreImage(fm: Manifest, tm: Manifest,
      pre0raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val pre0 = pre0raw.select(fm.schema.fields.map { f =>
      val fid = fieldId(f)
      val target = (if (fid >= 0)
        tm.schema.fields.find(g => fieldId(g) == fid) else None)
        .map(_.name).getOrElse(f.name)
      col(f.name).as(target)
    }: _*)
    tm.schema.fields.foldLeft(pre0) { (df, f) =>
      if (pre0.columns.contains(f.name))
        df.withColumn(f.name, col(f.name).cast(f.dataType))
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(tm.schema.fieldNames.map(col): _*)
  }

  /** The file lists [[changelogFrames]] reads — pre-image files under the
    * older snapshot, post-image files under the newer — including the
    * files whose EFFECTIVE content changed through delete-vector or
    * equality-delete diffs. Exposed separately so a consumer can price a
    * replay (O(changed files)) against a full rescan BEFORE reading
    * anything: the counts are driver-resident metadata. */
  private[graft] def changelogFileDiff(fromVersion: Long,
      toVersion: Long): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions._
    val fv = resolveVersion(fromVersion)
    val tv = resolveVersion(toVersion)
    val fm = manifest(fv)
    val tm = manifest(tv)
    val (added0, removed0) = changedFilesBetween(fv, tv)
    // Delete vectors change a file's EFFECTIVE content without touching its
    // path: rows masked by DV files that differ between the two snapshots
    // would otherwise be invisible to the file diff. The diff is SYMMETRIC
    // (ADVICE r7 high): DVs ADDED are new deletes, DVs REMOVED while their
    // data files stay in place — exactly what [[rollbackTo]] past a
    // deleteMor/updateMor/upsertMor commit produces — are un-done deletes,
    // and missing either side loses DELETE or INSERT rows. Treat every data
    // file such a DV masks — still present on both sides — as changed: the
    // pre-image reads it under fm's DV view, the post-image under tm's, and
    // the keyed join emits the DELETEs/INSERTs. O(differing DV entries)
    // driver residue.
    val fmDvPaths = fm.dvRefs.map(_.path).toSet
    val tmDvPaths = tm.dvRefs.map(_.path).toSet
    val diffDvPaths = tm.dvRefs.map(_.path).filterNot(fmDvPaths) ++
      fm.dvRefs.map(_.path).filterNot(tmDvPaths)
    val dvChanged: Seq[String] =
      if (diffDvPaths.isEmpty) Nil
      else {
        val sp = spark
        import sp.implicits._
        val masked = spark.read.schema(TableStore.DvSchema)
          .parquet(diffDvPaths: _*)
          .select("file_path").distinct().as[String].collect().toSeq
        // only files present in BOTH snapshots: a masked file that was also
        // added/removed is already in the diff
        val inTm =
          if (!tm.isSharded) masked.filter(tm.inlineFiles.toSet)
          else metaFor(tm, masked).map(_.path)
        if (!fm.isSharded) inTm.filter(fm.inlineFiles.toSet)
        else metaFor(fm, inTm).map(_.path)
      }
    // Equality deletes are the same class of invisible change: keys in eq
    // files that differ between the snapshots mask rows in every
    // pre-`since` file of the buckets those keys hash into, without
    // touching any path. Candidate files (present on both sides, in an
    // affected bucket, older than the newest differing delete) are read
    // under each side's own delete view, and the keyed join emits the
    // DELETEs/INSERTs — an over-approximation only adds rows that diff to
    // nothing. O(differing eq keys) bucket derivation, bucket-pruned file
    // residue.
    val eqChanged: Seq[String] = {
      val fmEq = fm.eqRefs.toSet
      val tmEq = tm.eqRefs.toSet
      val diffEq = tm.eqRefs.filterNot(fmEq) ++ fm.eqRefs.filterNot(tmEq)
      if (diffEq.isEmpty) Nil
      else {
        val sp = spark
        import sp.implicits._
        val bKeys = tm.bucketKeys
        // PARTIAL-KEY diffs don't determine buckets (the bucket hash needs
        // every key column) — widen those to every bucket; an
        // over-approximation only adds rows that diff to nothing
        val (prefixDiff, fullDiff) = diffEq.partition(r =>
          r.cols.nonEmpty && r.cols != bKeys)
        val fullBuckets: Set[Long] =
          if (fullDiff.isEmpty) Set.empty
          else spark.read.schema(eqKeySchema(tm))
            .parquet(fullDiff.map(_.path).distinct: _*)
            .select(bucketExpr(bKeys, tm.numBuckets).as("b"))
            .distinct().as[Long].collect().toSet
        val buckets =
          if (prefixDiff.nonEmpty) (0L until tm.numBuckets.toLong).toSet
          else fullBuckets
        val maxSince = diffEq.map(_.since).max
        // a REBASED file's effective commit version is the manifest
        // override, not the path-derived one ([[rebaseBranch]])
        val cand = bucketFilePaths(fm, buckets).filter(f =>
          fm.fileVersions.get(f).orElse(snapVersionOfFile(f))
            .exists(_ < maxSince))
        if (!tm.isSharded) cand.filter(tm.inlineFiles.toSet)
        else metaFor(tm, cand).map(_.path)
      }
    }
    // distinct: a file masked by BOTH a DV diff and an eq-affected bucket
    // would otherwise be listed twice, duplicating its rows in the keyed
    // diff (removed0/added0 are disjoint from the mask sets by the
    // present-in-both-snapshots filters above)
    val added = (added0 ++ dvChanged ++ eqChanged).distinct
    val removed = (removed0 ++ dvChanged ++ eqChanged).distinct
    TableStore.noteDiffSizes(this, fv, tv, (added.size, removed.size))
    (added, removed)
  }

  def readChangelog(fromVersion: Long, toVersion: Long = -1L,
      keyCols: Seq[String] = Nil, updatePreImages: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    val tm = manifest(resolveVersion(toVersion))
    val keys = if (keyCols.nonEmpty) keyCols else tm.bucketKeys
    require(keys.nonEmpty,
      "changelog needs key columns: a bucketed table or explicit keyCols")
    require(keys.forall(tm.schema.fieldNames.contains),
      s"changelog keys $keys not in table schema")
    val (pre, post) = changelogFrames(fromVersion, toVersion)
    val payload = tm.schema.fieldNames.filterNot(keys.contains).toSeq
    val preR = pre.select(keys.map(col) ++
      payload.map(c => col(c).as(s"_pre_$c")) :+
      lit(true).as("_pre_exists"): _*)
    val postR = post.select(keys.map(col) ++
      payload.map(c => col(c).as(s"_post_$c")) :+
      lit(true).as("_post_exists"): _*)
    val j = postR.join(preR, keys, "full_outer")
    val preImg = struct(payload.map(c => col(s"_pre_$c")): _*)
    val postImg = struct(payload.map(c => col(s"_post_$c")): _*)
    val changeType = when(col("_pre_exists").isNull, lit("INSERT"))
      .when(col("_post_exists").isNull, lit("DELETE"))
      .when(postImg <=> preImg, lit(null)) // carry-over: rewritten, unchanged
      .otherwise(lit("UPDATE"))
    val typed = j.withColumn("_change_type", changeType)
      .filter(col("_change_type").isNotNull)
    if (!updatePreImages)
      typed.select((col("_change_type") +: keys.map(col)) ++ payload.map(c =>
        when(col("_change_type") === "DELETE", col(s"_pre_$c"))
          .otherwise(col(s"_post_$c")).as(c)): _*)
    else {
      // Iceberg-changelog shape: an UPDATE emits update_preimage +
      // update_postimage rows — the pre-image is what an index/aggregate
      // maintainer needs to RETRACT the old state (a GSI must delete the
      // entry under the OLD index-key value). Three projections over one
      // join; the exchange is reused across the union branches.
      def proj(types: Seq[String], tag: String, prefix: String) =
        typed.filter(col("_change_type").isin(types: _*))
          .select((lit(tag).as("_change_type") +: keys.map(col)) ++
            payload.map(c => col(s"$prefix$c").as(c)): _*)
      proj(Seq("INSERT"), "INSERT", "_post_")
        .unionByName(proj(Seq("DELETE"), "DELETE", "_pre_"))
        .unionByName(proj(Seq("UPDATE"), "UPDATE_PRE", "_pre_"))
        .unionByName(proj(Seq("UPDATE"), "UPDATE_POST", "_post_"))
    }
  }

  /** Paths an EXTERNAL scanner (the V2 catalog's stock parquet table)
    * should read for snapshot `version`:
    *   - bucketed tables → ALWAYS the leaf files, even when they sit under a
    *     single snap dir: a dir scan would partition-discover the derived
    *     `_gbucket=N` dirs and graft a phantom internal column onto the
    *     table schema (ADVICE r4 medium);
    *   - all files under the manifest's own dir → that single hive root
    *     (partition columns discovered from dirs, pruning intact);
    *   - multi-dir with no in-schema partition columns (plain layouts —
    *     payload complete inside the files) → the leaf files;
    *   - multi-dir hive layout where every inherited dir is fully referenced
    *     (appends onto a partitioned table) → the set of snap dirs;
    *   - multi-dir hive layout with a PARTIALLY referenced dir → refused
    *     loudly: a stock parquet scan over leaf files cannot recover the
    *     path-encoded partition values (Spark's discovery rejects multiple
    *     hive roots as CONFLICTING_DIRECTORY_STRUCTURES, and omitting
    *     `basePath` would silently NULL the partition columns). The shape is
    *     unreachable via any commit path today; [[readSnapshot]] reads it
    *     correctly (per-file path recovery) and [[compact]] normalizes the
    *     layout for external scanners.
    * Mirrors [[readSnapshot]]'s resolution for engines that can only take
    * paths + schema. */
  def scanPaths(version: Long = -1L): Seq[String] = {
    val m = manifest(resolveVersion(version))
    require(!m.hasDeletes,
      s"snapshot ${m.version} carries delete vectors / equality deletes; a " +
        "raw path list would resurrect deleted rows — purgeDeletes()/" +
        "compact() first, or read through TableStore")
    val qloc = fs.makeQualified(new Path(m.location)).toString
    // sharded manifests hand the external engine the full leaf list — an
    // O(#files) EXPORT by definition (counts as a driver materialization)
    if (m.isSharded) return filesOf(m)
    if (m.bucketKeys.nonEmpty) m.inlineFiles
    else if (m.inlineFiles.forall(_.startsWith(qloc))) Seq(m.location)
    else {
      val schemaParts = m.partitionBy.filter(m.schema.fieldNames.contains)
      if (schemaParts.isEmpty) m.inlineFiles
      else {
        val dirs = m.inlineFiles.groupBy(TableStore.snapDirOfFile)
        require(dirs.forall { case (d, fl) =>
          listDataFiles(new Path(d)).toSet == fl.toSet },
          s"snapshot ${m.version} of the hive-partitioned table at $root " +
            "references only part of a snapshot dir; external scanners cannot " +
            "recover path-encoded partition values from leaf files — read it " +
            "via TableStore.readSnapshot, or compact() to normalize the layout")
        dirs.keys.toSeq
      }
    }
  }

  /** Commit the full table hash-bucketed on `keys` into `numBuckets` hive
    * partitions (`_gbucket=<b>` dirs). The bucket column is derived
    * (hash(keys) % numBuckets), never stored: data files carry payload
    * columns only and the manifest records the bucketing spec, so readers
    * reconstruct or prune on it from metadata alone. */
  /** `cluster = false` skips the pre-write bucket repartition — for callers
    * that ALREADY arranged the frame (compact's sort/z-order clustering,
    * whose within-partition order a fresh hash shuffle would destroy). */
  def commitBucketed(df: DataFrame, keys: Seq[String], numBuckets: Int,
      expectedParent: Option[Long] = None,
      props: Map[String, String] = Map.empty,
      cluster: Boolean = true): Long =
    stageBucketed(df, keys, numBuckets, expectedParent, props, cluster)()

  /** [[commitBucketed]] split into STAGE (the data write + manifest
    * metadata — all the expensive jobs) and COMMIT (the atomic manifest
    * swap, returned as a closure). The derivative-create paths overlap
    * the stage with their read-only validation gates and swap the
    * reader-resolvable manifest in only after every gate passed — the
    * gates stop serializing the build (guide §2.6) while "a failed
    * create leaves nothing a reader resolves" is preserved (an
    * un-committed staged dir is swept with the artifact root on the
    * failure path). */
  private[graft] def stageBucketed(df: DataFrame, keys: Seq[String],
      numBuckets: Int,
      expectedParent: Option[Long] = None,
      props: Map[String, String] = Map.empty,
      cluster: Boolean = true): () => Long = {
    require(keys.nonEmpty && numBuckets > 0, "bucketed commit needs keys and buckets")
    val parent = checkParent(expectedParent)
    val next = parent + 1
    val pmOpt = if (parent >= 0) Some(manifest(parent)) else None
    val idFloor = pmOpt.map(_.highestFieldId).getOrElse(0L)
    val idSchema = withFieldIds(df.schema, pmOpt.map(_.schema), idFloor)
    val snapDir = new Path(dataDir, s"snap-$next-${stagingSuffix()}")
    beginStaging(snapDir) // pin against a concurrent vacuum sweep
    // CLUSTER BY BUCKET before the partitioned write (same hygiene the
    // trickle-commit path got in r8): without it every task holds rows of
    // most buckets and partitionBy writes task×bucket files — a 32-task
    // input over 64 buckets is ~2k files per commit, and the file-count
    // tax compounds into every later read/refresh (measured: the join
    // view's ALL-projection index create dropped 26.4 s → ~6 s from this
    // one repartition). One shuffle, one file per bucket; at real scale
    // `spark.sql.files.maxRecordsPerFile` re-splits oversized buckets.
    val withBucket = applyFieldIds(df, idSchema)
      .withColumn(BucketCol, bucketExpr(keys, numBuckets))
    (if (cluster)
      withBucket.repartition(numBuckets,
        org.apache.spark.sql.functions.col(BucketCol))
     else withBucket)
      .write.mode(SaveMode.Overwrite).options(bloomWriteOptions)
      .partitionBy(BucketCol)
      .parquet(snapDir.toString)
    val tier = freshManifestMeta(snapDir, idSchema, next, bucketedDirs = true)
    val m = Manifest(next, parent, idSchema, snapDir.toString,
      tier.inlineFiles, Seq(BucketCol), System.currentTimeMillis(),
      keys, numBuckets, inlineStats = tier.inlineStats,
      props = props, shards = tier.shards,
      maxFieldId = idMax(idSchema, idFloor))
    () => commitOrCleanup(m, snapDir, tier.newShardDir)
  }

  /** Incremental (partition-targeted) commit: `changed` is the NEW content of
    * exactly the `touched` buckets; every other bucket's data files are
    * inherited from the parent manifest at their existing paths — untouched
    * partitions are never rewritten (VERDICT r3 #1: the full-snapshot rewrite
    * was quadratic write amplification under a continuous change feed).
    * Schema may WIDEN (new columns appended): inherited files simply lack the
    * new columns and read back as NULL. */
  def commitIncremental(changed: DataFrame, touched: Seq[Long],
      expectedParent: Option[Long] = None,
      props: Map[String, String] = Map.empty,
      dropDvs: Boolean = false): Long = {
    val parent = checkParent(expectedParent)
    require(parent >= 0, "incremental commit requires an existing snapshot")
    val pm = manifest(parent)
    require(pm.bucketKeys.nonEmpty,
      s"incremental commit requires a bucketed table (commitBucketed first)")
    pm.schema.fields.foreach { f =>
      val nf = changed.schema.fields.find(_.name == f.name)
      require(nf.nonEmpty, s"incremental commit dropped column ${f.name}")
      // same type, or a widening the parquet reader applies on read
      // (mid-stream type evolution: inherited files keep the narrow type,
      // the manifest records the wide one — merge-on-read, VERDICT r4 #5).
      // BUCKET KEYS are exempt from widening entirely: row placement is
      // xxhash64 of the key VALUE AS TYPED (Spark hashes a long and the
      // equal decimal to different values), so a widened key would compute
      // different buckets for existing rows — duplicate/lost keys. A key
      // type change must rebucket via a full rewriting commit.
      if (pm.bucketKeys.contains(f.name))
        require(nf.get.dataType == f.dataType,
          s"incremental commit changed type of BUCKET KEY ${f.name}: " +
            s"${f.dataType} -> ${nf.get.dataType}; key hashes are " +
            "type-sensitive — rebucket with a full commitBucketed instead")
      else
        require(nf.get.dataType == f.dataType ||
          mergeOnReadWiden(f.dataType, nf.get.dataType),
          s"incremental commit changed type of ${f.name}: ${f.dataType} -> " +
            s"${nf.get.dataType} is not a merge-on-read widening")
    }
    val next = parent + 1
    val idSchema = withFieldIds(changed.schema, Some(pm.schema),
      pm.highestFieldId, inheritsParentFiles = true)
    val snapDir = new Path(dataDir, s"snap-$next-${stagingSuffix()}")
    beginStaging(snapDir) // pin against a concurrent vacuum sweep
    applyFieldIds(changed, idSchema)
      .withColumn(BucketCol, bucketExpr(pm.bucketKeys, pm.numBuckets))
      .write.mode(SaveMode.Overwrite).options(bloomWriteOptions)
      .partitionBy(BucketCol)
      .parquet(snapDir.toString)
    val touchedSet = touched.toSet
    val tier: MetaTier =
      if (pm.isSharded) {
        // shard-level inheritance: shards covering NO touched bucket carry
        // over by reference (zero metadata I/O); shards that mix touched and
        // untouched buckets are rewritten keeping only untouched rows, and
        // the fresh files join them in the new shard set. Metadata write
        // volume is O(touched buckets), never O(#files).
        val inheritedRefs = pm.shards.filter(_.buckets.forall(b =>
          !touchedSet.contains(b)))
        val inheritedPaths = inheritedRefs.map(_.path).toSet
        val mixed = pm.shards.filterNot(r => inheritedPaths(r.path))
        val keep = ManifestShards.read(spark, mixed.map(_.path))
          .filter((fm: ManifestShards.FileMeta) => !touchedSet.contains(fm.bucket))
        val combined = keep.union(
          freshMetaDS(snapDir, idSchema, bucketedDirs = true)).persist()
        try {
          val t = shardTier(combined, combined.count(), next)
          t.copy(shards = inheritedRefs ++ t.shards)
        } finally { combined.unpersist(); () }
      } else {
        val inherited = pm.inlineFiles.filter(f =>
          bucketOfFile(f).exists(b => !touchedSet.contains(b)))
        val fresh = listDataFiles(snapDir)
        if (inherited.size + fresh.size <= inlineThreshold) {
          val inheritedSet = inherited.toSet
          MetaTier(inherited ++ fresh,
            pm.inlineStats.filter(kv => inheritedSet(kv._1)) ++
              FileStats.collect(spark, fresh, idSchema), Nil, None)
        } else {
          // one-time tier transition: the table outgrew the inline manifest
          val combined = ManifestShards
            .metaFromInline(spark, inherited, pm.inlineStats)
            .union(ManifestShards.metaFromFiles(spark, fresh, idSchema))
          shardTier(combined, (inherited.size + fresh.size).toLong, next)
        }
      }
    // inherited DVs: entries masking the REWRITTEN buckets' files are dead
    // (those files left the manifest) — re-count refs against the surviving
    // buckets so deleted-row arithmetic stays exact (ADVICE r7 low)
    val keptDvs =
      if (dropDvs || !pm.hasDvs) Nil
      else {
        import org.apache.spark.sql.functions.{col, regexp_extract}
        val b = regexp_extract(col("file_path"),
          java.util.regex.Pattern.quote(BucketCol) + "=(\\d+)/", 1)
        rebindDvRefs(pm,
          b =!= "" && !b.cast("long").isin(touched.map(Long.box): _*))
      }
    val m = Manifest(next, parent, idSchema, snapDir.toString,
      tier.inlineFiles, Seq(BucketCol),
      System.currentTimeMillis(), pm.bucketKeys, pm.numBuckets,
      inlineStats = tier.inlineStats, props = props, shards = tier.shards,
      droppedCols = pm.droppedCols,
      maxFieldId = idMax(idSchema, pm.highestFieldId),
      dvRefs = keptDvs,
      // equality deletes survive partial rewrites untouched: they mask only
      // files OLDER than their commit, and this commit's fresh files are
      // newer — while inherited untouched-bucket files still need the mask.
      // Rebased-file version overrides ride along with them (an inherited
      // file's effective version must not fall back to its path segment);
      // once the eq masks drop, the overrides are inert — every future eq
      // commit's `since` exceeds the current head, hence every override.
      eqRefs = if (dropDvs) Nil else pm.eqRefs,
      fileVersions = if (dropDvs) Map.empty else pm.fileVersions)
    commitOrCleanup(m, snapDir, tier.newShardDir)
  }

  /** Highest id across schema and floor — the next manifest's high-water. */
  private def idMax(schema: StructType, floor: Long): Long =
    math.max(floor, schema.fields.map(TableStore.fieldId).foldLeft(0L)(math.max))

  /** Fresh snap-dir metadata as a Dataset (sharded commit paths). */
  private def freshMetaDS(snapDir: Path, schema: StructType,
      bucketedDirs: Boolean)
      : org.apache.spark.sql.Dataset[ManifestShards.FileMeta] = {
    if (bucketedDirs) {
      val dirs = fs.listStatus(snapDir).filter(_.isDirectory)
        .map(_.getPath.toString).toSeq
      if (dirs.size > TableStore.DriverListCutoff)
        return ManifestShards.metaFromDirs(spark, dirs, schema)
    }
    ManifestShards.metaFromFiles(spark, listDataFiles(snapDir), schema)
  }

  /** Append-only commit (`INSERT INTO` semantics): ONLY `df` is written as
    * new data files; the manifest inherits every parent file at its existing
    * path. Write volume is O(new data) at any table size — the append path
    * never rewrites, the same file-reuse contract as [[commitIncremental]].
    * Layout follows the parent: bucketed tables bucket the new rows,
    * hive-partitioned tables extend the hive layout. Schema must match the
    * parent exactly (use alter/evolve paths to widen first). */
  def commitAppend(df: DataFrame, expectedParent: Option[Long] = None,
      props: Map[String, String] = Map.empty): Long = {
    val parent = checkParent(expectedParent)
    require(parent >= 0, "append requires an existing table snapshot")
    val pm = manifest(parent)
    require(df.schema.fieldNames.sorted.toSeq == pm.schema.fieldNames.sorted.toSeq,
      s"append schema mismatch: ${df.schema.fieldNames.toSeq} vs ${pm.schema.fieldNames.toSeq}")
    pm.schema.fields.foreach { f =>
      require(df.schema(f.name).dataType == f.dataType,
        s"append type mismatch on ${f.name}: ${df.schema(f.name).dataType} vs ${f.dataType}")
    }
    val aligned = applyFieldIds(df.select(pm.schema.fieldNames.map(
      org.apache.spark.sql.functions.col): _*), pm.schema)
    val next = parent + 1
    val snapDir = new Path(dataDir, s"snap-$next-${stagingSuffix()}")
    beginStaging(snapDir) // pin against a concurrent vacuum sweep
    if (pm.bucketKeys.nonEmpty)
      aligned.withColumn(BucketCol, bucketExpr(pm.bucketKeys, pm.numBuckets))
        .write.mode(SaveMode.Overwrite).options(bloomWriteOptions)
        .partitionBy(BucketCol)
        .parquet(snapDir.toString)
    else {
      val w = aligned.write.mode(SaveMode.Overwrite).options(bloomWriteOptions)
      (if (pm.partitionBy.nonEmpty) w.partitionBy(pm.partitionBy: _*) else w)
        .parquet(snapDir.toString)
    }
    val tier: MetaTier =
      if (pm.isSharded) {
        // append inherits EVERY parent shard by reference; only the new
        // files' metadata is collected and written — O(new data)
        val t = {
          val ds = freshMetaDS(snapDir, pm.schema, pm.bucketKeys.nonEmpty)
            .persist()
          try shardTier(ds, ds.count(), next)
          finally { ds.unpersist(); () }
        }
        t.copy(shards = pm.shards ++ t.shards)
      } else {
        val fresh = listDataFiles(snapDir)
        if (pm.inlineFiles.size + fresh.size <= inlineThreshold)
          MetaTier(pm.inlineFiles ++ fresh,
            pm.inlineStats ++ FileStats.collect(spark, fresh, pm.schema),
            Nil, None)
        else if (pm.partitionBy.filter(pm.schema.fieldNames.contains).nonEmpty) {
          // hive layouts stay inline (see commitSnapshot)
          MetaTier(pm.inlineFiles ++ fresh,
            pm.inlineStats ++ FileStats.collect(spark, fresh, pm.schema),
            Nil, None)
        } else {
          val combined = ManifestShards
            .metaFromInline(spark, pm.inlineFiles, pm.inlineStats)
            .union(ManifestShards.metaFromFiles(spark, fresh, pm.schema))
          shardTier(combined, (pm.inlineFiles.size + fresh.size).toLong, next)
        }
      }
    val m = Manifest(next, parent, pm.schema, snapDir.toString,
      tier.inlineFiles, pm.partitionBy,
      System.currentTimeMillis(), pm.bucketKeys, pm.numBuckets,
      inlineStats = tier.inlineStats, props = props, shards = tier.shards,
      droppedCols = pm.droppedCols, maxFieldId = pm.highestFieldId,
      dvRefs = pm.dvRefs, eqRefs = pm.eqRefs)
    commitOrCleanup(m, snapDir, tier.newShardDir)
  }

  /** File-level copy-on-write commit (plain layouts): `replacement` is the
    * NEW content of exactly the rows that lived in `replaced` files; every
    * other data file is inherited at its existing path. The SQL DELETE fast
    * path uses it on non-bucketed tables after stats pruning — write volume
    * is O(files that might match), not O(table). Not offered for hive
    * layouts: replacing part of a snap dir would create the partial-inherit
    * shape external scanners cannot serve (see [[scanPaths]]). */
  def commitReplaceFiles(replaced: Seq[String], replacement: DataFrame,
      expectedParent: Option[Long] = None, dropDvs: Boolean = false,
      props: Map[String, String] = Map.empty): Long = {
    val parent = checkParent(expectedParent)
    require(parent >= 0, "file-replace commit requires an existing snapshot")
    val pm = manifest(parent)
    require(pm.bucketKeys.isEmpty,
      "bucketed tables replace at bucket granularity (commitIncremental)")
    require(pm.partitionBy.filter(pm.schema.fieldNames.contains).isEmpty,
      "hive-partitioned tables cannot replace single files; rewrite partitions")
    val replacedSet = replaced.toSet
    if (!pm.isSharded)
      require(replacedSet.subsetOf(pm.inlineFiles.toSet),
        "replaced files must belong to the parent snapshot")
    val next = parent + 1
    val snapDir = new Path(dataDir, s"snap-$next-${stagingSuffix()}")
    beginStaging(snapDir) // pin against a concurrent vacuum sweep
    applyFieldIds(replacement.select(pm.schema.fieldNames.map(
        org.apache.spark.sql.functions.col): _*), pm.schema)
      .write.mode(SaveMode.Overwrite).options(bloomWriteOptions)
      .parquet(snapDir.toString)
    val tier: MetaTier =
      if (pm.isSharded) {
        // locate the shards holding replaced entries via their scan
        // provenance; untouched shards inherit by reference, affected ones
        // are rewritten without the replaced rows — O(affected shards)
        val sp = spark
        import sp.implicits._
        import org.apache.spark.sql.functions.{broadcast, input_file_name}
        val repDF = replaced.toDS().toDF("path")
        val hits = spark.read.schema(ManifestShards.schema)
          .parquet(pm.shards.map(_.path): _*)
          .withColumn("_src", input_file_name())
          .join(broadcast(repDF), "path")
          .select("_src", "path").as[(String, String)].collect()
        require(hits.map(_._2).distinct.length == replacedSet.size,
          "replaced files must belong to the parent snapshot")
        val affected = hits.map(h => new Path(h._1).toString).toSet
        val inheritedRefs = pm.shards.filterNot(r => affected(r.path))
        val keep = ManifestShards.read(spark, affected.toSeq)
          .filter((fm: ManifestShards.FileMeta) => !replacedSet(fm.path))
        val combined = keep.union(
          freshMetaDS(snapDir, pm.schema, bucketedDirs = false)).persist()
        try {
          val t = shardTier(combined, combined.count(), next)
          t.copy(shards = inheritedRefs ++ t.shards)
        } finally { combined.unpersist(); () }
      } else {
        val kept = pm.inlineFiles.filterNot(replacedSet)
        val fresh = listDataFiles(snapDir)
        val keptSet = kept.toSet
        if (kept.size + fresh.size <= inlineThreshold)
          MetaTier(kept ++ fresh,
            pm.inlineStats.filter(kv => keptSet(kv._1)) ++
              FileStats.collect(spark, fresh, pm.schema), Nil, None)
        else {
          val combined = ManifestShards
            .metaFromInline(spark, kept, pm.inlineStats)
            .union(ManifestShards.metaFromFiles(spark, fresh, pm.schema))
          shardTier(combined, (kept.size + fresh.size).toLong, next)
        }
      }
    // inherited DVs: entries masking REPLACED files are dead — re-count
    // refs against the surviving file set (ADVICE r7 low)
    val keptDvs =
      if (dropDvs || !pm.hasDvs) Nil
      else rebindDvRefs(pm, !org.apache.spark.sql.functions.col("file_path")
        .isInCollection(replacedSet))
    val m = Manifest(next, parent, pm.schema, snapDir.toString,
      tier.inlineFiles, pm.partitionBy, System.currentTimeMillis(),
      inlineStats = tier.inlineStats, shards = tier.shards, props = props,
      droppedCols = pm.droppedCols, maxFieldId = pm.highestFieldId,
      dvRefs = keptDvs, eqRefs = if (dropDvs) Nil else pm.eqRefs,
      fileVersions = if (dropDvs) Map.empty else pm.fileVersions)
    commitOrCleanup(m, snapDir, tier.newShardDir)
  }

  // ------------------------------------------- merge-on-read row-level DML

  /** Resolve a user predicate against the snapshot schema into conjuncts of
    * `AttributeReference`/`Literal` form — the shape the stats pruner and
    * bucket derivation consume (a raw `Column` carries unresolved
    * attributes, which would conservatively prune nothing). */
  private def resolveCond(m: Manifest,
      cond: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
      .filter(cond)
    probe.queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.toSeq.flatMap(TableStore.splitConjuncts)
  }

  /** MERGE-ON-READ DELETE: commit a positional delete vector instead of
    * rewriting data. Write volume is O(matched rows) DV entries — KBs where
    * copy-on-write rewrites whole buckets — at the price of a read-side
    * anti-join until [[purgeDeletes]] or [[compact]] folds the deletes in
    * (Iceberg v2 positional deletes / Delta deletion vectors, the
    * delete-heavy end of the reference's managed-table maintenance
    * spectrum). The matched positions are computed on the DV-APPLIED view,
    * so entries never repeat across commits and deleted-row counts stay
    * exact. Works on both metadata tiers — candidate files come from the
    * (distributed, for sharded manifests) stats/bucket pruner and DV refs
    * ride the snapshot pointer, so the commit is O(matched rows) at any
    * table size. Non-hive layouts only; a no-match delete commits nothing.
    * Returns the new version (or the current one if nothing matched). */
  def deleteMor(cond: org.apache.spark.sql.Column,
      expectedParent: Option[Long] = None,
      props: Map[String, String] = Map.empty): Long = {
    val parent = checkParent(expectedParent)
    require(parent >= 0, "merge-on-read delete requires an existing snapshot")
    val pm = manifest(parent)
    require(pm.partitionBy.filter(pm.schema.fieldNames.contains).isEmpty,
      "delete vectors are not supported on hive-partitioned layouts")
    val exprs = resolveCond(pm, cond)
    val candidates = pruneCandidatePaths(pm, exprs)
    if (candidates.isEmpty) return parent
    val next = parent + 1
    val snapDir = new Path(dataDir, s"snap-$next-${stagingSuffix()}")
    beginStaging(snapDir)
    val newRefs = writeDv(pm, cond, candidates, snapDir)
    if (newRefs.isEmpty) { // predicate matched no live row: no-op
      fs.delete(snapDir, true); endStaging(snapDir); return parent
    }
    val m = pm.copy(version = next, parent = parent,
      location = snapDir.toString, committedAtMs = System.currentTimeMillis(),
      props = props, dvRefs = pm.dvRefs ++ newRefs)
    commitOrCleanup(m, snapDir)
  }

  /** MERGE-ON-READ UPDATE: one commit carrying (a) a delete vector masking
    * the matched rows and (b) fresh data files with their updated images —
    * write volume O(matched rows), never a bucket rewrite. Assignments may
    * not touch bucket keys (row placement is a hash of the key value; a
    * moved key needs the COW paths). Same tier/layout limits as
    * [[deleteMor]]. */
  def updateMor(cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      expectedParent: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.col
    val parent = checkParent(expectedParent)
    require(parent >= 0, "merge-on-read update requires an existing snapshot")
    val pm = manifest(parent)
    require(pm.partitionBy.filter(pm.schema.fieldNames.contains).isEmpty,
      "delete vectors are not supported on hive-partitioned layouts")
    require(set.nonEmpty, "updateMor needs at least one assignment")
    set.keys.foreach { k =>
      require(pm.schema.fieldNames.contains(k), s"unknown update column $k")
      require(!pm.bucketKeys.contains(k),
        s"updateMor cannot reassign BUCKET KEY $k: row placement hashes the " +
          "key value — route key changes through the COW paths")
    }
    val exprs = resolveCond(pm, cond)
    val candidates = pruneCandidatePaths(pm, exprs)
    if (candidates.isEmpty) return parent
    val next = parent + 1
    val snapDir = new Path(dataDir, s"snap-$next-${stagingSuffix()}")
    beginStaging(snapDir)
    val newRefs = writeDv(pm, cond, candidates, snapDir)
    if (newRefs.isEmpty) {
      fs.delete(snapDir, true); endStaging(snapDir); return parent
    }
    // replacement images of exactly the masked rows, appended as new files
    val updated = readFilesWithPos(pm, candidates).filter(cond)
      .select(pm.schema.fields.map(f =>
        set.get(f.name).map(_.cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))).toSeq: _*)
    val aligned = applyFieldIds(updated, pm.schema)
    if (pm.bucketKeys.nonEmpty)
      writeMorAppend(aligned, pm.bucketKeys, pm.numBuckets, snapDir)
    else
      aligned.write.mode(SaveMode.Append).options(bloomWriteOptions)
        .parquet(snapDir.toString)
    val fresh = listDataFiles(snapDir).filterNot(dvPath(snapDir))
    val tier = appendFreshTier(pm, fresh, next)
    val m = pm.copy(version = next, parent = parent,
      location = snapDir.toString, committedAtMs = System.currentTimeMillis(),
      props = Map.empty,
      inlineFiles = tier.inlineFiles, inlineStats = tier.inlineStats,
      shards = tier.shards,
      dvRefs = pm.dvRefs ++ newRefs)
    commitOrCleanup(m, snapDir, tier.newShardDir)
  }

  /** `<snapDir>/dv/` membership test — DV files share the snap dir with the
    * commit's data files but never count as data. */
  private def dvPath(snapDir: Path)(file: String): Boolean =
    file.contains(s"${snapDir.getName}/dv/")

  /** Fresh MOR data files in the parent's metadata tier: inline manifests
    * extend the inline list (a MOR commit never triggers the shard
    * transition itself — the next rewriting data commit does); sharded
    * manifests inherit every parent shard by reference and append a shard
    * set covering only the fresh files — O(batch) metadata volume either
    * way, never O(#files). */
  private def appendFreshTier(pm: Manifest, fresh: Seq[String],
      next: Long): MetaTier =
    if (!pm.isSharded)
      MetaTier(pm.inlineFiles ++ fresh,
        pm.inlineStats ++ FileStats.collect(spark, fresh, pm.schema),
        Nil, None)
    else if (fresh.isEmpty) MetaTier(Nil, Map.empty, pm.shards, None)
    else {
      val t = shardTier(ManifestShards.metaFromFiles(spark, fresh, pm.schema),
        fresh.size.toLong, next)
      t.copy(shards = pm.shards ++ t.shards)
    }

  /** Compute and stage the positional delete entries for `cond` over the
    * stats/bucket candidate files, as parquet under `<snapDir>/dv/`.
    * Returns the staged [[TableStore.DvRef]]s (empty = no live row
    * matched). Positions come from the DV-applied read, so already-deleted
    * rows are never re-recorded. */
  private def writeDv(pm: Manifest, cond: org.apache.spark.sql.Column,
      candidates: Seq[String], snapDir: Path): Seq[DvRef] = {
    import org.apache.spark.sql.functions.col
    val hits = readFilesWithPos(pm, candidates).filter(cond)
      .select(col("_g_file").as("file_path"), col("_g_pos").as("pos"))
    writeDvRows(hits, candidates.size, snapDir)
  }

  /** Stage precomputed (file, pos) delete entries under `<snapDir>/dv/`. */
  private def writeDvRows(hits: DataFrame, nCandidates: Int,
      snapDir: Path): Seq[DvRef] = {
    val dvDir = new Path(snapDir, "dv")
    hits.repartition(math.min(32, math.max(1, nCandidates / 8)))
      .write.mode(SaveMode.Overwrite).parquet(dvDir.toString)
    val dvFiles = listDataFiles(dvDir)
    val stats = FileStats.collect(spark, dvFiles, TableStore.DvSchema)
    dvFiles.map(f => DvRef(f, stats(f).bytes, stats(f).rows))
      .filter(_.rows > 0)
  }

  /** Bucket-clustered append for MERGE-ON-READ trickle commits. The
    * post-image batch is O(changed rows), but a direct `partitionBy` write
    * emits one file per (write task x bucket) — a 3,000-row scattered
    * batch measured 1,500+ files in ONE commit, compounding file debt
    * every micro-batch and even forcing the sharded-manifest transition on
    * a 200k-row table. Clustering the batch by bucket first costs one
    * O(batch) shuffle and caps the commit at one file per touched bucket.
    * Bulk paths (commitBucketed/commitAppend) deliberately keep parallel
    * writers per bucket — a multi-GB bucket should not funnel through one
    * task; this helper is for the trickle, where the whole batch is far
    * smaller than a single bucket. */
  private def writeMorAppend(aligned: DataFrame, keys: Seq[String],
      numBuckets: Int, snapDir: Path): Unit =
    aligned.withColumn(BucketCol, bucketExpr(keys, numBuckets))
      .repartition(numBuckets, org.apache.spark.sql.functions.col(BucketCol))
      .write.mode(SaveMode.Append).options(bloomWriteOptions)
      .partitionBy(BucketCol).parquet(snapDir.toString)

  /** MERGE-ON-READ keyed upsert — the CDC-loop analog of [[updateMor]]:
    * ONE commit carrying (a) a delete vector masking every live base row
    * whose key appears in `winners` and (b) fresh bucketed files with the
    * non-`removeOp` post-images. `winners` must hold exactly one row per
    * key (the caller's LWW collapse) with the table's payload columns plus
    * `opCol`.
    *
    * Write volume is O(matched base rows + batch) — the COW CDC loop
    * ([[graft.streaming.StreamingOps.applyCdcBatch]]) rewrites every
    * TOUCHED BUCKET instead, so at 100 TB with multi-GB buckets this is
    * the difference between a KB-scale mask+append and re-writing the
    * buckets a trickle of changed keys hashes into, every micro-batch.
    * The trade is the standard MOR read tax (stacked DVs apply as a
    * broadcast anti-join); [[purgeDeletes]] on a maintenance cadence
    * restores byte-stock plans. Candidate files are bucket-pruned by the
    * batch's key set; the DV semi-join keys on the table's bucket keys.
    *
    * Schema must match the table exactly: evolution (new/widened columns)
    * routes through the COW loop, which owns the rewrite anyway. */
  def upsertMor(winners: DataFrame, opCol: String = "op",
      removeOp: String = "REMOVE",
      expectedParent: Option[Long] = None,
      props: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.col
    val parent = checkParent(expectedParent)
    require(parent >= 0, "merge-on-read upsert requires an existing snapshot")
    val pm = manifest(parent)
    require(pm.bucketKeys.nonEmpty, "upsertMor requires a bucketed table")
    val payloadCols = winners.columns.filterNot(_ == opCol).toSeq
    require(payloadCols.sorted == pm.schema.fieldNames.sorted.toSeq,
      s"upsertMor schema mismatch: $payloadCols vs " +
        s"${pm.schema.fieldNames.toSeq}; evolution goes through the COW loop")
    pm.schema.fields.foreach { f =>
      require(winners.schema(f.name).dataType == f.dataType,
        s"upsertMor type mismatch on ${f.name}: " +
          s"${winners.schema(f.name).dataType} vs ${f.dataType}")
    }
    val keys = pm.bucketKeys
    // `winners` feeds THREE jobs (touched-bucket probe, the DV semi-join,
    // the post-image append) and typically embeds the caller's LWW window
    // + batch derivation — persist so that plan evaluates once per commit
    // (guide §1.2/§5); released before the metadata phase
    winners.persist()
    val (newRefs, next, snapDir) = try {
      // bucket-prune the DV computation to the buckets the batch keys hash
      // into — the same narrowing the COW loop uses for its rewrite set
      val touched = winners
        .select(TableStore.bucketExpr(keys, pm.numBuckets).as("b"))
        .distinct().collect().map(_.getLong(0)).toSet
      // both tiers: O(touched buckets' files) driver residue — sharded
      // manifests open only the covering shards
      val candidates = bucketFilePaths(pm, touched)
      val next0 = parent + 1
      val snapDir0 = new Path(dataDir, s"snap-$next0-${stagingSuffix()}")
      beginStaging(snapDir0)
      val keysDf = winners.select(keys.map(col): _*).distinct()
      val hits =
        if (candidates.isEmpty) spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          TableStore.DvSchema)
        else readFilesWithPos(pm, candidates)
          .join(keysDf, keys, "left_semi")
          .select(col("_g_file").as("file_path"), col("_g_pos").as("pos"))
      // the DV write and the post-image append are INDEPENDENT jobs off
      // the persisted winners, into disjoint dirs (snap/dv vs the snap's
      // bucket dirs) — overlap them (guide §2.6)
      @volatile var refs: Seq[DvRef] = Nil
      graft.util.Concurrent.run(spark)(
        () => {
          refs = writeDvRows(hits, math.max(1, candidates.size), snapDir0)
        },
        () => {
          val post = winners.filter(col(opCol) =!= removeOp)
            .select(pm.schema.fieldNames.map(col): _*)
          writeMorAppend(applyFieldIds(post, pm.schema), keys,
            pm.numBuckets, snapDir0)
        })
      (refs, next0, snapDir0)
    } finally { winners.unpersist(); () }
    val fresh = listDataFiles(snapDir).filterNot(dvPath(snapDir))
    if (newRefs.isEmpty && fresh.isEmpty) { // empty batch: no-op
      fs.delete(snapDir, true); endStaging(snapDir); return parent
    }
    val tier = appendFreshTier(pm, fresh, next)
    val m = pm.copy(version = next, parent = parent,
      location = snapDir.toString, committedAtMs = System.currentTimeMillis(),
      props = props,
      inlineFiles = tier.inlineFiles, inlineStats = tier.inlineStats,
      shards = tier.shards,
      dvRefs = pm.dvRefs ++ newRefs)
    commitOrCleanup(m, snapDir, tier.newShardDir)
  }

  /** MERGE-ON-READ delta commit — the storage half of SQL `MERGE INTO`
    * under `spark.graft.delete.mode=mor` (and of any caller that already
    * knows its exact delete addresses): ONE commit carrying (a) a delete
    * vector over the given `(file_path, pos)` addresses and (b) fresh data
    * files with the `inserts` rows. Unlike [[upsertMor]] nothing is matched
    * here — the addresses come from a positional read the CALLER performed
    * (Spark's delta-based row-level MERGE plans the join and hands back the
    * matched rows' `_g_file`/`_g_pos`), so the write volume is O(changed
    * rows) with every pre-existing data file inherited by reference, on
    * both metadata tiers. Updated rows arrive as delete+insert pairs.
    * Non-hive layouts only; an empty delta commits nothing. */
  def applyDelta(deletes: DataFrame, inserts: DataFrame,
      expectedParent: Option[Long] = None,
      props: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.col
    val parent = checkParent(expectedParent)
    require(parent >= 0, "merge-on-read delta requires an existing snapshot")
    val pm = manifest(parent)
    require(pm.partitionBy.filter(pm.schema.fieldNames.contains).isEmpty,
      "delete vectors are not supported on hive-partitioned layouts")
    require(deletes.columns.toSeq == Seq("file_path", "pos"),
      s"applyDelta deletes must be (file_path, pos): ${deletes.columns.toSeq}")
    require(inserts.columns.sorted.toSeq == pm.schema.fieldNames.sorted.toSeq,
      s"applyDelta schema mismatch: ${inserts.columns.toSeq} vs " +
        s"${pm.schema.fieldNames.toSeq}")
    val next = parent + 1
    val snapDir = new Path(dataDir, s"snap-$next-${stagingSuffix()}")
    beginStaging(snapDir)
    val newRefs = writeDvRows(deletes, nCandidates = 32, snapDir)
    val post = inserts.select(pm.schema.fieldNames.map(col): _*)
    val aligned = applyFieldIds(post, pm.schema)
    if (pm.bucketKeys.nonEmpty)
      writeMorAppend(aligned, pm.bucketKeys, pm.numBuckets, snapDir)
    else
      aligned.write.mode(SaveMode.Append).options(bloomWriteOptions)
        .parquet(snapDir.toString)
    val fresh = listDataFiles(snapDir).filterNot(dvPath(snapDir))
    if (newRefs.isEmpty && fresh.isEmpty) { // empty delta: no-op
      fs.delete(snapDir, true); endStaging(snapDir); return parent
    }
    val tier = appendFreshTier(pm, fresh, next)
    val m = pm.copy(version = next, parent = parent,
      location = snapDir.toString, committedAtMs = System.currentTimeMillis(),
      props = props,
      inlineFiles = tier.inlineFiles, inlineStats = tier.inlineStats,
      shards = tier.shards,
      dvRefs = pm.dvRefs ++ newRefs)
    commitOrCleanup(m, snapDir, tier.newShardDir)
  }

  /** `<snapDir>/eq/` membership test — equality-delete files share the snap
    * dir with the commit's data files but never count as data. */
  private def eqPath(snapDir: Path)(file: String): Boolean =
    file.contains(s"${snapDir.getName}/eq/")

  private def writeEqRows(keys: DataFrame, snapDir: Path,
      since: Long, refCols: Seq[String]): Seq[EqRef] = {
    val eqDir = new Path(snapDir, "eq")
    // The CDC-trickle contract is one small file per commit — but the SQL
    // key-set DELETE routes here too, and nothing caps that batch: a 10M-key
    // delete through ONE writer task idles the cluster and produces a
    // monolithic eq file every subsequent read's anti-join re-reads
    // (VERDICT r8 wrong #1). Write-first, re-shard only when oversized:
    // the trickle steady state pays ZERO extra work (a count() pre-pass
    // measured +30% on the sf1 upsertEq probe), and only a genuinely
    // broad key set pays the second write — which is O(keys) like the
    // first.
    val cap = spark.conf.getOption("spark.graft.eq.rowsPerFile")
      .map(_.toLong).getOrElse(1L << 20)
    // repartition(1), NOT coalesce(1) (VERDICT r17 wrong #1): coalesce
    // collapses the callers' distinct's FINAL aggregate into the single
    // write task — the dedup itself serializes (one task, N-1 cores idle;
    // cdc_apply_eq regressed 0.84× and anti-scaled 0.50 at 8v32 cores).
    // The extra exchange moves only the already-deduped slim key rows —
    // O(keys) bytes — while the distinct's reduce stays parallel and only
    // the file write is single-task (guide §2.4/§2.6).
    keys.repartition(1).write.mode(SaveMode.Overwrite).parquet(eqDir.toString)
    var files = listDataFiles(eqDir)
    var stats = FileStats.collect(spark, files, keys.schema)
    val total = files.map(stats(_).rows).sum
    if (total > cap) {
      val nShards = math.max(1L, (total + cap - 1) / cap).toInt
      keys.repartition(nShards).write.mode(SaveMode.Overwrite)
        .parquet(eqDir.toString)
      files = listDataFiles(eqDir)
      stats = FileStats.collect(spark, files, keys.schema)
    }
    files.map(f => EqRef(f, stats(f).bytes, stats(f).rows, since, refCols))
      .filter(_.rows > 0)
  }

  /** EQUALITY-delete keyed upsert — the ZERO-BASE-READ CDC write path
    * (Iceberg v2 equality deletes, the format Flink's streaming Iceberg
    * sink commits): ONE commit carrying (a) an equality-delete file of the
    * batch's key values — masking every OLDER row with those keys at read
    * time — and (b) fresh bucketed files with the non-`removeOp`
    * post-images. Unlike [[upsertMor]], which must SCAN the batch's
    * candidate bucket files to resolve `(file, pos)` addresses, nothing
    * here reads the base table at all: write volume AND read volume are
    * O(batch), so a scattered 100 TB CDC batch (keys hashing into every
    * bucket — where upsertMor's candidate scan degrades to a full-table
    * pass) commits in constant time. The trade is a heavier read tax (a
    * keyed anti-join against the delete set instead of a positional one)
    * and an unknowable masked-row count until [[purgeDeletes]] folds the
    * masks into data on the maintenance cadence.
    *
    * `winners` must hold exactly one row per key (the caller's LWW
    * collapse) with the table's payload columns plus `opCol`. Works on
    * both metadata tiers (the commit never enumerates existing files).
    * Schema evolution routes through the COW loop, as with every MOR
    * path. */
  def upsertEq(winners: DataFrame, opCol: String = "op",
      removeOp: String = "REMOVE",
      expectedParent: Option[Long] = None,
      props: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.col
    val parent = checkParent(expectedParent)
    require(parent >= 0, "equality-delete upsert requires an existing snapshot")
    val pm = manifest(parent)
    require(pm.bucketKeys.nonEmpty, "upsertEq requires a bucketed table")
    val payloadCols = winners.columns.filterNot(_ == opCol).toSeq
    require(payloadCols.sorted == pm.schema.fieldNames.sorted.toSeq,
      s"upsertEq schema mismatch: $payloadCols vs " +
        s"${pm.schema.fieldNames.toSeq}; evolution goes through the COW loop")
    pm.schema.fields.foreach { f =>
      require(winners.schema(f.name).dataType == f.dataType,
        s"upsertEq type mismatch on ${f.name}: " +
          s"${winners.schema(f.name).dataType} vs ${f.dataType}")
    }
    val keys = pm.bucketKeys
    val next = parent + 1
    val snapDir = new Path(dataDir, s"snap-$next-${stagingSuffix()}")
    beginStaging(snapDir)
    // `winners` feeds TWO jobs (the key-set distinct and the post-image
    // append) and typically embeds the caller's LWW window + batch
    // derivation — persist so that plan evaluates once per commit, not
    // per consuming job (guide §1.2/§5); released before the metadata
    // phase, scoped to this commit only
    winners.persist()
    val newEq = try {
      // the key-set write and the post-image append are INDEPENDENT jobs
      // off the same persisted frame, into disjoint dirs (snap/eq vs the
      // snap's bucket dirs) — overlap them (guide §2.6: each write's
      // stage tail leaves most cores idle; measured ~0.3 s per eq commit
      // at sf0.1, and every lifecycle fixture commits 2-3 of these)
      @volatile var eq: Seq[EqRef] = Nil
      graft.util.Concurrent.run(spark)(
        () => {
          eq = writeEqRows(winners.select(keys.map(col): _*).distinct(),
            snapDir, next, refCols = Nil)
        },
        () => {
          val post = winners.filter(col(opCol) =!= removeOp)
            .select(pm.schema.fieldNames.map(col): _*)
          writeMorAppend(applyFieldIds(post, pm.schema), keys,
            pm.numBuckets, snapDir)
        })
      eq
    } finally { winners.unpersist(); () }
    val fresh = listDataFiles(snapDir)
      .filterNot(dvPath(snapDir)).filterNot(eqPath(snapDir))
    if (newEq.isEmpty && fresh.isEmpty) { // empty batch: no-op
      fs.delete(snapDir, true); endStaging(snapDir); return parent
    }
    val tier = appendFreshTier(pm, fresh, next)
    val m = pm.copy(version = next, parent = parent,
      location = snapDir.toString, committedAtMs = System.currentTimeMillis(),
      props = props,
      inlineFiles = tier.inlineFiles, inlineStats = tier.inlineStats,
      shards = tier.shards,
      eqRefs = pm.eqRefs ++ newEq)
    commitOrCleanup(m, snapDir, tier.newShardDir)
  }

  /** Equality DELETE by key set: mask every row whose key values appear in
    * `keys` — zero base reads, O(keys) write volume (see [[upsertEq]]).
    *
    * `keys` may carry the FULL bucket-key set (DynamoDB `DeleteItem`) or
    * any non-empty SUBSET of it — a PARTIAL-KEY delete (reference key
    * schema README.md:81-82: PK+SK tables; the common bulk shape is
    * Query-by-PK then delete every SK item under it). A PK-only frame on a
    * (PK,SK)-bucketed table masks every row with those PK values, still
    * with zero base reads — the read mask anti-joins on the recorded
    * column subset ([[TableStore.EqRef]] `cols`). Implemented as a PURE
    * equality-delete commit: no post-images, every data file and shard
    * inherited by reference, both metadata tiers. No synthesized columns
    * touch the table namespace (a payload column literally named "op" is
    * safe — ADVICE r8). */
  def deleteEq(keys: DataFrame, expectedParent: Option[Long] = None,
      props: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.col
    val parent = checkParent(expectedParent)
    require(parent >= 0, "equality delete requires an existing snapshot")
    val pm = manifest(parent)
    require(pm.bucketKeys.nonEmpty, "deleteEq requires a bucketed table")
    val kcols = keys.columns.toSeq
    require(kcols.nonEmpty && kcols.distinct == kcols &&
        kcols.forall(pm.bucketKeys.contains),
      s"deleteEq takes the bucket keys ${pm.bucketKeys} or a subset, " +
        s"got ${keys.columns.toSeq}")
    kcols.foreach(c => require(
      keys.schema(c).dataType == pm.schema(c).dataType,
      s"deleteEq type mismatch on $c: ${keys.schema(c).dataType} vs " +
        s"${pm.schema(c).dataType}"))
    // canonical bucket-key order; full-set refs record cols = Nil (the
    // round-8 wire shape, kept so old manifests and new ones mean the same)
    val ordered = pm.bucketKeys.filter(kcols.contains)
    val isFull = ordered == pm.bucketKeys
    val next = parent + 1
    val snapDir = new Path(dataDir, s"snap-$next-${stagingSuffix()}")
    beginStaging(snapDir)
    val newEq = writeEqRows(keys.select(ordered.map(col): _*).distinct(),
      snapDir, next, refCols = if (isFull) Nil else ordered)
    if (newEq.isEmpty) { // empty key set: no-op
      fs.delete(snapDir, true); endStaging(snapDir); return parent
    }
    val m = pm.copy(version = next, parent = parent,
      location = snapDir.toString, committedAtMs = System.currentTimeMillis(),
      props = props, eqRefs = pm.eqRefs ++ newEq)
    commitOrCleanup(m, snapDir, None)
  }

  /** Fold the table's delete vectors into data: rewrite ONLY the data files
    * that carry DV entries (their live rows re-written clean), drop every
    * DV, inherit everything else — O(DV'd files) write volume, the targeted
    * version of what [[compact]] does table-wide. Restores byte-stock scan
    * plans (no anti-join) and re-arms manifest-served aggregates. */
  def purgeDeletes(expectedParent: Option[Long] = None): Long = {
    val parent = checkParent(expectedParent)
    require(parent >= 0, "purgeDeletes requires an existing snapshot")
    val pm = manifest(parent)
    if (!pm.hasDeletes) return parent
    val sp = spark
    import sp.implicits._
    val dvd =
      if (!pm.hasDvs) Nil
      else dvEntries(pm).select("file_path").distinct().as[String].collect().toSeq
    // membership against the live manifest: driver set for inline, an
    // O(subset) broadcast semi-join against the shard scan for sharded
    val affected =
      if (!pm.isSharded) dvd.filter(pm.inlineFiles.toSet)
      else if (dvd.isEmpty) Nil
      else metaFor(pm, dvd).map(_.path)
    // equality deletes affect whole BUCKETS (every file older than the
    // delete's commit in a bucket its keys hash into); fold them in the
    // same targeted rewrite. Full-key refs derive buckets from the delete
    // keys alone (O(eq keys), driver-free). PARTIAL-KEY refs can't — the
    // bucket hash needs every key column — so their buckets come from a
    // column-pruned UNMASKED scan semi-joined against the delete keys:
    // one O(key columns) read at maintenance time keeps the rewrite
    // targeted instead of degrading purge to a full-table pass.
    val eqBuckets: Seq[Long] =
      if (!pm.hasEqDeletes) Nil
      else {
        import org.apache.spark.sql.functions.{broadcast, col}
        val (prefixEq, fullEq) = pm.eqRefs.partition(r =>
          r.cols.nonEmpty && r.cols != pm.bucketKeys)
        val full: Seq[Long] =
          if (fullEq.isEmpty) Nil
          else spark.read.schema(eqKeySchema(pm))
            .parquet(fullEq.map(_.path): _*)
            .select(bucketExpr(pm.bucketKeys, pm.numBuckets).as("b"))
            .distinct().as[Long].collect().toSeq
        val prefix: Seq[Long] = prefixEq.groupBy(_.cols).toSeq
          .flatMap { case (cols, refs) =>
            val dels = refs.map(r => spark.read
              .schema(eqKeySchema(pm, cols)).parquet(r.path))
              .reduce(_ unionByName _).distinct()
            val probe =
              if (refs.map(_.bytes).sum <= dvBroadcastThreshold)
                broadcast(dels)
              else dels
            rawUnmaskedRead(pm).select(pm.bucketKeys.map(col): _*)
              .join(probe, cols, "left_semi")
              .select(bucketExpr(pm.bucketKeys, pm.numBuckets).as("b"))
              .distinct().as[Long].collect().toSeq
          }
        (full ++ prefix).distinct
      }
    if (affected.isEmpty && eqBuckets.isEmpty) {
      // every masked file already left the manifest
      val m = pm.copy(version = parent + 1, parent = parent,
        committedAtMs = System.currentTimeMillis(),
        props = maintenanceProps(pm),
        dvRefs = Nil, eqRefs = Nil, fileVersions = Map.empty)
      writeManifestAtomic(m)
      return m.version
    }
    if (pm.bucketKeys.nonEmpty) {
      // every affected file MUST map to a bucket: a silently-dropped file
      // would keep its rows while dropDvs clears its mask — resurrection
      val buckets = (affected.map(f =>
        TableStore.bucketOfFile(f).getOrElse(throw new IllegalStateException(
          s"DV'd file $f has no bucket segment; cannot purge by bucket")))
        ++ eqBuckets).toSet.toSeq
      commitIncremental(readBuckets(buckets, pm.version), buckets,
        expectedParent = Some(parent), dropDvs = true,
        props = maintenanceProps(pm))
    } else
      commitReplaceFiles(affected, readFiles(pm, affected),
        expectedParent = Some(parent), dropDvs = true,
        props = maintenanceProps(pm))
  }

  /** Bucket-layout evolution: rewrite the current snapshot hash-bucketed on
    * `keys` × `numBuckets` — the growth knob a 100 TB table needs (bucket
    * count is sized at creation; as the table grows, per-bucket size grows
    * with it, and every bucket-targeted path — CDC commits, point lookups,
    * SPJ task parallelism, DML rewrites — degrades until a rebucket).
    * Changing `keys` re-keys the table outright (DynamoDB's new-partition-
    * key migration). Content-preserving: the rewrite reads through the
    * filtered path, so pending DV/equality masks fold in and the fresh
    * manifest carries no delete metadata. One full rewrite — the same
    * cost class as [[compact]]; secondary indexes survive (their next
    * refresh replays the rewrite as a content no-op diff). */
  def rebucket(numBuckets: Int, keys: Seq[String] = Nil): Long = {
    val cur = currentVersion()
    require(cur >= 0, "cannot rebucket an empty table")
    val m = manifest(cur)
    val newKeys = if (keys.nonEmpty) keys else m.bucketKeys
    require(newKeys.nonEmpty,
      "rebucket needs bucket keys: the table is not bucketed and none were given")
    require(newKeys.forall(m.schema.fieldNames.contains),
      s"rebucket keys $newKeys not in table schema")
    require(numBuckets > 0, "rebucket needs a positive bucket count")
    require(newKeys != m.bucketKeys || numBuckets != m.numBuckets,
      s"table is already bucketed on $newKeys x $numBuckets")
    commitBucketed(readSnapshot(cur), newKeys, numBuckets,
      expectedParent = Some(cur), props = maintenanceProps(m))
  }

  /** Metadata-only schema evolution (VERDICT r4 #1): commit a new snapshot
    * that inherits EVERY parent data file at its existing path under a
    * widened schema — no data is read or written, the commit is O(manifest)
    * at any table size. This is the reference's `glue:UpdateTable` semantics
    * (src/dynamodb-zero-etl-s3tables.ts:113-115): Glue never rewrites data to
    * update a schema. Legal evolutions are exactly the merge-on-read set —
    * appended nullable columns (inherited files read them as NULL) and
    * [[TableStore.mergeOnReadWiden]] type widenings (the parquet reader
    * up-casts narrow file types on read). Anything else must go through a
    * rewriting commit. */
  def commitSchemaOnly(newSchema: StructType,
      expectedParent: Option[Long] = None): Long = {
    val parent = checkParent(expectedParent)
    require(parent >= 0, "schema-only commit requires an existing snapshot")
    val pm = manifest(parent)
    val idSchema = withFieldIds(newSchema, Some(pm.schema), pm.highestFieldId,
      inheritsParentFiles = true, honorRenames = true)
    require(idSchema.nonEmpty, "schema-only commit cannot drop every column")
    // names whose historical stats become unusable: dropped columns and the
    // OLD names of renames — see Manifest.usableStat
    val retired = scala.collection.mutable.ArrayBuffer[String]()
    pm.schema.fields.foreach { f =>
      val pid = fieldId(f)
      // column identity: field id first (survives renames), name fallback
      // for schemas built without metadata (e.g. export-side merges)
      val nf = (if (pid >= 0) idSchema.fields.find(g => fieldId(g) == pid)
        else None).orElse(idSchema.fields.find(_.name == f.name))
      nf match {
        case None =>
          // DROP COLUMN: metadata-only — data files keep the column, readers
          // simply stop requesting it; a later re-add draws a FRESH field id
          // so the dropped data never resurrects (Iceberg semantics)
          require(!pm.bucketKeys.contains(f.name),
            s"cannot drop BUCKET KEY ${f.name}; rebucket with a full commit")
          require(!pm.partitionBy.contains(f.name),
            s"cannot drop partition column ${f.name}; rewrite the table")
          retired += f.name
        case Some(g) =>
          if (g.name != f.name) retired += f.name // renamed away
          // bucket keys / partition columns: name and type are load-bearing
          // (hash placement, path encoding) — no rename, no widening
          if (pm.bucketKeys.contains(f.name)) {
            require(g.name == f.name,
              s"cannot rename BUCKET KEY ${f.name}; rebucket with a full commit")
            require(g.dataType == f.dataType,
              s"schema-only commit: BUCKET KEY ${f.name} cannot change type " +
                s"(${f.dataType} -> ${g.dataType}); rebucket with a full " +
                "rewriting commit")
          } else if (pm.partitionBy.contains(f.name))
            require(g.name == f.name,
              s"cannot rename partition column ${f.name}; rewrite the table")
          else
            require(g.dataType == f.dataType ||
              mergeOnReadWiden(f.dataType, g.dataType),
              s"schema-only commit: ${f.name}: ${f.dataType} -> ${g.dataType} " +
                "is not a merge-on-read widening; use a rewriting commit")
      }
    }
    // NAME REUSE is not metadata-only-safe: old data files still carry a
    // physical column under the retired name, and Spark's parquet reader
    // binds pushed row-group filters to file columns BY NAME — a predicate
    // on the re-added/renamed-in column would be evaluated against the
    // retired column's pages and can wrongly skip row groups (observed:
    // `s IS NULL` after drop+re-add losing every row). Re-using a retired
    // name therefore requires a REWRITING commit, which replaces the files
    // and clears the retired set.
    val retiredAll = (pm.droppedCols ++ retired).distinct
    idSchema.fields.foreach { g =>
      val cont = pm.schema.fields.exists(f =>
        f.name == g.name && fieldId(f) == fieldId(g))
      require(cont || !retiredAll.contains(g.name),
        s"column name ${g.name} was previously dropped or renamed away; " +
          "re-using it is not metadata-only-safe (stale physical columns " +
          "shadow it in old files) — rewrite the table instead")
    }
    val m = pm.copy(version = parent + 1, parent = parent,
      schema = idSchema, committedAtMs = System.currentTimeMillis(),
      props = Map.empty,
      droppedCols = retiredAll,
      maxFieldId = idMax(idSchema, pm.highestFieldId))
    writeManifestAtomic(m)
    m.version
  }

  private def checkParent(expectedParent: Option[Long]): Long = {
    val parent = currentVersion()
    expectedParent.foreach { exp =>
      if (exp != parent)
        throw new IllegalStateException(
          s"CAS conflict: expected parent snapshot $exp but found $parent")
    }
    parent
  }

  private def commitOrCleanup(m: Manifest, snapDir: Path,
      shardDir: Option[Path] = None): Long = {
    try writeManifestAtomic(m)
    catch { case e: Throwable =>
      // lost the race: remove our orphaned staging dirs, leave the winner's
      fs.delete(snapDir, true)
      shardDir.foreach(d => fs.delete(d, true))
      endStaging(snapDir)
      shardDir.foreach(endStaging)
      throw e
    }
    endStaging(snapDir)
    shardDir.foreach(endStaging)
    m.version
  }

  // ------------------------------------------- in-flight staging protection

  /** Sibling marker, NOT inside the dir: Overwrite-mode writes wipe the
    * target dir, and the marker must outlive every phase of the write. */
  private def stagingMarker(dir: Path): Path =
    new Path(dir.getParent, s".staging-${dir.getName}")

  /** Called before any data/shard bytes are staged under `dir`. */
  private def beginStaging(dir: Path): Unit = {
    fs.mkdirs(dir.getParent)
    fs.create(stagingMarker(dir), true).close()
  }

  /** Called once `dir` is committed (or cleaned up) — lifts the pin. */
  private def endStaging(dir: Path): Unit = {
    fs.delete(stagingMarker(dir), false)
    ()
  }

  private def activeStaging(f: FileSystem, dir: Path, nowMs: Long): Boolean =
    // single getFileStatus, miss-tolerant: a concurrent endStaging between
    // an exists() and a getFileStatus() would abort the whole sweep with
    // FileNotFoundException — the exact race this marker exists to survive
    try nowMs - f.getFileStatus(stagingMarker(dir)).getModificationTime <=
      TableStore.StagingGraceMs
    catch { case _: java.io.FileNotFoundException => false }

  private val SnapDirName = "snap-(\\d+)-.*".r
  private val ShardDirName = "v(\\d+)-.*".r

  /** Commit version a data file was written at, parsed from its snap-dir
    * name — the equality-delete applicability test's file side. */
  private def snapVersionOfFile(file: String): Option[Long] =
    new Path(TableStore.snapDirOfFile(file)).getName match {
      case SnapDirName(v) => Some(v.toLong)
      case _ => None
    }

  /** TOCTOU recheck: the sweep's survivor set is computed BEFORE the
    * listing, so a commit landing in between (its staging marker already
    * lifted) looks unreferenced under the stale view. A staged dir's name
    * carries its target version — if that version's manifest EXISTS NOW and
    * points at this dir, the dir just got committed and must survive; the
    * next vacuum sees it as an ordinary referenced dir. */
  private def committedMeanwhile(f: FileSystem, p: Path): Boolean = {
    val vOpt = p.getName match {
      case SnapDirName(v) => Some(v.toLong)
      case ShardDirName(v) => Some(v.toLong)
      case _ => None
    }
    vOpt.exists { v =>
      f.exists(new Path(manifestDir, s"v$v.json")) && {
        val m = manifest(v)
        val q = f.makeQualified(p).toString
        f.makeQualified(new Path(m.location)).toString == q ||
          m.shards.exists(r =>
            f.makeQualified(new Path(r.path)).toString.startsWith(q + "/"))
      }
    }
  }

  /** Sweep handling for one top-level entry that is NOT referenced: delete
    * it (plus its marker) unless an in-flight writer owns it or a racing
    * commit claimed it since the survivor set was read. Marker files
    * themselves are skipped while live and reclaimed once their dir is
    * gone and the grace has passed. Returns true if the entry was a dir
    * that got deleted. */
  private def sweepUnreferencedEntry(f: FileSystem,
      st: org.apache.hadoop.fs.FileStatus, nowMs: Long): Boolean = {
    val p = st.getPath
    if (p.getName.startsWith(".staging-")) {
      val dir = new Path(p.getParent, p.getName.stripPrefix(".staging-"))
      val dirGone = !f.exists(dir)
      // reclaim when the staged dir is long gone, AND when the dir's commit
      // landed but the writer crashed before endStaging — once the manifest
      // references the dir, staging is over by definition and the marker is
      // permanent litter the grace window can never age out (the dir stays)
      if ((dirGone &&
            nowMs - st.getModificationTime > TableStore.StagingGraceMs) ||
          (!dirGone && committedMeanwhile(f, dir)))
        f.delete(p, false)
      false
    } else if (st.isDirectory &&
        (activeStaging(f, p, nowMs) || committedMeanwhile(f, p))) false
    else {
      f.delete(p, true)
      f.delete(stagingMarker(p), false)
      st.isDirectory
    }
  }

  /** Schema history across surviving snapshots — `glue:GetTableVersions`
    * analog. Vacuumed versions are absent (their metadata is gone too). */
  def schemaHistory(): Seq[(Long, StructType)] =
    existingVersions().map(v => v -> manifest(v).schema)

  /** Rewrite the current snapshot into `targetFiles` files per partition —
    * small-file compaction. Content-preserving; commits a new snapshot.
    *
    * `sortBy`: range-cluster the rewrite on these columns (Z-order-lite) —
    * rows are range-partitioned across the output files and sorted within
    * each, so every file covers a NARROW `sortBy` interval and the
    * manifest's min/max bounds prune aggressively on those columns
    * afterwards. This is what makes stats-based file skipping effective on
    * a real table: unsorted files all span the full value range and no
    * bound can exclude them. Bucketed tables sort WITHIN each bucket (the
    * bucket stays the partition key; `sortBy` tightens file bounds inside
    * it). */
  /** Props for a content-preserving MAINTENANCE rewrite: the marker plus
    * the parent's derivative-defining props ([[TableStore
    * .DerivativePropPrefixes]] — see the companion note). */
  private def maintenanceProps(pm: Manifest): Map[String, String] =
    pm.props.filter { case (k, _) =>
      TableStore.DerivativePropPrefixes.exists(k.startsWith) } ++
      TableStore.ContentPreserving

  def compact(targetFiles: Int = 1, sortBy: Seq[String] = Nil,
      zorderBy: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.col
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "compact takes sortBy OR zorderBy, not both")
    val m = manifest(currentVersion())
    val df = readSnapshot()
    val arrangeBy: Seq[org.apache.spark.sql.Column] =
      if (zorderBy.nonEmpty) Seq(zorderColumn(df, zorderBy))
      else sortBy.map(col)
    if (m.bucketKeys.nonEmpty) {
      // compact OWNS its layout (targetFiles-per-bucket / sort clustering)
      // — commitBucketed's default bucket repartition would collapse the
      // file-count target and destroy the within-partition sort
      val arranged =
        if (arrangeBy.isEmpty) df.repartition(targetFiles)
        else df.repartition(math.max(targetFiles, m.numBuckets),
            bucketExpr(m.bucketKeys, m.numBuckets))
          .sortWithinPartitions(arrangeBy: _*)
      commitBucketed(arranged, m.bucketKeys, m.numBuckets,
        props = maintenanceProps(m), cluster = false)
    } else {
      val arranged =
        if (arrangeBy.isEmpty) df.repartition(targetFiles)
        else df.repartitionByRange(targetFiles, arrangeBy: _*)
          .sortWithinPartitions(arrangeBy: _*)
      commitSnapshot(arranged, m.partitionBy,
        props = maintenanceProps(m))
    }
  }

  /** ANALYZE (round 14): record per-file EXACT column sums in the manifest
    * stats, the missing third leg of the metadata-served aggregates —
    * COUNT/MIN/MAX read straight from parquet footers, but footers carry
    * no sums, so `SUM(col)` always paid a full scan. One bounded pass here
    * buys every later `SUM` dashboard query a zero-I/O answer (the
    * Snowflake-metadata / Iceberg-`ANALYZE`-stats shape).
    *
    * Mechanics:
    *  - eligible columns = [[FileStats.sumExact]] types (exact integer /
    *    decimal arithmetic; floats refused — FP sums are order-dependent)
    *    minus hive partition columns; pass `cols` to restrict.
    *  - INCREMENTAL: only files MISSING a sum for some eligible column are
    *    read (files are immutable, and inherited files carry their sums
    *    through append/compact/DV commits for free), so on an analyze
    *    cadence each pass pays O(new files). Above `AnalyzeRescanFraction`
    *    (0.5) of the table needy, one full pass re-derives everything —
    *    same routing the derivative refreshes use.
    *  - sums accumulate in DECIMAL(38, scale) — exact integer arithmetic,
    *    no FP, no wraparound; a (pathological) per-file overflow records
    *    no sum and the file simply never serves.
    *  - the commit is a CONTENT-PRESERVING manifest copy (same files, new
    *    stats): derivatives advance their watermarks for free, the
    *    changelog across it is empty, and on the SHARDED tier the merge is
    *    one distributed shard rewrite — per-file verdicts never touch the
    *    driver.
    * Returns the new snapshot id (or the current one when nothing needed
    * analysis). Masked snapshots (DVs / eq deletes) analyze fine — sums
    * describe RAW file contents, and every metadata-agg serve path already
    * declines while masks are live. */
  def analyze(cols: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col, count, hll_sketch_agg, lit, sum}
    require(branch.isEmpty, "analyze runs on the main table store")
    val cur = currentVersion()
    require(cur >= 0, "cannot analyze an empty table")
    val m = manifest(cur)
    require(!m.schema.fieldNames.contains(TableStore.NdvMarker),
      s"column name ${TableStore.NdvMarker} is reserved")
    val partCols = m.partitionBy.filter(m.schema.fieldNames.contains).toSet
    val eligible = m.schema.fields.toSeq.filter(f =>
      FileStats.sumExact(f.dataType) && !partCols(f.name) &&
        (cols.isEmpty || cols.contains(f.name)))
    cols.foreach(c => require(eligible.exists(_.name == c),
      s"column '$c' is not sum-analyzable (missing, partition, or " +
        "non-exact type: only integral/decimal columns carry exact sums)"))
    // NDV (r14 session 2): every atomic non-partition column also gets a
    // global distinct-count HLL sketch (datasketches, the same family
    // Spark's hll_sketch_agg/hll_union use) — strings and floats included
    // (estimates are approximate by nature, so FP/truncation exactness
    // concerns do not apply). ONLY on unrestricted analyze: a
    // cols-restricted pass would otherwise overwrite the sidecar with a
    // subset and silently drop the other columns' sketches.
    val ndvEligible = m.schema.fields.toSeq.filter(f => cols.isEmpty &&
      (f.dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.FloatType |
             org.apache.spark.sql.types.DoubleType |
             org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.BooleanType |
             org.apache.spark.sql.types.DateType |
             org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => true
        case _: org.apache.spark.sql.types.DecimalType => true
        case _ => false
      }) && !partCols(f.name))
    if (eligible.isEmpty && ndvEligible.isEmpty) return cur
    val names = eligible.map(_.name)

    def needsSum(rows: Long, cs: Map[String, FileStats.ColStat]): Boolean =
      names.exists(n => cs.get(n) match {
        case Some(c) => c.sum.isEmpty && c.nulls != rows
        case None => true
      })
    // NDV coverage rides a PSEUDO-COLUMN marker in each file's stats
    // (`_g_ndv_gen`, generation in the nulls slot): markers inherit with
    // the stats through append/compact commits, so coverage needs no old
    // manifests. The sidecar sketch is valid for generation g iff every
    // file marked g is still live AND no file is unmarked — checked by
    // counting, O(files) metadata
    val ndvPrev = readNdvState()
    val prevGen = ndvPrev.map(_.gen).getOrElse(0L)
    def markerGen(cs: Map[String, FileStats.ColStat]): Option[Long] =
      cs.get(TableStore.NdvMarker).map(_.nulls)
    def ndvCast(f: org.apache.spark.sql.types.StructField)
        : org.apache.spark.sql.Column = f.dataType match {
      case org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.StringType => col(f.name)
      // injective per-value canonical form — distinct counts preserved
      case _ => col(f.name).cast("string")
    }
    // (sum cast to exact decimal then string, non-null count, NDV sketch)
    // per column; grouped by the metadata file path — one distributed
    // pass, one row per analyzed file. The metadata path is normalized
    // through hadoop.fs.Path so it joins against manifest entries (which
    // store Path.toString form) regardless of the scheme spelling — but
    // AFTER the aggregation (VERDICT r14 nit): the UDF then touches one
    // row per FILE instead of sitting in every input row's grouping key,
    // and the scan-side aggregate stays whole-stage-codegen'd.
    val normPath = org.apache.spark.sql.functions.udf(
      (s: String) => new Path(s).toString)
    def fileAggs(raw: DataFrame): DataFrame = {
      val aggs = eligible.flatMap { f =>
        val dec = f.dataType match {
          case d: org.apache.spark.sql.types.DecimalType =>
            org.apache.spark.sql.types.DecimalType(38, d.scale)
          case _ => org.apache.spark.sql.types.DecimalType(38, 0)
        }
        Seq(sum(col(f.name).cast(dec)).cast("string").as(s"_g_sum_${f.name}"),
          count(col(f.name)).as(s"_g_cnt_${f.name}"))
      } ++ ndvEligible.map(f =>
        hll_sketch_agg(ndvCast(f)).as(s"_g_hll_${f.name}"))
      raw.groupBy(col("_metadata.file_path").as("_g_path0"))
        .agg(count(lit(1)).as("_g_rows"), aggs: _*)
        .withColumn("_g_path", normPath(col("_g_path0")))
        .drop("_g_path0")
    }
    def mergeStats(rows: Long, cs: Map[String, FileStats.ColStat],
        r: org.apache.spark.sql.Row, newGen: Option[Long])
        : Map[String, FileStats.ColStat] = {
      val withSums = names.foldLeft(cs) { (acc, n) =>
        val sumStr = Option(r.getAs[String](s"_g_sum_$n"))
        val nonNull = r.getAs[Long](s"_g_cnt_$n")
        val prev = acc.getOrElse(n, FileStats.ColStat(None, None, rows - nonNull))
        acc + (n -> prev.copy(sum = sumStr))
      }
      newGen match {
        case Some(g) => withSums +
          (TableStore.NdvMarker -> FileStats.ColStat(None, None, g))
        case None => withSums
      }
    }
    val next = cur + 1
    val nowMs = System.currentTimeMillis()
    val props = m.props ++ TableStore.ContentPreserving
    val ndvNames = ndvEligible.map(_.name)
    // per-FILE sketches for DECLARED columns (r17, VERDICT r16 next #4):
    // the per-group NDV serve merges them over group-proven files;
    // declared-only keeps the sidecar O(files × |declared|)
    val groupCols = spark.conf.getOption("spark.graft.analyze.ndvGroupCols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    if (ndvNames.nonEmpty) groupCols.foreach(c =>
      require(ndvNames.contains(c),
        s"ndvGroupCols column '$c' is not NDV-analyzable"))
    val doGroup = groupCols.nonEmpty && ndvNames.nonEmpty &&
      groupCols.forall(ndvNames.contains)

    // merge this pass's per-file sketches (as (col -> bytes) rows) with
    // the carried-over state and write the sidecar; `coveredAll` = this
    // pass sketched every live file (fresh generation)
    def finishNdv(perFile: Seq[Array[Byte]] => Array[Byte],
        sketchesOf: String => Seq[Array[Byte]], readCount: Long,
        markedCount: Long, mergeable: Boolean, coveredAll: Boolean)
        : Option[Long] = {
      if (ndvNames.isEmpty || !(coveredAll || mergeable)) return None
      val newGen = if (coveredAll) prevGen + 1 else prevGen
      val merged: Map[String, String] = ndvNames.map { n =>
        val fresh = sketchesOf(n)
        val carried =
          if (coveredAll) Nil
          else ndvPrev.flatMap(_.cols.get(n))
            .map(java.util.Base64.getDecoder.decode(_)).toSeq
        n -> java.util.Base64.getEncoder
          .encodeToString(perFile(carried ++ fresh))
      }.toMap
      // marker count after this commit = |previously-marked ∪ read set|;
      // callers pass markedCount ALREADY NET of the overlap with the read
      // set (re-reading a marked file is harmless — HLL union of the same
      // values is idempotent — but it must not double-count here)
      val files =
        if (coveredAll) readCount
        else markedCount + readCount
      writeNdvState(TableStore.NdvState(next, newGen, files, merged))
      Some(newGen)
    }
    def unionBytes(bufs: Seq[Array[Byte]]): Array[Byte] = {
      val u = new org.apache.datasketches.hll.Union(12)
      bufs.filter(_ != null).foreach(b => u.update(
        org.apache.datasketches.hll.HllSketch.heapify(b)))
      u.getResult.toCompactByteArray
    }

    if (!m.isSharded) {
      val infos = m.inlineFiles.map(f =>
        f -> m.inlineStats.get(f).map(m.usableStat))
      val sumNeedy = infos.collect {
        case (f, s) if s.forall(x => needsSum(x.rows, x.cols)) => f
      }.toSet
      val marked = infos.collect {
        case (f, Some(s)) if markerGen(s.cols).contains(prevGen) => f
      }.toSet
      val mergeable = ndvNames.nonEmpty &&
        ndvPrev.exists(_.files == marked.size)
      val intendNdv = ndvNames.nonEmpty && (ndvPrev.isEmpty || mergeable)
      // an INVALID sidecar (a covered file was removed — rewrites, not
      // appends) stops merging and keeps its honest as-of; opting in to
      // `ndvRescan` re-bases it with one full pass
      val rebase = ndvNames.nonEmpty && ndvPrev.nonEmpty && !mergeable &&
        spark.conf.getOption("spark.graft.analyze.ndvRescan")
          .exists(_.toBoolean)
      // zero-row files never produce an agg row, so they can never carry
      // a marker — exclude them from the unmarked set or analyze would
      // re-read (and re-commit for) them forever
      val unmarked = infos.collect {
        case (f, s) if !marked(f) && s.forall(_.rows > 0) => f
      }.toSet
      val readSet0 =
        if (intendNdv) sumNeedy ++ unmarked else sumNeedy
      if (readSet0.isEmpty && !rebase) return cur
      val fullRoute = rebase ||
        readSet0.size >= TableStore.AnalyzeRescanFraction * m.inlineFiles.size
      val readSet = if (fullRoute) m.inlineFiles.toSet else readSet0
      val coveredAll = ndvNames.nonEmpty &&
        readSet.size == m.inlineFiles.size
      val byPath = fileAggs(spark.read.schema(dataReadSchema(m))
        .parquet(readSet.toSeq.sorted: _*)).collect()
        .map(r => r.getAs[String]("_g_path") -> r).toMap
      // the sidecar's file count must equal the markers that will LIVE
      // after this commit — agg rows written (byPath), not files read
      // (an empty file yields no row and no marker)
      val newGen = finishNdv(unionBytes,
        n => byPath.values.toSeq.map(_.getAs[Array[Byte]](s"_g_hll_$n")),
        byPath.size,
        marked.size - (readSet & marked).size, // marked files NOT re-read
        mergeable, coveredAll)
      // per-file sketch sidecar rides the same pass/coverage (r17): fresh
      // rows straight from the per-file agg, carried rows filtered from
      // the prior dataset for marked files not re-read
      if (doGroup) newGen.foreach { g =>
        val sp = spark
        import sp.implicits._
        val freshRows = byPath.toSeq.flatMap { case (p, r) =>
          groupCols.map(n => (p, n, r.getAs[Array[Byte]](s"_g_hll_$n")))
        }.toDF("path", "col", "sketch")
        val lgk = byPath.values.headOption.map(r =>
          org.apache.datasketches.hll.HllSketch.heapify(
            r.getAs[Array[Byte]](s"_g_hll_${groupCols.head}")).getLgConfigK)
          .getOrElse(12)
        val carriedPaths = (marked -- readSet).map(new Path(_).toString)
        val carried =
          if (coveredAll || carriedPaths.isEmpty) None
          else readNdvGroupState().filter(st => st.gen == prevGen &&
              groupCols.forall(st.cols.contains))
            .map(st => spark.read.parquet(st.dir)
              .filter(col("col").isin(groupCols: _*))
              .filter(col("path").isin(carriedPaths.toSeq: _*)))
        if (coveredAll || carriedPaths.isEmpty || carried.isDefined)
          writeNdvGroup(next, g, byPath.size + carriedPaths.size,
            groupCols, lgk, freshRows, carried, carriedPaths.size)
      }
      val enriched = m.inlineStats.map { case (p, st) =>
        byPath.get(new Path(p).toString) match { // both sides Path-normed
          case Some(r) =>
            p -> st.copy(cols = mergeStats(st.rows, st.cols, r, newGen))
          case None => p -> st
        }
      }
      writeManifestAtomic(m.copy(version = next, parent = cur,
        committedAtMs = nowMs, inlineStats = enriched, props = props))
      next
    } else {
      val sp = spark
      import sp.implicits._
      val metaDs = ManifestShards.read(spark, m.shards.map(_.path))
      val nms = names
      val marker = TableStore.NdvMarker
      val pg = prevGen
      // one metadata sweep: per-file (sumNeedy, marked) → three counts
      // (path, sum-needy, marked, empty): zero-row files never produce an
      // agg row so they can never carry a marker — they are skipped by the
      // NDV read set (they contribute no distinct values) WITHOUT counting
      // as marked, or the sidecar's file-count validation would never hold
      // on tables carrying empty files
      val flags = metaDs.map { fm =>
        val cs = FileStats.colsFromJson(fm.stats)
        (fm.path, needsSum(fm.rows, cs),
          cs.get(marker).exists(_.nulls == pg), fm.rows == 0L)
      }.persist()
      try {
        val cntRow = flags.toDF("p", "sn", "mk", "em").agg(
          sum(org.apache.spark.sql.functions.when(col("sn"), 1L)
            .otherwise(0L)).as("a"),
          sum(org.apache.spark.sql.functions.when(col("mk"), 1L)
            .otherwise(0L)).as("b"),
          sum(org.apache.spark.sql.functions.when(col("sn") && col("mk"), 1L)
            .otherwise(0L)).as("c")).collect().head
        def cnt(i: Int): Long = if (cntRow.isNullAt(i)) 0L else cntRow.getLong(i)
        val (sumNeedyCount, markedCount, overlapCount) =
          (cnt(0), cnt(1), cnt(2))
        val mergeable = ndvNames.nonEmpty &&
          ndvPrev.exists(_.files == markedCount)
        val intendNdv = ndvNames.nonEmpty && (ndvPrev.isEmpty || mergeable)
        val rebase = ndvNames.nonEmpty && ndvPrev.nonEmpty && !mergeable &&
          spark.conf.getOption("spark.graft.analyze.ndvRescan")
            .exists(_.toBoolean)
        val readCount0 =
          if (intendNdv) flags.filter(t => t._2 || (!t._3 && !t._4)).count()
          else sumNeedyCount
        if (readCount0 == 0 && !rebase) return cur
        // route like the derivative refreshes: a mostly-unanalyzed table
        // takes one full pass (recomputing a sum/sketch is harmless —
        // values are identical / unions idempotent); a trickle of new
        // files reads only those files. The subset route collects needy
        // PATHS to the driver, so the exact-path residue bound caps it.
        val fullRoute = rebase ||
          readCount0 >= TableStore.AnalyzeRescanFraction * m.nFiles ||
          readCount0 > TableStore.ExactMaxFiles
        val readPaths: Option[Set[String]] =
          if (fullRoute) None
          else Some((if (intendNdv)
              flags.filter(t => t._2 || (!t._3 && !t._4))
            else flags.filter(_._2)).map(_._1).collect().toSet)
        val coveredAll = ndvNames.nonEmpty &&
          (fullRoute || readPaths.exists(_.size == m.nFiles))
        val raw = readPaths match {
          case None => rawUnmaskedRead(m)
          case Some(ps) => spark.read.schema(dataReadSchema(m))
            .parquet(ps.toSeq.sorted: _*)
        }
        val sums = fileAggs(raw).persist()
        try {
          val readCount = sums.count()
          // global sketch union DISTRIBUTED (one tiny row back), then the
          // driver merges with the carried sidecar state
          val newGen =
            if (ndvNames.isEmpty || !(coveredAll || mergeable)) None
            else {
              val unions = sums.agg(
                org.apache.spark.sql.functions
                  .hll_union_agg(col(s"_g_hll_${ndvNames.head}"))
                  .as("u0"),
                ndvNames.tail.zipWithIndex.map { case (n, i) =>
                  org.apache.spark.sql.functions
                    .hll_union_agg(col(s"_g_hll_$n")).as(s"u${i + 1}")
                }: _*).collect().head
              finishNdv(unionBytes,
                n => Option(unions.getAs[Array[Byte]](
                  s"u${ndvNames.indexOf(n)}")).toSeq,
                readCount, markedCount - overlapCount, mergeable, coveredAll)
            }
          // per-file sketch sidecar (r17): fresh rows from the persisted
          // per-file agg dataset (one long-format projection per declared
          // column), carried rows anti-joined against the re-read paths
          if (doGroup && readCount > 0) newGen.foreach { g =>
            val freshRows = groupCols.map(n =>
              sums.select(col("_g_path").as("path"), lit(n).as("col"),
                col(s"_g_hll_$n").as("sketch"))).reduce(_ unionByName _)
            val head = sums.select(col(s"_g_hll_${groupCols.head}")).head()
            val lgk =
              if (head.isNullAt(0)) 12
              else org.apache.datasketches.hll.HllSketch
                .heapify(head.getAs[Array[Byte]](0)).getLgConfigK
            val expectCarried =
              if (coveredAll) 0L else markedCount - overlapCount
            val carried =
              if (expectCarried == 0L) None
              else readNdvGroupState().filter(st => st.gen == pg &&
                  groupCols.forall(st.cols.contains))
                .map(st => spark.read.parquet(st.dir)
                  .filter(col("col").isin(groupCols: _*))
                  .join(sums.select(col("_g_path")),
                    col("path") === col("_g_path"), "left_anti"))
            if (expectCarried == 0L || carried.isDefined)
              writeNdvGroup(next, g, readCount + expectCarried, groupCols,
                lgk, freshRows, carried, expectCarried)
          }
          val merged = metaDs.toDF()
            .join(sums, col("path") === col("_g_path"), "left")
            .map { r =>
              val rows = r.getAs[Long]("rows")
              val stats0 = FileStats.colsFromJson(r.getAs[String]("stats"))
              val stats =
                if (r.isNullAt(r.fieldIndex("_g_path"))) stats0
                else {
                  val withSums = nms.foldLeft(stats0) { (acc, n) =>
                    val sumStr = Option(r.getAs[String](s"_g_sum_$n"))
                    val nonNull = r.getAs[Long](s"_g_cnt_$n")
                    val prev = acc.getOrElse(n,
                      FileStats.ColStat(None, None, rows - nonNull))
                    acc + (n -> prev.copy(sum = sumStr))
                  }
                  newGen match {
                    case Some(g) => withSums +
                      (marker -> FileStats.ColStat(None, None, g))
                    case None => withSums
                  }
                }
              ManifestShards.FileMeta(r.getAs[String]("path"),
                r.getAs[Long]("bucket"), r.getAs[Long]("bytes"),
                r.getAs[Long]("mod_ms"), rows, stats.size,
                FileStats.colsToJson(stats))
            }
          val tier = shardTier(merged, m.nFiles, next)
          try writeManifestAtomic(m.copy(version = next, parent = cur,
            committedAtMs = nowMs, shards = tier.shards, props = props))
          catch { case e: Throwable =>
            tier.newShardDir.foreach(d => fs.delete(d, true))
            tier.newShardDir.foreach(endStaging)
            throw e
          }
          tier.newShardDir.foreach(endStaging)
          next
        } finally { sums.unpersist(); () }
      } finally { flags.unpersist(); () }
    }
  }

  /** Per-column GLOBAL stats over `m` in ONE bounded job — the
    * `$column_stats` sweep. Executor-side partials per partition (nulls
    * sum, extrema over the exact-typed stat strings, exact sum merge,
    * NDV-marker count for `gen`), driver merge over O(#partitions)
    * results. Each field is `None` unless EVERY file proves it (the same
    * conservative gates the metadata-aggregate serves use): null_count
    * needs a stat entry everywhere; min/max need [[FileStats
    * .minMaxExact]] types with bounds-or-all-null everywhere; sum needs
    * [[FileStats.sumExact]] with an analyzed sum-or-all-null everywhere. */
  private[graft] def columnStatsSweep(m: Manifest, gen: Long)
      : (Map[String, TableStore.ColSummary], Long) = {
    val sp = spark
    import sp.implicits._
    val live = m.schema.fields.toSeq
      .filterNot(f => m.droppedCols.contains(f.name))
    val names = live.map(_.name)
    // strings join min/max (r16) when EVERY contributing file's bound is
    // exact-flagged (attained, not writer-truncated) — the same gate the
    // metadata MIN/MAX serves use; a single inexact bound voids the column
    val isStr = live.map(_.dataType == org.apache.spark.sql.types.StringType)
    val exactMm = live.map(f => FileStats.minMaxExact(f.dataType))
    val exactSum = live.map(f => FileStats.sumExact(f.dataType))
    val marker = TableStore.NdvMarker
    // per-partition partial: (statOk, nulls, minOk, min, maxOk, max,
    // sumOk, sum-or-null, anyVal) per column + marked count
    val partials = fileMetaDS(m).mapPartitions { it =>
      val n = names.size
      val statOk = Array.fill(n)(true)
      val nulls = Array.fill(n)(0L)
      val minOk = Array.fill(n)(true)
      val mins = Array.fill[String](n)(null)
      val maxOk = Array.fill(n)(true)
      val maxs = Array.fill[String](n)(null)
      val sumOk = Array.fill(n)(true)
      val sums = Array.fill[BigDecimal](n)(null)
      val anyVal = Array.fill(n)(false)
      var marked = 0L
      def lt(i: Int, a: String, b: String): Boolean =
        if (isStr(i))
          org.apache.spark.unsafe.types.UTF8String.fromString(a)
            .compareTo(
              org.apache.spark.unsafe.types.UTF8String.fromString(b)) < 0
        else BigDecimal(a) < BigDecimal(b)
      it.foreach { fm =>
        val cs = FileStats.colsFromJson(fm.stats)
        if (cs.get(marker).exists(_.nulls == gen)) marked += 1
        var i = 0
        while (i < n) {
          cs.get(names(i)) match {
            case Some(c) =>
              nulls(i) += c.nulls
              val allNull = c.nulls == fm.rows
              if (exactMm(i) || isStr(i)) {
                val strOk = !isStr(i) || c.exact
                c.min match {
                  case Some(v) if strOk =>
                    anyVal(i) = true
                    if (mins(i) == null || lt(i, v, mins(i))) mins(i) = v
                  case _ => if (!allNull) minOk(i) = false
                }
                c.max match {
                  case Some(v) if strOk =>
                    anyVal(i) = true
                    if (maxs(i) == null || lt(i, maxs(i), v)) maxs(i) = v
                  case _ => if (!allNull) maxOk(i) = false
                }
              }
              if (exactSum(i)) c.sum match {
                case Some(v) =>
                  sums(i) = Option(sums(i)).getOrElse(BigDecimal(0)) +
                    BigDecimal(v)
                case None =>
                  if (!allNull && fm.rows > 0) sumOk(i) = false
              }
            case None =>
              statOk(i) = false
          }
          i += 1
        }
      }
      Iterator.single((statOk.toSeq, nulls.toSeq, minOk.toSeq,
        mins.toSeq.map(Option(_)), maxOk.toSeq, maxs.toSeq.map(Option(_)),
        sumOk.toSeq, sums.toSeq.map(Option(_).map(_.toString)),
        anyVal.toSeq, marked))
    }.collect()
    val marked = partials.map(_._10).sum
    val out = names.zipWithIndex.map { case (nm, i) =>
      val statOk = partials.forall(_._1(i))
      val minOk = (exactMm(i) || isStr(i)) && statOk &&
        partials.forall(_._3(i))
      val maxOk = (exactMm(i) || isStr(i)) && statOk &&
        partials.forall(_._5(i))
      val sumOk = exactSum(i) && statOk && partials.forall(_._7(i))
      val mins = partials.flatMap(_._4(i))
      val maxs = partials.flatMap(_._6(i))
      val sums = partials.flatMap(_._8(i)).map(BigDecimal(_))
      def bOrd: Ordering[String] =
        if (isStr(i)) new Ordering[String] {
          def compare(a: String, b: String): Int =
            org.apache.spark.unsafe.types.UTF8String.fromString(a)
              .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
        } else Ordering.by(BigDecimal(_))
      nm -> TableStore.ColSummary(
        if (statOk) Some(partials.map(_._2(i)).sum) else None,
        if (minOk && mins.nonEmpty) Some(mins.min(bOrd)) else None,
        if (maxOk && maxs.nonEmpty) Some(maxs.max(bOrd)) else None,
        if (sumOk && sums.nonEmpty)
          Some(sums.foldLeft(BigDecimal(0))(_ + _).toString) else None)
    }.toMap
    (out, marked)
  }

  /** The NDV sidecar (`<root>/analyze/ndv.json`): one global HLL sketch
    * per analyzed column, its covered generation/file count, and the
    * snapshot it reflects. Lives OUTSIDE the manifest lifecycle (commit
    * props are per-commit, so manifest-carried state would vanish on the
    * next data commit); the vacuum sweeps never touch `analyze/` (they
    * key off data/shard/DV trees). Last-writer-wins overwrite via
    * temp+rename — racing analyzes produce equivalent content. */
  private def ndvSidecarPath = new Path(rootPath, "analyze/ndv.json")

  private[graft] def readNdvState(): Option[TableStore.NdvState] = {
    val f = fs
    if (!f.exists(ndvSidecarPath)) return None
    try {
      val in = f.open(ndvSidecarPath)
      val txt = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        new String(out.toByteArray, "UTF-8")
      } finally in.close()
      import org.json4s._
      implicit val fmt: Formats = DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parse(txt)
      Some(TableStore.NdvState(
        (j \ "version").extract[Long], (j \ "gen").extract[Long],
        (j \ "files").extract[Long],
        (j \ "cols") match {
          case JObject(cs) => cs.map { case (n, v) =>
            n -> v.extract[String] }.toMap
          case _ => Map.empty[String, String]
        }))
    } catch { case _: Exception => None }
  }

  private def writeNdvState(st: TableStore.NdvState): Unit = {
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val cols = st.cols.toSeq.sortBy(_._1)
      .map { case (n, b) => s"${js(n)}:${js(b)}" }.mkString("{", ",", "}")
    val json = s"""{"version":${st.version},"gen":${st.gen},""" +
      s""""files":${st.files},"cols":$cols}"""
    val f = fs
    f.mkdirs(ndvSidecarPath.getParent)
    val tmp = new Path(ndvSidecarPath.getParent,
      s".ndv-${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, ndvSidecarPath)) {
      f.delete(ndvSidecarPath, false)
      if (!f.rename(tmp, ndvSidecarPath)) {
        f.delete(tmp, false)
        throw new java.io.IOException(s"cannot replace $ndvSidecarPath")
      }
    }
  }

  private def ndvGroupJsonPath = new Path(rootPath, "analyze/ndv_group.json")

  private[graft] def readNdvGroupState(): Option[TableStore.NdvGroupState] = {
    val f = fs
    if (!f.exists(ndvGroupJsonPath)) return None
    try {
      val in = f.open(ndvGroupJsonPath)
      val txt = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        new String(out.toByteArray, "UTF-8")
      } finally in.close()
      import org.json4s._
      implicit val fmt: Formats = DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parse(txt)
      Some(TableStore.NdvGroupState(
        (j \ "version").extract[Long], (j \ "gen").extract[Long],
        (j \ "files").extract[Long], (j \ "lgk").extract[Int],
        (j \ "cols").extract[Seq[String]], (j \ "dir").extract[String]))
    } catch { case _: Exception => None }
  }

  private def writeNdvGroupState(st: TableStore.NdvGroupState): Unit = {
    def js(x: String) = "\"" + x.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val json = s"""{"version":${st.version},"gen":${st.gen},""" +
      s""""files":${st.files},"lgk":${st.lgk},""" +
      s""""cols":${st.cols.map(js).mkString("[", ",", "]")},""" +
      s""""dir":${js(st.dir)}}"""
    val f = fs
    f.mkdirs(ndvGroupJsonPath.getParent)
    val tmp = new Path(ndvGroupJsonPath.getParent,
      s".ndvg-${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (!f.rename(tmp, ndvGroupJsonPath)) {
      f.delete(ndvGroupJsonPath, false)
      if (!f.rename(tmp, ndvGroupJsonPath)) {
        f.delete(tmp, false)
        throw new java.io.IOException(s"cannot replace $ndvGroupJsonPath")
      }
    }
  }

  /** Write the per-file sketch sidecar for one analyze pass: `fresh` this
    * pass's (path, col, sketch) rows, `carried` the prior dataset's rows
    * for marked files NOT re-read (None on a full pass). The carried set
    * must hold EXACTLY `expectCarried` files' rows — anything else means
    * the prior dataset is out of step (a skipped write round), so the
    * whole group sidecar write is SKIPPED this pass (the serve declines
    * on the stale file count; the next full pass re-bases). The parquet
    * lands in a fresh uuid dir and the json pointer swaps atomically —
    * racing analyzes produce equivalent content, and `analyze/` is
    * outside every vacuum sweep. */
  private def writeNdvGroup(next: Long, gen: Long, files: Long,
      groupCols: Seq[String], lgk: Int,
      fresh: DataFrame, carried: Option[DataFrame],
      expectCarried: Long): Unit = {
    val rows = carried match {
      case Some(c) =>
        if (c.count() != expectCarried * groupCols.size) {
          Console.err.println(s"graft: ndv group sidecar out of step over " +
            s"$root — skipping this pass (next full analyze re-bases)")
          return
        }
        fresh.unionByName(c)
      case None => fresh
    }
    val dir = new Path(rootPath,
      s"analyze/ndv_group/${java.util.UUID.randomUUID()}")
    rows.coalesce(math.max(1, math.min(32,
      (files / 50000L).toInt + 1))).write.mode("overwrite")
      .parquet(dir.toString)
    writeNdvGroupState(TableStore.NdvGroupState(next, gen, files, lgk,
      groupCols, dir.toString))
  }

  /** Global analyzed sums over a SHARDED manifest — the serving sweep for
    * an UNFILTERED metadata `SUM` (the inline tier and the exact-filtered
    * sharded path read per-file stats the planner already holds; this
    * covers the remaining shape with one bounded distributed job whose
    * driver residue is O(#partitions × #columns) partial strings).
    * Returns None when ANY file can't prove its contribution (missing
    * stats, no sum and not provably all-null, or the name is
    * dropped-tainted); Some(values) otherwise, with a None value for a
    * column that is NULL over every row (SQL SUM of no values). */
  private[graft] def analyzedSums(m: Manifest, names: Seq[String])
      : Option[Seq[Option[BigDecimal]]] = {
    if (names.exists(m.droppedCols.contains)) return None
    val sp = spark
    import sp.implicits._
    val nms = names
    val partials: Array[(Boolean, Array[Boolean], Array[String])] =
      ManifestShards.read(spark, m.shards.map(_.path)).mapPartitions { it =>
        val sums = Array.fill(nms.size)(BigDecimal(0))
        val any = Array.fill(nms.size)(false)
        var ok = true
        it.foreach { fm =>
          if (ok) {
            val cs = FileStats.colsFromJson(fm.stats)
            var i = 0
            while (i < nms.size) {
              cs.get(nms(i)) match {
                case Some(c) if c.sum.isDefined =>
                  sums(i) += BigDecimal(c.sum.get); any(i) = true
                case Some(c) if c.nulls == fm.rows => () // all-null: +0
                case _ => ok = false
              }
              i += 1
            }
          }
        }
        Iterator.single((ok, any, sums.map(_.toString)))
      }.collect()
    if (partials.exists(!_._1)) return None
    Some(names.indices.map { i =>
      if (!partials.exists(_._2(i))) None
      else Some(partials.filter(_._2(i))
        .map(p => BigDecimal(p._3(i))).foldLeft(BigDecimal(0))(_ + _))
    })
  }

  /** Morton (Z-order) sort key over `cols` — multi-column file clustering.
    *
    * `sortBy` range clustering tightens file bounds on ONE leading column;
    * predicates on the second column still scan every file. The z-curve
    * interleaves the bits of all `cols`, so range-partitioning the rewrite
    * on the code gives every file a small axis-aligned rectangle in the
    * k-dim key space — min/max stats prune on EACH column independently
    * (the same trade Iceberg/Delta `OPTIMIZE ZORDER BY` makes).
    *
    * Normalization: one tiny stats pass (min/max per column, 2 doubles each
    * on the driver) then a LINEAR rescale to `[0, 2^bits)` — linear, not
    * rank-based, so no extra shuffle; skewed columns degrade toward the
    * `sortBy` behavior on their dense region rather than failing. NULL
    * scales to 0 (nulls cluster in the low corner). The interleave itself is
    * [[graft.functions.ZOrderCode]], codegen'd into the rewrite stage. */
  private def zorderColumn(df: DataFrame, cols: Seq[String])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val bits = math.min(16, 63 / cols.size)
    val numeric: Seq[org.apache.spark.sql.Column] = cols.map { c =>
      df.schema(c).dataType match {
        case _: NumericType => col(c).cast("double")
        case DateType => unix_date(col(c)).cast("double")
        case TimestampType | TimestampNTZType => col(c).cast("double")
        case other => throw new IllegalArgumentException(
          s"zorderBy column $c has non-orderable-numeric type " +
            s"${other.simpleString}; z-ordering a string column would hash " +
            "away the locality the curve exists to preserve")
      }
    }
    val aggs = numeric.flatMap(n => Seq(min(n), max(n)))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val maxCode = (1L << bits) - 1
    val scaled = numeric.zipWithIndex.map { case (n, i) =>
      val lo = if (row.isNullAt(2 * i)) 0d else row.getDouble(2 * i)
      val hi = if (row.isNullAt(2 * i + 1)) 0d else row.getDouble(2 * i + 1)
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      coalesce(least(greatest(
        ((n - lit(lo)) / lit(span) * lit(maxCode.toDouble)).cast("long"),
        lit(0L)), lit(maxCode)), lit(0L))
    }
    graft.functions.ZOrderCode(scaled, bits)
  }

  /** Time-based GC matching the reference's `unreferencedDays` semantics
    * (README.md:132-137): drop snapshots whose commit is older than
    * `olderThanMs` AND not the current one. Returns deleted data dirs. */
  def vacuumOlderThan(olderThanMs: Long, nowMs: Long = System.currentTimeMillis())
      : Seq[String] = {
    val cur = currentVersion()
    if (cur < 0) return Nil
    val stale = existingVersions().filter(v =>
      v < cur && nowMs - manifest(v).committedAtMs > olderThanMs)
    if (stale.isEmpty) Nil
    else deleteDataDirs(keepFrom = stale.max + 1)
  }

  /** Expire snapshots that have been NON-CURRENT (superseded) longer than
    * `noncurrentMs` — the reference's `noncurrentDays` knob
    * (README.md:132-137), distinct from [[vacuumOlderThan]]'s
    * `unreferencedDays` own-commit age: a snapshot of a quiet table stays
    * recoverable indefinitely while current, and its recovery window only
    * starts ticking when a newer commit supersedes it. The superseded-at
    * instant is the SUCCESSOR's commit time, so the two thresholds expire
    * different sets whenever commits are spaced apart. */
  def vacuumNoncurrent(noncurrentMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val versions = existingVersions()
    val cur = currentVersion()
    if (cur < 0) return Nil
    // monotone in v: a version's successor is never newer than a later
    // version's, so the stale set is always a prefix
    val stale = versions.filter(_ < cur).filter { v =>
      versions.find(_ > v).exists(next =>
        nowMs - manifest(next).committedAtMs > noncurrentMs)
    }
    if (stale.isEmpty) Nil
    else deleteDataDirs(keepFrom = stale.max + 1)
  }

  /** Delete data files not referenced by any manifest newer than
    * `keepSnapshots` back — the reference's `unreferencedFileRemoval`
    * (README.md:132-137). Returns deleted snapshot data dirs. */
  def vacuum(keepSnapshots: Int = 1): Seq[String] = {
    val cur = currentVersion()
    val keepFrom = math.max(0L, cur - keepSnapshots + 1)
    deleteDataDirs(keepFrom)
  }

  /** Latest surviving snapshot committed at or before `tsMs`, if any.
    * Vacuumed versions no longer resolve (manifest removed with the data). */
  def versionAsOfTimestamp(tsMs: Long): Option[Long] =
    existingVersions().filter(v => manifest(v).committedAtMs <= tsMs).lastOption

  /** Read a small metadata file fully (refs, branch markers). */
  private def readSmallFile(p: Path): String = {
    val in = fs.open(p)
    val bytes = try {
      val o = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) { o.write(buf, 0, n); n = in.read(buf) }
      o.toByteArray
    } finally in.close()
    new String(bytes, "UTF-8")
  }

  /** Parse a ref file, tolerating the (microsecond) window between a
    * writer's create-exclusive claim and its content write: retry once,
    * then fail naming the recovery (a crash inside the window leaves a
    * permanently empty claim — dropTag/deleting the file recovers). */
  private def parseRefRetrying(p: Path): SnapshotRef =
    try SnapshotRef.fromJson(readSmallFile(p))
    catch { case _: Exception =>
      Thread.sleep(50)
      try SnapshotRef.fromJson(readSmallFile(p))
      catch { case e: Exception => throw new IllegalStateException(
        s"unreadable ref file $p — in-flight or crashed writer; " +
          s"delete the file to recover", e)
      }
    }

  // ------------------------------------------------------------------ refs

  private def refsDir = new Path(rootPath, "refs")

  /** Create an immutable named pointer (a TAG, Iceberg's `refs` analog —
    * S3 Tables is Iceberg underneath, reference README.md:12) at `version`
    * (default: current). A tagged snapshot is PINNED: every expiry path
    * ([[vacuum]]/[[vacuumOlderThan]]/[[vacuumNoncurrent]]) keeps its
    * manifest, and the file sweeps therefore keep every data/DV/shard file
    * it references — the audit-freeze / reproducible-training-run handle a
    * 100 TB pipeline needs (a tag costs one KB-scale JSON file; the data it
    * pins is shared with neighboring snapshots via file inheritance, not
    * copied). Creation is atomic and first-writer-wins, same discipline as
    * the manifest swap. */
  def createTag(name: String, version: Long = -1L,
      nowMs: Long = System.currentTimeMillis()): SnapshotRef = {
    require(TableStore.RefNameOk.pattern.matcher(name).matches(),
      s"ref name must match [A-Za-z0-9._-]{1,128}, got '$name'")
    require(!name.forall(_.isDigit),
      s"ref name cannot be all digits (ambiguous with a snapshot id): '$name'")
    val v = if (version < 0) currentVersion() else version
    require(existingVersions().contains(v), s"snapshot $v does not exist")
    val f = fs
    f.mkdirs(refsDir)
    val ref = SnapshotRef(name, v, nowMs)
    val dest = new Path(refsDir, s"$name.json")
    // Atomic create-exclusive on the destination itself (ADVICE r7):
    // tmp+exists()+rename() was a cross-process TOCTOU — two JVMs could
    // both pass the exists check, and rename-over-existing is
    // filesystem-dependent, silently replacing an "immutable" tag.
    // `create(dest, overwrite=false)` makes the existence check and the
    // claim one filesystem operation; the in-process latch additionally
    // serializes racing threads on filesystems whose create is two-step.
    val latch = TableStore.commitLatch(f.makeQualified(rootPath).toString)
    val out = latch.synchronized {
      // collision check INSIDE the latch: tags and branches share a name
      // namespace (VERSION AS OF resolves both), and checking outside
      // would let a racing createBranch('x') and createTag('x') both pass
      require(!branchExists(name),
        s"a branch named '$name' already exists at $root")
      try f.create(dest, false)
      catch { case _: java.io.IOException =>
        throw new IllegalStateException(s"ref '$name' already exists at $root")
      }
    }
    try out.write(ref.toJson.getBytes("UTF-8")) finally out.close()
    ref
  }

  /** Drop a tag; its snapshot becomes expirable again. Returns whether the
    * ref existed. */
  def dropTag(name: String): Boolean =
    fs.delete(new Path(refsDir, s"$name.json"), false)

  /** All refs, name-ascending. O(#refs) driver work — refs are few by
    * construction (human-created pins, not per-commit artifacts). */
  def listRefs(): Seq[SnapshotRef] = {
    val f = fs
    if (!f.exists(refsDir)) Nil
    else f.listStatus(refsDir).map(_.getPath)
      .filter(p => p.getName.endsWith(".json") && !p.getName.startsWith("."))
      .map(parseRefRetrying).sortBy(_.name).toSeq
  }

  /** The snapshot a ref points at, if the ref exists. */
  def refVersion(name: String): Option[Long] = {
    val p = new Path(refsDir, s"$name.json")
    if (!fs.exists(p)) None else listRefs().find(_.name == name).map(_.version)
  }

  /** Roll the table back to `target`'s content by committing a COPY of its
    * manifest as the next version (Iceberg `rollback_to_snapshot`): history
    * stays linear and append-only — the bad snapshots remain queryable (and
    * expirable) rather than being erased, the changelog across the rollback
    * correctly emits the un-done rows, and concurrent writers are handled
    * by the same CAS the data commits use. No data moves: the copy
    * references the target's files/shards/DVs byte-identically, so rollback
    * on a 100 TB table is one KB-scale metadata write. */
  def rollbackTo(target: Long, expectedParent: Option[Long] = None,
      nowMs: Long = System.currentTimeMillis()): Long = {
    val cur = checkParent(expectedParent)
    require(cur >= 0, "cannot roll back an empty table")
    if (target == cur) return cur
    require(existingVersions().contains(target),
      s"snapshot $target does not exist (expired or never committed)")
    val tm = manifest(target)
    val next = cur + 1
    writeManifestAtomic(tm.copy(version = next, parent = cur,
      committedAtMs = nowMs))
    next
  }

  // -------------------------------------------------------------- branches

  /** A writable BRANCH (Iceberg branch semantics — S3 Tables is Iceberg
    * underneath, reference README.md:12): its own manifest sequence under
    * `manifest/branches/<name>/`, sharing main's data/shard/ref trees.
    * Created by COPYING the fork-point manifest at its own version number
    * (a KB-scale metadata write, zero data movement — the same trick
    * [[rollbackTo]] uses), so branch snapshot ids live in the same
    * numbering as main's and changelog/time-travel over the branch work
    * unchanged. This is the write-audit-publish handle: commits to the
    * branch are invisible on main until [[fastForward]] republishes them,
    * which is how a 100 TB continuously-fed table takes a risky backfill —
    * audit on the branch, publish as pure metadata copies. */
  def createBranch(name: String, fromVersion: Long = -1L,
      nowMs: Long = System.currentTimeMillis()): BranchRef = {
    require(branch.isEmpty, "branches are managed from the main table store")
    require(TableStore.RefNameOk.pattern.matcher(name).matches(),
      s"branch name must match [A-Za-z0-9._-]{1,128}, got '$name'")
    require(!name.forall(_.isDigit),
      s"branch name cannot be all digits (ambiguous with a snapshot id): '$name'")
    val from = if (fromVersion < 0) currentVersion() else fromVersion
    require(existingVersions().contains(from), s"snapshot $from does not exist")
    val f = fs
    val dir = new Path(branchesDir, name)
    f.mkdirs(dir)
    val ref = BranchRef(name, from, nowMs)
    // marker first = the claim (create-exclusive, same discipline as tags);
    // the fork-manifest copy follows under the branch's own CAS
    val marker = new Path(dir, "branch.json")
    val latch = TableStore.commitLatch(f.makeQualified(rootPath).toString)
    val out = latch.synchronized {
      // same-latch collision check as createTag — see the note there
      require(refVersion(name).isEmpty,
        s"a tag named '$name' already exists at $root")
      try f.create(marker, false)
      catch { case _: java.io.IOException =>
        throw new IllegalStateException(s"branch '$name' already exists at $root")
      }
    }
    try out.write(ref.toJson.getBytes("UTF-8")) finally out.close()
    // Expiry race (ADVICE r8): the branch only pins its fork's files once
    // the fork-manifest copy is visible to listBranches — a vacuum running
    // in the window could expire the fork snapshot and leave the branch
    // referencing deleted files. Pin the fork with a TEMPORARY tag (tags
    // block every expiry path) across the copy, then RE-VERIFY the fork
    // still exists on main before declaring success: if an in-flight
    // expiry already passed its survivor collection, the manifest-first
    // delete ordering guarantees the missing-manifest check below observes
    // it, and the half-created branch is cleaned up instead of published.
    // name truncated so the pin stays inside RefNameOk's 128-char bound;
    // the staging suffix keeps truncated-collision pins distinct
    val tmpPin = s"branch-pin-${name.take(64)}-${TableStore.stagingSuffix()}"
    try {
      try createTag(tmpPin, from)
      catch { case e: Exception =>
        f.delete(dir, true)
        throw new IllegalStateException(
          s"branch '$name' fork snapshot $from vanished before the fork " +
            "copy (concurrent expiry?)", e)
      }
      forBranch(name).writeManifestAtomic(manifest(from))
      if (!existingVersions().contains(from)) {
        f.delete(dir, true)
        TableStore.invalidateMeta(root + "#" + name)
        throw new IllegalStateException(
          s"branch '$name' fork snapshot $from was expired mid-create; " +
            "branch removed — retry from a live snapshot")
      }
    } finally dropTag(tmpPin)
    ref
  }

  /** A store view of branch `name`: every read/commit/changelog path
    * operates on the branch's manifest sequence. Maintenance that deletes
    * shared state ([[vacuum]] and friends) is refused on a branch view. */
  def forBranch(name: String): TableStore = {
    require(branch.isEmpty, s"already a branch view of '${branch.get}'")
    new TableStore(spark, root, Some(name))
  }

  def branchExists(name: String): Boolean =
    fs.exists(new Path(new Path(branchesDir, name), "branch.json"))

  /** Branch metadata: fork point + creation time. `forkVersion` advances
    * to the published head on every fast-forward via NEW timestamped
    * `branch-upd-*.json` markers — the creation claim `branch.json` is
    * immutable, so [[branchExists]] (and WAP session routing, which falls
    * back to MAIN when the branch is invisible) never observes the branch
    * missing mid-update, and a crashed update falls back to the newest
    * readable marker. forkVersion is monotone, so newest = max. */
  def branchMeta(name: String): BranchRef = {
    val dir = new Path(branchesDir, name)
    val ps = new Path(dir, "branch.json") +: fs.listStatus(dir)
      .map(_.getPath).filter(_.getName.startsWith("branch-upd-")).toSeq
    val readable = ps.flatMap { p =>
      try Some(BranchRef.fromJson(readSmallFile(p)))
      catch { case _: Exception => None }
    }
    require(readable.nonEmpty,
      s"branch '$name' at $root has no readable marker (crashed createBranch?)")
    readable.maxBy(_.forkVersion)
  }

  /** All branches, name-ascending. O(#branches) driver work — branches are
    * human-created workflow handles, not per-commit artifacts. A crashed
    * [[createBranch]] (marker without a fork manifest) is invisible here. */
  def listBranches(): Seq[BranchRef] = {
    val f = fs
    if (!f.exists(branchesDir)) Nil
    else f.listStatus(branchesDir).filter(_.isDirectory).map(_.getPath.getName)
      .filter(branchExists)
      .filter(n => new TableStore(spark, root, Some(n)).currentVersion() >= 0)
      .map(branchMeta).sortBy(_.name).toSeq
  }

  /** Delete a branch: its manifest sequence and marker. Data and shard
    * files it referenced exclusively become unreferenced and fall to the
    * next main vacuum — nothing a surviving manifest references is touched
    * here, so dropping an already-fast-forwarded branch is always safe. */
  def dropBranch(name: String): Boolean = {
    require(branch.isEmpty, "branches are managed from the main table store")
    // a recreated branch of the same name restarts its own numbering —
    // cached (root#name, v) manifests would alias the old sequence
    TableStore.invalidateMeta(root + "#" + name)
    fs.delete(new Path(branchesDir, name), true)
  }

  /** Age-based BRANCH retention (VERDICT r8 missing #4): vacuum counts
    * every branch manifest as a survivor and branch views refuse expiry —
    * by design — so an ABANDONED branch pins its fork's data files
    * forever; the table-level `unreferencedFileRemoval` retention
    * (reference README.md:132-137) never applies to them without this
    * knob. Drops every branch whose LAST ACTIVITY (newest branch commit,
    * or the ref marker for a commit-less branch) is older than
    * `maxAgeMs`. A branch with UNPUBLISHED commits (head beyond the fork
    * marker) holds staged work and is REFUSED unless `force` — the
    * maintenance cadence passes force=true because the abandoned staged
    * branch is exactly the GC hole this closes (an audit that never
    * published and never will). Dropped branches' exclusively-referenced
    * files fall to the NEXT vacuum, same as [[dropBranch]]. Returns the
    * dropped branch names. */
  def expireBranches(maxAgeMs: Long, force: Boolean = false,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    require(branch.isEmpty, "branch expiry runs on the main table store")
    require(maxAgeMs > 0, "expireBranches needs a positive age")
    listBranches().flatMap { b =>
      val bs = forBranch(b.name)
      val head = bs.currentVersion()
      // activity = the marker plus commits BEYOND the fork: the fork-point
      // manifest is a COPY carrying main's commit timestamp, which would
      // make every fresh-forked branch of an active table look active
      val lastActivity = (b.createdAtMs +: bs.existingVersions()
        .filter(_ > b.forkVersion).map(v => bs.manifest(v).committedAtMs)).max
      val aged = nowMs - lastActivity > maxAgeMs
      val unpublished = head > b.forkVersion
      if (!aged) None
      else if (unpublished && !force)
        throw new IllegalStateException(
          s"branch '${b.name}' is aged but holds unpublished commits " +
            s"(head $head beyond fork ${b.forkVersion}); publish, drop, or " +
            "expire with force=true")
      else { dropBranch(b.name); Some(b.name) }
    }
  }

  /** Publish a branch onto main (Iceberg `fast_forward`): copy every
    * branch manifest newer than main's head into the main sequence,
    * verbatim. Requires main's head to still be the branch's fork point —
    * a main commit since the fork means diverged histories, refused (merge
    * by rebasing the branch instead). Each copy goes through the same CAS
    * as a data commit; the per-root latch makes the whole publish atomic
    * against in-process writers, and a cross-process race aborts at the
    * first conflicting version leaving main a consistent prefix. Pure
    * metadata: publishing any number of 100 TB-scale branch commits moves
    * zero data bytes. */
  def fastForward(name: String): Long = {
    require(branch.isEmpty, "fast-forward publishes onto the main store")
    repairRebase(name)
    val br = forBranch(name)
    val head = br.currentVersion()
    require(head >= 0, s"branch '$name' does not exist at $root")
    val meta = branchMeta(name)
    // Idempotent-success / crash recovery: if main's head manifest IS the
    // branch's head manifest (same version AND same content — equal
    // numbers alone mean nothing across sequences), the publish already
    // happened; repair a stale fork marker (crash between the manifest
    // copies and the marker update) and report success.
    if (currentVersion() == head &&
        existingVersions().contains(head) && manifest(head) == br.manifest(head)) {
      if (meta.forkVersion != head) writeBranchUpdMarker(name, meta, head)
      return head
    }
    val latch = TableStore.commitLatch(fs.makeQualified(rootPath).toString)
    latch.synchronized {
      val cur = currentVersion()
      require(cur == meta.forkVersion,
        s"not a fast-forward: main is at $cur but branch '$name' forked " +
          s"at ${meta.forkVersion} (histories diverged)")
      br.existingVersions().filter(_ > cur).foreach { v =>
        writeManifestAtomic(br.manifest(v))
      }
    }
    // advance the recorded fork point: everything up to `head` is now
    // shared with main, so a continued branch stays fast-forwardable
    writeBranchUpdMarker(name, meta, head)
    head
  }

  /** REBASE a branch onto main's current head, so write-audit-publish can
    * publish even though main advanced under it — under the reference's
    * CONTINUOUS zero-ETL feed ("Data flows automatically", README.md:12;
    * integration src:211-215) a CDC commit virtually always lands on main
    * during the audit window, and [[fastForward]] rightly refuses diverged
    * histories (VERDICT r8 missing #1: without rebase, WAP deadlocks on
    * any live table).
    *
    * Replays the branch's manifest DELTAS (appended files/shards, DV and
    * equality-delete refs, schema evolution, commit props) on top of
    * main's head as fresh branch commits, then re-points the fork marker
    * at main's head — after which the standard audit → `fast_forward` flow
    * proceeds. PURE METADATA at any scale: no data file is read, copied,
    * or moved. The version-collision problem (branch commit numbers
    * overlap main's post-fork numbers, and the equality-delete mask derives
    * a row's commit version from its `snap-N-` path segment) is solved by
    * the manifest's per-file version override map
    * ([[TableStore.Manifest.fileVersions]]): each replayed data file is
    * logically re-homed at its new commit version, O(branch-delta files)
    * map entries carried ONLY while equality masks exist. Replayed
    * equality deletes take their new commit version as `since` — rebase
    * semantics: the branch's deletes happen-after main's concurrent
    * commits, so they mask main's post-fork rows too (the LWW outcome the
    * CDC feed expects).
    *
    * REFUSED only on true conflicts, mirroring Iceberg cherry-pick limits:
    *  - main or branch changed the bucket layout since the fork;
    *  - both sides evolved the schema to different shapes;
    *  - a branch commit REWROTE shared state (compact/purge/COW rewrites
    *    of fork files — publishable only when main has not also moved, so
    *    publish first or recreate the branch); append/MOR/eq/DML-delta
    *    commits, the audit-load shapes, all replay;
    *  - the branch positionally deleted rows of a file main has since
    *    rewritten (replaying would silently lose those deletes);
    *  - main removed a file the branch's rewrite also removed.
    *
    * Crash-safe: a `rebase-pending.json` marker brackets the manifest
    * swaps; [[repairRebase]] (run by rebase and fast-forward entry) rolls
    * an interrupted rebase forward when every replayed manifest landed,
    * back otherwise. Concurrency: if main advances DURING the rebase, the
    * re-pointed fork is already stale and the next fast-forward refuses —
    * rebase again; the loop converges because each pass is O(branch delta)
    * metadata. Returns the branch's new head version. */
  def rebaseBranch(name: String): Long = {
    require(branch.isEmpty, "rebase is managed from the main table store")
    repairRebase(name)
    val br = forBranch(name)
    require(br.currentVersion() >= 0, s"branch '$name' does not exist at $root")
    val meta = branchMeta(name)
    val fork = meta.forkVersion
    val mainHead = currentVersion()
    if (mainHead == fork) return br.currentVersion() // already based on head
    require(mainHead > fork,
      s"branch '$name' fork $fork is ahead of main head $mainHead " +
        "(interrupted publish? run fast_forward first)")
    val branchVs = br.existingVersions().filter(_ > fork).sorted
    val forkM = br.manifest(fork)
    val mh = manifest(mainHead)
    require(mh.bucketKeys == forkM.bucketKeys &&
        mh.numBuckets == forkM.numBuckets,
      s"cannot rebase '$name': main changed the bucket layout since the " +
        "fork (rebucket); recreate the branch from the new head")
    require(mh.partitionBy == forkM.partitionBy,
      s"cannot rebase '$name': main changed the partition layout since the fork")
    val mainSchemaChanged = mh.schema != forkM.schema
    // file sets for conflict detection — inline tiers compare files,
    // sharded tiers compare shard refs (branch deltas there are
    // append-only by construction, enforced per commit below)
    def inlineSet(m: Manifest): Set[String] = m.inlineFiles.toSet
    if (branchVs.isEmpty) {
      // no branch commits to replay: re-fork at main's head so the branch
      // reads (and publishes from) the new base — copy first, marker
      // second (the marker is the authoritative claim)
      br.writeManifestAtomic(mh)
      writeBranchUpdMarker(name, meta, mainHead)
      return mainHead
    }
    val newStart = math.max(mainHead, br.currentVersion()) + 1
    var base = mh
    var overrides = Map.empty[String, Long]
    val replayed = scala.collection.mutable.ArrayBuffer[Manifest]()
    val rebaseShardDirs = scala.collection.mutable.ArrayBuffer[Path]()
    branchVs.zipWithIndex.foreach { case (v, i) =>
      val pm = br.manifest(if (i == 0) fork else branchVs(i - 1))
      val bm = br.manifest(v)
      val newV = newStart + i
      require(pm.isSharded == bm.isSharded,
        s"cannot rebase '$name': branch commit $v crossed the manifest " +
          "tier (full rewrite); publish before main moves or recreate")
      require(bm.bucketKeys == pm.bucketKeys && bm.numBuckets == pm.numBuckets,
        s"cannot rebase '$name': branch commit $v changed the bucket layout")
      require(bm.partitionBy == pm.partitionBy,
        s"cannot rebase '$name': branch commit $v changed the partition layout")
      if (bm.schema != pm.schema)
        require(!mainSchemaChanged,
          s"cannot rebase '$name': schema evolved on BOTH sides since the " +
            "fork; align one side first")
      val schemaTo =
        if (bm.schema != pm.schema) bm.schema
        else base.schema
      // ---- delta extraction
      val (addedFiles, addedStats, removedFiles, addedShards) =
        if (!bm.isSharded) {
          val pmSet = inlineSet(pm)
          val bmSet = inlineSet(bm)
          val add = bm.inlineFiles.filterNot(pmSet)
          val rem = pm.inlineFiles.filterNot(bmSet)
          (add, bm.inlineStats.filter(kv => add.contains(kv._1)), rem,
            Seq.empty[ManifestShards.ShardRef])
        } else {
          val pmShards = pm.shards.toSet
          val removedShards = pm.shards.filterNot(bm.shards.toSet)
          require(removedShards.isEmpty,
            s"cannot rebase '$name': branch commit $v rewrote shards " +
              "(compact/purge on the branch); publish first or recreate")
          (Nil, Map.empty[String, FileStats.FileStat], Nil,
            bm.shards.filterNot(pmShards))
        }
      // delete-metadata deltas; removing FORK-INHERITED refs means the
      // branch purged shared state — a rewrite, refused above unless the
      // removal cancels a ref the branch itself added earlier
      val addedDvs = bm.dvRefs.filterNot(pm.dvRefs.toSet)
      val removedDvs = pm.dvRefs.filterNot(bm.dvRefs.toSet)
      require(removedDvs.forall(r => !forkM.dvRefs.contains(r)),
        s"cannot rebase '$name': branch commit $v dropped fork-inherited " +
          "delete vectors (purge on the branch); publish first or recreate")
      val addedEqs = bm.eqRefs.filterNot(pm.eqRefs.toSet)
      val removedEqs = pm.eqRefs.filterNot(bm.eqRefs.toSet)
      require(removedEqs.forall(r => !forkM.eqRefs.contains(r)),
        s"cannot rebase '$name': branch commit $v dropped fork-inherited " +
          "equality deletes (purge on the branch); publish first or recreate")
      // ---- conflict checks against the accumulating main view
      if (removedFiles.nonEmpty) {
        require(!base.isSharded,
          s"cannot rebase '$name': branch commit $v rewrote files but main " +
            "moved to the sharded tier; recreate the branch")
        val baseSet = inlineSet(base)
        val gone = removedFiles.filterNot(baseSet)
        require(gone.isEmpty,
          s"cannot rebase '$name': branch commit $v rewrote ${gone.size} " +
            s"file(s) main also rewrote since the fork (e.g. ${gone.head}) " +
            "— true row conflict")
      }
      if (addedDvs.nonEmpty) {
        // a positional delete must still address a live file: masked paths
        // absent from the rebased view mean main rewrote those rows and
        // replaying would silently lose the branch's deletes
        val sp = spark
        import sp.implicits._
        val masked = spark.read.schema(TableStore.DvSchema)
          .parquet(addedDvs.map(_.path): _*)
          .select("file_path").distinct().as[String].collect().toSeq
        val inThisCommit = addedFiles.toSet
        val toCheck = masked.filterNot(inThisCommit)
          .filterNot(overrides.keySet) // added by an earlier replayed commit
        val live =
          if (!base.isSharded) toCheck.filter(inlineSet(base))
          else metaFor(base, toCheck).map(_.path)
        require(live.size == toCheck.distinct.size,
          s"cannot rebase '$name': branch commit $v positionally deleted " +
            "rows of a file main has rewritten since the fork — true row " +
            "conflict")
      }
      // ---- build the replayed manifest. Tier mixing: a branch delta in
      // one tier lands on a main view in the other when main compacted
      // across the inline/sharded boundary post-fork — inline deltas onto
      // a sharded base wrap into a fresh shard; sharded deltas onto an
      // inline base are refused (main shrank below the shard threshold —
      // recreate the branch there, a corner with no continuous-feed shape)
      require(base.isSharded || addedShards.isEmpty,
        s"cannot rebase '$name': branch commit $v carries shard deltas " +
          "but main compacted to the inline tier; recreate the branch")
      val (newFiles, newStats, newShards) =
        if (!base.isSharded)
          (base.inlineFiles.filterNot(removedFiles.toSet) ++ addedFiles,
            base.inlineStats -- removedFiles ++ addedStats,
            base.shards ++ addedShards)
        else if (addedFiles.isEmpty)
          (base.inlineFiles, base.inlineStats, base.shards ++ addedShards)
        else {
          val t = shardTier(
            ManifestShards.metaFromInline(spark, addedFiles, addedStats),
            addedFiles.size.toLong, newV)
          t.newShardDir.foreach { d => rebaseShardDirs += d }
          (Seq.empty[String], Map.empty[String, FileStats.FileStat],
            base.shards ++ t.shards)
        }
      // shard-tier added files need overrides too — enumerate the delta
      // shards (O(delta files) driver entries; the override map is
      // manifest-JSON-resident, so it is driver-sized by construction)
      val shardAdded: Seq[String] =
        if (addedShards.isEmpty) Nil
        else {
          val sp = spark
          import sp.implicits._
          ManifestShards.read(spark, addedShards.map(_.path))
            .map(_.path).collect().toSeq
        }
      overrides = overrides ++
        (addedFiles ++ shardAdded).map(_ -> newV).toMap
      // ref removal matches by PATH: replayed eq refs carry a remapped
      // `since`, so a later branch commit cancelling an earlier branch
      // addition would miss on whole-ref equality
      val remDvPaths = removedDvs.map(_.path).toSet
      val remEqPaths = removedEqs.map(_.path).toSet
      base = base.copy(
        version = newV,
        parent = if (i == 0) mainHead else newStart + i - 1,
        schema = schemaTo,
        location = bm.location,
        inlineFiles = newFiles,
        inlineStats = newStats,
        shards = newShards,
        committedAtMs = System.currentTimeMillis(),
        props = bm.props,
        droppedCols =
          if (bm.schema != pm.schema) bm.droppedCols else base.droppedCols,
        maxFieldId = math.max(base.highestFieldId, bm.highestFieldId),
        dvRefs = base.dvRefs.filterNot(r => remDvPaths(r.path)) ++
          addedDvs,
        eqRefs = base.eqRefs.filterNot(r => remEqPaths(r.path)) ++
          addedEqs.map(_.copy(since = newV)),
        fileVersions = Map.empty) // attached below iff eq masks need it
      replayed += base
    }
    // version overrides exist to disambiguate a rebased file against
    // EXISTING equality masks (every FUTURE eq commit's `since` exceeds the
    // current head, hence every override — see the carry note in
    // commitIncremental). Manifests without eq refs skip the map entirely,
    // so eq-free tables rebase with zero manifest growth. The map is
    // manifest-JSON-resident and broadcast on reads — cap it so a
    // million-file branch delta onto an eq-masked table cannot bloat the
    // snapshot JSON; the escape is to fold the masks first (purge), after
    // which the map is unnecessary.
    if (replayed.exists(_.eqRefs.nonEmpty)) {
      require(overrides.size <= TableStore.MaxFileOverrides,
        s"rebase of '$name' would attach ${overrides.size} per-file " +
          "version overrides to eq-masked manifests (cap " +
          s"${TableStore.MaxFileOverrides}); purge deletes to fold " +
          "the equality masks, then rebase again")
    }
    val finalMs = replayed.toSeq.map(m =>
      if (m.eqRefs.isEmpty) m else m.copy(fileVersions = overrides))
    // ---- crash-bracketed swap into the branch sequence
    val dropVs = branchVs
    writeRebasePending(name, finalMs.map(_.version), dropVs, mainHead)
    try {
      finalMs.foreach(br.writeManifestAtomic)
    } catch { case e: Throwable =>
      // lost a CAS or an IO failure mid-swap: roll the partial replay back
      // so the branch is exactly its pre-rebase self, then surface
      repairRebase(name)
      rebaseShardDirs.foreach(d => try { fs.delete(d, true); () }
        catch { case _: Exception => () })
      throw e
    }
    dropVs.foreach(v =>
      fs.delete(new Path(br.manifestDir, s"v$v.json"), false))
    writeBranchUpdMarker(name, branchMeta(name), mainHead)
    fs.delete(rebasePendingPath(name), false)
    rebaseShardDirs.foreach(endStaging)
    // the swap renumbered/rewrote branch manifests in place — drop any
    // cached (root#name, v) entries from the pre-rebase sequence
    TableStore.invalidateMeta(root + "#" + name)
    finalMs.last.version
  }

  private def rebasePendingPath(name: String): Path =
    new Path(new Path(branchesDir, name), "rebase-pending.json")

  private def writeRebasePending(name: String, newVs: Seq[Long],
      dropVs: Seq[Long], toFork: Long): Unit = {
    val p = rebasePendingPath(name)
    val out = fs.create(p, false)
    try out.write(
      (s"""{"new":[${newVs.mkString(",")}],"drop":[${dropVs.mkString(",")}],""" +
        s""""toFork":$toFork}""").getBytes("UTF-8"))
    finally out.close()
  }

  /** Repair an interrupted [[rebaseBranch]]: the pending marker records the
    * replayed versions, the superseded versions, and the new fork point.
    * If every replayed manifest landed, roll FORWARD (finish the drops and
    * the fork-marker update — idempotent); otherwise roll BACK (delete the
    * partial replay; the superseded manifests are untouched at that point,
    * so the branch is exactly its pre-rebase self). No-op without a
    * marker. */
  private def repairRebase(name: String): Unit = {
    val p = rebasePendingPath(name)
    if (!fs.exists(p)) return
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(readSmallFile(p))
    val newVs = (j \ "new").extract[Seq[Long]]
    val dropVs = (j \ "drop").extract[Seq[Long]]
    val toFork = (j \ "toFork").extract[Long]
    val br = forBranch(name)
    val present = br.existingVersions().toSet
    if (newVs.forall(present)) {
      dropVs.filterNot(newVs.toSet).foreach(v =>
        fs.delete(new Path(br.manifestDir, s"v$v.json"), false))
      writeBranchUpdMarker(name, branchMeta(name), toFork)
    } else {
      newVs.filter(present).foreach(v =>
        fs.delete(new Path(br.manifestDir, s"v$v.json"), false))
    }
    fs.delete(p, false)
    // either direction deleted committed branch manifests whose version
    // numbers a retried rebase will reuse — drop the cached entries
    TableStore.invalidateMeta(root + "#" + name)
    ()
  }

  /** Make-before-break fork-point advance: a NEW create-exclusive
    * `branch-upd-*.json` becomes authoritative the moment it is fully
    * written (readers take the max forkVersion among readable markers);
    * superseded update markers are pruned best-effort afterwards. The
    * immutable creation claim is never touched. */
  private def writeBranchUpdMarker(name: String, meta: BranchRef,
      toFork: Long): Unit = {
    val dir = new Path(branchesDir, name)
    val p = new Path(dir, s"branch-upd-${stagingSuffix()}.json")
    val out = fs.create(p, false)
    try out.write(meta.copy(forkVersion = toFork).toJson.getBytes("UTF-8"))
    finally out.close()
    // compare by NAME: listStatus returns qualified paths, `p` is not —
    // object inequality would delete the marker just written
    fs.listStatus(dir).map(_.getPath)
      .filter(q => q.getName.startsWith("branch-upd-") && q.getName != p.getName)
      .foreach(q => try { fs.delete(q, false); () } catch { case _: Exception => () })
  }

  /** GC of snapshots below `keepFrom`: the manifest is deleted FIRST, then
    * unreferenced data — so no surviving manifest ever points at deleted
    * files (the reference's Iceberg snapshot expiry removes metadata along
    * with the files, README.md:132-137).
    *
    * Granularity (ADVICE r4): a snap dir referenced by NO surviving manifest
    * is deleted whole; a dir still pinned through inherited files (an
    * incremental commit reuses untouched buckets' files from older snap
    * dirs) is swept at FILE granularity — data files inside it that no
    * surviving manifest lists are deleted individually. Without this, a
    * continuous incremental feed never reclaims superseded touched-bucket
    * files (every old dir stays pinned via its untouched buckets) and
    * storage grows with total rewritten data until a full compact.
    * Returns deleted snapshot data dirs (file-level sweeps are not listed). */
  private def deleteDataDirs(keepFrom: Long): Seq[String] = {
    // A branch view's manifest sequence is a SUBSET of the table's live
    // metadata — sweeping shared data/shard trees against it alone would
    // delete files main still references. Expiry is a main-line operation.
    require(branch.isEmpty,
      "vacuum/expiry runs on the main table store, not a branch view")
    val f = fs
    // Streaming-sink crash window (ADVICE r5): an UNFINALIZED intent (epoch
    // whose table commit may have landed but whose done marker did not) is
    // replayed by checking manifests NEWER than its pre-version for the
    // epoch's commit fingerprint. Expiring those manifests would erase the
    // evidence and turn crash recovery into a double-apply — clamp the
    // expiry horizon so every manifest a pending replay could need survives
    // this vacuum and falls to a later one (after the stream finalizes).
    val clamped = minUnfinalizedIntentPre() match {
      case Some(pre) => math.min(keepFrom, pre + 1)
      case None => keepFrom
    }
    // Ref-pinned snapshots survive every expiry path: their manifests stay,
    // so the sweeps below (which work off surviving manifests' file
    // references) keep their data/DV/shard files too. Dropping the tag
    // re-exposes them to the NEXT vacuum.
    val pinned = listRefs().map(_.version).toSet
    val expiredVs = existingVersions().filter(v => v < clamped && !pinned(v))
    expiredVs.foreach { v =>
      f.delete(new Path(manifestDir, s"v$v.json"), false)
    }
    // an expired snapshot's cached manifest would serve paths whose data
    // this very sweep deletes below — time-travel there must fail loudly
    if (expiredVs.nonEmpty) TableStore.invalidateMeta(memoKey)
    // Every BRANCH manifest pins its files too: branch snapshots share
    // main's data/shard trees (a branch commit's files live under data/
    // like any other), so the sweeps below must treat the union of main's
    // and all branches' manifests as live. Branch manifests themselves are
    // never expired here — dropBranch removes them wholesale.
    val branchSurvivors = listBranches().flatMap { b =>
      val bs = forBranch(b.name)
      bs.existingVersions().map(bs.manifest)
    }
    val survivors = existingVersions().map(manifest) ++ branchSurvivors
    val out =
      if (!f.exists(dataDir)) Nil
      else if (survivors.forall(!_.isSharded)) sweepDataInline(survivors)
      else sweepDataDistributed(survivors)
    sweepShardDirs(survivors)
    out
  }

  /** Smallest pre-version among the table's UNFINALIZED streaming-sink
    * intents (an intent marker with no done marker at or above its epoch) —
    * the vacuum clamp's pin. Ledger entries are create-only zero-byte
    * files under `<root>/_stream_sink/<queryId>/`. */
  private def minUnfinalizedIntentPre(): Option[Long] = {
    val f = fs
    val ledgerRoot = new Path(rootPath, "_stream_sink")
    if (!f.exists(ledgerRoot)) return None
    val Done = "done-(\\d+)".r
    val Intent = "intent-(\\d+)-(-?\\d+)".r
    val pres = f.listStatus(ledgerRoot).filter(_.isDirectory).flatMap { q =>
      val names = f.listStatus(q.getPath).map(_.getPath.getName)
      val maxDone = names.collect { case Done(e) => e.toLong }
        .foldLeft(-1L)(math.max)
      names.collect {
        case Intent(e, pre) if e.toLong > maxDone => pre.toLong
      }
    }
    if (pres.isEmpty) None else Some(pres.min)
  }

  /** Driver-side sweep — every survivor is inline, so the referenced sets
    * are already driver-held and small. */
  private def sweepDataInline(survivors: Seq[Manifest]): Seq[String] = {
    val f = fs
    // A surviving manifest references a snap dir either as its own write
    // location OR through inherited data files — both pin the dir.
    // Qualify both sides: manifests may record scheme-less paths while
    // listStatus returns fully-qualified URIs.
    val referencedDirs = survivors.flatMap { m =>
      m.location +: (m.inlineFiles ++ m.dvRefs.map(_.path) ++
        m.eqRefs.map(_.path)).map(TableStore.snapDirOfFile)
    }.map(p => f.makeQualified(new Path(p)).toString).toSet
    // delete-vector / equality-delete files are data the manifests
    // reference (they end in .parquet and live under snap dirs, so the
    // lister sees them) — a sweep that missed them would delete live
    // deletion metadata
    val referencedFiles = survivors.flatMap(m =>
      m.inlineFiles ++ m.dvRefs.map(_.path) ++ m.eqRefs.map(_.path))
      .map(p => f.makeQualified(new Path(p)).toString).toSet
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val now = System.currentTimeMillis()
    f.listStatus(dataDir).foreach { st =>
      val p = st.getPath
      if (!referencedDirs.contains(f.makeQualified(p).toString)) {
        if (sweepUnreferencedEntry(f, st, now)) out += p.toString
      } else {
        listDataFiles(p)
          .filterNot(file => referencedFiles.contains(
            f.makeQualified(new Path(file)).toString))
          .foreach(file => f.delete(new Path(file), false))
      }
    }
    out.toSeq
  }

  /** Distributed sweep for sharded tables: the referenced-file set lives in
    * a metadata DataFrame (union of the survivors' shard scans), pinned-dir
    * candidates are listed by executors, unreferenced files fall out of a
    * LEFT ANTI join, and deletion fans out too — the driver holds only dir
    * names and the deleted-dir list, never an O(#files) set. */
  private def sweepDataDistributed(survivors: Seq[Manifest]): Seq[String] = {
    val sp = spark
    import sp.implicits._
    val f = fs
    val dvSide = survivors.flatMap(m =>
      m.dvRefs.map(_.path) ++ m.eqRefs.map(_.path)).distinct
    val refPaths = (survivors.map(m => fileMetaDS(m).map(_.path).toDF("path")) ++
      (if (dvSide.isEmpty) Nil else Seq(dvSide.toDS().toDF("path"))))
      .reduce(_ union _).distinct().persist()
    try {
      val referencedDirs = (refPaths.as[String]
        .map(TableStore.snapDirOfFile).distinct().collect().toSeq ++
        survivors.map(_.location))
        .map(p => f.makeQualified(new Path(p)).toString).toSet
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val pinned = scala.collection.mutable.ArrayBuffer[String]()
      val now = System.currentTimeMillis()
      f.listStatus(dataDir).foreach { st =>
        val p = st.getPath
        if (!referencedDirs.contains(f.makeQualified(p).toString)) {
          if (sweepUnreferencedEntry(f, st, now)) out += p.toString
        } else if (st.isDirectory) pinned += p.toString
      }
      if (pinned.nonEmpty) {
        val bc = spark.sparkContext.broadcast(
          new org.apache.spark.SerializableWritable(
            new org.apache.hadoop.conf.Configuration(
              spark.sparkContext.hadoopConfiguration)))
        // expand one level on the driver (O(#buckets) names): a snap dir has
        // hundreds of bucket subdirs, and fanning the listing out over THEM
        // instead of the (few) snap dirs is the difference between 2 tasks
        // crawling 25k files each and the whole cluster listing in parallel.
        // A (path, recursive=false) unit covers a snap dir's own top-level
        // files without re-listing its subdirs.
        val units: Seq[(String, Boolean)] = pinned.toSeq.flatMap { d =>
          val children = f.listStatus(new Path(d))
          val subdirs = children.filter(_.isDirectory)
            .map(s => (s.getPath.toString, true)).toSeq
          if (subdirs.isEmpty) Seq((d, true))
          else subdirs ++
            (if (children.exists(_.isFile)) Seq((d, false)) else Nil)
        }
        val cands = spark.sparkContext
          .parallelize(units, math.min(math.max(units.size, 1),
            spark.sparkContext.defaultParallelism * 4))
          .flatMap { case (d, recursive) =>
            val p = new Path(d)
            val dfs = p.getFileSystem(bc.value.value)
            val acc = scala.collection.mutable.ArrayBuffer[String]()
            if (recursive) {
              val it = dfs.listFiles(p, true)
              while (it.hasNext) {
                val s = it.next()
                if (s.isFile && s.getPath.getName.endsWith(".parquet"))
                  acc += dfs.makeQualified(s.getPath).toString
              }
            } else dfs.listStatus(p).foreach { s =>
              if (s.isFile && s.getPath.getName.endsWith(".parquet"))
                acc += dfs.makeQualified(s.getPath).toString
            }
            acc
          }.toDF("path")
        // qualify the manifest side exactly like the listed side (ADVICE
        // r6: manifests may record scheme-less paths; a raw string compare
        // would drop referenced files out of the anti-join and DELETE them)
        // — same normalization sweepDataInline applies, run on executors
        val qualifiedRefs = refPaths.as[String].mapPartitions { it =>
          val conf = bc.value.value
          it.map { s =>
            val p = new Path(s)
            p.getFileSystem(conf).makeQualified(p).toString
          }
        }.toDF("path")
        cands.join(qualifiedRefs, Seq("path"), "left_anti").as[String]
          .foreachPartition { (it: Iterator[String]) =>
            val conf = bc.value.value
            it.foreach { s =>
              val p = new Path(s)
              p.getFileSystem(conf).delete(p, false)
              ()
            }
          }
      }
      out.toSeq
    } finally { refPaths.unpersist(); () }
  }

  /** GC of manifest shard files: a shard dir whose parquet files no
    * surviving manifest lists is dropped whole; a dir still pinned through
    * inherited shards is swept at file granularity. O(#shards) driver work —
    * the manifest-list layer is small by construction. */
  private def sweepShardDirs(survivors: Seq[Manifest]): Unit = {
    val f = fs
    if (!f.exists(shardsRoot)) return
    val referenced = survivors.flatMap(_.shards.map(r =>
      f.makeQualified(new Path(r.path)).toString)).toSet
    val now = System.currentTimeMillis()
    f.listStatus(shardsRoot).foreach { st =>
      val d = st.getPath
      if (!st.isDirectory || !referenced.exists(_.startsWith(
          f.makeQualified(d).toString + "/"))) {
        // unreferenced whole entry: same in-flight/marker handling as data
        sweepUnreferencedEntry(f, st, now)
        ()
      } else {
        val shardFiles = f.listStatus(d).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet"))
        shardFiles
          .filterNot(p => referenced.contains(f.makeQualified(p).toString))
          .foreach(p => f.delete(p, false))
      }
    }
  }

  private def dataReadSchema(m: Manifest): StructType = m.schema

  private def listDataFiles(dir: Path): Seq[String] = {
    val f = fs
    // Hadoop's recursive listFiles stats every entry through the
    // (checksummed) LocalFileSystem — permission loads can shell out —
    // costing ~100 ms per 16-file commit listing on the critical path.
    // Local dirs walk with NIO instead (sorted for determinism),
    // producing the same qualified "file:/…" strings; other filesystems
    // keep the Hadoop iterator.
    // identical name filter on BOTH branches (ADVICE r17: local and remote
    // filesystems must see the same file set for the same layout); data
    // files never start with '.'/'_' — the filter only excludes writer
    // residue (hidden markers, checksum siblings)
    def keep(name: String): Boolean =
      name.endsWith(".parquet") && !name.startsWith(".") &&
        !name.startsWith("_")
    if ("file" == f.getUri.getScheme) {
      val root = java.nio.file.Paths.get(
        f.makeQualified(dir).toUri.getPath)
      if (!java.nio.file.Files.isDirectory(root))
        // parity with Hadoop's listFiles (ADVICE r17): a purged snapshot
        // dir must THROW, not silently read as an empty table
        throw new java.io.FileNotFoundException(s"$dir does not exist")
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val stream = java.nio.file.Files.walk(root)
      try stream.forEach { p =>
        val n = p.getFileName.toString
        if (keep(n) && java.nio.file.Files.isRegularFile(p))
          out += "file:" + p.toAbsolutePath.toString
      } finally stream.close()
      out.sorted.toSeq
    } else {
      val it = f.listFiles(dir, true)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && keep(s.getPath.getName))
          out += s.getPath.toString
      }
      out.toSeq
    }
  }

  private def writeManifestAtomic(m: Manifest): Unit = {
    val f = fs
    f.mkdirs(manifestDir)
    // stagingSuffix, not bare nanoTime: racing threads drawing the same
    // (coarse-granularity) nanoTime would collide on `create(tmp, false)`
    // with FileAlreadyExistsException — which is NOT the CAS conflict the
    // retry loops catch
    val tmp = new Path(manifestDir, s".tmp-${m.version}-${stagingSuffix()}")
    val out = f.create(tmp, false)
    try out.write(m.toJson.getBytes("UTF-8")) finally out.close()
    val dest = new Path(manifestDir, s"v${m.version}.json")
    // Optimistic-concurrency guard. exists+rename alone is a TOCTOU window:
    // POSIX rename() silently REPLACES an existing dest (LocalFileSystem),
    // so two in-process racers could both pass the exists check and both
    // "win", losing a commit. The per-root latch closes the window for every
    // writer in this JVM (the local[n] reality); across processes the
    // filesystem's own semantics still apply — HDFS rename is atomic
    // no-replace, so the guard is complete there. The reference's analog is
    // the PolicyHashCondition conditional put (lambda/catalog-policy-
    // handler.js:60) — service-side conditional swap.
    val latch = TableStore.commitLatch(fs.makeQualified(rootPath).toString)
    val won = latch.synchronized {
      !f.exists(dest) && f.rename(tmp, dest)
    }
    if (!won) {
      f.delete(tmp, false)
      throw new IllegalStateException(
        s"CAS conflict committing snapshot ${m.version} at $root")
    }
    // first commit ever to this manifest dir stamps the root epoch (see
    // [[rootEpoch]]): create-no-overwrite, so a concurrent stamp race has
    // exactly one winner and the loser's failure is ignorable
    val ep = new Path(manifestDir, "epoch")
    if (!f.exists(ep)) {
      try {
        val o = f.create(ep, false)
        try o.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
        finally o.close()
      } catch { case _: java.io.IOException => () }
    }
    // a commit landed here: drop registry snapshots of this store and of
    // every path ancestor (a view/index create or refresh is a commit to a
    // store nested under its base root) so the next planning attempt
    // re-lists — the in-process analog of a registry version bump
    TableStore.registryCommitted(root)
  }
}

object TableStore {
  private val ManifestName = "v(\\d+)\\.json".r

  /** Bucketed layouts with more bucket dirs than this never list leaf files
    * on the driver: listing + footer stats + shard writes all run as Spark
    * jobs (the driver holds only dir names and shard summaries). At or
    * below it, the driver lists directly — faster for the small tables that
    * dominate test/bench commits. */
  private val DriverListCutoff = 64

  /** An unreferenced dir younger than this, carrying a staging marker, is an
    * IN-FLIGHT writer's — the sweep must not reclaim it (VERDICT r6 #8: a
    * vacuum listing the data dir mid-write would otherwise delete the files
    * a concurrent commit is about to reference — lost data the moment its
    * manifest lands). Past the grace the marker is crash residue and the
    * dir is an orphan — reclaimed as before. Iceberg's remove-orphan-files
    * `older_than` plays the same role. */
  private val StagingGraceMs = 24L * 3600 * 1000

  /** ANALYZE re-derives every file once this share of the table needs it. */
  private val AnalyzeRescanFraction = 0.5

  /** Cap on the per-file version overrides a rebase may attach to
    * eq-masked manifests. */
  private val MaxFileOverrides = 100000

  /** File cap of the exact-metadata paths (exact pushdown, the hybrid, NDV
    * and top-k metadata serves, ANALYZE's needy-subset route): each holds
    * O(kept files) of per-file metadata on the driver. */
  private[graft] val ExactMaxFiles = 200000L

  /** Broadcast cap of the join view's re-join frames and key sets, and the
    * default of `spark.graft.dv.broadcastThreshold`. */
  private[graft] val BroadcastBytes: Long = 64L << 20

  /** Share of a target's files a span may change before the derivative
    * refreshes and the stale-serving routers price it as a rescan
    * (`spark.graft.agg.refresh.rescanFraction`, default 0.5). */
  private[graft] def rescanFraction(spark: SparkSession): Double =
    spark.conf.getOption("spark.graft.agg.refresh.rescanFraction")
      .map(_.toDouble).getOrElse(0.5)

  /** The span `(a, b]`'s churn: max(added, removed) files over `b`'s file
    * count. A content-preserving span nets to zero rows, so it is free.
    * Both probes are memoized per (immutable) span. */
  private[graft] def spanChurn(st: TableStore, a: Long, b: Long): Double =
    if (a >= b || contentPreservingSpan(st, a, b)) 0.0
    else {
      val (ad, rm) = changelogFileDiffSizes(st, a, b)
      math.max(ad, rm).toDouble / math.max(1L, st.manifest(b).nFiles).toDouble
    }

  /** AND-conjunct splitter (Catalyst's PredicateHelper, exposed). */
  private[graft] def splitConjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** Counts FULL file-list materializations of SHARDED manifests on the
    * driver ([[TableStore#filesOf]]). Scale tests assert the hot paths
    * (commit, filtered read, incremental commit, `$files` aggregation)
    * leave it untouched. */
  val driverMaterializations = new java.util.concurrent.atomic.AtomicLong()

  /** The `snap-*` dir a data file lives under (files sit directly in it or
    * inside `_gbucket=` subdirs). Pure path arithmetic — safe on executors. */
  private[graft] def snapDirOfFile(file: String): String = {
    var p = new Path(file)
    while (p.getParent != null && p.getParent.getName != "data" &&
      p.getParent.getParent != null) p = p.getParent
    p.toString
  }

  /** Staging-dir suffix: nanoTime ALONE is not collision-free — two racing
    * threads can draw the same value where the clock granularity is coarse
    * (virtualized hosts), and a shared staging dir would let the CAS loser's
    * cleanup delete the winner's committed files. The atomic counter makes
    * the suffix unique within the JVM; nanoTime keeps it unique across
    * processes. */
  private val stagingCounter = new java.util.concurrent.atomic.AtomicLong()
  private def stagingSuffix(): String =
    s"${System.nanoTime()}-${stagingCounter.incrementAndGet()}"

  /** Per-root, per-process commit latch (see [[writeManifestAtomic]]). */
  private val commitLatches =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def commitLatch(qualifiedRoot: String): Object =
    commitLatches.computeIfAbsent(qualifiedRoot, _ => new Object)

  // ------------------------------------------------------------- field ids

  /** Metadata key Spark's parquet reader/writer use for field-id matching. */
  val FieldIdKey = "parquet.field.id"

  def fieldId(f: org.apache.spark.sql.types.StructField): Long =
    if (f.metadata.contains(FieldIdKey)) f.metadata.getLong(FieldIdKey) else -1L

  /** Stamp stable field ids on `schema`: fields present in `parent` (by
    * name) inherit their id; new fields draw fresh ids above `floor` — the
    * table's HISTORICAL max ([[Manifest.highestFieldId]]), not the current
    * schema's, so a re-added column never reuses a dropped column's id.
    *
    * An id already sitting on an incoming field is honored ONLY on the
    * explicit rename surface (`honorRenames = true`, i.e.
    * [[commitSchemaOnly]], where the caller built the new schema from the
    * parent's own fields) and only when it references one of the parent's
    * ids unclaimed by another field. Everywhere else — every DATA commit —
    * a pre-existing id is kept only when the parent binds that id to the
    * SAME name; any other id is FOREIGN (e.g. the DataFrame was read from a
    * different graft table, whose ids can collide with this table's under
    * different names) and is replaced with a fresh id (VERDICT r7 #9).
    * Trusting it would silently alias the foreign column to an unrelated
    * parent column in every id-keyed path (commitSchemaOnly identity,
    * readChangelog rename mapping, stats retirement).
    *
    * `inheritsParentFiles` (ADVICE r6): callers whose commit INHERITS the
    * parent's data files must pass true — if the parent schema carries no
    * ids (a table from before id stamping), those files have none either,
    * and stamping ids into the new manifest would make every inherited file
    * unreadable under the id-matching read path. The commit then stays
    * id-less; the first full rewrite (all-fresh files) performs the
    * upgrade. */
  def withFieldIds(schema: StructType,
      parent: Option[StructType], floor: Long = 0L,
      inheritsParentFiles: Boolean = false,
      honorRenames: Boolean = false): StructType = {
    import org.apache.spark.sql.types._
    if (inheritsParentFiles && parent.exists(p =>
        p.fields.nonEmpty && p.fields.forall(fieldId(_) < 0)))
      return stripFieldIds(schema)
    val byName = parent.map(_.fields.map(f => f.name -> fieldId(f)).toMap)
      .getOrElse(Map.empty)
    val parentIds = parent.toSeq.flatMap(_.fields).map(fieldId)
      .filter(_ >= 0).toSet
    var nextId = ((parent.toSeq.flatMap(_.fields) ++ schema.fields)
      .map(fieldId) :+ floor).foldLeft(0L)(math.max) + 1L
    val nameIds = schema.fields.map(f => byName.get(f.name).filter(_ >= 0))
    val claimed = scala.collection.mutable.Set[Long](nameIds.flatten: _*)
    StructType(schema.fields.zip(nameIds).map { case (f, nameId) =>
      val id = nameId
        .orElse(Some(fieldId(f)).filter(i =>
          honorRenames && i >= 0 && parentIds.contains(i) &&
            (nameId.contains(i) || !claimed.contains(i))))
        .getOrElse { val id = nextId; nextId += 1; id }
      claimed += id
      f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putLong(FieldIdKey, id).build())
    })
  }

  /** Remove field-id metadata from every field — commits that must stay
    * name-matched because they inherit id-less files. */
  def stripFieldIds(schema: StructType): StructType = {
    import org.apache.spark.sql.types._
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains(FieldIdKey)) f
      else f.copy(metadata = new MetadataBuilder()
        .withMetadata(f.metadata).remove(FieldIdKey).build())
    })
  }

  /** Re-attach `schema`'s per-field metadata (the field ids) to `df`'s
    * columns so the parquet writer records them in the files. */
  def applyFieldIds(df: org.apache.spark.sql.DataFrame,
      schema: StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(schema.fields.map(f =>
      col(df.columns.find(_ == f.name).getOrElse(f.name))
        .as(f.name, f.metadata)): _*)
  }

  /** Derived hash-bucket partition column for incremental CDC tables. Never
    * stored in data files — reconstructible from the key columns. */
  val BucketCol = "_gbucket"

  private val BucketInPath = s"$BucketCol=(\\d+)/".r

  /** hash(keys) % numBuckets — the key-derived partition a row lands in. */
  def bucketExpr(keys: Seq[String], numBuckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets.toLong))
  }

  /** Bucket id parsed from a data file's `_gbucket=<b>/` path segment. */
  def bucketOfFile(file: String): Option[Long] =
    BucketInPath.findFirstMatchIn(file).map(_.group(1).toLong)

  /** [[keyEqualityBuckets]] applied to a file-ref list: drop refs whose
    * path-encoded bucket cannot match the key-pinned set. Refs with no
    * parseable bucket segment are conservatively kept. */
  private[graft] def bucketPrune(
      refs: Seq[org.apache.spark.sql.graftbridge.StatsScanBridge.FileRef],
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      m: Manifest): Seq[org.apache.spark.sql.graftbridge.StatsScanBridge.FileRef] =
    keyEqualityBuckets(filters, m) match {
      case Some(kb) => refs.filter(r => bucketOfFile(r.path).forall(kb.contains))
      case None => refs
    }

  /** When the (conjunctive) predicates pin EVERY bucket key to a finite
    * literal set, the touched buckets are computable on the driver: hash
    * each key combination exactly as [[bucketExpr]] does. This is the
    * DynamoDB key-condition access path (reference README.md:81-84 —
    * `Query` on the partition key): `WHERE k = x` / `k IN (...)` on a
    * bucketed table must read the derived buckets, not the whole table.
    * Sound under disjunction: only top-level conjuncts that hold for ALL
    * matching rows contribute (an OR branch never pins a key). None = keys
    * not pinned — callers fall back to stats-only candidates. */
  def keyEqualityBuckets(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      m: Manifest): Option[Set[Long]] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CatAnd, AttributeReference, EqualTo => CatEqualTo, Expression, In => CatIn, Literal, XxHash64}
    if (exprs.isEmpty || m.bucketKeys.isEmpty || m.numBuckets <= 0) return None
    val top = exprs.reduceLeft(CatAnd)
    def valuesFor(key: String, e: Expression): Option[Seq[Literal]] = e match {
      case CatAnd(l, r) => valuesFor(key, l).orElse(valuesFor(key, r))
      case CatEqualTo(a: AttributeReference, l: Literal) if a.name == key =>
        Some(Seq(l))
      case CatEqualTo(l: Literal, a: AttributeReference) if a.name == key =>
        Some(Seq(l))
      case CatIn(a: AttributeReference, vs)
          if a.name == key && vs.forall(_.isInstanceOf[Literal]) =>
        Some(vs.map(_.asInstanceOf[Literal]))
      case _ => None
    }
    val sets = m.bucketKeys.map(k => valuesFor(k, top))
    if (sets.exists(_.isEmpty)) None
    else {
      val combos = sets.map(_.get)
        .foldLeft(Seq(Seq.empty[Literal]))((acc, vs) =>
          acc.flatMap(c => vs.map(c :+ _)))
      Some(combos.map { lits =>
        val h = XxHash64(lits, 42L)
          .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
          .asInstanceOf[Long]
        ((h % m.numBuckets) + m.numBuckets) % m.numBuckets
      }.toSet)
    }
  }

  /** The exact key tuples a DELETE predicate pins, when the predicate is
    * NOTHING BUT bucket-key equalities: every conjunct `key = lit` or
    * `key IN (lits)`, each bucket key bound exactly once, no residual
    * conditions. This is the DynamoDB DeleteItem shape — translatable to
    * an equality delete with ZERO base reads. Any other predicate
    * disqualifies (`None`): an equality delete masks by KEY, so a residual
    * condition would over-delete rows the condition doesn't match. Tuples
    * come back in `bucketKeys` order as external (non-Catalyst) values. */
  def keyEqualityTuples(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      m: Manifest): Option[Seq[Seq[Any]]] =
    keySubsetEqualityTuples(exprs, m).collect {
      case (cols, tuples) if cols == m.bucketKeys => tuples
    }

  /** [[keyEqualityTuples]] generalized to key SUBSETS: when the predicate
    * is nothing but equalities on SOME of the bucket keys (no residual
    * conjuncts), returns the pinned columns in bucket-key order plus their
    * value tuples — the partial-key equality-delete shape (DynamoDB
    * Query-by-PK bulk deletes: `DELETE WHERE pk = x` on a (pk, sk) table).
    * A full binding is just the subset case where every key is pinned. */
  def keySubsetEqualityTuples(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      m: Manifest): Option[(Seq[String], Seq[Seq[Any]])] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo => CatEqualTo, In => CatIn, Literal}
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    if (exprs.isEmpty || m.bucketKeys.isEmpty) return None
    val conjuncts = exprs.flatMap(splitConjuncts)
    val bound = scala.collection.mutable.Map[String, Seq[Literal]]()
    var ok = true
    conjuncts.foreach {
      case CatEqualTo(a: AttributeReference, l: Literal)
          if m.bucketKeys.contains(a.name) && !bound.contains(a.name) =>
        bound(a.name) = Seq(l)
      case CatEqualTo(l: Literal, a: AttributeReference)
          if m.bucketKeys.contains(a.name) && !bound.contains(a.name) =>
        bound(a.name) = Seq(l)
      case CatIn(a: AttributeReference, vs)
          if m.bucketKeys.contains(a.name) && !bound.contains(a.name) &&
            vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        bound(a.name) = vs.map(_.asInstanceOf[Literal])
      case _ => ok = false
    }
    // NULL literals never match under SQL equality (the row is kept), so
    // they simply drop out of the value lists; a key whose list becomes
    // empty means the predicate matches nothing — an empty tuple set, which
    // the caller treats as a no-op delete.
    val nonNull = bound.view.mapValues(_.filter(_.value != null)).toMap
    val cols = m.bucketKeys.filter(bound.contains)
    if (!ok || bound.isEmpty) None
    else if (nonNull.values.exists(_.isEmpty)) Some((cols, Nil))
    // Cap the cartesian product like every other driver-side IN surface
    // (RuntimePruning.MaxRuntimeInValues, the GSI fetchKeyCap): two 10k-
    // value IN lists would otherwise build 100M driver tuples. Above the
    // cap, decline — the positional path handles the same predicate in
    // bounded memory.
    else if (nonNull.values.map(_.size.toLong).product > 10000L) None
    else Some((cols, cols.map(nonNull)
      .foldLeft(Seq(Seq.empty[Any]))((acc, vs) => acc.flatMap(c =>
        vs.map(l => c :+ CatalystTypeConverters.convertToScala(
          l.eval(org.apache.spark.sql.catalyst.InternalRow.empty),
          l.dataType))))))
  }

  /** Type widenings the parquet READER applies when a file's column is
    * narrower than the requested schema (probed on Spark 4.1: integral
    * up-widening, int→double, float→double, integral→decimal with enough
    * integer digits, decimal precision growth at equal scale). Exactly this
    * set is merge-on-read-safe: a manifest can carry the wide type while
    * inherited files keep the narrow one. long→double, →string, and
    * scale-changing decimal casts are NOT in the set — those need a rewrite. */
  def mergeOnReadWiden(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigits(d: DecimalType): Int = d.precision - d.scale
    (from, to) match {
      case (a, b) if a == b => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, d: DecimalType) => intDigits(d) >= 10
      case (LongType, d: DecimalType) => intDigits(d) >= 19
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision >= a.precision
      case _ => false
    }
  }

  /** `props`: free-form commit metadata (e.g. the streaming sink's epoch
    * fingerprint) — carried by THIS commit only, never inherited.
    *
    * Two metadata tiers (VERDICT r5 #2 — the 100 TB manifest layout):
    *  - INLINE (`shards` empty): `inlineFiles` + `inlineStats` hold every
    *    data file and its stats in this JSON — small tables, zero extra I/O;
    *  - SHARDED (`shards` non-empty): `inlineFiles`/`inlineStats` are empty
    *    and per-file metadata lives in parquet shards
    *    ([[ManifestShards]]); this JSON is the manifest LIST — O(#shards)
    *    regardless of file count. Consumers go through the TableStore
    *    accessors ([[TableStore.fileMetaDS]], [[TableStore.pruneRefs]],
    *    [[TableStore.filesOf]]), never the inline fields directly. */
  /** One positional-delete file (merge-on-read DELETE): a parquet file of
    * `(file_path, pos)` pairs marking rows of still-referenced data files as
    * deleted. `rows` = number of delete entries (each entry kills exactly one
    * live row — the writers compute positions on the DV-APPLIED view, so a
    * position never repeats across a table's DV set and deleted-row
    * arithmetic stays exact). Iceberg-v2 positional delete files / Delta
    * deletion vectors play the same role. */
  final case class DvRef(path: String, bytes: Long, rows: Long)

  /** An EQUALITY-delete file (Iceberg v2 equality deletes — the streaming
    * CDC write shape): parquet rows of the table's bucket-key values, each
    * masking EVERY row with those key values in data files committed
    * STRICTLY BEFORE snapshot `since` (the commit that carried the delete).
    * Written with ZERO base-file reads — the point: a positional delete
    * must first scan candidate files to find row positions, an equality
    * delete just records the batch's keys, so a CDC batch commits in
    * O(batch) regardless of table size or key scatter. The read tax is a
    * keyed anti-join until [[TableStore#purgeDeletes]] folds it away.
    *
    * `cols` — the key columns the file's rows carry. EMPTY means the full
    * bucket-key set (the CDC upsert shape, and the only shape before round
    * 9). A non-empty PROPER SUBSET is a PARTIAL-KEY delete (Iceberg
    * equality deletes on any field subset): DynamoDB's Query-by-PK-then-
    * delete-every-SK bulk shape masks by PK alone on a (PK,SK)-bucketed
    * table, still with zero base reads. */
  final case class EqRef(path: String, bytes: Long, rows: Long, since: Long,
      cols: Seq[String] = Nil)

  /** Schema of a positional-delete file. `file_path` is the scan-qualified
    * URI exactly as `_metadata.file_path` reports it — both sides of the
    * read-time anti-join come from the same metadata column, so the match
    * is self-consistent by construction. */
  val DvSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  private[graft] val RefNameOk = "[A-Za-z0-9._-]{1,128}".r

  /** Commit prop declaring a row-content-preserving rewrite (compaction,
    * z-order, delete purge, rebucket): every row of the parent snapshot
    * survives byte-equal, only the file layout / delete metadata changed.
    * Derivative maintenance (aggregate views) uses it to keep such spans on
    * the net-zero replay path — the signed deltas cancel and the refresh is
    * a watermark-only advance with ZERO derivative rewrites — instead of
    * the full-recompute route the all-files-changed diff would suggest. */
  private[graft] val ContentPreservingProp = "graft.commit.content-preserving"
  private[graft] val ContentPreserving: Map[String, String] =
    Map(ContentPreservingProp -> "true")

  /** Per-commit markers that must NEVER inherit onto a derivative
    * REFRESH commit: maintenance rewrites carry ContentPreserving forward
    * beside the defining props ([[maintenanceProps]]); a DATA-changing
    * refresh that inherited the marker from such a parent would fool
    * every span pricer into a watermark-only advance — SILENT WRONG
    * RESULTS downstream (found by the r14 soak: a view-store purge
    * before the join refresh marked the refresh content-preserving and
    * the stacked aggregate skipped the whole epoch's delta). Every
    * derivative refresh builds its props through this filter. */
  private[graft] def refreshProps(p: Map[String, String])
      : Map[String, String] = p - ContentPreservingProp

  /** Manifest-prop namespaces that DEFINE a derivative store (indexes,
    * agg/join views keep their metadata in manifest props, re-passed by
    * every refresh): a content-preserving maintenance rewrite (purge,
    * compact, rebucket) must CARRY them forward — dropping them orphans
    * the derivative, and every later read/refresh dies on a missing key
    * (found by the r14 soak the moment its cadence purged a join view's
    * eq masks). Per-commit audit markers (cdc route, …) stay per-commit. */
  private[graft] val DerivativePropPrefixes: Seq[String] = Seq(
    "graft.index.", "graft.ann.", "graft.dedup.", "graft.agg.",
    "graft.join.")

  /** NDV coverage marker — a pseudo-column in each file's stats map whose
    * `nulls` slot carries the sketch GENERATION that covered the file.
    * Rides stats inheritance through append/compact/DV commits like any
    * column stat; never collides with real columns (reserved, checked at
    * analyze) and never consulted by pruning (pruning looks up SCHEMA
    * names only). */
  private[graft] val NdvMarker = "_g_ndv_gen"

  /** The NDV sidecar state: `version` = the analyze commit it reflects,
    * `gen` = the marker generation its sketches cover, `files` = how many
    * files carry that marker (staleness check: fewer live marked files
    * means a covered file was removed — the sketch can only over-count
    * from then on, so it stops merging until a full pass re-bases it),
    * `cols` = base64 compact HLL sketch per column. */
  final case class NdvState(version: Long, gen: Long, files: Long,
      cols: Map[String, String])

  /** The per-FILE NDV sidecar state (r17, VERDICT r16 next #4 — the
    * per-group serve): `dir` holds a parquet dataset of (path, col,
    * sketch) rows — one datasketches HLL per (live file, DECLARED
    * column) — written by analyze for the columns named in
    * `spark.graft.analyze.ndvGroupCols`; `gen`/`files` carry the same
    * marker-generation coverage contract as [[NdvState]]; `lgk` is the
    * sketches' log-config-K (the serve's rsd gate reads it without
    * opening the parquet). Declared-columns-only keeps the sidecar
    * O(files × |declared|) instead of O(files × width). */
  final case class NdvGroupState(version: Long, gen: Long, files: Long,
      lgk: Int, cols: Seq[String], dir: String)

  /** One column's provable global stats ([[TableStore.columnStatsSweep]]):
    * each field None unless EVERY file proves it; values in the manifest's
    * exact string encodings. */
  final case class ColSummary(nullCount: Option[Long], min: Option[String],
      max: Option[String], sum: Option[String])

  // ---------------------------------------------- plan-time span memos
  // The freshness-tolerant rewrites price every candidate span BEFORE
  // reading any data: a content-preserving walk (one manifest load per
  // span version) and a changelog file diff (manifest loads + a small
  // job under DV/eq deltas) PER PLANNING ATTEMPT — O(span) driver work
  // on every stale query (VERDICT r10 next #7). Both facts are IMMUTABLE
  // for a committed (store, from, to) triple: manifests are write-once
  // (CAS commits never overwrite) and vacuum only deletes them, so a
  // missing manifest stays missing. Memoized process-wide, bounded by
  // wholesale clear past 4096 metadata-sized entries.
  private val cpSpanMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), java.lang.Boolean]
  private val diffSizeMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), (Int, Int)]

  /** Process-wide parsed-manifest cache (see [[TableStore.manifest]] for
    * the immutability argument). Bounded by wholesale clear — entries are
    * metadata-sized and repopulate in one read each. */
  private[graft] val manifestMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long), Manifest] // (memoKey, root epoch, version)

  /** Process-wide sharded-classification memo ([[TableStore
    * .hybridMatchMeta]]): (epochMemoKey, version, exprs.sql) → the
    * three-way verdicts. Entries are O(kept files) — results past the
    * in-method size guard never enter; bounded by wholesale clear. */
  private[graft] val classifyMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String),
    (Seq[(String, Long, Map[String, FileStats.ColStat])], Seq[String])]

  /** Process-wide sharded-pruning memo ([[TableStore.pruneRefs]]):
    * (epochMemoKey, version, schemaHash#exprs.sql) → surviving FileRefs.
    * Same lifecycle as [[classifyMemo]]. */
  private[graft] val pruneMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, String),
    Seq[org.apache.spark.sql.graftbridge.StatsScanBridge.FileRef]]

  /** Process-wide memo of small immutable row sets held on the driver
    * ([[TableStore#heldRows]]): (epochMemoKey, kind, key) → the rows as a
    * local relation. Two kinds share it: `mask` (delete masks,
    * [[TableStore#maskProbe]]) and `view` (view snapshots the view
    * rewrites serve and fold, [[TableStore#heldSnapshot]]). Sets above
    * [[MaskMemoMaxRows]] rows never enter; the memo is cleared wholesale
    * past 64 entries or [[MaskMemoMaxRows]] held rows, and invalidated
    * with the manifest memo. */
  private[graft] val rowMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String),
    org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Row budget of [[rowMemo]], per entry and in total. */
  private[graft] val MaskMemoMaxRows = 250000L

  /** Rows [[rowMemo]] holds. */
  private[graft] def rowMemoRows: Long = {
    import scala.jdk.CollectionConverters._
    rowMemo.values.asScala.map(_.data.size.toLong).sum
  }

  private[graft] def rowMemoPut(k: (String, String, String),
      rel: org.apache.spark.sql.catalyst.plans.logical.LocalRelation)
      : Unit = rowMemo.synchronized {
    val n = rel.data.size.toLong
    if (rowMemo.size > 64 || rowMemoRows + n > MaskMemoMaxRows)
      rowMemo.clear()
    if (n <= MaskMemoMaxRows) rowMemo.put(k, rel)
    ()
  }

  /** Drop every process-wide metadata memo entry under `memoKeyPrefix` —
    * the manifest cache, the span memos, the held row sets (delete masks
    * and view snapshots), and the derivative-registry snapshots. Called by
    * every path that DELETES or RENUMBERS committed metadata, where a later
    * re-creation could reuse a (store, version) key with different
    * content: DROP/RENAME TABLE (the
    * bench/test reality of drop-and-recreate at one root),
    * MaterializedJoin/Agg/SecondaryIndex drops, dropBranch (+ recreate
    * restarts branch numbering), rebase and
    * its crash repair (rewrite branch manifests in place), and snapshot
    * expiry (a cached manifest over vacuumed data must fail loudly, not
    * serve). Prefix matching stops at a path or branch separator so
    * `…/tbl` never invalidates `…/tbl2`. */
  private[graft] def invalidateMeta(memoKeyPrefix: String): Unit = {
    def hit(k: String): Boolean = k == memoKeyPrefix ||
      k.startsWith(memoKeyPrefix + "/") || k.startsWith(memoKeyPrefix + "#") ||
      k.startsWith(memoKeyPrefix + "@") // epoch-suffixed span-memo keys
    manifestMemo.keySet.removeIf(k => hit(k._1))
    cpSpanMemo.keySet.removeIf(k => hit(k._1))
    diffSizeMemo.keySet.removeIf(k => hit(k._1))
    diffByteMemo.keySet.removeIf(k => hit(k._1))
    registryDropIf(k => hit(k._2))
    classifyMemo.keySet.removeIf(k => hit(k._1))
    pruneMemo.keySet.removeIf(k => hit(k._1))
    rowMemo.keySet.removeIf(k => hit(k._1))
  }

  /** Process-wide derivative-REGISTRY snapshots (join/agg-view and index
    * metas under one base root): (kind, base memoKey) → an opaque snapshot
    * the owning module validates with its own cheap head-version probe
    * before trusting (VERDICT r11 next #1 — the parse+listing chain is
    * cached; freshness is re-proved per planning attempt). Invalidated
    * with the rest of the metadata memos. */
  private[graft] val registryMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), AnyRef]

  /** Registry values that hold RESOURCES (persisted DataFrames) implement
    * this: [[registryDropIf]] calls `onDrop` when the entry is invalidated
    * — a commit under the key's root, a metadata invalidation, or the
    * size-cap flush — so cached blocks release the moment the memo can no
    * longer be served instead of accumulating for the session's lifetime
    * (VERDICT r17 wrong #4 / ADVICE r17 #1). */
  private[graft] trait RegistryDroppable { def onDrop(): Unit }

  /** Memoized results plus the persisted frames behind them. `pin`
    * registers a frame for release when the bag drops; unpersist is lazy
    * (blocking=false), so a consumer executing mid-drop simply recomputes
    * from the (still-referenced) snapshot files. */
  private[graft] final class MemoBag[V]
      extends java.util.concurrent.ConcurrentHashMap[String, V]
      with RegistryDroppable {
    private val pinned = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.DataFrame]()
    def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      pinned.add(df); df
    }
    def onDrop(): Unit = {
      var d = pinned.poll()
      while (d != null) {
        try { d.unpersist(); () } catch { case _: Throwable => () }
        d = pinned.poll()
      }
    }
  }

  /** Get-or-create the [[MemoBag]] under (kind, key). */
  private[graft] def registryBag[V](kind: String, key: String): MemoBag[V] =
    registryGet(kind, key) match {
      case m: MemoBag[V @unchecked] => m
      case _ =>
        val m = new MemoBag[V]()
        registryPut(kind, key, m)
        m
    }

  /** Remove every registry entry matching `pred`, releasing droppable
    * values' resources exactly once (iterator removal — never a bare
    * keySet.removeIf, which would strand persisted frames). */
  private def registryDropIf(pred: ((String, String)) => Boolean): Unit = {
    val it = registryMemo.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (pred(e.getKey)) {
        e.getValue match {
          case d: RegistryDroppable => d.onDrop()
          case _ => ()
        }
        it.remove()
      }
    }
  }

  private def registryGet(kind: String, key: String): AnyRef =
    registryMemo.get((kind, key))

  private def registryPut(kind: String, key: String, v: AnyRef): Unit = {
    if (registryMemo.size > 4096) registryDropIf(_ => true)
    registryMemo.put((kind, key), v)
    ()
  }

  /** `load`, snapshot-cached process-wide under (`kind`, `st`'s memo key):
    * invalidated by every in-process commit under `st.root` and by drops;
    * `spark.graft.meta.registryCache=false` loads afresh every time, for
    * multi-driver deployments. */
  private[graft] def registryCached[T <: AnyRef](kind: String,
      st: TableStore)(load: => T): T = {
    val cacheOn = st.spark.conf.getOption("spark.graft.meta.registryCache")
      .forall(_.toBoolean)
    if (!cacheOn) return load
    val c = registryGet(kind, st.memoKey)
    if (c != null) return c.asInstanceOf[T]
    val v = load
    registryPut(kind, st.memoKey, v)
    v
  }

  /** A commit landed at `committedRoot`: invalidate the registry snapshot
    * of that store and of every path ancestor — derivative creates and
    * refreshes are commits to stores NESTED under their base root, so this
    * hook makes every in-process metadata write visible to the next
    * planning attempt with zero per-query listings. Cross-PROCESS
    * registry writes are invisible to a cached driver; deployments with a
    * separate maintenance driver disable the snapshot with
    * `spark.graft.meta.registryCache=false` (serving stays EXACT either
    * way — the tail/budget rules re-prove freshness against live scans —
    * a stale registry can only miss a newer view or serve through an
    * older-but-sound one). */
  private[graft] def registryCommitted(committedRoot: String): Unit =
    registryDropIf(k => committedRoot == k._2 ||
      committedRoot.startsWith(k._2 + "/"))

  /** Manifest-load counter — test instrumentation for the memo contract
    * (repeated stale planning must not re-walk span manifests). */
  private[graft] val manifestLoads =
    new java.util.concurrent.atomic.AtomicLong

  /** Delete-mask load counter — test instrumentation for the mask memo
    * contract (repeated planning over one delete set must not re-read its
    * files): counts every mask [[TableStore#maskProbe]] builds from
    * delete files rather than from [[rowMemo]]. */
  private[graft] val maskLoads =
    new java.util.concurrent.atomic.AtomicLong

  /** Is every commit in `(a, b]` marked content-preserving (compaction /
    * z-order / purge / rebucket)? Such spans have identical row content,
    * so tails serve the stored rows and refreshes advance watermarks
    * only. Memoized (immutable per span). */
  private[graft] def contentPreservingSpan(st: TableStore, a: Long,
      b: Long): Boolean = {
    if (a >= b) return true
    val key = (st.epochMemoKey, a, b)
    val c = cpSpanMemo.get(key)
    if (c != null) return c.booleanValue
    val have = st.existingVersions().toSet
    val res = (a + 1 to b).forall(v => have(v) && st.manifest(v).props
      .get(ContentPreservingProp).contains("true"))
    if (cpSpanMemo.size > 4096) cpSpanMemo.clear()
    cpSpanMemo.put(key, res)
    res
  }

  /** (added, removed) file COUNTS of the span's changelog diff — the
    * span-pricing input, memoized (immutable per span): every
    * [[TableStore#changelogFileDiff]] records its sizes here, so a
    * refresh that prices its span and then reads it diffs once. */
  private[graft] def changelogFileDiffSizes(st: TableStore, a: Long,
      b: Long): (Int, Int) = {
    val c = diffSizeMemo.get((st.epochMemoKey, a, b))
    if (c != null) c
    else { val (ad, rm) = st.changelogFileDiff(a, b); (ad.size, rm.size) }
  }

  private def noteDiffSizes(st: TableStore, a: Long, b: Long,
      sizes: (Int, Int)): Unit = {
    if (diffSizeMemo.size > 4096) diffSizeMemo.clear()
    diffSizeMemo.put((st.epochMemoKey, a, b), sizes)
    ()
  }

  private val diffByteMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), java.lang.Long]

  /** BYTES of the span's changed files — max of the added side (priced
    * under `b`'s manifest) and the removed side (under `a`'s). An upper
    * bound on the span's netted-key frames (keys project a subset of the
    * changed files' rows), so a small result licenses BROADCASTING those
    * frames into semi/anti joins against a huge stored view — the
    * absolute-size gate the fractional rescan pricing cannot give
    * (0.4 × a 100 TB fact is "cheap" fractionally and catastrophic to
    * broadcast). Memoized (immutable per span); sharded manifests price
    * via [[TableStore.metaFor]]'s O(subset) lookup. */
  private[graft] def spanChangedBytes(st: TableStore, a: Long,
      b: Long): Long = {
    if (a >= b || contentPreservingSpan(st, a, b)) return 0L
    val key = (st.epochMemoKey, a, b)
    val c = diffByteMemo.get(key)
    if (c != null) return c.longValue
    val (ad, rm) = st.changelogFileDiff(a, b)
    val addB = st.metaFor(st.manifest(b), ad).map(_.bytes).sum
    val rmB = st.metaFor(st.manifest(a), rm).map(_.bytes).sum
    val res = math.max(addB, rmB)
    if (diffByteMemo.size > 4096) diffByteMemo.clear()
    diffByteMemo.put(key, java.lang.Long.valueOf(res))
    res
  }

  /** A named snapshot pointer (tag): `refs/<name>.json` under the table
    * root. Immutable once created; existence pins the target snapshot
    * against every expiry path. */
  final case class SnapshotRef(name: String, version: Long, createdAtMs: Long) {
    def toJson: String = {
      val esc = name.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
      }
      s"""{"name":"$esc","version":$version,"createdAtMs":$createdAtMs}"""
    }
  }

  object SnapshotRef {
    def fromJson(s: String): SnapshotRef = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmt: Formats = DefaultFormats
      val j = JsonMethods.parse(s)
      SnapshotRef((j \ "name").extract[String], (j \ "version").extract[Long],
        (j \ "createdAtMs").extract[Long])
    }
  }

  /** A writable branch: `manifest/branches/<name>/` holds its manifest
    * sequence; `forkVersion` is the newest snapshot shared with main
    * (advanced by every fast-forward). */
  final case class BranchRef(name: String, forkVersion: Long,
      createdAtMs: Long) {
    def toJson: String = {
      val esc = name.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
      }
      s"""{"name":"$esc","forkVersion":$forkVersion,"createdAtMs":$createdAtMs}"""
    }
  }

  object BranchRef {
    def fromJson(s: String): BranchRef = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmt: Formats = DefaultFormats
      val j = JsonMethods.parse(s)
      BranchRef((j \ "name").extract[String],
        (j \ "forkVersion").extract[Long], (j \ "createdAtMs").extract[Long])
    }
  }

  final case class Manifest(version: Long, parent: Long, schema: StructType,
      location: String, inlineFiles: Seq[String], partitionBy: Seq[String],
      committedAtMs: Long, bucketKeys: Seq[String] = Nil, numBuckets: Int = 0,
      inlineStats: Map[String, FileStats.FileStat] = Map.empty,
      props: Map[String, String] = Map.empty,
      shards: Seq[ManifestShards.ShardRef] = Nil,
      droppedCols: Seq[String] = Nil,
      maxFieldId: Long = -1L,
      dvRefs: Seq[DvRef] = Nil,
      eqRefs: Seq[EqRef] = Nil,
      fileVersions: Map[String, Long] = Map.empty) {

    def isSharded: Boolean = shards.nonEmpty

    /** Snapshot carries positional delete vectors: reads must filter
      * `(file, pos)` pairs out, metadata-only row counts are upper bounds,
      * and manifest-served aggregates must decline. */
    def hasDvs: Boolean = dvRefs.nonEmpty

    /** Snapshot carries equality deletes (keyed masks over older files). */
    def hasEqDeletes: Boolean = eqRefs.nonEmpty

    /** Any merge-on-read delete metadata present: every reader must go
      * through the filtered read path, and every metadata-only shortcut
      * (manifest aggregates, LIMIT pushdown, raw path export, streaming
      * genesis) must decline. */
    def hasDeletes: Boolean = hasDvs || hasEqDeletes

    /** Rows masked by delete vectors — exact (see [[DvRef]]). Equality
      * deletes are NOT included: their masked-row count is unknowable
      * without a scan (a key may match any number of rows), see
      * [[eqDeleteRows]]. */
    def deletedRows: Long = dvRefs.map(_.rows).sum

    /** Equality-delete KEY rows — an upper bound on distinct masked keys,
      * not a masked-row count. */
    def eqDeleteRows: Long = eqRefs.map(_.rows).sum

    /** Highest field id EVER assigned in this table's history — the floor
      * for fresh ids. The CURRENT schema's max is not enough: after a DROP
      * the dropped id vanishes from the schema, and handing it out again
      * would resurrect the dropped column's data by id. */
    def highestFieldId: Long = math.max(maxFieldId,
      schema.fields.map(TableStore.fieldId).foldLeft(0L)(math.max))

    /** Per-file column stats with the names on [[droppedCols]] removed.
      * A DROPPED or RENAMED-AWAY column's historical stats still sit in the
      * manifest under its name; if that name is later RE-USED (re-added
      * column, rename swap), pruning by name against the stale bounds can
      * wrongly exclude files — e.g. `s IS NULL` after drop+re-add, where
      * old files recorded nulls=0 but the re-added s reads as NULL. Every
      * pruning site consults stats through this filter. */
    def usableStat(st: FileStats.FileStat): FileStats.FileStat =
      if (droppedCols.isEmpty) st
      else st.copy(cols = st.cols -- droppedCols)

    /** File/byte/row totals from either tier — O(#shards) or O(#files
      * already driver-held); never loads shard contents. */
    def nFiles: Long =
      if (isSharded) shards.map(_.files).sum else inlineFiles.size.toLong
    def totalBytes: Long =
      if (isSharded) shards.map(_.bytes).sum
      else inlineStats.values.map(_.bytes).sum
    def totalRows: Long =
      if (isSharded) shards.map(_.rows).sum
      else inlineStats.values.map(_.rows).sum

    def toJson: String = {
      def js(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      val fileArr = inlineFiles.map(js).mkString("[", ",", "]")
      val partArr = partitionBy.map(js).mkString("[", ",", "]")
      val keyArr = bucketKeys.map(js).mkString("[", ",", "]")
      val propObj = props.map { case (k, v) => s"${js(k)}:${js(v)}" }
        .mkString("{", ",", "}")
      val dvArr = dvRefs.map(d =>
        s"""{"path":${js(d.path)},"bytes":${d.bytes},"rows":${d.rows}}""")
        .mkString("[", ",", "]")
      val eqArr = eqRefs.map(e =>
        s"""{"path":${js(e.path)},"bytes":${e.bytes},"rows":${e.rows},""" +
          s""""since":${e.since},"cols":${e.cols.map(js).mkString("[", ",", "]")}}""")
        .mkString("[", ",", "]")
      val fvObj = fileVersions.map { case (k, v) => s"${js(k)}:$v" }
        .mkString("{", ",", "}")
      s"""{"version":$version,"parent":$parent,"committedAtMs":$committedAtMs,
         |"location":${js(location)},"partitionBy":$partArr,
         |"bucketKeys":$keyArr,"numBuckets":$numBuckets,"props":$propObj,
         |"schema":${js(schema.json)},"files":$fileArr,
         |"maxFieldId":$maxFieldId,
         |"droppedCols":${droppedCols.map(js).mkString("[", ",", "]")},
         |"dvs":$dvArr,"eqs":$eqArr,"fv":$fvObj,
         |"shards":${ManifestShards.refsToJson(shards)},
         |"stats":${FileStats.statsToJson(inlineStats)}}""".stripMargin
    }
  }

  object Manifest {
    def fromJson(s: String): Manifest = {
      // json4s ships with Spark; parse without extra deps
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmt: Formats = DefaultFormats
      val j = JsonMethods.parse(s)
      Manifest(
        (j \ "version").extract[Long],
        (j \ "parent").extract[Long],
        DataType.fromJson((j \ "schema").extract[String]).asInstanceOf[StructType],
        (j \ "location").extract[String],
        (j \ "files").extract[Seq[String]],
        (j \ "partitionBy").extract[Seq[String]],
        (j \ "committedAtMs").extract[Long],
        (j \ "bucketKeys").extractOrElse[Seq[String]](Nil),
        (j \ "numBuckets").extractOrElse[Int](0),
        FileStats.statsFromJson(j \ "stats"),
        (j \ "props").extractOrElse[Map[String, String]](Map.empty),
        ManifestShards.refsFromJson(j \ "shards"),
        (j \ "droppedCols").extractOrElse[Seq[String]](Nil),
        (j \ "maxFieldId").extractOrElse[Long](-1L),
        (j \ "dvs").extractOrElse[Seq[DvRef]](Nil),
        // explicit per-field extraction: round-8 manifests carry eq refs
        // without a "cols" entry, and relying on json4s constructor-default
        // reflection for the missing field is fragile across versions
        (j \ "eqs") match {
          case JArray(arr) => arr.map(e => EqRef(
            (e \ "path").extract[String], (e \ "bytes").extract[Long],
            (e \ "rows").extract[Long], (e \ "since").extract[Long],
            (e \ "cols").extractOrElse[Seq[String]](Nil)))
          case _ => Nil
        },
        (j \ "fv").extractOrElse[Map[String, Long]](Map.empty))
    }
  }
}
