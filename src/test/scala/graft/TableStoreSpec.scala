package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.store.TableStore

/** Snapshot store: commit/read/time-travel/compaction/GC/CAS
  * (SURVEY §5.2.3d + §4.1 manifest-CAS analog of the reference Lambda's
  * PolicyHashCondition). */
class TableStoreSpec extends SparkSuite {
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_ts_spec").toString)

  /** Bucket a long key lands in, computed the executor way. */
  private def bucketOf(k: Long, n: Int): Long =
    Seq(k).toDF("k")
      .select(TableStore.bucketExpr(Seq("k"), n).as("b")).as[Long].head()

  /** Overwrite a manifest JSON through the Hadoop fs (keeps the local-fs
    * checksum sidecar valid) — upgrade/corruption simulations. */
  private def rewriteManifest(store: TableStore, version: Long,
      m: TableStore.Manifest): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(
      s"${store.root}/manifest/v$version.json")
    val out = fs.create(p, true)
    try out.write(m.toJson.getBytes("UTF-8")) finally out.close()
    // out-of-band overwrite no production path does — drop the memo
    TableStore.invalidateMeta(store.root)
  }

  test("rebucket grows the bucket count; content preserved, masks folded") {
    import spark.implicits._
    val store = freshStore()
    store.commitBucketed((1L to 1000L).map(i => (i, s"v$i")).toDF("k", "v"),
      Seq("k"), 4)
    store.deleteMor(col("k") === 7L)
    store.deleteEq(Seq(8L).toDF("k"))
    val before = store.readSnapshot().as[(Long, String)].collect().toSet
    val v = store.rebucket(16)
    val m = store.manifest(v)
    assert(m.numBuckets == 16 && m.bucketKeys == Seq("k"))
    assert(!m.hasDeletes, "rebucket must fold pending delete masks")
    assert(store.readSnapshot().as[(Long, String)].collect().toSet == before)
    // re-keying migrates the layout outright
    val v2 = store.rebucket(8, keys = Seq("v"))
    val m2 = store.manifest(v2)
    assert(m2.bucketKeys == Seq("v") && m2.numBuckets == 8)
    assert(store.readSnapshot().as[(Long, String)].collect().toSet == before)
    // no-op shape refused loudly
    assert(intercept[IllegalArgumentException](store.rebucket(8, Seq("v")))
      .getMessage.contains("already bucketed"))
  }

  test("commit + read returns identical content and schema") {
    val store = freshStore()
    val li = Tables.load(spark, sfDir, "lineitem")
    store.commitSnapshot(li)
    val back = store.readSnapshot()
    assert(back.schema.fieldNames.toSeq == li.schema.fieldNames.toSeq)
    assert(back.count() == li.count())
    assert(back.exceptAll(li).count() == 0)
  }

  test("partitioned commit restores declared column order and types") {
    val store = freshStore()
    val o = Tables.load(spark, sfDir, "orders")
    store.commitSnapshot(o, partitionBy = Seq("o_orderstatus"))
    val back = store.readSnapshot()
    assert(back.schema.fieldNames.toSeq == o.schema.fieldNames.toSeq)
    assert(back.exceptAll(o).count() == 0)
  }

  test("time travel reads older snapshots; schema history is versioned") {
    val store = freshStore()
    val v0 = store.commitSnapshot(Seq((1L, "a")).toDF("k", "v"))
    val v1 = store.commitSnapshot(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    assert(v0 == 0 && v1 == 1)
    assert(store.readSnapshot(v0).count() == 1)
    assert(store.readSnapshot(v1).count() == 2)
    assert(store.schemaHistory().map(_._1) == Seq(0L, 1L))
  }

  test("compaction preserves the row multiset and reduces files") {
    val store = freshStore()
    val li = Tables.load(spark, sfDir, "lineitem").repartition(16)
    store.commitSnapshot(li)
    val before = store.manifest(store.currentVersion()).inlineFiles.size
    store.compact(targetFiles = 1)
    val after = store.manifest(store.currentVersion()).inlineFiles.size
    assert(before > after && after == 1)
    assert(store.readSnapshot().exceptAll(li).count() == 0)
    assert(store.readSnapshot().count() == li.count())
  }

  test("vacuum removes unreferenced snapshot dirs, keeps referenced ones") {
    val store = freshStore()
    store.commitSnapshot(Seq((1L, "a")).toDF("k", "v"))
    store.commitSnapshot(Seq((2L, "b")).toDF("k", "v"))
    val deleted = store.vacuum(keepSnapshots = 1)
    assert(deleted.size == 1 && deleted.head.contains("snap-0"))
    assert(store.readSnapshot().count() == 1) // current still readable
  }

  test("time-based vacuum drops only snapshots older than the retention") {
    val store = freshStore()
    store.commitSnapshot(Seq((1L, "a")).toDF("k", "v"))
    Thread.sleep(30)
    store.commitSnapshot(Seq((2L, "b")).toDF("k", "v"))
    val committedAt0 = store.manifest(0).committedAtMs
    // retention shorter than snapshot-0's age, longer than snapshot-1's
    val now = store.manifest(1).committedAtMs + 5
    val deleted = store.vacuumOlderThan(now - committedAt0 - 10, nowMs = now)
    assert(deleted.size == 1 && deleted.head.contains("snap-0"))
    assert(store.readSnapshot().count() == 1)
    // nothing old enough anymore -> no-op
    assert(store.vacuumOlderThan(1000000L, nowMs = now).isEmpty)
  }

  test("versionAsOfTimestamp picks the latest snapshot at or before ts") {
    val store = freshStore()
    store.commitSnapshot(Seq((1L, "a")).toDF("k", "v"))
    Thread.sleep(30)
    store.commitSnapshot(Seq((2L, "b")).toDF("k", "v"))
    val t0 = store.manifest(0).committedAtMs
    val t1 = store.manifest(1).committedAtMs
    assert(store.versionAsOfTimestamp(t0) == Some(0L))
    assert(store.versionAsOfTimestamp(t1 + 1000) == Some(1L))
    assert(store.versionAsOfTimestamp(t0 - 1000) == None)
  }

  test("vacuum removes manifests too: history and resolution skip GC'd versions") {
    val store = freshStore()
    store.commitSnapshot(Seq((1L, "a")).toDF("k", "v"))
    Thread.sleep(30)
    store.commitSnapshot(Seq((2L, "b")).toDF("k", "v"))
    store.commitSnapshot(Seq((3L, "c")).toDF("k", "v"))
    val t0 = store.manifest(0).committedAtMs
    store.vacuum(keepSnapshots = 1)
    // GC'd versions are gone from every resolution surface, not just the data
    assert(store.existingVersions() == Seq(2L))
    assert(store.schemaHistory().map(_._1) == Seq(2L))
    assert(store.versionAsOfTimestamp(t0).isEmpty)
    val e = intercept[IllegalArgumentException](store.readSnapshot(0))
    assert(e.getMessage.contains("vacuumed or never committed"))
    assert(store.readSnapshot().count() == 1)
  }

  test("incremental CDC commit leaves untouched buckets' files in place, byte-identical") {
    val store = freshStore()
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    store.commitBucketed(base, Seq("k"), numBuckets = 8)
    val m0 = store.manifest(0)
    assert(m0.inlineFiles.nonEmpty && m0.inlineFiles.forall(f => TableStore.bucketOfFile(f).nonEmpty))
    val changes = Seq(
      (1L, "V1", 1L, "MODIFY"),
      (2L, null.asInstanceOf[String], 1L, "REMOVE"),
      (200L, "new", 1L, "INSERT")).toDF("k", "v", "seq", "op")
    val touched = Seq(1L, 2L, 200L).toDF("k")
      .select(TableStore.bucketExpr(Seq("k"), 8).as("b")).as[Long].collect().toSet
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def meta(f: String) = {
      val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(f))
      (st.getLen, st.getModificationTime)
    }
    val untouched = m0.inlineFiles.filter(f =>
      !touched.contains(TableStore.bucketOfFile(f).get))
    assert(untouched.nonEmpty, "fixture degenerate: every bucket touched")
    val before = untouched.map(f => f -> meta(f)).toMap

    graft.streaming.StreamingOps.applyCdcBatch(changes, store, Seq("k"), numBuckets = 8)

    val m1 = store.manifest(1)
    // untouched buckets: same paths in the new manifest, files never rewritten
    untouched.foreach { f =>
      assert(m1.inlineFiles.contains(f), s"untouched file dropped from manifest: $f")
      assert(meta(f) == before(f), s"untouched file was rewritten: $f")
    }
    // touched buckets: no stale parent file survives
    assert(m1.inlineFiles.filter(f => touched.contains(TableStore.bucketOfFile(f).get))
      .forall(!m0.inlineFiles.contains(_)))
    // content equals the batch-form LWW merge on the full table
    val expected = graft.etl.CdcApply(base, changes, Seq("k"))
    assert(store.readSnapshot().count() == expected.count())
    assert(store.readSnapshot().exceptAll(expected).count() == 0)
  }

  test("incremental read returns exactly the rows appended between snapshots") {
    val store = freshStore()
    store.commitSnapshot((1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"))
    store.commitAppend((51L to 70L).map(i => (i, s"v$i")).toDF("k", "v"))
    val inc = store.readIncremental(fromVersion = 0).as[(Long, String)].collect().sorted
    assert(inc.toSeq == (51L to 70L).map(i => (i, s"v$i")))
    // same-version diff is empty
    assert(store.readIncremental(fromVersion = 1).count() == 0)
  }

  test("changelog: keyed INSERT/UPDATE/DELETE diff, reads only files that differ") {
    val store = freshStore()
    val base = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    store.commitBucketed(base, Seq("k"), numBuckets = 8)
    val changes = Seq(
      (1L, "V1", 1L, "MODIFY"),
      (2L, null.asInstanceOf[String], 1L, "REMOVE"),
      (200L, "new", 1L, "INSERT")).toDF("k", "v", "seq", "op")
    graft.streaming.StreamingOps.applyCdcBatch(changes, store, Seq("k"), numBuckets = 8)
    val touched = Seq(1L, 2L, 200L).toDF("k")
      .select(TableStore.bucketExpr(Seq("k"), 8).as("b")).as[Long].collect().toSet
    // scale contract: the diff is confined to touched buckets' files on BOTH
    // sides — inherited byte-identical files are never listed, so the
    // changelog read is O(changed partitions), not O(table)
    val (added, removed) = store.changedFilesBetween(0, 1)
    assert(added.nonEmpty && removed.nonEmpty)
    assert((added ++ removed).forall(f =>
      touched.contains(TableStore.bucketOfFile(f).get)))
    val m0 = store.manifest(0)
    assert(removed.size < m0.inlineFiles.size, "diff listed untouched files")
    // content: exactly the three changes; rewritten-but-unchanged carry-over
    // rows of the touched buckets are dropped by the payload comparison
    val cl = store.readChangelog(0, 1).as[(String, Long, String)].collect()
      .sortBy(_._2)
    assert(cl.toSeq == Seq(("UPDATE", 1L, "V1"), ("DELETE", 2L, "v2"),
      ("INSERT", 200L, "new")))
  }

  test("changelog over a plain-table file-replace commit (explicit keyCols)") {
    val store = freshStore()
    // 4 sorted files; replace only the file holding k=10..20
    store.commitSnapshot((1L to 80L).map(i => (i, s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    val m0 = store.manifest(0)
    val target = m0.inlineFiles.filter(f =>
      m0.inlineStats(f).cols("k").min.exists(_.toLong <= 15) &&
        m0.inlineStats(f).cols("k").max.exists(_.toLong >= 15))
    assert(target.size == 1)
    val kept = store.readFiles(m0, target)
      .filter(col("k") =!= 15L && col("k") =!= 16L)
      .withColumn("v", when(col("k") === 17L, lit("V17")).otherwise(col("v")))
    store.commitReplaceFiles(target, kept)
    val cl = store.readChangelog(0, 1, keyCols = Seq("k"))
      .as[(String, Long, String)].collect().sortBy(_._2)
    assert(cl.toSeq == Seq(("DELETE", 15L, "v15"), ("DELETE", 16L, "v16"),
      ("UPDATE", 17L, "V17")))
    // only the replaced file and its replacement were diffed
    val (added, removed) = store.changedFilesBetween(0, 1)
    assert(removed == target && added.nonEmpty && added.size < m0.inlineFiles.size)
  }

  test("changelog across mid-stream schema evolution NULL-pads the pre-image") {
    val store = freshStore()
    store.commitBucketed((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    // the batch introduces `chan`; k=5 changes ONLY the new column
    val changes = Seq(
      (1L, "V1", "web", 1L, "MODIFY"),
      (5L, "v5", "app", 1L, "MODIFY")).toDF("k", "v", "chan", "seq", "op")
    graft.streaming.StreamingOps.applyCdcBatch(changes, store, Seq("k"), numBuckets = 4)
    val cl = store.readChangelog(0, 1)
      .as[(String, Long, String, Option[String])].collect().sortBy(_._2)
    assert(cl.toSeq == Seq(("UPDATE", 1L, "V1", Some("web")),
      ("UPDATE", 5L, "v5", Some("app"))))
  }

  test("bucket-key type widening is rejected on merge-on-read paths, value columns widen") {
    val store = freshStore()
    store.commitBucketed((1L to 20L).map(i => (i, i.toInt)).toDF("k", "x"),
      Seq("k"), numBuckets = 4)
    // widening the BUCKET KEY would re-hash existing rows to other buckets
    // (xxhash64 is type-sensitive) — both metadata paths must refuse
    val keyWide = Seq((BigDecimal(21), 21)).toDF("k", "x")
      .select(col("k").cast("decimal(38,0)"), col("x"))
    intercept[IllegalArgumentException] {
      store.commitIncremental(keyWide, touched = Seq(0L))
    }
    intercept[IllegalArgumentException] {
      store.commitSchemaOnly(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.DecimalType(38, 0)),
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.IntegerType))))
    }
    // a VALUE column still widens incrementally (int -> long)
    val valWide = Seq((1L, 100L)).toDF("k", "x")
    store.commitIncremental(valWide,
      touched = Seq(1L).toDF("k")
        .select(TableStore.bucketExpr(Seq("k"), 4).as("b")).as[Long].collect().toSeq)
    assert(store.readSnapshot().filter(col("k") === 1L)
      .select(col("x").cast("long")).as[Long].head() == 100L)
  }

  test("mid-stream bucket-KEY widening falls back to a full rebucket, content exact") {
    val store = freshStore()
    graft.streaming.StreamingOps.applyCdcBatch(
      (1L to 30L).map(i => (i, s"v$i", 1L, "INSERT")).toDF("k", "v", "seq", "op"),
      store, Seq("k"), numBuckets = 4)
    assert(store.manifest(store.currentVersion()).schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    // a key outgrowing long arrives as decimal: the loop must NOT take the
    // incremental path (stale bucket placement) — full rebucket instead
    val big = BigDecimal("99999999999999999999")
    val batch = Seq((big, "huge", 2L, "INSERT"), (BigDecimal(5), "V5", 2L, "MODIFY"))
      .toDF("k", "v", "seq", "op")
      .select(col("k").cast("decimal(38,0)"), col("v"), col("seq"), col("op"))
    graft.streaming.StreamingOps.applyCdcBatch(batch, store, Seq("k"), numBuckets = 4)
    val out = store.readSnapshot()
      .select(col("k").cast("string"), col("v")).as[(String, String)]
      .collect().toMap
    assert(out.size == 31)
    assert(out("5") == "V5", "pre-widening key must still be reachable (no dup/lost rows)")
    assert(out("99999999999999999999") == "huge")
    // and every key resolves through the bucketed read path (placement consistent)
    val m = store.manifest(store.currentVersion())
    val b5 = Seq(BigDecimal(5)).toDF("k")
      .select(col("k").cast("decimal(38,0)"))
      .select(TableStore.bucketExpr(Seq("k"), m.numBuckets).as("b")).as[Long].head()
    assert(store.readBuckets(Seq(b5)).filter(col("k") === 5).count() == 1)
  }

  test("±Infinity float/double footer bounds stay readable and never prune") {
    val store = freshStore()
    store.commitSnapshot(Seq(
      (1L, 1.5), (2L, Double.PositiveInfinity), (3L, -2.0),
      (4L, Double.NegativeInfinity)).toDF("k", "x"))
    // commit survived; filtered reads plan and return the right rows
    assert(store.readSnapshot().filter(col("x") > 0.0).count() == 2)
    assert(store.readSnapshot().filter(col("x") === Double.PositiveInfinity)
      .as[(Long, Double)].collect().toSeq == Seq((2L, Double.PositiveInfinity)))
    // the k column still prunes (its bounds are untainted)
    assert(store.readSnapshot().filter(col("k") > 100L).count() == 0)
  }

  test("vacuum keeps snap dirs still referenced through inherited files") {
    val store = freshStore()
    store.commitBucketed((1L to 50L).map(i => (i, i.toString)).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    val changes = Seq((1L, "X", 1L, "MODIFY")).toDF("k", "v", "seq", "op")
    graft.streaming.StreamingOps.applyCdcBatch(changes, store, Seq("k"), numBuckets = 4)
    // v1 inherits most files from v0's snap dir; expiring v0 must NOT delete it
    val deleted = store.vacuum(keepSnapshots = 1)
    assert(deleted.isEmpty, s"vacuum deleted dirs still referenced by v1: $deleted")
    assert(store.readSnapshot().count() == 50)
    // a full (bucketed) rewrite drops the dependency; v0+v1 dirs then collect
    store.compact(targetFiles = 1)
    val deleted2 = store.vacuum(keepSnapshots = 1)
    assert(deleted2.size == 2)
    assert(store.readSnapshot().count() == 50)
  }

  test("incremental commit widens schema; inherited files read new column as NULL") {
    val store = freshStore()
    store.commitBucketed((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    // change batch carries a brand-new attribute
    val changes = Seq((1L, "V1", "web", 1L, "MODIFY"))
      .toDF("k", "v", "chan", "seq", "op")
    graft.streaming.StreamingOps.applyCdcBatch(changes, store, Seq("k"), numBuckets = 4)
    val back = store.readSnapshot()
    assert(back.columns.toSeq == Seq("k", "v", "chan"))
    val rows = back.as[(Long, String, Option[String])].collect()
    assert(rows.find(_._1 == 1L).get == ((1L, "V1", Some("web"))))
    assert(rows.filter(_._1 != 1L).forall(_._3.isEmpty))
    assert(rows.length == 20)
  }

  test("append-only commit on a hive-partitioned table: file reuse + partition recovery") {
    val store = freshStore()
    store.commitSnapshot(Seq((1L, "A"), (2L, "B")).toDF("k", "status"),
      partitionBy = Seq("status"))
    val before = store.manifest(0).inlineFiles.toSet
    store.commitAppend(Seq((3L, "A"), (4L, null.asInstanceOf[String])).toDF("k", "status"))
    val m = store.manifest(1)
    assert(before.subsetOf(m.inlineFiles.toSet), "append rewrote existing files")
    // multi-dir hive read: partition values recovered from the file paths,
    // including the NULL partition
    val rows = store.readSnapshot().as[(Long, Option[String])].collect().toSet
    assert(rows == Set((1L, Some("A")), (2L, Some("B")), (3L, Some("A")), (4L, None)))
    assert(store.readSnapshot().columns.toSeq == Seq("k", "status"))
  }

  test("reference unreferencedFileRemoval parity: unreferencedDays + noncurrentDays") {
    // The reference exposes two GC knobs (README.md:132-137):
    //   noncurrentDays  — expire NONCURRENT table versions older than N days
    //                     → vacuumOlderThan(ageMs): drops stale snapshots
    //                       (manifest + data) past the retention age;
    //   unreferencedDays — remove files REFERENCED BY NO metadata
    //                     → vacuum(): deletes data dirs no surviving
    //                       manifest points at (e.g. a crashed writer's
    //                       orphaned staging dir).
    val store = freshStore()
    store.commitSnapshot(Seq((1L, "a")).toDF("k", "v"))
    Thread.sleep(30)
    store.commitSnapshot(Seq((2L, "b")).toDF("k", "v"))
    // knob 1: noncurrent v0 is past retention, current v1 is kept
    val now = store.manifest(1).committedAtMs + 5
    val expired = store.vacuumOlderThan(
      now - store.manifest(0).committedAtMs - 10, nowMs = now)
    assert(expired.size == 1 && expired.head.contains("snap-0"))
    // knob 2: an orphaned dir referenced by no manifest is collected even
    // when every snapshot is retained
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(store.root, "data/snap-99-orphan")
    fs.mkdirs(orphan)
    val removed = store.vacuum(keepSnapshots = 1000)
    assert(removed.size == 1 && removed.head.contains("snap-99-orphan"))
    assert(store.readSnapshot().count() == 1)
  }

  test("schema-only commit is metadata-only: identical file list, NULL-padded column, widened type") {
    val store = freshStore()
    store.commitBucketed((1L to 40L).map(i => (i, i * 10L)).toDF("k", "amount"),
      Seq("k"), numBuckets = 4)
    val m0 = store.manifest(0)
    // ADD COLUMN note + widen amount long→decimal(38,0): both merge-on-read
    val widened = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("amount",
        org.apache.spark.sql.types.DecimalType(38, 0)),
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType)))
    store.commitSchemaOnly(widened)
    val m1 = store.manifest(1)
    assert(m1.inlineFiles == m0.inlineFiles, "schema-only commit must not touch data files")
    // names/types match; the store additionally stamps parquet field ids
    assert(m1.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      widened.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(m1.bucketKeys == Seq("k") && m1.numBuckets == 4)
    val back = store.readSnapshot()
    assert(back.columns.toSeq == Seq("k", "amount", "note"))
    assert(back.schema("amount").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0))
    val rows = back.as[(Long, BigDecimal, Option[String])].collect()
    assert(rows.length == 40 && rows.forall(r => r._2 == BigDecimal(r._1 * 10)))
    assert(rows.forall(_._3.isEmpty))
    // a non-merge-on-read change (long→double) is rejected
    val bad = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("amount",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType)))
    val e = intercept[IllegalArgumentException](store.commitSchemaOnly(bad))
    assert(e.getMessage.contains("merge-on-read"))
  }

  test("mid-stream type widening stays incremental; untouched files inherited narrow") {
    val store = freshStore()
    store.commitBucketed((1L to 50L).map(i => (i, i * 10L)).toDF("k", "amount"),
      Seq("k"), numBuckets = 8)
    val m0 = store.manifest(0)
    // a DynamoDB N outgrew long mid-stream: the batch decodes as decimal(38,0)
    val big = BigDecimal("99999999999999999999") // > Long.MaxValue
    val changes = Seq((1L, big, 1L, "MODIFY"))
      .toDF("k", "amount", "seq", "op")
      .select(col("k"), col("amount").cast("decimal(38,0)").as("amount"),
        col("seq"), col("op"))
    graft.streaming.StreamingOps.applyCdcBatch(changes, store, Seq("k"), numBuckets = 8)
    val m1 = store.manifest(1)
    val touched = Seq(1L).toDF("k")
      .select(TableStore.bucketExpr(Seq("k"), 8).as("b")).as[Long].collect().toSet
    val untouched = m0.inlineFiles.filter(f => !touched.contains(TableStore.bucketOfFile(f).get))
    assert(untouched.nonEmpty)
    untouched.foreach(f => assert(m1.inlineFiles.contains(f),
      s"type widening forced a rewrite of untouched file $f"))
    assert(m1.schema("amount").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 0))
    val back = store.readSnapshot()
    val rows = back.as[(Long, BigDecimal)].collect().toMap
    assert(rows(1L) == big)
    assert(rows(2L) == BigDecimal(20) && rows.size == 50)
  }

  test("non-merge-on-read widening (long→double) falls back to one full rewrite") {
    val store = freshStore()
    store.commitBucketed((1L to 30L).map(i => (i, i * 10L)).toDF("k", "amount"),
      Seq("k"), numBuckets = 4)
    val m0 = store.manifest(0)
    val changes = Seq((1L, 10.5, 1L, "MODIFY")).toDF("k", "amount", "seq", "op")
    graft.streaming.StreamingOps.applyCdcBatch(changes, store, Seq("k"), numBuckets = 4)
    val m1 = store.manifest(1)
    // full rewrite: no parent file survives, schema is wide, data correct
    assert(m1.inlineFiles.forall(f => !m0.inlineFiles.contains(f)))
    assert(m1.schema("amount").dataType == org.apache.spark.sql.types.DoubleType)
    val rows = store.readSnapshot().as[(Long, Double)].collect().toMap
    assert(rows(1L) == 10.5 && rows(2L) == 20.0 && rows.size == 30)
  }

  test("vacuum reclaims superseded bucket files inside still-pinned snap dirs") {
    val store = freshStore()
    store.commitBucketed((1L to 50L).map(i => (i, i.toString)).toDF("k", "v"),
      Seq("k"), numBuckets = 4)
    val m0 = store.manifest(0)
    val changes = Seq((1L, "X", 1L, "MODIFY")).toDF("k", "v", "seq", "op")
    graft.streaming.StreamingOps.applyCdcBatch(changes, store, Seq("k"), numBuckets = 4)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val touched = TableStore.bucketOfFile(
      store.manifest(1).inlineFiles.filterNot(m0.inlineFiles.contains).head).get
    val superseded = m0.inlineFiles.filter(f =>
      TableStore.bucketOfFile(f).contains(touched))
    assert(superseded.nonEmpty)
    // v0's manifest expires; its dir stays pinned via inherited files, but the
    // superseded touched-bucket files inside it are swept at file granularity
    store.vacuum(keepSnapshots = 1)
    superseded.foreach(f => assert(
      !fs.exists(new org.apache.hadoop.fs.Path(f)),
      s"superseded file not reclaimed: $f"))
    val kept = store.manifest(1).inlineFiles
    kept.foreach(f => assert(fs.exists(new org.apache.hadoop.fs.Path(f))))
    assert(store.readSnapshot().count() == 50)
  }

  test("manifest column stats skip data files on non-partition predicates") {
    val store = freshStore()
    val df = (1L to 800L).map(i => (i, i % 7, s"name$i")).toDF("k", "grp", "v")
      .repartitionByRange(8, col("k"))
    store.commitSnapshot(df)
    val m = store.manifest(0)
    assert(m.inlineFiles.size == 8)
    assert(m.inlineFiles.forall(m.inlineStats.contains), "every file must carry footer stats")
    assert(m.inlineFiles.forall(f => m.inlineStats(f).cols.get("k")
      .exists(c => c.min.nonEmpty && c.max.nonEmpty)))

    def filesScanned(q: org.apache.spark.sql.DataFrame): Long =
      graft.util.PlanScans.filesScanned(q)

    // range-sorted column: a point predicate opens exactly one file
    val point = store.readSnapshot().filter(col("k") === 400L)
    assert(point.count() == 1)
    assert(filesScanned(store.readSnapshot().filter(col("k") === 400L)) == 1)
    // range predicate: only the overlapping tail of files
    val range = store.readSnapshot().filter(col("k") >= 701L)
    assert(range.count() == 100)
    assert(filesScanned(store.readSnapshot().filter(col("k") >= 701L)) <= 2)
    // unselective predicate: all files, correct result
    assert(filesScanned(store.readSnapshot().filter(col("grp") === 3)) == 8)
    // provably-empty predicate prunes EVERY file from the scan
    assert(filesScanned(store.readSnapshot().filter(col("k") > 10000L)) == 0)
    assert(filesScanned(store.readSnapshot().filter(col("grp").isNull)) == 0)
    // full scan still reads everything
    assert(store.readSnapshot().count() == 800)
  }

  test("sorted compaction tightens file bounds so point lookups skip files") {
    val store = freshStore()
    // 8 UNSORTED files: every file spans nearly the full key range, so no
    // bound can exclude any file for a point lookup
    val shuffled = new scala.util.Random(3).shuffle((1L to 800L).toVector)
    store.commitSnapshot(shuffled.map(i => (i, s"v$i")).toDF("k", "v")
      .repartition(8))
    def filesScanned(q: org.apache.spark.sql.DataFrame): Long =
      graft.util.PlanScans.filesScanned(q)
    val before = filesScanned(store.readSnapshot().filter(col("k") === 400L))
    assert(before == 8, s"unsorted layout should scan all files, got $before")
    // range-clustered rewrite: each file now covers a narrow k interval
    store.compact(targetFiles = 8, sortBy = Seq("k"))
    assert(store.manifest(store.currentVersion()).inlineFiles.size == 8)
    val after = filesScanned(store.readSnapshot().filter(col("k") === 400L))
    assert(after == 1, s"sorted layout should scan 1 file, got $after")
    assert(store.readSnapshot().count() == 800)
  }

  test("stats survive incremental commits and skip within bucketed tables") {
    val store = freshStore()
    store.commitBucketed(
      (1L to 400L).map(i => (i, i * 2L)).toDF("k", "amount"), Seq("k"), numBuckets = 4)
    val changes = Seq((1L, 999L, 1L, "MODIFY")).toDF("k", "amount", "seq", "op")
    graft.streaming.StreamingOps.applyCdcBatch(changes, store, Seq("k"), numBuckets = 4)
    val m1 = store.manifest(1)
    assert(m1.inlineFiles.forall(m1.inlineStats.contains),
      "inherited + fresh files must all carry stats after an incremental commit")
    // a predicate outside every file's bounds scans nothing
    val q = store.readSnapshot().filter(col("amount") > 100000L)
    assert(q.count() == 0)
  }

  private def setCommittedAt(root: String, version: Long, tsMs: Long): Unit = {
    val store = new TableStore(spark, root)
    val m = store.manifest(version).copy(committedAtMs = tsMs)
    // rewrite through the hadoop fs so the .crc sidecar stays consistent
    val p = new org.apache.hadoop.fs.Path(root, s"manifest/v$version.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(m.toJson.getBytes("UTF-8")) finally out.close()
    // out-of-band overwrite no production path does — drop the memo
    TableStore.invalidateMeta(root)
  }

  test("two-threshold GC: unreferenced age and noncurrent age expire different sets") {
    import java.nio.file.Files
    // history: v0 @ t=1_000, v1 @ t=500_000, v2 @ t=900_000; now = 1_000_000
    def build(): (TableStore, String) = {
      val root = Files.createTempDirectory("graft_gc2").toString
      val store = new TableStore(spark, root)
      store.commitSnapshot(Seq((1L, "a")).toDF("k", "v"))
      store.commitAppend(Seq((2L, "b")).toDF("k", "v"))
      store.commitAppend(Seq((3L, "c")).toDF("k", "v"))
      setCommittedAt(root, 0, 1000L)
      setCommittedAt(root, 1, 500000L)
      setCommittedAt(root, 2, 900000L)
      (new TableStore(spark, root), root)
    }
    val now = 1000000L

    // unreferencedDays analog: v0's OWN commit is 999s old → expired;
    // v1 is only 500s old → survives
    val (a, _) = build()
    a.vacuumOlderThan(600000L, nowMs = now)
    assert(a.existingVersions() == Seq(1L, 2L))

    // noncurrentDays analog at the same 600s threshold: v0 was SUPERSEDED
    // at t=500_000 (v1's commit), i.e. noncurrent for only 500s → survives.
    // The same table state, the same threshold, a DIFFERENT surviving set —
    // the distinction the reference's two knobs encode.
    val (b, _) = build()
    b.vacuumNoncurrent(600000L, nowMs = now)
    assert(b.existingVersions() == Seq(0L, 1L, 2L))

    // tighter noncurrent window: v0 (noncurrent 500s) falls, v1 (noncurrent
    // 100s) survives
    val (c, _) = build()
    c.vacuumNoncurrent(400000L, nowMs = now)
    assert(c.existingVersions() == Seq(1L, 2L))
    // the current snapshot is never expired by either threshold
    val (d, _) = build()
    d.vacuumOlderThan(1L, nowMs = now)
    d.vacuumNoncurrent(1L, nowMs = now)
    assert(d.existingVersions() == Seq(2L))
    assert(d.readSnapshot().count() == 3)
  }

  test("expire_snapshots procedure exposes both thresholds") {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_gc2p").toString
    spark.conf.set("spark.sql.catalog.gc_cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gc_cat.warehouse", warehouse)
    val tbl = "ns.gc_tbl"
    val store = new TableStore(spark, s"$warehouse/ns/gc_tbl")
    store.commitSnapshot(Seq((1L, "a")).toDF("k", "v"))
    Thread.sleep(30)
    store.commitAppend(Seq((2L, "b")).toDF("k", "v"))
    // noncurrent_ms only: v0 superseded ~0 ms ago at a large threshold → kept
    val r1 = spark.sql(
      s"CALL gc_cat.system.expire_snapshots('$tbl', 0, ${86400L * 1000})")
      .collect().head
    assert(r1.getInt(0) == 0 && r1.getInt(1) == 0, r1.toString)
    assert(store.existingVersions() == Seq(0L, 1L))
    // older_than_ms: v0's own commit is > 1 ms old → expired (its snap dir
    // survives — the append child inherits its files, so the dir count is 0)
    spark.sql(s"CALL gc_cat.system.expire_snapshots('$tbl', 1, 0)").collect()
    assert(store.existingVersions() == Seq(1L))
    assert(store.readSnapshot().count() == 2)
  }

  test("racing writers: losers retry, all committed data stays intact") {
    val store = freshStore()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try {
          for (i <- 0 until 5) {
            var done = false
            while (!done) {
              try { store.commitSnapshot(Seq((t.toLong, i.toLong)).toDF("w", "i")); done = true }
              catch { case _: IllegalStateException => /* lost the CAS; retry */ }
            }
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"unexpected: ${errors.peek()}")
    assert(store.currentVersion() == 9L)
    // every committed snapshot readable: no loser overwrote a winner's files
    store.existingVersions().foreach(v => assert(store.readSnapshot(v).count() == 1))
    // losers cleaned their orphaned staging dirs: one data dir per commit
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(new org.apache.hadoop.fs.Path(store.root, "data"))
    assert(dataDirs.length == 10, s"expected 10 data dirs, found ${dataDirs.length}")
  }

  test("CAS: stale expected parent is rejected") {
    val store = freshStore()
    store.commitSnapshot(Seq((1L, "a")).toDF("k", "v"))
    val e = intercept[IllegalStateException](
      store.commitSnapshot(Seq((2L, "b")).toDF("k", "v"),
        expectedParent = Some(5L)))
    assert(e.getMessage.contains("CAS"))
  }

  test("empty table read fails with a descriptive error") {
    val store = freshStore()
    val e = intercept[IllegalArgumentException](store.readSnapshot())
    assert(e.getMessage.contains("no committed snapshot"))
  }

  test("driver-derived key buckets equal the executor hash for every supported key type") {
    // soundness root of read-path bucket pruning: keyEqualityBuckets
    // evaluates XxHash64 over pushed literals ON THE DRIVER and must land
    // on exactly the bucket bucketExpr computes over column values ON
    // EXECUTORS — a divergence (type widening, seed drift, encoding) would
    // silently drop matching files from point lookups
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal, In => CatIn}
    import org.apache.spark.sql.types._
    val n = 64
    def mkManifest(fields: Seq[(String, DataType)]) = TableStore.Manifest(
      0L, -1L, StructType(fields.map { case (nm, dt) => StructField(nm, dt) }),
      "", Nil, Nil, 0L, bucketKeys = fields.map(_._1), numBuckets = n)
    def executorBucket(df: org.apache.spark.sql.DataFrame, keys: Seq[String]): Long =
      df.select(TableStore.bucketExpr(keys, n).as("b")).as[Long].head()

    val cases: Seq[(DataType, Any, org.apache.spark.sql.DataFrame)] = Seq(
      (LongType, 123456L, Seq(123456L).toDF("k")),
      (IntegerType, -42, Seq(-42).toDF("k")),
      (StringType, "partition key", Seq("partition key").toDF("k")),
      (DoubleType, 3.25, Seq(3.25).toDF("k")),
      (DateType, java.sql.Date.valueOf("2026-08-13"),
        Seq(java.sql.Date.valueOf("2026-08-13")).toDF("k")),
      (TimestampType, java.sql.Timestamp.valueOf("2026-08-13 01:02:03"),
        Seq(java.sql.Timestamp.valueOf("2026-08-13 01:02:03")).toDF("k")),
      (DecimalType(10, 2), new java.math.BigDecimal("12345.67"),
        Seq(new java.math.BigDecimal("12345.67")).toDF("k")
          .select(col("k").cast(DecimalType(10, 2)).as("k"))))
    cases.foreach { case (dt, v, df) =>
      val m = mkManifest(Seq("k" -> dt))
      val attr = AttributeReference("k", dt)()
      val derived = TableStore.keyEqualityBuckets(
        Seq(EqualTo(attr, Literal.create(v, dt))), m)
      assert(derived.contains(Set(executorBucket(df, Seq("k")))),
        s"$dt: derived $derived vs executor ${executorBucket(df, Seq("k"))}")
    }
    // composite key (long, string) and IN-list derivation
    val m2 = mkManifest(Seq("a" -> LongType, "b" -> StringType))
    val aAttr = AttributeReference("a", LongType)()
    val bAttr = AttributeReference("b", StringType)()
    val derived2 = TableStore.keyEqualityBuckets(Seq(
      CatIn(aAttr, Seq(Literal(7L), Literal(9L))),
      EqualTo(bAttr, Literal.create("x", StringType))), m2)
    val exec2 = Set((7L, "x"), (9L, "x")).map { case (a, b) =>
      executorBucket(Seq((a, b)).toDF("a", "b"), Seq("a", "b"))
    }
    assert(derived2.contains(exec2), s"composite: $derived2 vs $exec2")
  }

  test("foreign field ids from another graft table never leak into a commit (ADVICE r6)") {
    val a = freshStore()
    a.commitSnapshot(Seq((1L, "x")).toDF("k", "s"))
    val b = freshStore()
    b.commitSnapshot(Seq((10L, 1.0)).toDF("p", "q"))
    // a column carried over from table A keeps A's field id in its metadata;
    // that id collides with B's own ids — the commit must draw a fresh one
    // instead of committing duplicate ids / false cross-version identity
    val fromA = a.readSnapshot().select($"k".as("extra"))
    assert(TableStore.fieldId(fromA.schema("extra")) >= 0,
      "fixture must carry A's id on the renamed column")
    b.commitSnapshot(b.readSnapshot().crossJoin(fromA))
    val m1 = b.manifest(1)
    val ids = m1.schema.fields.map(TableStore.fieldId)
    assert(ids.forall(_ >= 0) && ids.distinct.length == ids.length,
      s"duplicate/missing field ids: ${ids.toSeq}")
    assert(TableStore.fieldId(m1.schema("extra")) > b.manifest(0).highestFieldId,
      "foreign id was trusted instead of drawing fresh")
    assert(TableStore.fieldId(m1.schema("p")) ==
      TableStore.fieldId(b.manifest(0).schema("p")),
      "same-name column must keep its id across commits")
    assert(b.readSnapshot().select("extra").as[Long].head() == 1L)
  }

  test("foreign id colliding with a parent id under an ABSENT name is not a rename (VERDICT r7 #9)") {
    val a = freshStore()
    a.commitSnapshot(Seq((1L, "x")).toDF("k", "s"))
    val b = freshStore()
    b.commitSnapshot(Seq((10L, 1.0)).toDF("p", "q"))
    val pId = TableStore.fieldId(b.manifest(0).schema("p"))
    // A's first column drew the same id as B's first column
    val fromA = a.readSnapshot().select($"k".as("extra"))
    assert(TableStore.fieldId(fromA.schema("extra")) == pId,
      "fixture needs the cross-table id collision")
    // full rewrite DROPPING `p`: the foreign id is now unclaimed by name, so
    // the old honor-as-rename branch would alias `extra` to `p`'s identity —
    // a data commit must draw fresh instead (renames go via commitSchemaOnly)
    b.commitSnapshot(b.readSnapshot().select($"q").crossJoin(fromA))
    val m1 = b.manifest(1)
    assert(TableStore.fieldId(m1.schema("extra")) > b.manifest(0).highestFieldId,
      "foreign id under an absent parent name was treated as a rename")
    assert(TableStore.fieldId(m1.schema("q")) ==
      TableStore.fieldId(b.manifest(0).schema("q")))
    // the explicit rename surface still preserves identity: schema-only
    // commit built from the parent's own fields keeps the id under a new name
    val renamed = org.apache.spark.sql.types.StructType(m1.schema.fields.map(
      f => if (f.name == "extra") f.copy(name = "extra2") else f))
    val v2 = b.commitSchemaOnly(renamed)
    assert(TableStore.fieldId(b.manifest(v2).schema("extra2")) ==
      TableStore.fieldId(m1.schema("extra")),
      "commitSchemaOnly rename must keep the field id")
  }

  test("pre-field-id tables: inheriting commits stay id-less, full rewrite upgrades (ADVICE r6)") {
    val store = freshStore()
    // simulate a table from before id stamping: neither the data files nor
    // the manifest schema carry parquet field ids
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
    try store.commitBucketed(
      Seq((1L, "a"), (2L, "b")).toDF("k", "s"), Seq("k"), 4)
    finally spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val m0 = store.manifest(0)
    rewriteManifest(store, 0, m0.copy(
      schema = TableStore.stripFieldIds(m0.schema), maxFieldId = -1L))
    assert(store.readSnapshot().count() == 2)
    // an incremental commit INHERITS id-less files — stamping ids into its
    // manifest would make every inherited file unreadable (probed: Spark's
    // id matching treats them as missing columns); it must stay id-less
    val touched = Seq(Seq(2L).toDF("k")
      .select(TableStore.bucketExpr(Seq("k"), 4).as("b")).as[Long].head())
    store.commitIncremental(
      store.readBuckets(touched).filter($"k" =!= 2L)
        .union(Seq((2L, "z")).toDF("k", "s")), touched)
    assert(store.manifest(1).schema.fields
      .forall(f => TableStore.fieldId(f) < 0), "inheriting commit stamped ids")
    assert(store.readSnapshot().orderBy("k").select("s")
      .as[String].collect().toSeq == Seq("a", "z"))
    // metadata-only evolution on an id-less table stays id-less too
    store.commitSchemaOnly(org.apache.spark.sql.types.StructType(
      store.manifest(1).schema.fields :+ org.apache.spark.sql.types
        .StructField("n", org.apache.spark.sql.types.LongType)))
    assert(store.manifest(2).schema.fields
      .forall(f => TableStore.fieldId(f) < 0))
    assert(store.readSnapshot().filter($"k" === 1L).select("n").head().isNullAt(0))
    // the first FULL rewrite writes all-fresh files and performs the upgrade
    store.commitBucketed(store.readSnapshot(), Seq("k"), 4)
    assert(store.manifest(3).schema.fields
      .forall(f => TableStore.fieldId(f) >= 0), "full rewrite must stamp ids")
    assert(store.readSnapshot().orderBy("k").select("s")
      .as[String].collect().toSeq == Seq("a", "z"))
  }

  test("distributed vacuum sweep never deletes files referenced by scheme-less manifest paths (ADVICE r6)") {
    spark.conf.set("spark.graft.manifest.inlineThreshold", "0")
    try {
      val store = freshStore()
      store.commitSnapshot(Seq((1L, "a")).toDF("k", "s"))
      store.commitAppend(Seq((2L, "b")).toDF("k", "s"))
      val m1 = store.manifest(1)
      assert(m1.isSharded)
      // rewrite v1's shards with scheme-less data-file paths — the exact
      // qualification mismatch sweepDataInline already normalizes away
      val meta = graft.store.ManifestShards.read(spark, m1.shards.map(_.path))
        .map(fm => fm.copy(path = fm.path.stripPrefix("file:")))
      val dest = store.root + "/manifest/shards/v1-schemeless"
      val refs = graft.store.ManifestShards.write(spark, meta, dest, 1)
      rewriteManifest(store, 1, m1.copy(shards = refs))
      assert(store.readSnapshot(1).count() == 2)
      // sweep runs over both survivors; an unqualified string compare would
      // drop v1's files out of the anti-join and delete them
      store.vacuum(keepSnapshots = 2)
      assert(store.readSnapshot(0).count() == 1)
      assert(store.readSnapshot(1).count() == 2)
    } finally spark.conf.unset("spark.graft.manifest.inlineThreshold")
  }

  test("metaFromInline backfills a missing stat from the live file status, never zeros (ADVICE r6)") {
    val store = freshStore()
    store.commitSnapshot(Seq((1L, "a")).toDF("k", "s"))
    val m = store.manifest(0)
    // an entry with no stats must still carry real bytes/modTime: scans
    // build a FileStatus from these fields and a 0-length file generates no
    // splits — its rows would silently vanish if zeros were baked in
    val meta = graft.store.ManifestShards
      .metaFromInline(spark, m.inlineFiles, Map.empty).collect()
    assert(meta.nonEmpty)
    meta.foreach { fm =>
      assert(fm.bytes > 0L, s"fabricated zero bytes for ${fm.path}")
      assert(fm.mod_ms > 0L, s"fabricated zero modTime for ${fm.path}")
    }
  }

  test("bloom write options stamp real, discriminating blooms on every commit path") {
    withConf("spark.graft.bloom.columns" -> "s") {
      val store = freshStore()
      // bucketed commit + append: both write paths must carry the option
      store.commitBucketed((1L to 50L).map(k => (k, s"id-$k")).toDF("k", "s"),
        Seq("k"), 4)
      store.commitAppend(Seq((51L, "id-51")).toDF("k", "s"))
      val conf = spark.sparkContext.hadoopConfiguration
      val files = store.manifest(1).inlineFiles
      assert(files.nonEmpty)
      val blooms = files.map(f =>
        graft.store.FileStats.bloomOfColumn(f, conf, "s"))
      assert(blooms.forall(_.nonEmpty), "a data file footer lacks the bloom")
      assert(blooms.flatten.exists(_.apply("id-7")), "present value missed")
      // a value never written should miss in at least one file (FPR << 1)
      assert(blooms.flatten.count(_.apply("definitely-absent-xyz")) < files.size,
        "bloom accepts an absent value everywhere — not discriminating")
      // files written WITHOUT the conf carry no bloom (and never skip)
      spark.conf.unset("spark.graft.bloom.columns")
      val plain = freshStore()
      plain.commitSnapshot(Seq((1L, "x")).toDF("k", "s"))
      assert(graft.store.FileStats.bloomOfColumn(
        plain.manifest(0).inlineFiles.head, conf, "s").isEmpty)
    }
  }

  test("merge-on-read DELETE: a delete vector masks rows with zero data rewrite") {
    val store = freshStore()
    store.commitBucketed(
      (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), 8)
    val m0 = store.manifest(0)
    val v1 = store.deleteMor(col("k") % 100 === 0)
    assert(v1 == 1L)
    val m1 = store.manifest(v1)
    // zero write amplification: every data file inherited at its path
    assert(m1.inlineFiles.sorted == m0.inlineFiles.sorted,
      "MOR delete must not touch data files")
    assert(m1.hasDvs && m1.deletedRows == 10L)
    assert(store.readSnapshot().count() == 990L)
    assert(store.readSnapshot().filter(col("k") === 100L).count() == 0L)
    // time travel: the pre-delete snapshot still sees every row
    assert(store.readSnapshot(0).count() == 1000L)
    // stacked second delete: entries are exact, never re-recorded
    val v2 = store.deleteMor(col("k") <= 20)
    val m2 = store.manifest(v2)
    assert(m2.deletedRows == 30L, "stacked DVs must not double-count")
    assert(store.readSnapshot().count() == 970L)
    // idempotent re-delete of already-deleted rows: no-op, no commit
    assert(store.deleteMor(col("k") === 100L) == v2)
    // no-match delete: no-op
    assert(store.deleteMor(col("k") === -5L) == v2)
    // deleted rows stay filtered through bucket-targeted reads
    val bucket100 = bucketOf(100L, 8)
    assert(store.readBuckets(Seq(bucket100)).filter(col("k") === 100L).count() == 0)
  }

  test("merge-on-read UPDATE: DV + appended images, bucket keys protected") {
    val store = freshStore()
    store.commitBucketed(
      (1L to 100L).map(k => (k, k * 10L)).toDF("k", "amt"), Seq("k"), 4)
    val files0 = store.manifest(0).inlineFiles.toSet
    val v1 = store.updateMor(col("k") <= 5, Map("amt" -> (col("amt") + 1L)))
    val m1 = store.manifest(v1)
    assert(files0.subsetOf(m1.inlineFiles.toSet), "old files must be inherited")
    assert(m1.inlineFiles.size > files0.size, "updated images are new files")
    assert(m1.deletedRows == 5L)
    val back = store.readSnapshot()
    assert(back.count() == 100L, "update must preserve row count")
    assert(back.filter(col("k") <= 5 && col("amt") =!= col("k") * 10L + 1L)
      .count() == 0)
    assert(back.filter(col("k") > 5 && col("amt") =!= col("k") * 10L)
      .count() == 0)
    val e = intercept[IllegalArgumentException] {
      store.updateMor(col("k") === 1L, Map("k" -> lit(999L)))
    }
    assert(e.getMessage.contains("BUCKET KEY"))
  }

  test("purgeDeletes folds DVs into data rewriting only affected buckets") {
    val store = freshStore()
    store.commitBucketed(
      (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), 8)
    store.deleteMor(col("k") === 77L) // one key → one bucket
    val m1 = store.manifest(1)
    val expected = store.readSnapshot().collect().toSet
    val v2 = store.purgeDeletes()
    val m2 = store.manifest(v2)
    assert(!m2.hasDvs, "purge must clear every DV")
    assert(store.readSnapshot().collect().toSet == expected)
    // only the DV'd bucket was rewritten; the other 7 inherit byte-identical
    val touched = bucketOf(77L, 8)
    val inherited = m1.inlineFiles.filter(f =>
      graft.store.TableStore.bucketOfFile(f).exists(_ != touched))
    assert(inherited.forall(m2.inlineFiles.contains),
      "untouched buckets must inherit their files")
    assert(!m1.inlineFiles.filter(f =>
      graft.store.TableStore.bucketOfFile(f).contains(touched))
      .exists(m2.inlineFiles.contains), "the DV'd bucket must be rewritten")
    // manifest-served reads are byte-stock again (no DV, no anti-join)
    assert(store.readSnapshot().queryExecution.executedPlan.toString
      .indexOf("BroadcastHashJoin") < 0)
  }

  test("compact applies and clears delete vectors") {
    val store = freshStore()
    store.commitSnapshot((1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"))
    store.deleteMor(col("k") > 90L)
    val v = store.compact(2)
    val m = store.manifest(v)
    assert(!m.hasDvs)
    assert(store.readSnapshot().count() == 90L)
  }

  test("vacuum never reclaims live DV files; dead DV dirs die with their snap dir") {
    val store = freshStore()
    store.commitBucketed(
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), 4)
    store.deleteMor(col("k") <= 10L)
    store.commitAppend(Seq((201L, "v201")).toDF("k", "v"))
    // keep only the newest snapshot: v0/v1 manifests go; the DV (referenced
    // by the surviving v2) and every inherited data file must survive
    store.vacuum(keepSnapshots = 1)
    val m = store.manifest(store.currentVersion())
    assert(m.hasDvs)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    m.dvRefs.foreach(d => assert(
      fs.exists(new org.apache.hadoop.fs.Path(d.path)),
      s"vacuum deleted a live DV file: ${d.path}"))
    assert(store.readSnapshot().count() == 191L)
    // purge, commit again, vacuum: the now-unreferenced DV files are gone
    store.purgeDeletes()
    store.commitAppend(Seq((202L, "v202")).toDF("k", "v"))
    val deadDv = m.dvRefs.map(_.path)
    store.vacuum(keepSnapshots = 1)
    deadDv.foreach(d => assert(
      !fs.exists(new org.apache.hadoop.fs.Path(d)),
      s"vacuum leaked a dead DV file: $d"))
    assert(store.readSnapshot().count() == 192L)
  }

  test("DV snapshots refuse the paths-export and sharded escape hatches") {
    val store = freshStore()
    store.commitSnapshot((1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"))
    store.deleteMor(col("k") === 1L)
    val e = intercept[IllegalArgumentException] { store.scanPaths() }
    assert(e.getMessage.contains("delete vectors"))
    // incremental consumers see DV-only commits as adding no files
    val (added, removed) = store.changedFilesBetween(0, 1)
    assert(added.isEmpty && removed.isEmpty)
  }

  test("racing MOR deletes: exactly one wins the CAS, no DV file leaks") {
    val store = freshStore()
    store.commitBucketed(
      (1L to 200L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), 4)
    val v0 = store.currentVersion()
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    def race(key: Long) = pool.submit(
      new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] = {
          gate.await(10, TimeUnit.SECONDS)
          try Right(store.deleteMor(col("k") === key, Some(v0)))
          catch { case t: Throwable => Left(t) }
        }
      })
    val (fa, fb) = (race(11L), race(22L))
    gate.countDown()
    val results = Seq(fa.get(120, TimeUnit.SECONDS), fb.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(results.count(_.isRight) == 1, s"exactly one CAS winner: $results")
    val m = store.manifest(store.currentVersion())
    assert(m.version == v0 + 1 && m.deletedRows == 1L)
    assert(store.readSnapshot().count() == 199L)
    // the loser's staged DV files are cleaned up (no orphan parquet under a
    // snap dir no manifest references)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dataDir = new org.apache.hadoop.fs.Path(s"${store.root}/data")
    val snapDirs = fs.listStatus(dataDir).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith(s"snap-${v0 + 1}"))
    assert(snapDirs.length == 1, s"loser's staging dir not cleaned: ${snapDirs.toSeq}")
  }

  test("delete vectors survive metadata-only schema evolution") {
    import org.apache.spark.sql.types._
    val store = freshStore()
    store.commitBucketed(
      (1L to 50L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), 4)
    store.deleteMor(col("k") === 10L)
    // RENAME v -> label (field-id identity) + ADD nullable note
    val m1 = store.manifest(store.currentVersion())
    val renamed = StructType(m1.schema.fields.map(f =>
      if (f.name == "v") f.copy(name = "label") else f) :+
      StructField("note", StringType))
    val v2 = store.commitSchemaOnly(renamed)
    val m2 = store.manifest(v2)
    assert(m2.hasDvs, "schema-only commit must inherit delete vectors")
    val back = store.readSnapshot()
    assert(back.columns.toSeq == Seq("k", "label", "note"))
    assert(back.count() == 49L)
    assert(back.filter(col("k") === 10L).count() == 0L)
    assert(back.filter(col("k") === 11L).head().getString(1) == "v11")
    // a further MOR delete on the evolved schema composes
    store.deleteMor(col("label") === "v20")
    assert(store.readSnapshot().count() == 48L)
    assert(store.manifest(store.currentVersion()).deletedRows == 2L)
  }

  test("changelog emits DELETEs across a delete-vector commit") {
    val store = freshStore()
    store.commitBucketed(
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), 4)
    val v1 = store.deleteMor(col("k") === 42L || col("k") === 7L)
    val log = store.readChangelog(0, v1).collect()
    assert(log.length == 2, s"expected 2 DELETE rows, got ${log.toSeq}")
    assert(log.forall(_.getString(0) == "DELETE"))
    assert(log.map(_.getLong(1)).toSet == Set(7L, 42L))
    // pre-images carry the deleted payload
    assert(log.map(_.getString(2)).toSet == Set("v7", "v42"))
    // a later plain append over the DV'd table: changelog shows ONLY it
    val v2 = store.commitAppend(Seq((101L, "v101")).toDF("k", "v"))
    val log2 = store.readChangelog(v1, v2).collect()
    assert(log2.length == 1 && log2.head.getString(0) == "INSERT")
    // and across both: two DELETEs + one INSERT
    assert(store.readChangelog(0, v2).count() == 3)
  }

  test("changelog emits INSERTs for rows resurrected by rollback past a MOR delete") {
    val store = freshStore()
    store.commitBucketed(
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), 4)
    val v1 = store.deleteMor(col("k") <= 10L)
    assert(store.readSnapshot().count() == 90L)
    // rollback UN-DOES the delete: the DV leaves the manifest while every
    // data file stays in place — the exact shape ADVICE r7 flagged as
    // invisible to an added-DVs-only diff
    val v2 = store.rollbackTo(0L)
    assert(store.readSnapshot().count() == 100L)
    val log = store.readChangelog(v1, v2).collect()
    assert(log.length == 10, s"expected 10 INSERT rows, got ${log.toSeq}")
    assert(log.forall(_.getString(0) == "INSERT"))
    assert(log.map(_.getLong(1)).toSet == (1L to 10L).toSet)
    assert(log.map(_.getString(2)).toSet == (1L to 10L).map(k => s"v$k").toSet,
      "resurrected post-images must carry the payload")
    // and the symmetric direction still works across the same history
    val down = store.readChangelog(0L, v1).collect()
    assert(down.length == 10 && down.forall(_.getString(0) == "DELETE"))
  }

  test("an unheld DV mask carries no broadcast hint; Spark sizes the " +
      "join, exact") {
    val store = freshStore()
    store.commitBucketed(
      (1L to 1000L).map(k => (k, s"v$k")).toDF("k", "v"), Seq("k"), 8)
    store.deleteMor(col("k") % 3 === 0)
    // the held in-scan probe: the steady-state plan
    val held = store.readSnapshot()
    assert(held.queryExecution.optimizedPlan.toString.contains("held_mask"))
    val expected = held.collect().toSet
    assert(expected.size == 667)
    def plan(df: org.apache.spark.sql.DataFrame): String = {
      assert(df.collect().toSet == expected,
        "file-read anti-join must be content-identical to the held probe")
      df.queryExecution.executedPlan.toString
    }
    // memo off: the mask is read from its files; with Spark's own
    // auto-broadcast off too, the plan proves no hint forces a broadcast
    val shuffled = withConf("spark.graft.meta.manifestCache" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(
      plan(store.readSnapshot()))
    assert(!shuffled.contains("BroadcastExchange"),
      s"unheld DV anti-join still force-broadcast:\n$shuffled")
    // at Spark's defaults the same small mask still broadcasts
    val auto = withConf("spark.graft.meta.manifestCache" -> "false")(
      plan(store.readSnapshot()))
    assert(auto.contains("BroadcastExchange"),
      s"a small unheld DV mask no longer broadcasts:\n$auto")
  }

  test("COW commits over a DV'd snapshot re-count inherited DV refs — no dangling entries") {
    val store = freshStore()
    store.commitBucketed(
      (1L to 100L).map(k => (k, k * 2L)).toDF("k", "v"), Seq("k"), 4)
    store.deleteMor(col("k") <= 10L)
    val m1 = store.manifest(1)
    assert(m1.deletedRows == 10L)
    // rewrite ONE bucket copy-on-write while keeping the DVs: entries
    // masking that bucket's (now dropped) files are dead and must leave the
    // arithmetic (ADVICE r7 low) — the others keep masking their buckets
    val deadBucket = bucketOf(1L, 4)
    val deadKeys = (1L to 10L).count(k => bucketOf(k, 4) == deadBucket)
    assert(deadKeys > 0, "fixture: bucket of k=1 must hold deleted keys")
    val v2 = store.commitIncremental(
      store.readBuckets(Seq(deadBucket)), Seq(deadBucket))
    val m2 = store.manifest(v2)
    assert(m2.deletedRows == 10L - deadKeys,
      s"inherited DV refs must re-count: ${m2.deletedRows} vs ${10L - deadKeys}")
    assert(store.readSnapshot().count() == 90L)
    assert(store.readSnapshot().filter(col("k") <= 10L).count() == 0L,
      "masked rows resurrected by the COW rewrite")
    // a rewrite covering EVERY remaining DV'd bucket drops the refs outright
    val rest = (0L until 4L).filterNot(_ == deadBucket)
    val v3 = store.commitIncremental(store.readBuckets(rest), rest)
    assert(!store.manifest(v3).hasDvs,
      "refs with zero live entries must be dropped")
    assert(store.readSnapshot().count() == 90L)
  }

  test("file-replace commits over a DV'd snapshot re-count inherited DV refs") {
    val store = freshStore()
    store.commitSnapshot(
      (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v").repartition(4))
    store.deleteMor(col("k") % 10L === 0L)
    val m1 = store.manifest(1)
    assert(m1.deletedRows == 10L)
    val sp = spark
    import sp.implicits._
    val perFile = store.dvEntries(m1).groupBy("file_path").count()
      .as[(String, Long)].collect().toMap
    val (f, dead) = perFile.maxBy(_._2)
    // replace one DV'd file with its live rows: its entries are dead
    val v2 = store.commitReplaceFiles(Seq(f), store.readFiles(m1, Seq(f)))
    val m2 = store.manifest(v2)
    assert(m2.deletedRows == 10L - dead,
      s"replace must shed the replaced file's DV entries: ${m2.deletedRows}")
    assert(store.readSnapshot().count() == 90L)
    assert(store.readSnapshot().filter(col("k") % 10L === 0L).count() == 0L)
  }

  test("tags pin snapshots against every expiry path until dropped") {
    val store = freshStore()
    // three FULL rewrites: each version's files are referenced by nothing
    // else, so only the ref pin can keep v0 alive through a vacuum
    store.commitSnapshot((1L to 10L).map(k => (k, "v0")).toDF("k", "tag"))
    store.commitSnapshot((1L to 20L).map(k => (k, "v1")).toDF("k", "tag"))
    store.commitSnapshot((1L to 30L).map(k => (k, "v2")).toDF("k", "tag"))
    store.createTag("audited", 0L)
    assert(store.refVersion("audited").contains(0L))
    // duplicate + invalid names refused
    intercept[IllegalStateException](store.createTag("audited", 1L))
    intercept[IllegalArgumentException](store.createTag("123"))
    intercept[IllegalArgumentException](store.createTag("bad name"))

    store.vacuum(keepSnapshots = 1)
    assert(store.existingVersions() == Seq(0L, 2L),
      "pinned v0 must survive; unpinned v1 must expire")
    assert(store.readSnapshot(0L).count() == 10L, "pinned data must be intact")
    store.vacuumOlderThan(0L) // every non-current snapshot is "old enough"
    store.vacuumNoncurrent(0L)
    assert(store.existingVersions() == Seq(0L, 2L),
      "age-based expiry must honor the pin too")

    assert(store.dropTag("audited"))
    assert(!store.dropTag("audited"), "second drop reports absence")
    store.vacuum(keepSnapshots = 1)
    assert(store.existingVersions() == Seq(2L),
      "dropping the tag releases the snapshot to the next vacuum")
    assert(store.readSnapshot().count() == 30L)
  }

  test("rollbackTo restores content as a linear metadata-only commit") {
    val store = freshStore()
    store.commitBucketed((1L to 50L).map(k => (k, k * 2L)).toDF("k", "n"),
      Seq("k"), 4)
    store.commitAppend((51L to 80L).map(k => (k, -1L)).toDF("k", "n"))
    assert(store.readSnapshot().count() == 80L)

    val v = store.rollbackTo(0L)
    assert(v == 2L && store.currentVersion() == 2L)
    val m2 = store.manifest(2L)
    assert(m2.parent == 1L, "history stays linear")
    assert(m2.inlineFiles == store.manifest(0L).inlineFiles,
      "rollback must reference the target's files byte-identically")
    assert(store.readSnapshot().count() == 50L)
    // the changelog ACROSS the rollback emits the undone rows as DELETEs
    val undo = store.readChangelog(1L, 2L)
    assert(undo.filter(col("_change_type") === "DELETE").count() == 30L)
    assert(undo.filter(col("_change_type") =!= "DELETE").count() == 0L)
    // the table keeps working: appends land on top of the rollback
    store.commitAppend(Seq((999L, 7L)).toDF("k", "n"))
    assert(store.readSnapshot().count() == 51L)
    // rolling back to an expired / never-committed snapshot fails loudly
    intercept[IllegalArgumentException](store.rollbackTo(17L))
    // no-op rollback to current is accepted and commits nothing
    val cur = store.currentVersion()
    assert(store.rollbackTo(cur) == cur && store.currentVersion() == cur)
  }

  test("incremental commits inherit DVs; CDC loop over a DV'd table stays exact") {
    val store = freshStore()
    store.commitBucketed(
      (1L to 100L).map(k => (k, k * 1L)).toDF("k", "n"), Seq("k"), 4)
    store.deleteMor(col("k") === 50L)
    // upsert into a bucket that does NOT hold k=50: DV must survive
    val touched = bucketOf(1L, 4)
    val changed = store.readBuckets(Seq(touched))
      .withColumn("n", when(col("k") === 1L, lit(999L)).otherwise(col("n")))
    val v = store.commitIncremental(changed, Seq(touched))
    val m = store.manifest(v)
    assert(m.hasDvs)
    val back = store.readSnapshot()
    assert(back.filter(col("k") === 50L).count() == 0, "DV lost in inheritance")
    assert(back.filter(col("k") === 1L).head().getLong(1) == 999L)
    assert(back.count() == 99L)
  }

  test("span memos: repeated stale-planning probes load no manifests " +
      "(content-preserving walk + file-diff sizes are immutable per span)") {
    import spark.implicits._
    val store = freshStore()
    val v0 = store.commitBucketed((1L to 100L).map(i =>
      (i, i * 2)).toDF("k", "v"), Seq("k"), 4)
    store.upsertEq((1L to 5L).map(i => (i, i * 3, "PUT"))
      .toDF("k", "v", "op"), opCol = "op", removeOp = "REMOVE")
    store.compact(targetFiles = 2)
    val v2 = store.currentVersion()
    // warm both memos
    val cp1 = TableStore.contentPreservingSpan(store, v0, v2)
    val dz1 = TableStore.changelogFileDiffSizes(store, v0, v2)
    val cpTail = TableStore.contentPreservingSpan(store, v2 - 1, v2)
    val before = TableStore.manifestLoads.get()
    // a second planning pass over the same spans must be pure memo hits
    assert(TableStore.contentPreservingSpan(store, v0, v2) == cp1)
    assert(TableStore.changelogFileDiffSizes(store, v0, v2) == dz1)
    assert(TableStore.contentPreservingSpan(store, v2 - 1, v2) == cpTail)
    assert(TableStore.manifestLoads.get() == before,
      "repeated span probes must not reload span manifests")
    // sanity on the memoized VALUES: the eq-upsert span is not content-
    // preserving, the compact-only tail span is
    assert(!cp1 && cpTail && math.max(dz1._1, dz1._2) > 0)
  }
}
