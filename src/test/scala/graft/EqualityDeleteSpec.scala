package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.TableStore
import graft.streaming.StreamingOps

/** Equality deletes (Iceberg v2 equality-delete semantics — the streaming
  * CDC write shape): an `upsertEq`/`deleteEq` commit records the batch's
  * KEY VALUES with zero base-file reads; reads mask every older row with
  * those keys via a keyed anti-join gated on the data file's commit
  * version. Purge folds the masks into data; changelog and vacuum treat
  * them as the row-level metadata they are. */
class EqualityDeleteSpec extends SparkSuite {
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark, Files.createTempDirectory("graft_eq").toString)

  private def baseDf(n: Int): DataFrame =
    spark.range(n).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))

  test("upsertEq masks old rows, keeps same-commit post-images, O(batch) file") {
    val store = freshStore()
    store.commitBucketed(baseDf(1000), keys = Seq("k"), numBuckets = 8)
    val batch = Seq(
      (5L, "updated-5", "U"), (6L, "updated-6", "U"),
      (7L, "x", "REMOVE"), (2000L, "fresh-insert", "I"))
      .toDF("k", "v", "op")
    store.upsertEq(batch)
    val m = store.manifest(store.currentVersion())
    assert(m.hasEqDeletes && !m.hasDvs)
    // the delete file holds exactly the batch's keys — write volume O(batch)
    assert(m.eqDeleteRows == 4)
    val out = store.readSnapshot().as[(Long, String)].collect().toMap
    assert(out.size == 1000 - 1 + 1) // one delete, one insert
    assert(out(5L) == "updated-5" && out(6L) == "updated-6")
    assert(!out.contains(7L))
    assert(out(2000L) == "fresh-insert")
    assert(out(8L) == "v8") // untouched rows intact
  }

  test("since-version semantics: delete, re-insert, delete again") {
    val store = freshStore()
    store.commitBucketed(baseDf(100), keys = Seq("k"), numBuckets = 4)
    store.deleteEq(Seq(42L).toDF("k"))
    assert(!store.readSnapshot().as[(Long, String)].collect().toMap.contains(42L))
    // re-insert AFTER the delete: newer file version -> not masked
    store.upsertEq(Seq((42L, "reborn", "I")).toDF("k", "v", "op"))
    assert(store.readSnapshot().as[(Long, String)].collect().toMap
      .get(42L).contains("reborn"))
    // delete again: the newest mask wins
    store.deleteEq(Seq(42L).toDF("k"))
    val finalMap = store.readSnapshot().as[(Long, String)].collect().toMap
    assert(!finalMap.contains(42L))
    assert(finalMap.size == 99)
  }

  test("the commit reads no base data (zero-base-read write path)") {
    val store = freshStore()
    store.commitBucketed(baseDf(50000), keys = Seq("k"), numBuckets = 16)
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    // scattered keys (hit many buckets) — the shape where upsertMor's
    // candidate scan degrades toward a full-table pass
    val batch = spark.range(100)
      .select((col("id") * 499L % 50000L).as("k"),
        lit("upd").as("v"), lit("U").as("op"))
    spark.sparkContext.addSparkListener(listener)
    try {
      store.upsertEq(batch)
      // listener events drain asynchronously; a short settle is enough for
      // the task-end records of the commit's own (tiny) jobs
      Thread.sleep(2000)
    } finally spark.sparkContext.removeSparkListener(listener)
    // far below the 50k base rows: nothing scanned the table (the small
    // residue is the batch itself + fresh-file footer stats)
    assert(read.get() < 5000, s"upsertEq read ${read.get()} records")
    assert(store.readSnapshot().count() == 50000)
  }

  test("purgeDeletes folds equality deletes; reads return to byte-stock") {
    val store = freshStore()
    store.commitBucketed(baseDf(1000), keys = Seq("k"), numBuckets = 8)
    store.upsertEq(Seq((1L, "u1", "U"), (2L, "x", "REMOVE")).toDF("k", "v", "op"))
    store.deleteEq(Seq(3L).toDF("k"))
    val before = store.readSnapshot().as[(Long, String)].collect().toSet
    val v = store.purgeDeletes()
    val m = store.manifest(v)
    assert(!m.hasEqDeletes && !m.hasDvs)
    assert(store.readSnapshot().as[(Long, String)].collect().toSet == before)
    assert(store.readSnapshot().count() == 998)
  }

  test("mixed positional + equality masks compose on one snapshot") {
    val store = freshStore()
    store.commitBucketed(baseDf(1000), keys = Seq("k"), numBuckets = 8)
    store.deleteMor(col("k") < 10L) // positional
    store.deleteEq((990L until 1000L).toDF("k")) // equality
    val m = store.manifest(store.currentVersion())
    assert(m.hasDvs && m.hasEqDeletes)
    val out = store.readSnapshot().as[(Long, String)].collect().toMap
    assert(out.size == 980)
    assert(!out.contains(5L) && !out.contains(995L) && out.contains(500L))
    // purge clears both kinds at once
    val v = store.purgeDeletes()
    assert(!store.manifest(v).hasDeletes)
    assert(store.readSnapshot().count() == 980)
  }

  test("changelog across an equality-delete commit emits the masked rows") {
    val store = freshStore()
    store.commitBucketed(baseDf(200), keys = Seq("k"), numBuckets = 4)
    val v0 = store.currentVersion()
    store.upsertEq(Seq((10L, "updated", "U"), (11L, "x", "REMOVE"))
      .toDF("k", "v", "op"))
    val changes = store.readChangelog(v0)
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(changes == Set((10L, "UPDATE"), (11L, "DELETE")), changes.toString)
  }

  test("changelog across mixed DV + eq masks of the SAME file has no dup rows") {
    val store = freshStore()
    store.commitBucketed(baseDf(100), keys = Seq("k"), numBuckets = 2)
    val v0 = store.currentVersion()
    // both delete kinds land on the same bucket's (same file's) rows
    store.deleteMor(col("k") === 2L)
    store.deleteEq(Seq(4L).toDF("k"))
    val changes = store.readChangelog(v0)
      .select("k", "_change_type").as[(Long, String)].collect().toSeq
    assert(changes.size == changes.distinct.size,
      s"duplicate changelog rows: $changes")
    assert(changes.toSet == Set((2L, "DELETE"), (4L, "DELETE")))
  }

  test("equality-delete files survive vacuum; masked reads stay correct") {
    val store = freshStore()
    store.commitBucketed(baseDf(500), keys = Seq("k"), numBuckets = 4)
    store.deleteEq(Seq(77L).toDF("k"))
    store.commitAppend(Seq((5000L, "late")).toDF("k", "v"))
    store.vacuum(keepSnapshots = 1)
    val out = store.readSnapshot().as[(Long, String)].collect().toMap
    assert(!out.contains(77L) && out.contains(5000L) && out.size == 500)
  }

  test("SQL catalog reads apply equality masks (V1 fallback route)") {
    val warehouse = Files.createTempDirectory("graft_eq_wh").toString
    spark.conf.set("spark.sql.catalog.eq_cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.eq_cat.warehouse", warehouse)
    val store = new TableStore(spark, s"$warehouse/analytics/eqt")
    store.commitBucketed(baseDf(300), keys = Seq("k"), numBuckets = 4)
    store.deleteEq((0L until 50L).toDF("k"))
    spark.catalog.refreshTable("eq_cat.analytics.eqt")
    assert(spark.sql("SELECT COUNT(*) FROM eq_cat.analytics.eqt")
      .head().getLong(0) == 250)
    assert(spark.sql(
      "SELECT COUNT(*) FROM eq_cat.analytics.eqt WHERE k < 100").head()
      .getLong(0) == 50)
  }

  test("equality CDC loop matches the COW loop over stacked batches") {
    val cow = freshStore()
    val eq = freshStore()
    def batch(rows: Seq[(Long, String, Long, String)]): DataFrame =
      rows.toDF("k", "v", "seq", "op")
    val batches = Seq(
      (0L until 100L).map(i => (i, s"b0-$i", 0L, "I")),
      Seq((5L, "b1-5", 1L, "U"), (6L, "", 1L, "REMOVE"),
        (200L, "b1-200", 1L, "I")),
      Seq((5L, "b2-5", 2L, "U"), (200L, "", 2L, "REMOVE"),
        (6L, "b2-6-reborn", 2L, "I")))
    batches.foreach { b =>
      StreamingOps.applyCdcBatch(batch(b), cow, Seq("k"), numBuckets = 4)
      StreamingOps.applyCdcBatchEq(batch(b), eq, Seq("k"), numBuckets = 4)
    }
    val cowOut = cow.readSnapshot().as[(Long, String)].collect().toSet
    val eqOut = eq.readSnapshot().as[(Long, String)].collect().toSet
    assert(eqOut == cowOut)
    // and the eq table really took the zero-read path after bootstrap
    assert(eq.manifest(eq.currentVersion()).hasEqDeletes)
  }

  test("trickle commits write at most one file per touched bucket") {
    val store = freshStore()
    store.commitBucketed(baseDf(50000), keys = Seq("k"), numBuckets = 16)
    val f0 = store.manifest(store.currentVersion()).inlineFiles.size
    // a scattered batch (hits every bucket) from a 32-partition source —
    // the shape that sprayed task x bucket files before writeMorAppend
    val batch = spark.range(320)
      .select((col("id") * 157L % 50000L).as("k"), lit(0L).cast("long").as("x"),
        lit("U").as("op"))
      .withColumnRenamed("x", "v")
      .withColumn("v", concat(lit("u"), col("k")))
      .select(col("k"), col("v"), col("op"))
    store.upsertEq(batch)
    val f1 = store.manifest(store.currentVersion()).inlineFiles.size
    assert(f1 - f0 <= 16, s"eq commit wrote ${f1 - f0} files (> one per bucket)")
    store.upsertMor(batch.withColumn("v", concat(col("v"), lit("2"))))
    val f2 = store.manifest(store.currentVersion()).inlineFiles.size
    assert(f2 - f1 <= 16, s"mor commit wrote ${f2 - f1} files (> one per bucket)")
  }

  test("equality deletes on the sharded manifest tier, zero driver file lists") {
    spark.conf.set("spark.graft.manifest.inlineThreshold", "8")
    try {
      val store = freshStore()
      store.commitBucketed(baseDf(5000), keys = Seq("k"), numBuckets = 16)
      val m0 = store.manifest(store.currentVersion())
      assert(m0.isSharded, "fixture must be on the sharded tier")
      val before = TableStore.driverMaterializations.get()
      store.upsertEq(Seq((7L, "u7", "U"), (8L, "x", "REMOVE")).toDF("k", "v", "op"))
      val m1 = store.manifest(store.currentVersion())
      assert(m1.hasEqDeletes && m1.isSharded)
      assert(m1.shards.map(_.path).startsWith(m0.shards.map(_.path)),
        "parent shards must be inherited by reference")
      assert(TableStore.driverMaterializations.get() == before,
        "eq commit materialized a sharded file list on the driver")
      val out = store.readSnapshot().as[(Long, String)].collect().toMap
      assert(out(7L) == "u7" && !out.contains(8L) && out.size == 4999)
    } finally spark.conf.unset("spark.graft.manifest.inlineThreshold")
  }

  test("equality deletes compose with branches (WAP over a CDC trickle)") {
    val store = freshStore()
    store.commitBucketed(baseDf(200), keys = Seq("k"), numBuckets = 4)
    store.createBranch("stage")
    val br = store.forBranch("stage")
    br.upsertEq(Seq((5L, "staged", "U"), (6L, "x", "REMOVE")).toDF("k", "v", "op"))
    // staged masks invisible on main
    assert(store.readSnapshot().count() == 200)
    val brOut = br.readSnapshot().as[(Long, String)].collect().toMap
    assert(brOut(5L) == "staged" && !brOut.contains(6L))
    store.fastForward("stage")
    val out = store.readSnapshot().as[(Long, String)].collect().toMap
    assert(out(5L) == "staged" && !out.contains(6L) && out.size == 199)
  }

  test("CDC applies retry through a lost commit CAS") {
    val store = freshStore()
    StreamingOps.applyCdcBatch(
      (0L until 50L).map(i => (i, s"v$i", 0L, "I")).toDF("k", "v", "seq", "op"),
      store, Seq("k"), numBuckets = 4)
    // two racing appliers on the SAME store: without the retry one of them
    // surfaces the CAS conflict; with it both batches land
    val t1 = new Thread(() => StreamingOps.applyCdcBatchEq(
      Seq((1L, "eq-upd", 1L, "U")).toDF("k", "v", "seq", "op"),
      store, Seq("k"), numBuckets = 4))
    val t2 = new Thread(() => StreamingOps.applyCdcBatchMor(
      Seq((2L, "mor-upd", 1L, "U")).toDF("k", "v", "seq", "op"),
      store, Seq("k"), numBuckets = 4))
    t1.start(); t2.start(); t1.join(); t2.join()
    val out = store.readSnapshot().as[(Long, String)].collect().toMap
    assert(out(1L) == "eq-upd" && out(2L) == "mor-upd" && out.size == 50)
  }

  // --------------------------------------------- partial-key (prefix) deletes

  private def pkSkDf(n: Int): DataFrame =
    spark.range(n).select((col("id") % 100L).as("pk"),
      floor(col("id") / 100L).as("sk"),
      concat(lit("v"), col("id")).as("v"))

  test("partial-key delete: PK-only frame masks every SK item, zero base reads") {
    val store = freshStore()
    store.commitBucketed(pkSkDf(2000), keys = Seq("pk", "sk"), numBuckets = 8)
    val read = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          read.addAndGet(t.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the DynamoDB bulk shape: delete every item under two PKs
      store.deleteEq(Seq(7L, 13L).toDF("pk"))
      Thread.sleep(2000)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(read.get() < 500, s"prefix deleteEq read ${read.get()} records")
    val m = store.manifest(store.currentVersion())
    assert(m.hasEqDeletes && m.eqRefs.exists(_.cols == Seq("pk")))
    val out = store.readSnapshot()
      .select("pk", "sk", "v").as[(Long, Long, String)].collect()
    assert(out.length == 2000 - 40) // 20 SK items under each deleted PK
    assert(!out.exists(r => r._1 == 7L || r._1 == 13L))
  }

  test("partial-key since semantics: post-delete re-insert under the PK survives") {
    val store = freshStore()
    store.commitBucketed(pkSkDf(1000), keys = Seq("pk", "sk"), numBuckets = 4)
    store.deleteEq(Seq(7L).toDF("pk"))
    store.upsertEq(Seq((7L, 3L, "reborn", "I")).toDF("pk", "sk", "v", "op"))
    val out = store.readSnapshot()
      .select("pk", "sk", "v").as[(Long, Long, String)].collect()
    val under7 = out.filter(_._1 == 7L).toSeq
    assert(under7 == Seq((7L, 3L, "reborn")), under7.toString)
  }

  test("partial-key and full-key masks compose; purge folds both, targeted") {
    val store = freshStore()
    store.commitBucketed(pkSkDf(1000), keys = Seq("pk", "sk"), numBuckets = 8)
    store.deleteEq(Seq(5L).toDF("pk")) // prefix: all sk under pk=5
    store.deleteEq(Seq((6L, 2L)).toDF("pk", "sk")) // full key: one item
    val before = store.readSnapshot()
      .select("pk", "sk", "v").as[(Long, Long, String)].collect().toSet
    assert(!before.exists(_._1 == 5L))
    assert(!before.contains((6L, 2L, "v206")))
    assert(before.exists(_._1 == 6L)) // other sk under pk=6 intact
    assert(before.size == 1000 - 10 - 1)
    // purge: content-identical, masks gone, untouched-bucket files inherited
    val pm = store.manifest(store.currentVersion())
    val v = store.purgeDeletes()
    val m = store.manifest(v)
    assert(!m.hasDeletes)
    assert(store.readSnapshot()
      .select("pk", "sk", "v").as[(Long, Long, String)].collect().toSet == before)
    // the prefix-bucket derivation kept the rewrite TARGETED: every file of
    // an unaffected bucket is inherited byte-identical, not rewritten
    val inherited = m.inlineFiles.toSet intersect pm.inlineFiles.toSet
    assert(inherited.nonEmpty, "purge rewrote every file (untargeted)")
  }

  test("partial-key deletes through SQL DELETE under delete.mode=eq") {
    val warehouse = Files.createTempDirectory("graft_eqp_wh").toString
    spark.conf.set("spark.sql.catalog.eqp_cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.eqp_cat.warehouse", warehouse)
    val store = new TableStore(spark, s"$warehouse/analytics/pkt")
    store.commitBucketed(pkSkDf(1000), keys = Seq("pk", "sk"), numBuckets = 4)
    spark.conf.set("spark.graft.delete.mode", "eq")
    try {
      spark.sql("DELETE FROM eqp_cat.analytics.pkt WHERE pk = 9")
      spark.catalog.refreshTable("eqp_cat.analytics.pkt")
      val m = store.manifest(store.currentVersion())
      assert(m.eqRefs.exists(_.cols == Seq("pk")),
        "SQL PK-only DELETE did not take the partial-key equality path")
      assert(spark.sql("SELECT COUNT(*) FROM eqp_cat.analytics.pkt")
        .head().getLong(0) == 990)
    } finally spark.conf.unset("spark.graft.delete.mode")
  }

  test("partial-key deletes on the sharded tier with changelog parity") {
    spark.conf.set("spark.graft.manifest.inlineThreshold", "8")
    try {
      val store = freshStore()
      store.commitBucketed(pkSkDf(5000), keys = Seq("pk", "sk"), numBuckets = 16)
      assert(store.manifest(store.currentVersion()).isSharded)
      val v0 = store.currentVersion()
      store.deleteEq(Seq(21L).toDF("pk"))
      val out = store.readSnapshot().select("pk").as[Long].collect()
      assert(!out.contains(21L) && out.length == 4950)
      val changes = store.readChangelog(v0)
        .select("pk", "_change_type").as[(Long, String)].collect()
      assert(changes.length == 50 && changes.forall(_ == (21L, "DELETE")),
        s"changelog across a prefix delete diverged (${changes.length} rows)")
    } finally spark.conf.unset("spark.graft.manifest.inlineThreshold")
  }

  test("large key-set deletes shard the eq file write") {
    val store = freshStore()
    store.commitBucketed(baseDf(10000), keys = Seq("k"), numBuckets = 8)
    // keys 5000.. : half the base plus a tail past it, over the file cap
    val n = TableStore.EqRowsPerFile + 1000L
    store.deleteEq(spark.range(5000L, 5000L + n).select(col("id").as("k")))
    val m = store.manifest(store.currentVersion())
    assert(m.eqRefs.size > 1, s"$n-key delete wrote ${m.eqRefs.size} eq " +
      s"file(s) under a ${TableStore.EqRowsPerFile}-row cap")
    assert(m.eqDeleteRows == n)
    assert(store.readSnapshot().count() == 5000)
  }

  test("raw path export refuses an equality-masked snapshot") {
    val store = freshStore()
    store.commitBucketed(baseDf(100), keys = Seq("k"), numBuckets = 4)
    assert(store.scanPaths().nonEmpty) // clean snapshot exports fine
    store.deleteEq(Seq(1L).toDF("k"))
    val e = intercept[IllegalArgumentException](store.scanPaths())
    assert(e.getMessage.contains("equality deletes"))
  }

  test("narrow changelog (forward eq span) ≡ full two-sided replay") {
    val store = freshStore()
    store.commitBucketed(baseDf(500), keys = Seq("k"), numBuckets = 4)
    val v0 = store.currentVersion()
    // a multi-commit forward span: update, delete, re-insert after delete
    store.upsertEq(Seq((10L, "u10", "U"), (11L, "x", "REMOVE"))
      .toDF("k", "v", "op"))
    store.deleteEq(Seq(42L).toDF("k"))
    store.upsertEq(Seq((42L, "reborn", "I"), (13L, "u13", "U"))
      .toDF("k", "v", "op"))
    val v1 = store.currentVersion()
    def signedNet(switch: String): Set[(Long, String, Long)] = {
      spark.conf.set("spark.graft.changelog.narrowEqSpans", switch)
      try {
        val (pre, post) = store.changelogFrames(v0, v1)
        pre.withColumn("_s", lit(-1L))
          .unionByName(post.withColumn("_s", lit(1L)))
          .groupBy("k", "v").agg(sum("_s").as("_n"))
          .filter(col("_n") =!= 0L)
          .as[(Long, String, Long)].collect().toSet
      } finally spark.conf.unset("spark.graft.changelog.narrowEqSpans")
    }
    val narrow = signedNet("true")
    val full = signedNet("false")
    assert(narrow == full, s"narrow=$narrow full=$full")
    assert(narrow.contains((10L, "v10", -1L)) &&
      narrow.contains((10L, "u10", 1L)) &&
      narrow.contains((11L, "v11", -1L)) &&
      narrow.contains((42L, "v42", -1L)) &&
      narrow.contains((42L, "reborn", 1L)), narrow.toString)
    // the narrow path must actually engage on this span shape
    val (ad, rm) = store.changelogFileDiff(v0, v1)
    assert(store.changelogFramesNarrow(v0, v1, ad, rm).isDefined)
    // classification parity through readChangelog
    def classify(switch: String): Set[(Long, String)] = {
      spark.conf.set("spark.graft.changelog.narrowEqSpans", switch)
      try store.readChangelog(v0, v1).select("k", "_change_type")
        .as[(Long, String)].collect().toSet
      finally spark.conf.unset("spark.graft.changelog.narrowEqSpans")
    }
    assert(classify("true") == classify("false"))
  }

  test("narrow changelog: DV-only spans qualify, mixed kinds decline") {
    val store = freshStore()
    store.commitBucketed(baseDf(100), keys = Seq("k"), numBuckets = 2)
    val v0 = store.currentVersion()
    store.deleteMor(col("k") === 2L) // forward DV-only span: qualifies
    val v1 = store.currentVersion()
    val (a1, r1) = store.changelogFileDiff(v0, v1)
    assert(store.changelogFramesNarrow(v0, v1, a1, r1).isDefined)
    def dvNet(switch: String): Set[(Long, String, Long)] = {
      spark.conf.set("spark.graft.changelog.narrowEqSpans", switch)
      try {
        val (pre, post) = store.changelogFrames(v0, v1)
        pre.withColumn("_s", lit(-1L))
          .unionByName(post.withColumn("_s", lit(1L)))
          .groupBy("k", "v").agg(sum("_s").as("_n"))
          .filter(col("_n") =!= 0L)
          .as[(Long, String, Long)].collect().toSet
      } finally spark.conf.unset("spark.graft.changelog.narrowEqSpans")
    }
    assert(dvNet("true") == dvNet("false"))
    assert(dvNet("true") == Set((2L, "v2", -1L)))
    // DV + eq in ONE span: mixed mask kinds decline
    store.deleteEq(Seq(4L).toDF("k"))
    val v2 = store.currentVersion()
    val (am, rm) = store.changelogFileDiff(v0, v2)
    assert(store.changelogFramesNarrow(v0, v2, am, rm).isEmpty)
    // mixed full-key and partial-key eq shapes in one span
    val store2 = new TableStore(spark,
      Files.createTempDirectory("graft_eq").toString)
    store2.commitBucketed(
      spark.range(100).select((col("id") % 10).as("pk"), col("id").as("sk"),
        concat(lit("v"), col("id")).as("v")),
      keys = Seq("pk", "sk"), numBuckets = 2)
    val w0 = store2.currentVersion()
    store2.deleteEq(Seq((1L, 21L)).toDF("pk", "sk"))
    store2.deleteEq(Seq(3L).toDF("pk")) // prefix (subset-key) shape
    val w1 = store2.currentVersion()
    val (a2, r2) = store2.changelogFileDiff(w0, w1)
    assert(store2.changelogFramesNarrow(w0, w1, a2, r2).isEmpty)
    // a single prefix-only span DOES qualify
    val (a3, r3) = store2.changelogFileDiff(store2.currentVersion() - 1, w1)
    assert(store2.changelogFramesNarrow(w1 - 1, w1, a3, r3).isDefined)
    def net(fv: Long, tv: Long, switch: String): Set[(Long, Long, Long)] = {
      spark.conf.set("spark.graft.changelog.narrowEqSpans", switch)
      try {
        val (pre, post) = store2.changelogFrames(fv, tv)
        pre.withColumn("_s", lit(-1L))
          .unionByName(post.withColumn("_s", lit(1L)))
          .groupBy("pk", "sk").agg(sum("_s").as("_n"))
          .filter(col("_n") =!= 0L).select("pk", "sk", "_n")
          .as[(Long, Long, Long)].collect().toSet
      } finally spark.conf.unset("spark.graft.changelog.narrowEqSpans")
    }
    assert(net(w1 - 1, w1, "true") == net(w1 - 1, w1, "false"))
    assert(net(w0, w1, "true") == net(w0, w1, "false"))
  }
}
