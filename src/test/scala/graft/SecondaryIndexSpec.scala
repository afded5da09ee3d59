package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.{SecondaryIndex, TableStore}

/** Global secondary indexes: incremental maintenance against a
  * recompute-from-scratch oracle, covered vs fetch-back lookups, and the
  * bucket-rewrite economy that makes refresh O(changed rows) at scale. */
class SecondaryIndexSpec extends SparkSuite {
  import spark.implicits._

  private def freshStore() =
    new TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_gsi").toString)

  private def baseRows(n: Int): DataFrame =
    (1L to n.toLong).map(k =>
      (k, s"cust_${k % 17}", (k * 7 % 100).toInt, s"p_$k"))
      .toDF("id", "cust", "qty", "payload")

  /** What the index SHOULD contain for the base's current snapshot. */
  private def expected(base: TableStore, cols: Seq[String]): Seq[String] =
    canon(base.readSnapshot().select(cols.map(col): _*))

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  test("changelog UPDATE pre-images: retraction + assertion rows") {
    val store = freshStore()
    store.commitBucketed(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "n"), Seq("k"), 4)
    // update k=2 (s changes), delete k=3, insert k=4
    store.commitIncremental(
      store.readSnapshot()
        .filter(col("k") =!= 3L)
        .withColumn("s", when(col("k") === 2L, lit("B")).otherwise(col("s")))
        .unionByName(Seq((4L, "d", 40L)).toDF("k", "s", "n")),
      touched = (0L until 4L).toSeq)
    val cl = store.readChangelog(0L, 1L, updatePreImages = true)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._2, t._1)).toSeq
    assert(cl == Seq(
      ("UPDATE_POST", 2L, "B"), ("UPDATE_PRE", 2L, "b"),
      ("DELETE", 3L, "c"), ("INSERT", 4L, "d")))
    // default shape unchanged: one row per key, no PRE images
    val flat = store.readChangelog(0L, 1L).select("_change_type").as[String]
      .collect().sorted.toSeq
    assert(flat == Seq("DELETE", "INSERT", "UPDATE"))
  }

  test("create + covered lookup serves from the index alone, bucket-pruned") {
    val base = freshStore()
    base.commitBucketed(baseRows(500), Seq("id"), 8)
    SecondaryIndex.create(base, "by_cust", Seq("cust"), Seq("qty"),
      numBuckets = 8)
    val idx = SecondaryIndex.indexStore(base, "by_cust")
    assert(canon(idx.readSnapshot().select("cust", "id", "qty")) ==
      expected(base, Seq("cust", "id", "qty")))
    // covered: wanted ⊆ (index keys ∪ primary keys ∪ projection)
    val covered = SecondaryIndex.lookup(base, "by_cust",
      col("cust") === "cust_7", Seq("cust", "id", "qty"))
    assert(canon(covered) == canon(base.readSnapshot()
      .filter(col("cust") === "cust_7").select("cust", "id", "qty")))
    // the equality predicate prunes the index read to its bucket's files
    val all = idx.manifest(idx.currentVersion()).inlineFiles.size
    val opened = numFilesRead(covered)
    assert(opened < all, s"index lookup opened $opened of $all files")
  }

  test("fetch-back lookup returns full base rows for the matched keys") {
    val base = freshStore()
    base.commitBucketed(baseRows(500), Seq("id"), 8)
    SecondaryIndex.create(base, "by_cust", Seq("cust"), numBuckets = 4)
    val out = SecondaryIndex.lookup(base, "by_cust",
      col("cust").isin("cust_3", "cust_11"))
    assert(canon(out) == canon(base.readSnapshot()
      .filter(col("cust").isin("cust_3", "cust_11"))))
  }

  test("broad fetch-back stays distributed above the key cap") {
    val cap = SecondaryIndex.FetchKeyCap
    val base = freshStore()
    // 17 customers over cap + 1700 ids: the three-customer predicate
    // matches fewer keys than the cap, the fifteen-customer one more
    base.commitBucketed(baseRows(cap + 1700), Seq("id"), 8)
    SecondaryIndex.create(base, "by_cust", Seq("cust"), numBuckets = 4)
    def lookup(custs: Int): (Long, Long) = {
      val pred = col("cust").isin((0 until custs).map(c => s"cust_$c"): _*)
      val want = canon(base.readSnapshot().filter(pred))
      SecondaryIndex.fetchBackKeyCollects.set(0L)
      val out = SecondaryIndex.lookup(base, "by_cust", pred)
      assert(canon(out) == want,
        s"fetch-back over $custs customers must match the filtered read")
      (want.size.toLong, SecondaryIndex.fetchBackKeyCollects.get())
    }
    // narrow: the matched keys are collected and bucket-prune the base
    val (narrow, narrowCollects) = lookup(3)
    assert(narrow > 0 && narrow <= cap && narrowCollects == 1L)
    // broad: past the cap the fetch-back switches to the distributed
    // semi-join — zero driver key collections, identical result
    val (broad, broadCollects) = lookup(15)
    assert(broad > cap, s"fixture error: only $broad keys matched")
    assert(broadCollects == 0L,
      "broad lookup collected primary keys to the driver")
  }

  test("index_lookup_view: SQL surface for the non-covered fetch-back") {
    val warehouse =
      java.nio.file.Files.createTempDirectory("graft_gsi_wh").toString
    spark.conf.set("spark.sql.catalog.gsi_cat",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gsi_cat.warehouse", warehouse)
    val store = new TableStore(spark, s"$warehouse/analytics/gsit")
    store.commitBucketed(baseRows(500), Seq("id"), 8)
    SecondaryIndex.create(store, "by_cust", Seq("cust"), Nil, 4)
    spark.sql(
      """CALL gsi_cat.system.index_lookup_view('analytics.gsit',
        |  'by_cust', "cust = 'cust_3'", 'gsit_hits')""".stripMargin)
    val out = spark.sql(
      "SELECT id, cust, qty, payload FROM gsit_hits ORDER BY id")
      .collect().map(_.mkString("|")).toSeq
    val expect = store.readSnapshot().filter(col("cust") === "cust_3")
      .orderBy("id").collect().map(_.mkString("|")).toSeq
    assert(out == expect && out.nonEmpty)
    // projection + explicit view name
    spark.sql(
      """CALL gsi_cat.system.index_lookup_view('analytics.gsit',
        |  'by_cust', "cust IN ('cust_1','cust_2')", 'gsit_narrow',
        |  'id,qty')""".stripMargin)
    val narrow = spark.sql("SELECT * FROM gsit_narrow")
    assert(narrow.columns.toSeq == Seq("id", "qty"))
    assert(narrow.count() ==
      store.readSnapshot()
        .filter(col("cust").isin("cust_1", "cust_2")).count())
  }

  test("refresh converges across a rollback past a MOR delete") {
    val base = freshStore()
    base.commitBucketed(baseRows(300), Seq("id"), 8)
    SecondaryIndex.create(base, "by_cust", Seq("cust"), Seq("qty"),
      numBuckets = 8)
    // MOR-delete one customer, refresh (index drops its entries), then roll
    // the base back: the un-done rows MUST reappear in the index — the
    // changelog's removed-DV symmetry is what carries them (ADVICE r7 high)
    base.deleteMor(col("cust") === "cust_5")
    SecondaryIndex.refresh(base, "by_cust")
    val idx = SecondaryIndex.indexStore(base, "by_cust")
    assert(idx.readSnapshot().filter(col("cust") === "cust_5").count() == 0)
    base.rollbackTo(0L)
    SecondaryIndex.refresh(base, "by_cust")
    assert(canon(idx.readSnapshot().select("cust", "id", "qty")) ==
      expected(base, Seq("cust", "id", "qty")),
      "index diverged from the rolled-back base")
  }

  test("refresh replays inserts, updates (index-key moves), and deletes") {
    val base = freshStore()
    base.commitBucketed(baseRows(300), Seq("id"), 8)
    SecondaryIndex.create(base, "by_cust", Seq("cust"), Seq("qty"),
      numBuckets = 8)
    // batch 1: key-move updates (cust changes → old entry must retract),
    // in-place updates (qty only), deletes, inserts — all via one
    // incremental commit
    val next = base.readSnapshot()
      .filter(col("id") % 10 =!= 0)                       // delete ids %10==0
      .withColumn("cust", when(col("id") % 7 === 0, lit("cust_moved"))
        .otherwise(col("cust")))                           // move index key
      .withColumn("qty", when(col("id") % 3 === 0, col("qty") + 1000)
        .otherwise(col("qty")))                            // in-place update
      .unionByName(Seq((9001L, "cust_new", 1, "p_new"),
        (9002L, "cust_3", 2, "p_new2")).toDF("id", "cust", "qty", "payload"))
    base.commitIncremental(next, touched = (0L until 8L).toSeq)
    SecondaryIndex.refresh(base, "by_cust")
    val idx = SecondaryIndex.indexStore(base, "by_cust")
    assert(canon(idx.readSnapshot().select("cust", "id", "qty")) ==
      expected(base, Seq("cust", "id", "qty")))
    // and the watermark advanced
    assert(idx.manifest(idx.currentVersion())
      .props("graft.index.base-version") == base.currentVersion().toString)
    // idempotent: no base movement → no new index commit
    val iv = idx.currentVersion()
    SecondaryIndex.refresh(base, "by_cust")
    assert(idx.currentVersion() == iv)
  }

  test("refresh rewrites only the index buckets the changed keys hash into") {
    val base = freshStore()
    base.commitBucketed(baseRows(400), Seq("id"), 8)
    SecondaryIndex.create(base, "by_cust", Seq("cust"), numBuckets = 16)
    val idx = SecondaryIndex.indexStore(base, "by_cust")
    val files0 = idx.manifest(idx.currentVersion()).inlineFiles.toSet
    // touch ONE customer's rows: delete them from the base
    base.deleteMor(col("cust") === "cust_5")
    SecondaryIndex.refresh(base, "by_cust")
    val m1 = idx.manifest(idx.currentVersion())
    // cust_5 hashes into exactly ONE index bucket: every replaced old file
    // and every fresh file must belong to that single bucket; all other
    // buckets' files are inherited byte-identically
    def bucketsOf(fs: Set[String]): Set[Long] =
      fs.flatMap(graft.store.TableStore.bucketOfFile)
    val replaced = files0 -- m1.inlineFiles.toSet
    val fresh = m1.inlineFiles.toSet -- files0
    assert(bucketsOf(replaced ++ fresh).size == 1,
      s"refresh touched buckets ${bucketsOf(replaced ++ fresh)}; expected 1")
    assert(canon(idx.readSnapshot().select("cust", "id")) ==
      expected(base, Seq("cust", "id")))
  }

  test("stacked refreshes across several base commits stay exact") {
    val base = freshStore()
    base.commitBucketed(baseRows(200), Seq("id"), 4)
    SecondaryIndex.create(base, "by_cust", Seq("cust"), Seq("qty"),
      numBuckets = 4)
    val rnd = new scala.util.Random(42)
    (1 to 4).foreach { round =>
      val moved = rnd.nextInt(17)
      val next = base.readSnapshot()
        .filter(col("id") % (round + 11) =!= 0)
        .withColumn("cust", when(col("id") % 13 === round,
          lit(s"cust_r$round")).otherwise(col("cust")))
        .unionByName(Seq((10000L + round, s"cust_${moved}", round, "px"))
          .toDF("id", "cust", "qty", "payload"))
      base.commitIncremental(next, touched = (0L until 4L).toSeq)
      SecondaryIndex.refresh(base, "by_cust")
      val idx = SecondaryIndex.indexStore(base, "by_cust")
      assert(canon(idx.readSnapshot().select("cust", "id", "qty")) ==
        expected(base, Seq("cust", "id", "qty")), s"diverged at round $round")
    }
  }

  test("pin tag keeps the indexed base snapshot alive; without it refresh refuses on expiry") {
    val base = freshStore()
    base.commitBucketed(baseRows(50), Seq("id"), 2)
    SecondaryIndex.create(base, "by_cust", Seq("cust"), numBuckets = 2)
    base.commitIncremental(
      base.readSnapshot().withColumn("qty", col("qty") + 1), Seq(0L, 1L))
    base.commitIncremental(
      base.readSnapshot().withColumn("qty", col("qty") + 1), Seq(0L, 1L))
    // the idx-pin tag (created by create, moved by refresh) blocks expiry
    // of the indexed snapshot — vacuum keeps it and refresh succeeds
    base.vacuum(keepSnapshots = 1)
    assert(base.existingVersions().contains(0L),
      "pinned base snapshot must survive expiry")
    assert(SecondaryIndex.refresh(base, "by_cust") == base.currentVersion())
    assert(canon(SecondaryIndex.lookup(base, "by_cust",
      col("cust") === "cust_3", Seq("id", "cust", "qty"))) ==
      canon(base.readSnapshot().filter(col("cust") === "cust_3")
        .select("id", "cust", "qty")))
    // dropping the pin restores the old failure mode: the base expires and
    // refresh refuses loudly instead of silently diverging
    base.commitIncremental(
      base.readSnapshot().withColumn("qty", col("qty") + 1), Seq(0L, 1L))
    SecondaryIndex.dropPins(base, "by_cust")
    base.vacuum(keepSnapshots = 1)
    val e = intercept[IllegalArgumentException](
      SecondaryIndex.refresh(base, "by_cust"))
    assert(e.getMessage.contains("expired"))
  }

  test("pin cleanup of one index never releases a name-extending sibling's pin") {
    val base = freshStore()
    base.commitBucketed(baseRows(50), Seq("id"), 2)
    // "foo" vs "foo-v2": "idx-pin-foo-v2-v0" is a PREFIX hit for
    // "idx-pin-foo-v" — the ADVICE r8 bug released the sibling's snapshot
    // pin on any refresh/drop of "foo"
    SecondaryIndex.create(base, "foo", Seq("cust"), numBuckets = 2)
    SecondaryIndex.create(base, "foo-v2", Seq("qty"), numBuckets = 2)
    val siblingPins = base.listRefs().map(_.name)
      .filter(_.startsWith("idx-pin-foo-v2"))
    assert(siblingPins.nonEmpty, "fixture must pin the sibling index")
    SecondaryIndex.dropPins(base, "foo")
    assert(base.listRefs().map(_.name)
      .filter(_.startsWith("idx-pin-foo-v2")) == siblingPins,
      "dropping index 'foo' pins released sibling 'foo-v2' pins")
    // and foo's own pins really are gone
    assert(!base.listRefs().map(_.name).exists(n =>
      n == "idx-pin-foo" || n.matches("^idx-pin-foo-v\\d+$")))
  }

  /** Files actually opened by the scan, from Spark's metrics. */
  private def numFilesRead(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collectLeaves()
    scans.flatMap(_.metrics.get("numFiles").map(_.value)).sum
  }
}
