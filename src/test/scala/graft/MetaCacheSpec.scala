package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.catalog.GraftCatalog
import graft.store.{MaterializedAgg, MaterializedJoin, TableStore}

/** Plan-time metadata caching (VERDICT r11 next #1): committed manifests
  * are immutable, so [[TableStore.manifest]] memoizes process-wide and the
  * derivative registries snapshot-cache per base root — repeated rewritten
  * queries must do ZERO manifest IO inside the optimizer, while every
  * lifecycle path that deletes or renumbers metadata (DROP TABLE, view
  * drops, branch drop/rebase, expiry) invalidates so nothing stale ever
  * serves. */
class MetaCacheSpec extends SparkSuite {
  import spark.implicits._

  private lazy val warehouse = {
    val w = Files.createTempDirectory("graft_mcache").toString
    spark.conf.set("spark.sql.catalog.mc_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mc_cat.warehouse", w)
    w
  }

  private def salesRows(from: Long, to: Long) =
    (from to to).map(k => (k, s"g${k % 5}", k * 2)).toDF("id", "grp", "n")

  /** Leave both delete kinds outstanding on a bucketed sales table: an
    * equality delete (`upsertEq` re-puts `put` and removes `gone`) and a
    * delete vector (`deleteMor` on `dv`). */
  private def mask(store: TableStore, put: Long, gone: Long, dv: Long): Unit = {
    store.upsertEq(Seq((put, s"g${put % 5}", put * 1000L, "PUT"),
      (gone, "x", 0L, "REMOVE")).toDF("id", "grp", "n", "op"),
      opCol = "op", removeOp = "REMOVE")
    store.deleteMor(col("id") === dv)
    val m = store.manifest(store.currentVersion())
    assert(m.hasEqDeletes && m.hasDvs, "fixture error: both masks must be live")
  }

  private def sorted(q: String): Seq[Seq[Any]] =
    spark.sql(q).collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("masked reads load each delete set once: repeated point and top-k " +
      "planning re-reads no delete file (maskLoads pinned)") {
    val store = new TableStore(spark, s"$warehouse/analytics/mc_mask")
    store.commitBucketed(salesRows(1, 400), Seq("id"), 4)
    mask(store, put = 7L, gone = 8L, dv = 400L)
    val qs = Seq(
      "SELECT id, grp, n FROM mc_cat.analytics.mc_mask " +
        "WHERE id IN (7, 8, 10, 400)",
      "SELECT id, n FROM mc_cat.analytics.mc_mask ORDER BY n DESC, id LIMIT 3")
    val first = qs.map(sorted)
    assert(first == Seq(
      Seq(Seq(10L, "g0", 20L), Seq(7L, "g2", 7000L)),
      Seq(Seq(398L, 796L), Seq(399L, 798L), Seq(7L, 7000L))))
    val before = TableStore.maskLoads.get()
    (1 to 3).foreach(_ => assert(qs.map(sorted) == first))
    val delta = TableStore.maskLoads.get() - before
    assert(delta == 0,
      s"repeated masked planning re-read delete files $delta times — the " +
        "mask memo contract is broken")
    spark.conf.set("spark.graft.meta.manifestCache", "false")
    try assert(qs.map(sorted) == first,
      "memoized masks must answer exactly as masks read from the files")
    finally spark.conf.unset("spark.graft.meta.manifestCache")
  }

  test("repeated rewritten queries are pure memo hits: zero manifest loads " +
      "(manifestLoads pinned — the VERDICT r11 #1 contract)") {
    val store = new TableStore(spark, s"$warehouse/analytics/mc_sales")
    store.commitBucketed(salesRows(1, 400), Seq("id"), 4)
    MaterializedAgg.create(store, "by_grp", Seq("grp"), sumCols = Seq("n"),
      numBuckets = 2)
    val q = "SELECT grp, SUM(n) AS s FROM mc_cat.analytics.mc_sales GROUP BY grp"
    // warm: the first planning pass populates the manifest memo and the
    // registry snapshot
    val first = spark.sql(q)
    val rows1 = first.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(graft.catalog.AggViewRewrite.served(first),
      "fixture error: the GROUP BY must answer from the view")
    val before = TableStore.manifestLoads.get()
    (1 to 3).foreach { _ =>
      val df = spark.sql(q)
      assert(graft.catalog.AggViewRewrite.served(df))
      assert(df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        == rows1)
    }
    val delta = TableStore.manifestLoads.get() - before
    assert(delta == 0,
      s"repeated rewritten planning re-read $delta manifests — the " +
        "process-wide memo contract is broken")
  }

  test("the caches respect new commits: DML + refresh serve NEW content, " +
      "never a stale snapshot") {
    val store = new TableStore(spark, s"$warehouse/analytics/mc_live")
    store.commitBucketed(salesRows(1, 300), Seq("id"), 4)
    MaterializedAgg.create(store, "by_grp", Seq("grp"), sumCols = Seq("n"),
      numBuckets = 2)
    val q = "SELECT grp, SUM(n) AS s FROM mc_cat.analytics.mc_live GROUP BY grp"
    val stale = spark.sql(q).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // base DML through the store, then the cadence refresh — both are
    // commits, both must punch through every memo
    store.upsertEq(Seq((1L, "g1", 999999L, "PUT")).toDF("id", "grp", "n", "op"),
      opCol = "op", removeOp = "REMOVE")
    MaterializedAgg.refresh(store, "by_grp")
    val fresh = spark.sql(q)
    assert(graft.catalog.AggViewRewrite.served(fresh),
      "refreshed view must serve the repeated query")
    val freshRows = fresh.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(freshRows("g1") == stale("g1") - 2L + 999999L,
      s"served a stale snapshot: ${freshRows("g1")} vs base-truth " +
        s"${stale("g1") - 2L + 999999L}")
    // a second equality delete and then a purge: each changes the delete
    // set, so neither may be answered from the mask memoized before it
    val point = "SELECT id, n FROM mc_cat.analytics.mc_live WHERE id IN (1, 2)"
    assert(sorted(point) == Seq(Seq(1L, 999999L), Seq(2L, 4L)))
    store.upsertEq(Seq((2L, "g2", 777777L, "PUT")).toDF("id", "grp", "n", "op"),
      opCol = "op", removeOp = "REMOVE")
    assert(sorted(point) == Seq(Seq(1L, 999999L), Seq(2L, 777777L)),
      "a mask memoized before the second equality delete served")
    MaterializedAgg.refresh(store, "by_grp")
    val afterEq =
      spark.sql(q).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterEq("g2") == stale("g2") - 4L + 777777L)
    store.purgeDeletes()
    assert(!store.manifest(store.currentVersion()).hasDeletes)
    assert(sorted(point) == Seq(Seq(1L, 999999L), Seq(2L, 777777L)),
      "the purged snapshot must serve the folded rows")
    MaterializedAgg.refresh(store, "by_grp")
    assert(spark.sql(q).collect().map(r => r.getString(0) -> r.getLong(1))
      .toMap == afterEq)
  }

  test("DROP TABLE invalidates: recreate at the same root serves the new " +
      "table, not cached metadata (the drop-and-recreate fixture reality)") {
    // plain, then with an equality delete and a delete vector outstanding
    Seq("mc_cycle" -> false, "mc_cycle_mask" -> true).foreach { case (t, masked) =>
      val root = s"$warehouse/analytics/$t"
      val s1 = new TableStore(spark, root)
      s1.commitBucketed(salesRows(1, 100), Seq("id"), 4)
      if (masked) mask(s1, put = 1L, gone = 2L, dv = 3L)
      MaterializedAgg.create(s1, "by_grp", Seq("grp"), sumCols = Seq("n"),
        numBuckets = 2)
      val sum1 = (1L to 100L).map(_ * 2).sum -
        (if (masked) 2L + 4L + 6L - 1000L else 0L)
      assert(spark.sql(s"SELECT SUM(n) FROM mc_cat.analytics.$t")
        .head().getLong(0) == sum1)
      spark.sql(s"DROP TABLE mc_cat.analytics.$t")
      // same root, DIFFERENT content and no view — every cached manifest,
      // span fact, delete mask and registry snapshot under the root must
      // be gone
      val s2 = new TableStore(spark, root)
      s2.commitBucketed(salesRows(1000, 1049), Seq("id"), 4)
      if (masked) mask(s2, put = 1001L, gone = 1002L, dv = 1003L)
      spark.catalog.refreshTable(s"mc_cat.analytics.$t")
      val out = spark.sql(s"SELECT SUM(n) AS s FROM mc_cat.analytics.$t")
      assert(!graft.catalog.AggViewRewrite.served(out),
        "no view exists on the recreated table — a registry snapshot leaked " +
          "across DROP TABLE")
      assert(out.head().getLong(0) == (1000L to 1049L).map(_ * 2).sum -
        (if (masked) 2002L + 2004L + 2006L - 1001000L else 0L))
    }
  }

  test("root epoch: an OUT-OF-PROCESS drop+recreate never serves a " +
      "renumbered manifest from the memo (VERDICT r12 next #4)") {
    // plain, then with an equality delete and a delete vector outstanding
    // (the masked history commits v0..v2 on both sides)
    Seq("mc_epoch" -> false, "mc_epoch_mask" -> true).foreach { case (t, masked) =>
      val root = s"$warehouse/analytics/$t"
      def create(st: TableStore, rows: Seq[(Long, String)]): Unit =
        if (!masked) st.commitSnapshot(rows.toDF("k", "v"))
        else {
          st.commitBucketed((rows :+ (99L -> "gone") :+ (98L -> "dv"))
            .toDF("k", "v"), Seq("k"), 2)
          st.upsertEq(Seq((99L, "x", "REMOVE")).toDF("k", "v", "op"))
          st.deleteMor(col("k") === 98L)
        }
      val s1 = new TableStore(spark, root)
      create(s1, Seq((1L, "old")))
      assert(s1.readSnapshot().count() == 1) // memo holds (root, epoch1, v)
      // simulate a SECOND driver: raw-filesystem delete + a fresh handle's
      // recreate — no in-process lifecycle path runs, invalidateMeta never
      // fires, and every manifest name is REUSED with different content
      val dir = new org.apache.hadoop.fs.Path(root)
      val hfs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(hfs.delete(dir, true))
      create(new TableStore(spark, root), Seq((10L, "new"), (11L, "new")))
      // a fresh handle (the other driver's reader) keys the memo under the
      // RE-STAMPED epoch: the stale (old-epoch, v) entries cannot serve
      val s3 = new TableStore(spark, root)
      assert(s3.manifest(0).nFiles > 0)
      assert(s3.readSnapshot().count() == 2,
        "a renumbered manifest served from the stale memo entry")
      assert(s3.readSnapshot().select("v").as[String].collect().toSet
        == Set("new"))
    }
  }

  test("spark.graft.meta.manifestCache=false bypasses the memo entirely " +
      "(the multi-driver long-lived-handle opt-out, ADVICE r12)") {
    val root = s"$warehouse/analytics/mc_nocache"
    val s1 = new TableStore(spark, root)
    s1.commitSnapshot(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    spark.conf.set("spark.graft.meta.manifestCache", "false")
    try {
      val before = TableStore.manifestLoads.get()
      s1.manifest(0); s1.manifest(0); s1.manifest(0)
      assert(TableStore.manifestLoads.get() - before == 3,
        "with the cache off every manifest() call must re-read")
    } finally spark.conf.unset("spark.graft.meta.manifestCache")
    val masked = new TableStore(spark, s"$warehouse/analytics/mc_nocache_mask")
    masked.commitBucketed(salesRows(1, 100), Seq("id"), 4)
    mask(masked, put = 1L, gone = 2L, dv = 3L)
    val q = "SELECT COUNT(*) FROM mc_cat.analytics.mc_nocache_mask"
    assert(spark.sql(q).head().getLong(0) == 98L)
    spark.conf.set("spark.graft.meta.manifestCache", "false")
    try {
      (1 to 3).foreach { _ =>
        val before = TableStore.maskLoads.get()
        assert(spark.sql(q).head().getLong(0) == 98L)
        assert(TableStore.maskLoads.get() > before,
          "with the cache off every plan must re-read its delete files")
      }
    } finally spark.conf.unset("spark.graft.meta.manifestCache")
  }

  test("join-view registry snapshot: repeated join planning loads zero " +
      "manifests; a dim commit + refresh punches through") {
    val fact = new TableStore(spark, s"$warehouse/analytics/mc_fact")
    fact.commitBucketed((1L to 200L).map(k => (k, k % 20, k * 10))
      .toDF("fk", "dk", "m"), Seq("fk"), 4)
    val dim = new TableStore(spark, s"$warehouse/analytics/mc_dim")
    dim.commitBucketed((0L to 19L).map(d => (d, s"name$d")).toDF("dk", "nm"),
      Seq("dk"), 4)
    MaterializedJoin.create(fact, "enr", dim, Seq("dk"), Seq("dk"),
      Seq("nm"), "inner")
    val q = "SELECT f.dk, COUNT(*) AS n FROM mc_cat.analytics.mc_fact f " +
      "JOIN mc_cat.analytics.mc_dim d ON f.dk = d.dk GROUP BY f.dk"
    val w1 = spark.sql(q)
    assert(graft.catalog.AggViewRewrite.served(w1, "/join/"),
      "fixture error: the join must answer from the view")
    val r1 = w1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = TableStore.manifestLoads.get()
    (1 to 3).foreach { _ =>
      assert(spark.sql(q).collect().map(r =>
        r.getLong(0) -> r.getLong(1)).toMap == r1)
    }
    assert(TableStore.manifestLoads.get() == before,
      "repeated join-rewrite planning must be pure memo hits")
    // dim DML + refresh: commits invalidate; content must move
    dim.deleteEq(Seq(Tuple1(3L)).toDF("dk"))
    MaterializedJoin.refresh(fact, "enr")
    val r2 = spark.sql(q).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(!r2.contains(3L) && r2(4L) == r1(4L),
      s"post-refresh join content stale: $r2")
  }
}
