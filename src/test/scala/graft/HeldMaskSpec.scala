package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.catalog.{AggViewRewrite, GraftCatalog}
import graft.store.{HeldRows, MaterializedAgg, TableStore}

/** Held delete masks apply as an in-scan probe: a delete set small enough
  * to hold on the driver is turned once into a broadcast lookup, and a
  * masked read keeps a row unless its `(file, pos)` is deleted or its key
  * maps to a newer delete. Planning such a read runs no Spark job. Every
  * answer must equal the file-read anti-join's, both as Spark broadcasts
  * it (memo off) and as it shuffles it (memo off, auto-broadcast off),
  * over any history of equality deletes and delete vectors, for every
  * key type; view refreshes leave the held masks in place ([[MemoSpec]]
  * covers eviction). */
class HeldMaskSpec extends SparkSuite {
  import spark.implicits._

  private lazy val warehouse = {
    val w = Files.createTempDirectory("graft_hmask").toString
    spark.conf.set("spark.sql.catalog.hm_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.hm_cat.warehouse", w)
    w
  }

  private def store(name: String) =
    new TableStore(spark, s"$warehouse/analytics/$name")

  private def frame(rows: Seq[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  private def canon(rows: Array[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("0x[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted.toSeq

  private def memoOff[T](body: => T): T =
    withConf("spark.graft.meta.manifestCache" -> "false")(body)

  private def shuffled[T](body: => T): T =
    withConf("spark.graft.meta.manifestCache" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  private def usesHeldProbe(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.toString.contains("held_mask")

  private def salesRows(from: Long, to: Long) =
    (from to to).map(k => (k, s"g${k % 5}", k * 2)).toDF("id", "grp", "n")

  /** Both delete kinds outstanding: an equality delete (`put` re-put,
    * `gone` removed) and a delete vector on `dv`. */
  private def mask(st: TableStore, put: Long, gone: Long, dv: Long): Unit = {
    st.upsertEq(Seq((put, s"g${put % 5}", put * 1000L, "PUT"),
      (gone, "x", 0L, "REMOVE")).toDF("id", "grp", "n", "op"),
      opCol = "op", removeOp = "REMOVE")
    st.deleteMor(col("id") === dv)
    val m = st.manifest(st.currentVersion())
    assert(m.hasEqDeletes && m.hasDvs, "fixture error: both masks must be live")
  }

  test("zero-job pin: on a memo hit a point and a top-k query over DVs and " +
      "equality deletes plan with no Spark job; with the memo off they " +
      "launch jobs and answer the same") {
    val st = store("zj")
    st.commitBucketed(salesRows(1, 400), Seq("id"), 4)
    mask(st, put = 7L, gone = 8L, dv = 400L)
    val qs = Seq(
      "SELECT id, grp, n FROM hm_cat.analytics.zj WHERE id IN (7, 8, 10, 400)",
      "SELECT id, n FROM hm_cat.analytics.zj ORDER BY n DESC, id LIMIT 3")
    val want = qs.map(q => canon(spark.sql(q).collect())) // warms the memo
    assert(want == Seq(Seq("10|g0|20", "7|g2|7000"),
      Seq("398|796", "399|798", "7|7000")))
    qs.zip(want).foreach { case (q, w) =>
      var df: DataFrame = null
      val jobs = jobsDuring { df = spark.sql(q); df.queryExecution.executedPlan }
      assert(jobs == 0, s"$jobs Spark jobs planning a masked read on a " +
        s"memo hit:\n$q\n${df.queryExecution.executedPlan}")
      assert(canon(df.collect()) == w)
    }
    memoOff(qs.zip(want).foreach { case (q, w) =>
      var df: DataFrame = null
      val jobs = jobsDuring { df = spark.sql(q); df.queryExecution.executedPlan }
      assert(jobs >= 1, s"with the memo off planning must read the masks:\n$q")
      assert(canon(df.collect()) == w, s"memo off changed the answer of $q")
    })
  }

  test("rebased branch: a masked read folds the file version overrides " +
      "into the probe, plans with no Spark job and answers as memo off") {
    val st = store("rb")
    st.commitBucketed(spark.range(60).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v")), Seq("k"), 4)
    st.createBranch("cdc")
    val br = st.forBranch("cdc")
    br.upsertEq(Seq((7L, "b7", "U"), (300L, "b300", "I"), (9L, "", "REMOVE"))
      .toDF("k", "v", "op"))
    st.upsertEq(Seq((8L, "m8", "U"), (7L, "m7", "U")).toDF("k", "v", "op"))
    st.rebaseBranch("cdc")
    val m = br.manifest(br.currentVersion())
    assert(m.fileVersions.nonEmpty && m.hasEqDeletes,
      "fixture error: the rebased head must carry version overrides")
    val q = "SELECT k, v FROM hm_cat.analytics.rb VERSION AS OF 'cdc' " +
      "WHERE k < 12 OR k = 300"
    val want = memoOff(canon(spark.sql(q).collect()))
    assert(want.contains("7|b7") && want.contains("8|m8") &&
      want.contains("300|b300") && !want.exists(_.startsWith("9|")), want)
    assert(canon(spark.sql(q).collect()) == want) // warms the memo
    var df: DataFrame = null
    val jobs = jobsDuring { df = spark.sql(q); df.queryExecution.executedPlan }
    assert(jobs == 0, s"$jobs Spark jobs planning the rebased read:\n" +
      df.queryExecution.executedPlan)
    assert(canon(df.collect()) == want)
    assert(canon(br.readSnapshot().collect()) ==
      memoOff(canon(br.readSnapshot().collect())))
  }

  test("held rows: view refreshes keep one held view version and the masks") {
    HeldRows.kinds.values.foreach(_.clear())
    val base = store("ev")
    base.commitBucketed(salesRows(1, 200), Seq("id"), 4)
    mask(base, put = 3L, gone = 4L, dv = 5L)
    MaterializedAgg.create(base, "ev_by_grp", Seq("grp"), sumCols = Seq("n"),
      numBuckets = 2)
    val vs = MaterializedAgg.aggStore(base, "ev_by_grp")
    val point = "SELECT id, n FROM hm_cat.analytics.ev WHERE id IN (3, 4, 5, 6)"
    val agg = "SELECT grp, sum(n) AS s FROM hm_cat.analytics.ev GROUP BY grp"
    def ask(): (Seq[String], DataFrame) = {
      val df = spark.sql(agg)
      (canon(spark.sql(point).collect()), df)
    }
    ask()._2.collect()
    val masks0 = HeldRows.stats("mask")
    assert(masks0.entries == 2 && masks0.rows > 0 && masks0.bytes > 0)
    val loads0 = TableStore.maskLoads.get()
    (1 to 3).foreach { i =>
      base.commitAppend(salesRows(1000L + i, 1000L + i))
      MaterializedAgg.refresh(base, "ev_by_grp")
      val (pts, df) = ask()
      val rows = canon(df.collect())
      assert(pts == Seq("3|3000", "6|12"), pts)
      assert(AggViewRewrite.served(df) && rows.size == 5, rows)
      val views = HeldRows.stats("view")
      val held = HeldRows.kinds("view").snapshot.map(_._1)
        .filter(_._1 == vs.epochMemoKey).map(_._2)
      assert(held == Seq(vs.currentVersion().toString) &&
        views.entries == 1 && views.rows == 5 && views.bytes > 0,
        s"refresh $i: held view versions $held, stats $views")
    }
    assert(TableStore.maskLoads.get() == loads0,
      "view refreshes dropped the held masks")
    assert(HeldRows.stats("mask") == masks0)
  }

  test("floating point keys mask as Spark joins them: -0.0 = 0.0, NaN = " +
      "NaN, NULL never") {
    val st = store("fp")
    val schema = StructType(Seq(StructField("f", DoubleType),
      StructField("id", LongType)))
    st.commitBucketed(frame(Seq(Row(-0.0, 1L), Row(0.0, 2L),
      Row(Double.NaN, 3L), Row(1.5, 4L), Row(null, 5L)), schema),
      Seq("f"), 2)
    st.deleteEq(frame(Seq(Row(0.0), Row(Double.NaN), Row(null)),
      StructType(Seq(StructField("f", DoubleType)))))
    val held = st.readSnapshot()
    assert(usesHeldProbe(held))
    val got = canon(held.collect())
    assert(got == Seq("1.5|4", "null|5"), got)
    // the file-read anti-join, as Spark broadcasts it and as it shuffles it
    def joined(): (Seq[String], String) = {
      val df = st.readSnapshot()
      (canon(df.collect()), df.queryExecution.executedPlan.toString)
    }
    val (bcast, bcastPlan) = memoOff(joined())
    assert(bcast == got && bcastPlan.contains("BroadcastHashJoin"), bcastPlan)
    val (smj, smjPlan) = shuffled(joined())
    assert(smj == got && smjPlan.contains("SortMergeJoin"), smjPlan)
  }

  // ---- probe parity over generated histories

  private val keyCols = Seq("a", "b", "c", "d", "e")

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("a", LongType),
    StructField("b", StringType), StructField("c", DecimalType(20, 2)),
    StructField("d", DateType), StructField("e", BinaryType),
    StructField("v", StringType)))

  private def orNull[T](g: Gen[T]): Gen[Any] =
    Gen.frequency(1 -> Gen.const(null), 4 -> g)

  private val keyDomain: Seq[Gen[Any]] = Seq(
    orNull(Gen.chooseNum(0L, 3L)),
    orNull(Gen.oneOf("x", "y", "z")),
    orNull(Gen.oneOf(Seq("1.50", "-2.25", "3.00")
      .map(s => new java.math.BigDecimal(s)))),
    orNull(Gen.chooseNum(0, 3).map(i =>
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)))),
    orNull(Gen.oneOf(Seq(Array[Byte](1), Array[Byte](1, 2), Array[Byte]()))))

  private val keyGen: Gen[Seq[Any]] = Gen.sequence[List[Any], Any](keyDomain)

  private def row(id: Long, tag: String): Gen[Row] =
    keyGen.map(k => Row.fromSeq(id +: k :+ s"$tag$id"))

  private sealed trait Step
  private case class FullDel(keys: Seq[Seq[Any]]) extends Step
  private case class PartialDel(cols: Seq[String], keys: Seq[Seq[Any]])
      extends Step
  private case class Upsert(rows: Seq[Row]) extends Step
  private case class Mor(mod: Int, rem: Int) extends Step

  private def stepGen(n: Int, nextId: Long): Gen[Step] = Gen.oneOf(
    Gen.listOfN(3, Gen.oneOf(Gen.chooseNum(0L, n - 1L).map(Left(_)),
      keyGen.map(Right(_)))).map(ks => FullDel(ks.map {
        case Left(id) => Seq[Any](id) // resolved against the rows below
        case Right(k) => k
      })),
    for {
      cols <- Gen.nonEmptyListOf(Gen.oneOf(keyCols)).map(cs =>
        keyCols.filter(cs.toSet))
      keys <- Gen.listOfN(2, keyGen)
    } yield PartialDel(cols, keys.map(k =>
      cols.map(c => k(keyCols.indexOf(c))))),
    Gen.sequence[List[Row], Row]((0 until 3).map(i => row(nextId + i, "u")))
      .map(Upsert(_)),
    for (m <- Gen.oneOf(3, 5, 7); r <- Gen.chooseNum(0, m - 1))
      yield Mor(m, r))

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private def signedNet(st: TableStore, from: Long, to: Long): Seq[String] = {
    val (pre, post) = st.changelogFrames(from, to)
    canon(pre.withColumn("_s", lit(-1L))
      .unionByName(post.withColumn("_s", lit(1L)))
      .groupBy(schema.fieldNames.map(col).toSeq: _*)
      .agg(sum("_s").as("_n")).filter(col("_n") =!= 0L).collect())
  }

  test("probe parity: over generated histories of full-key and partial-key " +
      "equality deletes, upserts and delete vectors, with long, string, " +
      "decimal, date and binary keys and NULLs, every read and both " +
      "changelogs equal the file-read and the shuffled anti-joins") {
    var heldReads = 0
    (1 to 3).foreach { h =>
      val st = store(s"pp$h")
      val base = sample(Gen.sequence[List[Row], Row](
        (0L until 40L).map(row(_, "v"))), 9100L + h)
      st.commitBucketed(frame(base, schema), keyCols, 2)
      var rows = base
      var nextId = 1000L
      (1 to 4).foreach { s =>
        val step = sample(stepGen(rows.size, nextId), 9200L + 10 * h + s)
        val from = st.currentVersion()
        step match {
          case FullDel(ks) =>
            val keys = ks.map {
              case Seq(id: Long) => rows(id.toInt).toSeq.slice(1, 6)
              case k => k
            }
            st.deleteEq(frame(keys.map(Row.fromSeq),
              StructType(schema.fields.slice(1, 6))))
          case PartialDel(cols, ks) =>
            st.deleteEq(frame(ks.distinct.map(Row.fromSeq),
              StructType(cols.map(c => schema(c)))))
          case Upsert(up) =>
            val byKey = up.groupBy(_.toSeq.slice(1, 6).map {
              case b: Array[Byte] => b.toSeq
              case x => x
            }).values.map(_.head).toSeq
            st.upsertEq(frame(byKey.map(r => Row.fromSeq(r.toSeq :+ "U")),
              schema.add("op", StringType)))
            rows = rows ++ up
            nextId += 3
          case Mor(m, r) => st.deleteMor(col("id") % m === r)
        }
        val to = st.currentVersion()
        val ctx = s"history $h step $s ($step)"
        val held = st.readSnapshot()
        if (usesHeldProbe(held)) heldReads += 1
        val got = canon(held.collect())
        assert(memoOff(canon(st.readSnapshot().collect())) == got, ctx)
        assert(shuffled(canon(st.readSnapshot().collect())) == got, ctx)
        val q = s"SELECT * FROM hm_cat.analytics.pp$h WHERE a = 1 OR b = 'x'"
        val sqlGot = canon(spark.sql(q).collect())
        assert(memoOff(canon(spark.sql(q).collect())) == sqlGot, ctx)
        assert(shuffled(canon(spark.sql(q).collect())) == sqlGot, ctx)
        if (to > from) {
          val full = withConf("spark.graft.changelog.narrowEqSpans" -> "false")(
            signedNet(st, from, to))
          assert(signedNet(st, from, to) == full, ctx)
          assert(memoOff(signedNet(st, from, to)) == full, ctx)
          assert(shuffled(signedNet(st, from, to)) == full, ctx)
        }
      }
    }
    assert(heldReads >= 6, s"only $heldReads reads used the held probe")
  }
}
