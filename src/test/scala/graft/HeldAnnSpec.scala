package graft

import java.nio.file.Files
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.catalog.{GraftCatalog, VectorTopKRewrite}
import graft.store.{AnnIndex, HeldRows, SecondaryIndex, TableStore}

/** Held ANN index snapshots: a small index version is held on the driver
  * ([[HeldRows.snapshot]], kind `index`) and a top-k search
  * folds its probe, filters, score, sort and limit over those rows at plan
  * time, so `AnnIndex.topk` and the SQL vector top-k rewrite run no Spark
  * job. Every answer must equal the bucket-targeted file read's (memo
  * off), ties, NULL vectors and key filters included; a refresh must leave
  * only the current index version held, and a drop must release it. */
class HeldAnnSpec extends SparkSuite {

  private lazy val warehouse = {
    val w = Files.createTempDirectory("graft_hann").toString
    spark.conf.set("spark.sql.catalog.ha_cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ha_cat.warehouse", w)
    graft.functions.GraftFunctions.register(spark)
    w
  }

  private def store(name: String) =
    new TableStore(spark, s"$warehouse/analytics/$name")

  private def memoOff[T](body: => T): T =
    withConf("spark.graft.meta.manifestCache" -> "false")(body)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  /** `n` embeddings of `dim` floats scattered around `centres`, as the
    * `corpus_curate` benchmark draws them. */
  private def embeddings(rnd: SplittableRandom, centres: Array[Array[Float]],
      n: Int): Seq[Array[Float]] = Seq.fill(n) {
    val c = centres(rnd.nextInt(centres.length))
    unit(c.map(x => (x + rnd.nextGaussian() * 0.15).toFloat))
  }

  private def centresOf(rnd: SplittableRandom, k: Int, dim: Int) =
    Array.fill(k)(unit(Array.fill(dim)(rnd.nextGaussian().toFloat)))

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  private def docs(ids: Seq[Long], vs: Seq[Array[Float]]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(ids.zip(vs).map { case (i, v) =>
      Row(i, Option(v).map(_.toSeq).orNull)
    }.asJava, docSchema)
  }

  private def arrLit(v: Array[Float]): String =
    v.map(f => s"CAST($f AS FLOAT)").mkString("ARRAY(", ",", ")")

  private def topkSql(table: String, q: Array[Float], where: String = "",
      k: Int = 10, keys: Seq[String] = Seq("doc_id")): String =
    s"""SELECT ${keys.mkString(", ")},
       |  round(graft_cosine(embedding, ${arrLit(q)}), 6) AS cos_sim
       |FROM ha_cat.analytics.$table $where
       |ORDER BY cos_sim DESC, ${keys.map(_ + " ASC").mkString(", ")}
       |LIMIT $k""".stripMargin

  /** The `corpus_curate` shape: 1,500 docs of 32 floats, an ANN index on
    * default cells, then a 400-doc append and a refresh. */
  private def curated(name: String): (TableStore, Seq[Array[Float]]) = {
    val rnd = new SplittableRandom(311L)
    val centres = centresOf(rnd, 24, 32)
    val st = store(name)
    st.commitBucketed(docs(1L to 1500L, embeddings(rnd, centres, 1500)),
      Seq("doc_id"), 8)
    AnnIndex.create(st, "ann", "embedding")
    st.commitAppend(docs(1501L to 1900L, embeddings(rnd, centres, 400)))
    AnnIndex.refresh(st, "ann")
    spark.catalog.refreshTable(s"ha_cat.analytics.$name")
    (st, embeddings(rnd, centres, 2))
  }

  test("zero-job pin: after a refresh, a top-k search and a catalog SQL " +
      "vector top-k launch no Spark job on a memo hit; with the memo off " +
      "they launch jobs and answer the same") {
    warehouse
    val (st, qs) = curated("zj")
    qs.foreach { q =>
      val sql = topkSql("zj", q)
      val want = rows(AnnIndex.topk(st, "ann", q, 10)) // warms the memo
      val wantSql = rows(spark.sql(sql))
      assert(want.size == 10 && wantSql.size == 10)
      var got = Seq.empty[String]
      var df: DataFrame = null
      val jobs = jobsDuring {
        got = rows(AnnIndex.topk(st, "ann", q, 10))
        df = spark.sql(sql)
        df.collect()
      }
      assert(jobs == 0, s"$jobs Spark jobs serving two searches on a memo " +
        s"hit:\n${df.queryExecution.executedPlan}")
      assert(got == want && rows(df) == wantSql)
      assert(VectorTopKRewrite.served(df),
        s"the SQL top-k must serve from the index:\n" +
          df.queryExecution.optimizedPlan)
      memoOff {
        var off = Seq.empty[String]
        var offSql = Seq.empty[String]
        val offJobs = jobsDuring {
          off = rows(AnnIndex.topk(st, "ann", q, 10))
          offSql = rows(spark.sql(sql))
        }
        assert(offJobs >= 2, s"with the memo off each search reads files")
        assert(off == want && offSql == wantSql,
          s"memo off changed the answer:\n$off\n$want")
      }
    }
  }

  /** One generated search: the query, k, the probe width (0 = every
    * cell), whether it excludes a document, and a `doc_id % m = r` key
    * filter the SQL form applies (widening to fill k). */
  private case class Search(q: Array[Float], k: Int, nProbe: Int,
      exclude: Option[Long], filter: Option[(Int, Int)]) {
    override def toString: String =
      s"Search(k=$k, nProbe=$nProbe, exclude=$exclude, filter=$filter)"
  }

  private def searchGen(vs: IndexedSeq[Array[Float]], ids: Seq[Long])
      : Gen[Search] = for {
    i <- Gen.chooseNum(0, vs.size - 1)
    k <- Gen.oneOf(1, 5, 10)
    nProbe <- Gen.oneOf(2, 0)
    exclude <- Gen.option(Gen.oneOf(ids))
    filter <- Gen.option(for {
      m <- Gen.oneOf(7, 31, 97); r <- Gen.chooseNum(0, m - 1)
    } yield (m, r))
  } yield Search(vs(i), k, nProbe, exclude, filter)

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  /** Every search answers the same held and memo off: the `topk` call
    * (with its exclusion) and the SQL rewrite (with its key filter, under
    * the search's probe width); at the exhaustive probe the SQL answer is
    * also the brute-force scan's. */
  private def checkParity(st: TableStore, table: String, searches: Seq[Search],
      keys: Seq[String], ctx: String): Unit =
    searches.foreach { s =>
      val exclude = if (keys == Seq("doc_id")) s.exclude else None
      def search() = rows(AnnIndex.topk(st, "ann", s.q, s.k, s.nProbe,
        excludeId = exclude))
      val got = search()
      assert(got == memoOff(search()), s"$ctx: $s")
      val where = s.filter.fold("") { case (m, r) =>
        s"WHERE ${keys.last} % $m = $r"
      }
      val sql = topkSql(table, s.q, where, s.k, keys)
      withConf("spark.graft.ann.sql.nProbe" -> s.nProbe.toString) {
        val df = spark.sql(sql)
        val gotSql = rows(df)
        assert(VectorTopKRewrite.served(df), s"$ctx: $s not served")
        assert(gotSql == memoOff(rows(spark.sql(sql))), s"$ctx: $s")
        if (s.nProbe == 0)
          withConf("spark.graft.ann.rewrite" -> "false") {
            assert(gotSql == rows(spark.sql(sql)), s"$ctx: $s brute")
          }
      }
    }

  test("seeded parity against memo off: probe widths, exclusion, ties, a " +
      "NULL vector, key filters with widening, a composite key, and an " +
      "index refreshed after base deletes and updates") {
    warehouse
    val rnd = new SplittableRandom(9300L)
    val centres = centresOf(rnd, 6, 16)
    val vs = embeddings(rnd, centres, 300).toIndexedSeq
    // ties: four power-of-two scalings of one vector score identically;
    // one document has no embedding
    val clones = (0 until 4).map(j => vs(0).map(_ * (1 << j).toFloat))
    val st = store("par")
    val ids = (1L to 305L)
    st.commitBucketed(docs(ids, vs ++ clones :+ null), Seq("doc_id"), 4)
    AnnIndex.create(st, "ann", "embedding", clusters = 12, iters = 2)
    spark.catalog.refreshTable("ha_cat.analytics.par")
    val queries = vs.take(20) ++ clones.take(1)
    val gen = Gen.listOfN(5, searchGen(queries, ids))
    checkParity(st, "par", sample(gen, 9301L), Seq("doc_id"), "created")
    // a filter that leaves fewer than k documents reaches the NULL vector
    // (doc 305), which ranks last on every route
    val sparse = Seq(2, 0).map(p => Search(queries(0), 10, p, None,
      Some((97, 14))))
    checkParity(st, "par", sparse, Seq("doc_id"), "sparse")
    assert(rows(spark.sql(topkSql("par", queries(0), "WHERE doc_id % 97 = 14")))
      .last == "305|null")
    // ties resolve by key on both routes
    val tied = rows(AnnIndex.topk(st, "ann", clones(0), 5, nProbe = 0))
    assert(tied.map(_.split('|')(1)).distinct.size == 1 &&
      tied.map(_.split('|')(0)) == Seq("1", "301", "302", "303", "304"),
      tied)

    // base deletes and updates, then a refresh of the index
    st.deleteMor(col("doc_id") % 5 === 0)
    st.upsertEq(docs(Seq(1L, 2L, 3L), Seq(vs(100), vs(101), null))
      .withColumn("op", lit("U")))
    AnnIndex.refresh(st, "ann")
    spark.catalog.refreshTable("ha_cat.analytics.par")
    checkParity(st, "par", sample(gen, 9302L), Seq("doc_id"), "refreshed")

    // composite key (tenant STRING, doc_id LONG)
    val cst = store("cpar")
    cst.commitBucketed(docs(ids, vs ++ clones :+ null)
      .select(concat(lit("t"), col("doc_id") % 3).as("tenant"),
        col("doc_id"), col("embedding")), Seq("tenant", "doc_id"), 4)
    AnnIndex.create(cst, "ann", "embedding", clusters = 12, iters = 2)
    spark.catalog.refreshTable("ha_cat.analytics.cpar")
    checkParity(cst, "cpar", sample(gen, 9303L), Seq("tenant", "doc_id"),
      "composite")
  }

  test("lifecycle: a refresh leaves only the current index version held, " +
      "and dropping the index releases it") {
    warehouse
    val rnd = new SplittableRandom(9400L)
    val centres = centresOf(rnd, 4, 8)
    val st = store("life")
    st.commitBucketed(docs(1L to 200L, embeddings(rnd, centres, 200)),
      Seq("doc_id"), 4)
    AnnIndex.create(st, "ann", "embedding", clusters = 6, iters = 2)
    val idx = SecondaryIndex.indexStore(st, "ann")
    val q = embeddings(rnd, centres, 1).head
    def held: Seq[String] = HeldRows.kinds("index").snapshot.map(_._1)
      .filter(_._1 == idx.epochMemoKey).map(_._2)
    AnnIndex.topk(st, "ann", q, 5).collect()
    assert(held == Seq(idx.currentVersion().toString))
    (1 to 3).foreach { i =>
      st.commitAppend(docs(Seq(1000L + i), embeddings(rnd, centres, 1)))
      AnnIndex.refresh(st, "ann")
      val got = AnnIndex.topk(st, "ann", q, 5).collect()
      assert(got.length == 5)
      val iv = idx.currentVersion()
      assert(held == Seq(iv.toString),
        s"refresh $i: held index versions $held")
      val stats = HeldRows.stats("index")
      assert(stats.rows >= 200 + i && stats.bytes > 0, stats)
    }
    assert(SecondaryIndex.drop(st, "ann"))
    assert(held.isEmpty, s"drop left held versions $held")
  }

  test("an index version past AnnIndex.HeldMaxRows is not held: the " +
      "search reads the probed buckets and answers as memo off") {
    warehouse
    val st = store("big")
    val n = AnnIndex.HeldMaxRows + 1
    st.commitBucketed(spark.range(1, n + 1).select(col("id").as("doc_id"),
      array((1 to 4).map(j => sin(col("id") * j).cast("float")): _*)
        .as("embedding")), Seq("doc_id"), 4)
    AnnIndex.create(st, "ann", "embedding", clusters = 8, iters = 2)
    val q = Array(0.5f, -0.25f, 1f, 0.125f)
    val want = memoOff(rows(AnnIndex.topk(st, "ann", q, 10)))
    var got = Seq.empty[String]
    val jobs = jobsDuring { got = rows(AnnIndex.topk(st, "ann", q, 10)) }
    assert(got == want && got.size == 10)
    val idx = SecondaryIndex.indexStore(st, "ann")
    assert(jobs >= 1 && !HeldRows.kinds.values.exists(_.snapshot
      .exists(_._1._1 == idx.epochMemoKey)), s"$jobs jobs, memo ${HeldRows.stats}")
  }
}
