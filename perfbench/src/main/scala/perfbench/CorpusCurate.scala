package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.store.{AnnIndex, DedupIndex, TableStore}

/** `corpus_curate`: the LLM-data layers, closed loop. The corpus holds
  * documents with a text and an embedding; setup creates a [[DedupIndex]]
  * on the text and an [[AnnIndex]] on the embedding. The timed phase
  * ingests one document batch from one client (near-dup probe with
  * `DedupIndex.nearDups`, append, `DedupIndex.refresh`, `AnnIndex.refresh`)
  * and then searches with `AnnIndex.topk` from two clients, with a
  * `topkBatch` after every `BatchEvery` single queries, until the deadline
  * and `MinSamples` searches. One batch, because an ingest round costs about
  * as much as 70 searches and the search percentiles need 100 samples per
  * run.
  *
  * Documents are seeded: embeddings scatter around a few dozen centres,
  * and half of the ingested batch are planted near-duplicates of corpus
  * documents (one token replaced, the embedding nudged), so near-dup
  * recall is known exactly and ANN recall is checked against brute force. */
final class CorpusCurate extends Workload {
  val BaseDocs = 1500
  val Batch = 400
  val PlantedPct = 50
  val Dim = 32
  val Centres = 24
  val Tokens = 30
  val BatchEvery = 100
  val BatchQueries = 20
  /** The p90 needs 100 samples; a slow run keeps searching past the
    * deadline until it has this many. */
  val MinSamples = 100
  val Threshold = 0.5
  val Clients = 2
  override def clients: Int = Clients

  private var store: TableStore = _
  private var rnd: SplittableRandom = _
  private var centres: Array[Array[Float]] = _
  private val docs = mutable.ArrayBuffer.empty[(Long, Array[String], Array[Float])]
  private val searched = mutable.ArrayBuffer.empty[(Array[Float], Seq[Long])]
  private var planted = 0
  private var found = 0

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("embedding", ArrayType(FloatType))))

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }
  private def noisy(v: Array[Float], s: Double): Array[Float] =
    unit(v.map(x => (x + rnd.nextGaussian() * s).toFloat))
  private def freshDoc(id: Long) = {
    val toks = Array.fill(Tokens)("w" + rnd.nextInt(200000))
    (id, toks, noisy(centres(rnd.nextInt(Centres)), 0.15))
  }
  /** A near-duplicate of `src`: one token replaced (3-shingle Jaccard
    * about 0.8). */
  private def nearDup(id: Long, src: (Long, Array[String], Array[Float])) = {
    val toks = src._2.clone()
    toks(rnd.nextInt(Tokens)) = "x" + rnd.nextInt(200000)
    (id, toks, noisy(src._3, 0.02))
  }
  private def frame(ctx: Ctx, ds: Seq[(Long, Array[String], Array[Float])]): DataFrame = {
    val rows = ds.map { case (id, t, v) => Row(id, t.mkString(" "), v.toSeq) }
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  def setup(ctx: Ctx, dir: String): Unit = {
    rnd = new SplittableRandom(ctx.seed)
    centres = Array.fill(Centres)(unit(Array.fill(Dim)(rnd.nextGaussian().toFloat)))
    docs.clear(); searched.clear(); planted = 0; found = 0
    (1 to BaseDocs).foreach(i => docs += freshDoc(i.toLong))
    store = new TableStore(ctx.spark, s"$dir/docs")
    val rec = ctx.rec
    rec.time("store", "commitBucketed")(store.commitBucketed(frame(ctx, docs.toSeq), Seq("doc_id"), 8))
    val (_, dMs) = rec.timed("dedup", "create") {
      DedupIndex.create(store, "lsh", "text", numBuckets = 64)
    }
    val (_, aMs) = rec.timed("ann", "create")(AnnIndex.create(store, "ann", "embedding"))
    rec.set("dedup.create_s", dMs / 1000)
    rec.set("ann.create_s", aMs / 1000)
    // warm the single search; the phase's ingest and batch search are the
    // first on the indexes
    (1 to 5).foreach(_ => searchOne(ctx, rnd))
    searched.clear()
  }

  private def ingest(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val next = docs.size.toLong + 1
    val (batch, pairs) = rec.time("gen", "doc_batch") {
      val ds = (0 until Batch).map { i =>
        if (rnd.nextInt(100) < PlantedPct) {
          val src = docs(rnd.nextInt(docs.size))
          (nearDup(next + i, src), Some(src._1))
        } else (freshDoc(next + i), None)
      }
      (ds.map(_._1), ds.collect { case (d, Some(src)) => d._1 -> src })
    }
    val df = frame(ctx, batch)
    val (hits, nMs) = rec.timed("dedup", "nearDups") {
      DedupIndex.nearDups(store, "lsh", df, Threshold).collect()
    }
    rec.sample("dedup.neardups.ms", nMs)
    // a planted document is found when the probe pairs it with its source
    val hitPairs = hits.map(r => (r.getLong(0), r.getLong(1))).toSet
    planted += pairs.size
    found += pairs.count(hitPairs)
    rec.time("store", "commitAppend")(store.commitAppend(df))
    val (_, drMs) = rec.timed("dedup", "refresh")(DedupIndex.refresh(store, "lsh"))
    rec.sample("dedup.refresh.ms", drMs)
    val (_, arMs) = rec.timed("ann", "refresh")(AnnIndex.refresh(store, "ann"))
    rec.sample("ann.refresh.ms", arMs)
    docs ++= batch
  }

  private def query(r: SplittableRandom): Array[Float] = {
    val v = docs(r.nextInt(docs.size))._3
    unit(v.map(x => (x + r.nextGaussian() * 0.1).toFloat))
  }

  private def searchOne(ctx: Ctx, r: SplittableRandom): Unit = {
    val q = query(r)
    ctx.rec.add("attempted", 1)
    val (ids, ms) = ctx.rec.timed("ann", "topk") {
      AnnIndex.topk(store, "ann", q, 10).collect().map(_.getLong(0)).toSeq
    }
    ctx.rec.sample("latency", ms)
    ctx.rec.sample("ann.topk.ms", ms)
    searched.synchronized(searched += ((q, ids)))
  }

  private def searchBatch(ctx: Ctx, r: SplittableRandom): Unit = {
    val qs = (1 to BatchQueries).map(i => Row(i.toLong, query(r).toSeq))
    val qdf = ctx.spark.createDataFrame(java.util.Arrays.asList(qs: _*), StructType(Seq(
      StructField("qid", LongType), StructField("q", ArrayType(FloatType)))))
    ctx.rec.add("attempted", 1)
    val (_, bMs) = ctx.rec.timed("ann", "topkBatch") {
      AnnIndex.topkBatch(store, "ann", qdf, "qid", "q", 10).collect()
    }
    ctx.rec.sample("ann.topk_batch.ms", bMs)
  }

  def measure(ctx: Ctx, seconds: Double): Unit = {
    val rec = ctx.rec
    val deadline = rec.nowMs + seconds * 1000
    rec.beginOp(0)
    rec.add("attempted", 1)
    val s = rec.nowMs
    ingest(ctx)
    rec.set("work", Batch.toDouble)
    rec.set("work_s", (rec.nowMs - s) / 1000)
    Store.sampleBytes(ctx, store.root)
    rec.beginOp(-1)
    val done = new java.util.concurrent.atomic.AtomicInteger()
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val r = new SplittableRandom(ctx.seed * 31 + 7 + c)
        while (rec.nowMs < deadline || done.get < MinSamples) {
          val k = done.incrementAndGet()
          rec.beginOp(k)
          searchOne(ctx, r)
          if (k % BatchEvery == 0) searchBatch(ctx, r)
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Exact top-10 by cosine over every document, on the driver. */
  private def bruteTop10(q: Array[Float]): Seq[Long] =
    docs.map { case (id, _, v) => (id, q.indices.map(i => q(i) * v(i)).sum) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSeq

  def verify(ctx: Ctx): Unit = {
    val recall = searched.map { case (q, got) =>
      bruteTop10(q).toSet.intersect(got.toSet).size / 10.0
    }
    val r10 = if (recall.isEmpty) 0.0 else recall.sum / recall.size
    val dr = if (planted == 0) 0.0 else found.toDouble / planted
    ctx.rec.set("ann.recall_at_10", r10)
    ctx.rec.set("dedup.recall", dr)
    ctx.check("corpus_curate.recall_at_10", r10 >= CorpusCurate.MinRecall,
      f"recall@10 $r10%.3f below ${CorpusCurate.MinRecall}")
    ctx.check("corpus_curate.dedup_recall", dr >= CorpusCurate.MinDedupRecall,
      f"near-dup recall $dr%.3f below ${CorpusCurate.MinDedupRecall} ($found of $planted)")
    val n = store.readSnapshot().count()
    ctx.check("corpus_curate.docs", n == docs.size, s"$n docs in the table, ${docs.size} ingested")
    Store.endState(ctx, Seq(store))
  }

  def footprint(ctx: Ctx): (Long, Long) = (Store.meanBytes(ctx, 1), docs.size.toLong)
}

object CorpusCurate {
  val MinRecall = 0.75
  val MinDedupRecall = 0.85
}
