package perfbench

import org.apache.spark.sql.functions._

import graft.etl.SnapshotLoad
import graft.model.DdbAttr
import graft.sources.DdbExportReader
import graft.store.{MaterializedAgg, MaterializedJoin, SecondaryIndex, TableStore}

/** The served table shape: orders (the fact table, loaded from DynamoDB
  * export lines) and customer (its dimension) under one catalog namespace,
  * with a GSI on `o_custkey`, an aggregate view and an orders ⋈ customer
  * join view. */
final class Shop(ctx: Ctx, val dir: String, val rows: Long, val buckets: Int) {
  val nCust: Long = rows / 10
  val ns: String = new java.io.File(dir).getName
  val orders = new TableStore(ctx.spark, s"$dir/orders")
  val customer = new TableStore(ctx.spark, s"$dir/customer")
  val Keys = Seq("o_orderkey")
  val Gsi = "by_cust"
  val Agg = "by_prio"
  val Join = "with_cust"

  /** Orders from DynamoDB export lines, decoded with [[DdbExportReader]]
    * and committed bucketed in one pass. */
  def load(): Unit = {
    val exportDir = Shop.writeExport(ctx, dir, rows, nCust)
    val (_, ms) = ctx.rec.timed("load", "DdbExportReader.read") {
      orders.commitBucketed(
        DdbExportReader.read(ctx.spark, exportDir, Some(Gen.ordersSchema), Keys), Keys, buckets)
    }
    ctx.rec.set("load.run_s", ms / 1000)
  }

  def addDimension(): Unit = ctx.rec.time("store", "commitBucketed") {
    customer.commitBucketed(Gen.customers(ctx.spark, ctx.seed, nCust, ctx.cores),
      Seq("c_custkey"), 4)
  }

  def createDerivatives(): Unit = {
    ctx.rec.time("gsi", "create") {
      SecondaryIndex.create(orders, Gsi, Seq("o_custkey"), Seq("o_totalprice"), numBuckets = 4)
    }
    createViews()
  }

  /** The aggregate view and the join view the dashboard's agg and join
    * classes are served from. */
  def createViews(): Unit = {
    val rec = ctx.rec
    rec.time("agg", "create") {
      MaterializedAgg.create(orders, Agg,
        Seq("o_orderstatus", "o_orderpriority", "o_shippriority"),
        sumCols = Seq("o_totalprice"), numBuckets = 4)
    }
    rec.time("join", "create") {
      MaterializedJoin.create(orders, Join, customer, Seq("o_custkey"), Seq("c_custkey"),
        Seq("c_mktsegment"), numBuckets = 4)
    }
  }

  /** Refresh the three derivatives, timing each. */
  def refreshAll(): Unit = {
    val rec = ctx.rec
    Seq("gsi" -> (() => SecondaryIndex.refresh(orders, Gsi)),
      "agg" -> (() => MaterializedAgg.refresh(orders, Agg)),
      "join" -> (() => MaterializedJoin.refresh(orders, Join))).foreach { case (d, f) =>
      val (_, ms) = rec.timed(d, "refresh")(f())
      rec.sample(s"$d.refresh.ms", ms)
    }
  }

  /** (agg, join) watermarks: the base version each view reflects. */
  def viewWatermarks(): (Long, Long) = ctx.rec.time("store", "watermarks") {
    (MaterializedAgg.status(orders).find(_._1 == Agg).get._5,
      MaterializedJoin.status(orders).filter(_._1 == Join).map(_._4).min)
  }

  /** (gsi, agg, join) watermarks: the base version each derivative reflects. */
  def watermarks(): (Long, Long, Long) = {
    val (a, j) = viewWatermarks()
    (ctx.rec.time("store", "watermarks")(SecondaryIndex.status(orders).find(_._1 == Gsi).get._3), a, j)
  }
}

object Shop {
  /** Write `rows` orders as DynamoDB-JSON export lines under `dir`; returns
    * the export directory. */
  def writeExport(ctx: Ctx, dir: String, rows: Long, nCust: Long): String = {
    val exportDir = s"$dir/export"
    ctx.rec.time("gen", "export_lines") {
      Gen.orders(ctx.spark, ctx.seed, rows, nCust, ctx.cores)
        .select(DdbAttr.encodeLine(Gen.ordersSchema).as("value"))
        .write.text(exportDir)
    }
    exportDir
  }

  /** Write `rows` orders as export lines under `dir`, load them into
    * `store` with [[SnapshotLoad.run]] and bucket the table. The traced
    * run also times a bare decode of the export. */
  def exportAndLoad(ctx: Ctx, dir: String, store: TableStore, rows: Long, nCust: Long,
      buckets: Int, keys: Seq[String]): Unit = {
    val rec = ctx.rec
    val exportDir = writeExport(ctx, dir, rows, nCust)
    val (_, loadMs) = rec.timed("load", "SnapshotLoad.run") {
      SnapshotLoad.run(ctx.spark, exportDir, store, Some(Gen.ordersSchema), keyColumns = keys)
    }
    rec.set("load.run_s", loadMs / 1000)
    if (rec.traced) {
      val (_, decodeMs) = rec.timed("load", "DdbExportReader.read") {
        DdbExportReader.read(ctx.spark, exportDir, Some(Gen.ordersSchema), keys)
          .write.format("noop").mode("overwrite").save()
      }
      rec.set("load.decode_s", decodeMs / 1000)
    }
    rec.time("store", "rebucket")(store.rebucket(buckets, keys))
  }

  /** Keys whose bucket is one of `hot` buckets: a change stream skewed to
    * them touches few buckets per batch, so batches route merge-on-read. */
  def hotKeys(ctx: Ctx, shop: Shop, hot: Seq[Int], n: Int): Array[Long] =
    ctx.spark.range(1, shop.rows + 1).select(col("id").as("o_orderkey"))
      .select(col("o_orderkey"), TableStore.bucketExpr(shop.Keys, shop.buckets).as("b"))
      .filter(col("b").isin(hot: _*))
      .orderBy(xxhash64(col("o_orderkey"), lit(ctx.seed)))
      .limit(n).collect().map(_.getLong(0))
}
