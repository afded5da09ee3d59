package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.catalog.AggViewRewrite
import graft.store.TableStore

/** The dashboard SQL mix, sent through the graft catalog with `spark.sql`.
  * Three named classes plus "other":
  *   - `agg`: GROUP BY over orders (the aggregate view or metadata serves it)
  *   - `join`: orders ⋈ customer grouped by segment (the join view serves it)
  *   - `point`: `o_orderkey` / `o_custkey` lookups
  *   - `other`: top-k by price and `date_trunc` month ranges
  * Parameters are seeded draws from many distinct values, so query texts
  * rarely repeat. */
final class Dashboard(ns: String, orders: TableStore, customer: TableStore,
    maxOrderKey: Long, nCust: Long) {
  private val T = s"bench.$ns.orders"
  private val C = s"bench.$ns.customer"

  /** Class shares in percent, set from measured per-class latency on
    * `serve_static`: agg and join (view-served) answer in about the same
    * time, point and other about 1.6 times slower, other the slowest. So
    * agg holds most of the fast block, whose 65% puts the p50 inside it,
    * and other most of the slow block, whose top holds the p90. */
  val Shares = Seq("agg" -> 55, "join" -> 10, "point" -> 10, "other" -> 25)

  def deck(r: SplittableRandom): Dashboard.Deck = new Dashboard.Deck(Shares, r)

  def draw(deck: Dashboard.Deck, r: SplittableRandom): (String, String) = {
    val cls = deck.next()
    (cls, text(cls, r))
  }

  def text(cls: String, r: SplittableRandom): String = variant(cls, r.nextBoolean(), r)

  /** `first` picks between the two shapes of the point and other classes. */
  def variant(cls: String, first: Boolean, r: SplittableRandom): String = cls match {
    case "agg" =>
      s"SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS s FROM $T " +
        s"WHERE o_shippriority = ${r.nextInt(Gen.ShipPriorities)} GROUP BY o_orderpriority"
    case "join" =>
      s"SELECT c.c_mktsegment, count(*) AS n, sum(o.o_totalprice) AS s FROM $T o " +
        s"JOIN $C c ON o.o_custkey = c.c_custkey " +
        s"WHERE o.o_shippriority = ${r.nextInt(Gen.ShipPriorities)} GROUP BY c.c_mktsegment"
    case "point" =>
      if (first) s"SELECT * FROM $T WHERE o_orderkey = ${1 + r.nextLong(maxOrderKey)}"
      else s"SELECT o_orderkey, o_totalprice FROM $T WHERE o_custkey = ${1 + r.nextLong(nCust)}"
    case _ =>
      if (first)
        s"SELECT o_orderkey, o_totalprice FROM $T " +
          s"ORDER BY o_totalprice DESC, o_orderkey LIMIT ${5 + r.nextInt(20)}"
      else {
        val m = java.time.LocalDate.of(1992, 1, 1).plusMonths(r.nextInt(78).toLong)
        s"SELECT count(*) AS n, sum(o_totalprice) AS s FROM $T " +
          s"WHERE date_trunc('MONTH', o_orderdate) = TIMESTAMP '$m 00:00:00'"
      }
  }

  private val seen = mutable.HashSet.empty[String]

  /** Run one query through the catalog, recording plan and execution time
    * per class and whether a view served it. Returns the result rows. */
  def serve(ctx: Ctx, cls: String, sql: String): Array[Row] = {
    val rec = ctx.rec
    rec.add("serve.queries", 1)
    if (!seen.synchronized(seen.add(sql))) rec.add("serve.repeats", 1)
    val (df, planMs) = rec.timed("serve", s"$cls.plan") {
      val d = ctx.spark.sql(sql)
      d.queryExecution.executedPlan
      d
    }
    val (rows, execMs) = rec.timed("serve", s"$cls.exec")(df.collect())
    rec.sample(s"serve.$cls.plan_ms", planMs)
    rec.sample(s"serve.$cls.exec_ms", execMs)
    rec.add("serve.rows_returned", rows.length.toDouble)
    if (cls == "agg" || cls == "join") {
      rec.add("serve.eligible", 1)
      if (AggViewRewrite.served(df, "/agg/") || AggViewRewrite.served(df, "/join/"))
        rec.add("serve.view_served", 1)
    }
    rows
  }

  def repeatShare(ctx: Ctx): Double = {
    val q = ctx.rec.get("serve.queries").map(_.asInstanceOf[Double]).getOrElse(0.0)
    val rep = ctx.rec.get("serve.repeats").map(_.asInstanceOf[Double]).getOrElse(0.0)
    if (q > 0) rep / q else 0.0
  }

  /** The same question as [[text]], asked of plain snapshot frames with no
    * catalog and no rewrite in the way. */
  private def plain(cls: String, sql: String): DataFrame = {
    val o = orders.readSnapshot()
    val num = "-?\\d+".r
    def lastNum = num.findAllIn(sql).toSeq.last.toLong
    cls match {
      case "agg" => o.filter(col("o_shippriority") === lastNum)
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
      case "join" => o.filter(col("o_shippriority") === lastNum)
        .join(customer.readSnapshot(), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
      case "point" if sql.startsWith("SELECT *") => o.filter(col("o_orderkey") === lastNum)
      case "point" => o.filter(col("o_custkey") === lastNum).select("o_orderkey", "o_totalprice")
      case _ if sql.contains("LIMIT") =>
        o.orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(lastNum.toInt)
          .select("o_orderkey", "o_totalprice")
      case _ =>
        val ts = "TIMESTAMP '([^']+)'".r.findFirstMatchIn(sql).get.group(1)
        o.filter(date_trunc("MONTH", col("o_orderdate")) === lit(ts).cast("timestamp"))
          .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
    }
  }

  /** Every class's answer equals the same SQL with the rewrite kill
    * switches off, and a plain DataFrame over `readSnapshot()` at the same
    * version. `served` holds answers the timed phase got, by class, on a
    * table that has not changed since; a class without one is asked now.
    * Runs outside the timed phase. */
  def checkRoutes(ctx: Ctx, label: String, r: SplittableRandom,
      served: Map[String, (String, Array[Row])] = Map.empty): Unit = {
    def text(rs: Array[Row]) = rs.map(_.toSeq.mkString("|")).sorted.toSeq
    val asked = Seq("agg", "join", "point", "other").map { cls =>
      val (sql, answer) = served.getOrElse(cls, {
        val q = variant(cls, r.nextBoolean(), r)
        (q, ctx.spark.sql(q).collect())
      })
      (cls, sql, text(answer))
    }
    // the switches are session-wide, so every class is asked with them off
    // at once; the plain frames bypass the catalog and run alongside
    Dashboard.KillSwitches.foreach(ctx.spark.conf.set(_, "false"))
    val answers = try Par.map(asked) { case (cls, sql, _) =>
        (text(ctx.spark.sql(sql).collect()), text(plain(cls, sql).collect()))
      } finally Dashboard.KillSwitches.foreach(ctx.spark.conf.unset)
    asked.zip(answers).foreach { case ((cls, sql, on), (off, base)) =>
      ctx.check(s"$label.$cls.route_off", on == off, s"$sql\n on=$on\n off=$off")
      ctx.check(s"$label.$cls.snapshot", on == base, s"$sql\n on=$on\n plain=$base")
    }
  }
}

object Dashboard {
  /** One client's class sequence: every 20 draws hold each class in
    * proportion to its share, in a seeded order, so a run's mix does not
    * vary with the seed. */
  final class Deck(shares: Seq[(String, Int)], r: SplittableRandom) {
    private val slots = shares.flatMap { case (c, s) => Seq.fill(s / 5)(c) }.toArray
    private var i = slots.length
    def next(): String = {
      if (i == slots.length) {
        for (j <- slots.indices.reverse) {
          val k = r.nextInt(j + 1)
          val t = slots(j); slots(j) = slots(k); slots(k) = t
        }
        i = 0
      }
      i += 1
      slots(i - 1)
    }
  }

  /** Every serve route's switch: with these off, catalog SQL is a plain
    * scan of the snapshot. */
  val KillSwitches = Seq("spark.graft.agg.rewrite", "spark.graft.agg.metadata.hybrid",
    "spark.graft.agg.metadata.ndv", "spark.graft.topk.metadata",
    "spark.graft.filter.monotoneRewrite", "spark.graft.ann.rewrite")
}
