package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.CdcApply

/** Seeded input generators. Every row is a pure function of (seed, row id),
  * so a change stream can be regenerated for the correctness check from
  * its id range alone. Shapes follow TPC-H `orders` / `customer`. */
object Gen {
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses = Seq("F", "O", "P")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  /** Distinct `o_shippriority` values: the dashboard draws its parameters
    * from these, so query texts rarely repeat. */
  val ShipPriorities = 100
  val PriceType = DecimalType(15, 2)

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", PriceType),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_shippriority", IntegerType), StructField("o_comment", StringType)))

  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64((cs :+ lit(seed) :+ lit(salt)): _*)
  private def pick(xs: Seq[String], i: Column): Column =
    element_at(array(xs.map(lit): _*), (i + 1).cast("int"))

  /** The payload of an orders row for key `k`; `version` varies the image. */
  def orderImage(seed: Long, k: Column, version: Column, nCust: Long): Seq[Column] = {
    def u(salt: Int, m: Long) = pmod(h(seed, salt, k, version), lit(m))
    Seq(k.as("o_orderkey"), (u(1, nCust) + 1).as("o_custkey"),
      pick(Statuses, u(2, 3)).as("o_orderstatus"),
      (u(3, 50000000L) / 100 + 900).cast(PriceType).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), u(4, 2405).cast("int")).as("o_orderdate"),
      pick(Priorities, u(5, 5)).as("o_orderpriority"),
      u(6, ShipPriorities).cast("int").as("o_shippriority"),
      concat(lit("order "), u(7, 1000000L).cast("string"), lit(" of clerk "),
        u(8, 1000L).cast("string"), lit(" carefully packed")).as("o_comment"))
  }

  def orders(spark: SparkSession, seed: Long, n: Long, nCust: Long, parts: Int): DataFrame =
    spark.range(1, n + 1, 1, parts).select(orderImage(seed, col("id"), lit(0L), nCust): _*)

  def customers(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    val k = col("id")
    def u(salt: Int, m: Long) = pmod(h(seed, 100 + salt, k), lit(m))
    spark.range(1, n + 1, 1, parts).select(k.as("c_custkey"),
      concat(lit("Customer#"), k.cast("string")).as("c_name"),
      pick(Segments, u(1, 5)).as("c_mktsegment"),
      u(2, 25).cast("int").as("c_nationkey"),
      (u(3, 1100000L) / 100 - 999).cast(PriceType).as("c_acctbal"))
  }

  /** Change records with global ids in [lo, hi): `op`/`seq` columns after
    * the orders payload, `seq` = the change id (a total order across
    * batches). `key(id, u)` picks each change's key from the id and a
    * uniform draw u in [0, 100); `op(u)` picks INSERT / MODIFY / REMOVE. */
  def changes(spark: SparkSession, seed: Long, lo: Long, hi: Long, nCust: Long,
      key: (Column, Column) => Column, op: Column => Column): DataFrame = {
    val id = col("id")
    val u = pmod(h(seed, 50, id), lit(100L))
    spark.range(lo, hi, 1, 1)
      .select(id, u.as("_u"))
      .select(key(id, col("_u")).as("_k"), op(col("_u")).as("op"), id.as("seq"))
      .select((orderImage(seed, col("_k"), col("seq") + 1, nCust) ++
        Seq(col("seq"), col("op"))): _*)
  }

  /** `df` collected into a local relation: a micro-batch as a source hands
    * it over, already in memory. */
  def local(spark: SparkSession, df: DataFrame): DataFrame =
    spark.createDataFrame(df.collectAsList(), df.schema)

  /** Uniform key in [1, n] for change id `id`. */
  def uniformKey(seed: Long, id: Column, n: Long): Column =
    pmod(h(seed, 51, id), lit(n)) + 1

  def opMix(insertPct: Int, removePct: Int)(u: Column): Column =
    when(u < insertPct, lit(CdcApply.OpInsert))
      .when(u < insertPct + removePct, lit(CdcApply.OpRemove))
      .otherwise(lit(CdcApply.OpModify))

  /** Order-insensitive digest of a frame: row count plus the exact sum of
    * a 64-bit row hash over every column in name order. */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(c => col(c).cast("string"))
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast(DecimalType(38, 0))))
      .collect().head
    (r.getLong(0), r.getDecimal(1))
  }
}
