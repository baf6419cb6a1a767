package lakebench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of (seed, id,
  * salt), so executors generate rows in parallel and the driver recomputes
  * any row to build the expected answers.
  */
object Gen {
  def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, id: Long, salt: Long): Long =
    mix64(mix64(seed * 0x2545F4914F6CDD1DL + salt) ^ id)

  def below(seed: Long, id: Long, salt: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(h(seed, id, salt), n)

  def unit(seed: Long, id: Long, salt: Long): Double =
    (h(seed, id, salt) >>> 11) * (1.0 / (1L << 53))

  def gauss(seed: Long, id: Long, salt: Long): Double = {
    val u1 = math.max(unit(seed, id, salt), 1e-12)
    val u2 = unit(seed, id, salt + 7777)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  // ---------------------------------------------------------------- lines

  /** Lineitem-shaped rows keyed by a unique `rk`. `ver` > 0 is an upsert
    * of the same key (only `l_quantity` changes).
    */
  val LineSchema: StructType = StructType(Seq(
    StructField("rk", LongType), StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  private val Day = 86400000L
  private val Epoch1992 = 694224000000L

  def partKey(seed: Long, rk: Long, parts: Long): Long =
    1 + below(seed, rk, 1, parts)

  def quantity(seed: Long, rk: Long, ver: Long): Double =
    (1 + below(seed, rk, 2 + 100 * ver, 50)).toDouble

  def returnFlag(seed: Long, rk: Long): String =
    "ANR".charAt(below(seed, rk, 3, 3).toInt).toString

  def lineStatus(seed: Long, rk: Long): String =
    "OF".charAt(below(seed, rk, 4, 2).toInt).toString

  def lineRow(seed: Long, rk: Long, ver: Long, parts: Long): Row = {
    val qty = quantity(seed, rk, ver)
    Row(rk, rk / 4 + 1, partKey(seed, rk, parts), 1 + below(seed, rk, 5, 1000),
      (rk % 4 + 1).toInt, qty, qty * (900 + below(seed, rk, 6, 100000) / 100.0),
      below(seed, rk, 7, 11) / 100.0, below(seed, rk, 8, 9) / 100.0,
      returnFlag(seed, rk), lineStatus(seed, rk),
      new Timestamp(Epoch1992 + below(seed, rk, 9, 2500) * Day))
  }

  /** Rows for `keys` (all at version `ver`), generated on the executors. */
  def lines(spark: SparkSession, seed: Long, keys: Seq[Long], ver: Long,
            parts: Long, slices: Int): DataFrame = {
    val rdd = spark.sparkContext.parallelize(keys, slices)
      .map(rk => lineRow(seed, rk, ver, parts))
    spark.createDataFrame(rdd, LineSchema)
  }

  /** Keys [0, n) — ranges are generated per slice, not shipped. */
  def lineRange(spark: SparkSession, seed: Long, n: Long, parts: Long,
                slices: Int): DataFrame = {
    val rdd = spark.sparkContext.range(0, n, 1, slices)
      .map(rk => lineRow(seed, rk, 0, parts))
    spark.createDataFrame(rdd, LineSchema)
  }

  /** Order-independent per-row checksum term over (rk, partkey, qty);
    * summed over a result it identifies the row multiset.
    */
  def rowSum(rk: Long, partkey: Long, qty: Double): Long =
    mix64(rk * 1000003L ^ partkey * 7919L ^ qty.toLong * 131L) &
      ((1L << 40) - 1)

  // ---------------------------------------------------------------- POs

  val PoItem: StructType = StructType(Seq(
    StructField("SKU", StringType), StructField("Qty", LongType)))

  def poSchema(evolved: Boolean): StructType = StructType(Seq(
    StructField("PONumber", StringType),
    StructField("CustomerNumber", StringType),
    StructField("OrderStatus", StructType(Seq(
      StructField("Code", StringType),
      StructField("Detail", StructType(Seq(
        StructField("Carrier", StringType),
        StructField("Tracking", StringType))))))),
    StructField("Items", ArrayType(PoItem)),
    StructField("processed_year", StringType),
    StructField("processed_month", StringType)) ++
    (if (evolved) Seq(StructField("ShipDate", StringType)) else Nil))

  /** Curated column names after the normalize pipeline (FIXTURES.md §B). */
  val PoCurated: Seq[String] = Seq("ponumber", "customernumber",
    "orderstatus_code", "orderstatus_detail_carrier",
    "orderstatus_detail_tracking", "items", "processed_at",
    "processed_year", "processed_month")

  private val Codes = Array("OPEN", "SHIPPED", "INVOICED", "BACKORDER")
  private val Carriers = Array("UPS", "FEDEX", "DHL")

  /** One nested PO-status batch of `rows` records; `batch` salts it. */
  def poBatch(seed: Long, batch: Long, rows: Int, evolved: Boolean): Seq[Row] =
    (0 until rows).map { i =>
      val id = batch * 1000003L + i
      val items = (0 to below(seed, id, 11, 3).toInt).map(j =>
        Row(s"SKU-${below(seed, id, 12 + j, 5000)}",
          1 + below(seed, id, 20 + j, 9)))
      val base = Seq(f"PO-$batch%06d-$i%05d",
        f"CUST-${below(seed, id, 13, 400)}%03d",
        Row(Codes(below(seed, id, 14, 4).toInt),
          Row(Carriers(below(seed, id, 15, 3).toInt),
            f"1Z${h(seed, id, 16) & 0xFFFFFFFFL}%010d")),
        items, "2026", "08")
      Row.fromSeq(if (evolved) base :+
        f"2026-08-${1 + below(seed, id, 17, 28)}%02d" else base)
    }

  // ---------------------------------------------------------------- docs

  val Vocab = 3000
  val DocWords = 40

  def baseWords(seed: Long, doc: Long): Array[Int] =
    Array.tabulate(DocWords)(j => below(seed, doc * 64 + j, 30, Vocab).toInt)

  /** A near-duplicate of `base`'s words: two positions replaced. */
  def variantWords(seed: Long, base: Array[Int], doc: Long): Array[Int] = {
    val w = base.clone()
    val p1 = below(seed, doc, 31, DocWords / 2).toInt
    val p2 = DocWords / 2 + below(seed, doc, 32, DocWords / 2).toInt
    w(p1) = Vocab + below(seed, doc, 33, 1000).toInt
    w(p2) = Vocab + below(seed, doc, 34, 1000).toInt
    w
  }

  def text(words: Array[Int]): String = words.map(w => s"w$w").mkString(" ")

  /** Exact word-trigram Jaccard (tokens are single-space splits). */
  def jaccard(a: String, b: String): Double = {
    def grams(s: String): Set[String] = {
      val t = s.split(" ", -1)
      if (t.length < 3) Set.empty
      else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}")
        .toSet
    }
    val ga = grams(a)
    val gb = grams(b)
    if (ga.isEmpty && gb.isEmpty) 0.0
    else (ga & gb).size.toDouble / (ga | gb).size
  }

  // ---------------------------------------------------------------- vectors

  val Dim = 64
  val Clusters = 16

  /** A 64-d point of a 16-component Gaussian mixture. */
  def vector(seed: Long, id: Long): Array[Float] = {
    val c = below(seed, id, 40, Clusters)
    Array.tabulate(Dim)(d => (gauss(seed, c * Dim + d, 41) +
      0.35 * gauss(seed, id * Dim + d, 42)).toFloat)
  }
}
