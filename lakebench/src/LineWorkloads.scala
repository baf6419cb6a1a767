package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.TxLog

/** A lineitem-shaped TxLog table keyed by a unique `rk`, committed as
  * `files` files clustered on `rk` with stats on it, a bloom index on
  * `l_partkey` and a checkpoint — plus a driver-side replay of its live
  * rows that every read is checked against.
  */
final class LineTable(spark: SparkSession, seed: Long, cpus: Int,
                      val rows: Long, val files: Int) {
  val parts: Long = math.max(1L, rows / 25)
  var root = ""
  // live rows: rk -> quantity (every other column is a pure function of rk)
  val live = new mutable.LongMap[Double]()
  val byPart = new mutable.LongMap[mutable.Set[Long]]()
  var nextKey = 0L
  private var ver = 0L

  def setup(dir: String): Unit = {
    root = s"$dir/lines"
    live.clear(); byPart.clear()
    TxLog.append(spark,
      Gen.lineRange(spark, seed, rows, parts, cpus)
        .repartitionByRange(files, col("rk")),
      root, statsCols = Seq("rk"))
    TxLog.buildBloomIndex(spark, root, "l_partkey",
      expectedKeysPerFile = math.max(1L, rows / files))
    TxLog.checkpoint(spark, root)
    (0L until rows).foreach(rk => put(rk, Gen.quantity(seed, rk, 0)))
    nextKey = rows
  }

  private def put(rk: Long, qty: Double): Unit = {
    if (!live.contains(rk))
      byPart.getOrElseUpdate(Gen.partKey(seed, rk, parts),
        mutable.Set.empty[Long]) += rk
    live(rk) = qty
  }

  private def remove(rk: Long): Unit = if (live.contains(rk)) {
    live -= rk
    byPart.get(Gen.partKey(seed, rk, parts)).foreach(_ -= rk)
  }

  // ------------------------------------------------------------ reads

  /** Seeded read parameters for read `r`: a part key (a fixed fifth of
    * them absent from the table), a key range, a quantity bound.
    */
  def pointKey(r: Long): Long =
    if (r % 5 == 4) parts + 1 + Gen.below(seed, r, 50, 1000)
    else 1 + Gen.below(seed, r, 51, parts)

  val rangeWidth = 1000L

  /** Start of a `width`-key range inside one of the set-up's files (the
    * files split the keys [0, rows) into equal ranges), so that every
    * range read, merge and delete touches about one file.
    */
  def inFile(r: Long, salt: Long, width: Long,
             file: Option[Long] = None): Long = {
    val span = rows / files
    val margin = span / 10
    file.getOrElse(fileOf(r, salt)) * span + margin +
      Gen.below(seed, r, salt + 1, span - width - 2 * margin)
  }

  /** The set-up file `inFile(r, salt, _)` picks. */
  def fileOf(r: Long, salt: Long): Long = Gen.below(seed, r, salt, files)

  def rangeLo(r: Long, file: Option[Long] = None): Long =
    inFile(r, 80, rangeWidth, file)

  def scanBound(r: Long): Double = 5 + Gen.below(seed, r, 53, 40).toDouble

  private def sumOf(rs: Array[Row]): (Long, Long) =
    (rs.length.toLong, rs.map(r => Gen.rowSum(r.getAs[Long]("rk"),
      r.getAs[Long]("l_partkey"), r.getAs[Double]("l_quantity"))).sum)

  private def expect(rks: Iterable[Long]): (Long, Long) = {
    val ks = rks.toSeq
    (ks.size.toLong, ks.map(rk => Gen.rowSum(rk,
      Gen.partKey(seed, rk, parts), live(rk))).sum)
  }

  def pointRead(rec: Recorder, r: Long): Unit = {
    val k = pointKey(r)
    val got = rec.op("point_read") {
      TxLog.readEquals(spark, root, "l_partkey", Seq(k)).collect()
    }
    val want = expect(byPart.get(k).map(_.toSeq).getOrElse(Nil))
    rec.check("point_read", sumOf(got) == want, s"key $k: ${sumOf(got)} vs $want")
  }

  def rangeRead(rec: Recorder, r: Long, file: Option[Long] = None): Unit = {
    val lo = rangeLo(r, file)
    val hi = lo + rangeWidth - 1
    val got = rec.op("range_read") {
      TxLog.readRange(spark, root, "rk", lo.toDouble, hi.toDouble).collect()
    }
    val want = expect((lo to hi).filter(live.contains))
    rec.check("range_read", sumOf(got) == want, s"[$lo, $hi]: ${sumOf(got)} vs $want")
  }

  def scan(rec: Recorder, r: Long): Unit = {
    val q = scanBound(r)
    val got = rec.op("scan") {
      spark.read.format("graft").load(root)
        .filter(col("l_quantity") < q)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)), sum("l_quantity"), min("rk"), max("rk"))
        .collect()
    }.map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5))).toMap
    val want = mutable.Map.empty[(String, String), (Long, Double, Long, Long)]
    live.foreach { case (rk, qty) =>
      if (qty < q) {
        val g = (Gen.returnFlag(seed, rk), Gen.lineStatus(seed, rk))
        val (c, s, lo, hi) = want.getOrElse(g, (0L, 0.0, Long.MaxValue, Long.MinValue))
        want(g) = (c + 1, s + qty, math.min(lo, rk), math.max(hi, rk))
      }
    }
    rec.check("scan", got == want.toMap, s"q<$q: $got vs $want")
  }

  // ------------------------------------------------------------ writes

  def append(rec: Recorder, n: Int): Unit = {
    val keys = nextKey until nextKey + n
    rec.op("append") {
      TxLog.append(spark, Gen.lines(spark, seed, keys, 0, parts, 1), root,
        statsCols = Seq("rk"))
    }
    keys.foreach(rk => put(rk, Gen.quantity(seed, rk, 0)))
    nextKey += n
  }

  /** Upsert the live keys of a seeded contiguous range plus `fresh` new
    * keys, at a new row version.
    */
  def merge(rec: Recorder, r: Long, width: Int, fresh: Int): Int = {
    ver += 1
    val lo = inFile(r, 82, width)
    val keys = (lo until lo + width).filter(live.contains) ++
      (nextKey until nextKey + fresh)
    rec.op("merge") {
      TxLog.merge(spark, Gen.lines(spark, seed, keys, ver, parts, 1), root,
        Seq("rk"), Seq.empty, statsCols = Seq("rk"))
    }
    keys.foreach(rk => put(rk, Gen.quantity(seed, rk, ver)))
    nextKey += fresh
    keys.size
  }

  def delete(rec: Recorder, r: Long, width: Int): Unit = {
    val lo = inFile(r, 84, width)
    val hi = lo + width - 1
    rec.op("delete") {
      TxLog.deleteVectored(spark, root, col("rk").between(lo, hi))
    }
    (lo to hi).foreach(remove)
  }

  /** Whole-snapshot check: row count and checksum against the replay. */
  def checkSnapshot(rec: Recorder): Unit = {
    val rowSum = udf((rk: Long, pk: Long, q: Double) => Gen.rowSum(rk, pk, q))
    val r = TxLog.readLatest(spark, root)
      .agg(count(lit(1)), sum(rowSum(col("rk"), col("l_partkey"),
        col("l_quantity"))))
      .head()
    val got = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    val want = expect(live.keys)
    rec.check("snapshot", got == want, s"$got vs $want")
  }

  def skipLayer(): Seq[(String, Double, String)] = {
    val sizes = TxLog.liveSizes(spark, root)
    val k = pointKey(0)
    val lo = rangeLo(1)
    Seq(
      ("skip.point_files_kept_ratio",
        TxLog.bloomScanFileCount(spark, root, "l_partkey", Seq(k)).toDouble /
          sizes.size, "ratio"),
      ("skip.range_bytes_kept_ratio",
        TxLog.plannedScanSizes(spark, root,
          Seq(("rk", lo.toDouble, (lo + rangeWidth - 1).toDouble)), Nil)
          .toDouble / sizes.map(_._2).sum, "ratio"))
  }
}

/** Writes beside reads on one table: append, merge, vector delete, then
  * one read of each kind, every cycle.
  */
final class AcidChurn(spark: SparkSession, seed: Long, cpus: Int)
    extends Workload(spark, seed, cpus) {
  val name = "acid_churn"
  val writes = Seq("append", "merge", "delete")
  val reads = Seq("point_read", "range_read", "scan")
  val tracedCycles = 2
  val warmCycles = 0
  val table = new LineTable(spark, seed, cpus, rows = 40000, files = 8)
  private var cycles = 0L
  private var committed = 0L
  val AppendRows = 300
  val MergeWidth = 400
  val MergeFresh = 100
  val DeleteWidth = 200

  def setup(dir: String, rec: Recorder): Unit = {
    table.setup(dir); cycles = 0; committed = 0
  }

  def cycle(rec: Recorder): Unit = {
    val c = cycles
    cycles += 1
    table.append(rec, AppendRows)
    committed += AppendRows
    committed += table.merge(rec, c, MergeWidth, MergeFresh)
    table.delete(rec, c, DeleteWidth)
    table.pointRead(rec, 1000 + c)
    // inside the file this cycle's delete vectored: whether a range read
    // pays for a deletion vector would otherwise depend on the seed
    table.rangeRead(rec, 1000 + c, Some(table.fileOf(c, 84)))
    table.scan(rec, 1000 + c)
  }

  def finalChecks(rec: Recorder): Unit = table.checkSnapshot(rec)
  def roots: Seq[String] = Seq(table.root)
  def rowsCommitted: Long = committed
  def liveRows: Long = table.live.size.toLong
  override def skipLayer(): Seq[(String, Double, String)] = table.skipLayer()
}
