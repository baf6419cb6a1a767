package lakebench

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, to_timestamp}
import org.apache.spark.sql.types.StringType

import graft.lake.{Expect, Orchestrate, Promote, TxLog, Writer, Zones}

/** The paper's pipeline over more curated tables than the engine caches
  * checkpoints for: each item stages a nested PO-status batch (`ingest`),
  * promotes it into its table as one ACID commit (`promote`) and reads
  * the curated table back as a reader would (`curated_read`), two
  * clients fanned out through `Orchestrate.mapBounded`, tables visited in
  * a fixed cycle.
  */
final class PromoteFanout(spark: SparkSession, seed: Long, cpus: Int)
    extends Workload(spark, seed, cpus) {
  val name = "promote_fanout"
  override val clients = 2
  val writes = Seq("ingest", "promote")
  val reads = Seq("curated_read")
  val tracedCycles = 8
  val Tables = 40
  val BatchRows = 300
  private val asOf = to_timestamp(lit("2026-08-15 00:00:00"))
  private val gate = Seq(Expect.Expectation("ponumber_present",
    col("ponumber") =!= ""))

  private var zones = Zones("")
  private val rowsIn = new Array[Long](Tables)
  private val evolved = new Array[Boolean](Tables)
  private var cursor = 0
  private var batch = 0L
  private var templateRows = 0L
  @volatile private var committed = 0L

  private def table(i: Int): String = f"po_$i%02d"
  private val Template = "po_template"

  private def promoteBatch(rec: Recorder, t: String, b: Long,
                           evolve: Boolean): Long = {
    val rows = Gen.poBatch(seed, b, BatchRows, evolve)
    val df = spark.createDataFrame(rows.asJava, Gen.poSchema(evolve))
    val payload = rows.mkString("\n")
    rec.op("ingest") {
      Writer.truncateStaging(spark, zones, t)
      Promote.ingest(spark, zones, t, payload, df, "2026", "08")
    }
    val res = rec.op("promote") {
      Promote.promote(spark, zones, t, asOf = asOf, acid = true,
        expectations = gate)
    }
    val n = res.map(_.rows).getOrElse(-1L)
    rec.check("promote_rows", n == BatchRows, s"$t batch $b: $n rows")
    n
  }

  /** Read table `i` back: its row count must be every row promoted into
    * it, its columns the all-string flattened names, plus `shipdate`
    * once an evolving batch landed.
    */
  private def curatedRead(rec: Recorder, i: Int, rows: Long,
                          evolved: Boolean): Unit = {
    val (schema, n) = rec.op("curated_read") {
      val df = TxLog.readLatest(spark, zones.curated(table(i)))
      (df.schema, df.count())
    }
    val want = (Gen.PoCurated ++ (if (evolved) Seq("shipdate") else Nil)).toSet
    rec.check("promote_columns", schema.fieldNames.toSet == want &&
      schema.forall(_.dataType == StringType),
      s"${table(i)}: ${schema.simpleString}")
    rec.check("promote_count", n == rows, s"${table(i)}: $n vs $rows")
  }

  def setup(dir: String, rec: Recorder): Unit = {
    zones = Zones(s"$dir/lake")
    cursor = 0; batch = 0; committed = 0
    java.util.Arrays.fill(evolved, false)
    templateRows = promoteBatch(rec, Template, -1, evolve = false)
    TxLog.checkpoint(spark, zones.curated(Template))
    // every table starts as a copy of the checkpointed template, so each
    // one resolves through its own checkpoint
    val src = new java.io.File(zones.curated(Template)).toPath
    (0 until Tables).foreach { i =>
      copyTree(src, new java.io.File(zones.curated(table(i))).toPath)
      rowsIn(i) = templateRows
    }
  }

  private def copyTree(src: JPath, dst: JPath): Unit = {
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    } finally walk.close()
  }

  def cycle(rec: Recorder): Unit = run(rec, _ < 1)

  /** One item is one table's ingest + promote; two clients take items in
    * table order while `more(itemsSoFar)` holds. An item's batch follows
    * from its position alone, so a seed gives the same batches, in the
    * same tables, in every run.
    */
  override def run(rec: Recorder, more: Int => Boolean): Int = {
    var done = 0
    var going = true
    while (going) {
      val items = (0 until Tables).map(k =>
        ((cursor + k) % Tables, batch + k + 1, done + k))
      val res = Orchestrate.mapBounded(items, clients,
        Orchestrate.RetryPolicy(maxAttempts = 1)) { case (t, b, i) =>
        if (!more(i) || rec.failed.get >= 3) false
        else {
          // one batch in each run of four adds a field, which one is
          // seeded: every timed window holds the same share of
          // schema-evolving commits
          val evolve = Gen.below(seed, b / 4, 70, 4) == b % 4
          val n = promoteBatch(rec, table(t), b, evolve)
          val (rows, ev) = synchronized {
            rowsIn(t) += n; committed += n
            if (evolve) evolved(t) = true
            (rowsIn(t), evolved(t))
          }
          curatedRead(rec, t, rows, ev)
          true
        }
      }
      val ran = res.count(_.getOrElse(true))
      done += ran
      batch += ran
      cursor = (cursor + ran) % Tables
      going = ran == Tables
    }
    done
  }

  override val layoutCycles = 2
  val warmCycles = 2

  /** Every item's read checks its table (see [[curatedRead]]). */
  def finalChecks(rec: Recorder): Unit = ()

  def roots: Seq[String] =
    (Template +: (0 until Tables).map(table)).map(zones.curated)
  def rowsCommitted: Long = committed
  def liveRows: Long = rowsIn.sum + templateRows
}
