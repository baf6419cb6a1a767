package lakebench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.lake.TxLog

/** A closed-loop workload: set-up builds fresh state under a directory,
  * each cycle runs a fixed sequence of timed operations, and the checks
  * compare the engine's outputs with answers the benchmark computed
  * itself, outside every timer.
  */
abstract class Workload(val spark: SparkSession, val seed: Long,
                        val cpus: Int) {
  def name: String
  def clients: Int = 1
  /** Operation types that commit, and those that only read: each group's
    * median latencies are gated apart, so a write gain that costs reads
    * shows.
    */
  def writes: Seq[String]
  def reads: Seq[String]
  final def ops: Seq[String] = writes ++ reads
  /** Cycles the traced run attributes (a fixed count, so counts repeat). */
  def tracedCycles: Int

  /** Build fresh state under `dir`, forgetting any earlier set-up. */
  def setup(dir: String, rec: Recorder): Unit

  /** One cycle of the fixed operation sequence. */
  def cycle(rec: Recorder): Unit

  /** Run cycles while `more(cyclesDone)` holds; returns cycles run. A
    * failed cycle is counted by the recorder and the loop goes on, up to
    * a few failures.
    */
  def run(rec: Recorder, more: Int => Boolean): Int = {
    var i = 0
    while (more(i) && rec.failed.get < 3) {
      try cycle(rec)
      catch { case NonFatal(_) => () }
      i += 1
    }
    i
  }

  /** Cycles run on a fresh set-up before `stored_bytes_per_row` is taken:
    * a fixed amount of work, so the figure does not depend on how many
    * cycles the timed window fits.
    */
  def layoutCycles: Int = 1

  /** Untimed cycles after the layout cycles: op latencies keep falling
    * while the JVM and Spark compile the operations' code paths. A fixed
    * count, not a time, so that checkpoint cadence and every seeded
    * parameter fall on the same cycles of the timed phase in every run.
    */
  def warmCycles: Int

  /** Output checks over the final state (the per-op checks run inline). */
  def finalChecks(rec: Recorder): Unit

  /** Table roots the workload writes (index tables included). */
  def roots: Seq[String]

  /** Rows committed by the cycles run since set-up. */
  def rowsCommitted: Long

  /** Live rows over the workload's data tables. */
  def liveRows: Long

  /** Extra end-to-end figures (name -> (value, unit, samples)). */
  def extras: Seq[(String, Double, String, Int)] = Nil

  /** Read-path layer figures (name, value, unit) from public calls, made
    * outside timers.
    */
  def skipLayer(): Seq[(String, Double, String)] = Seq(
    ("skip.point_files_kept_ratio", 0.0, "ratio"),
    ("skip.range_bytes_kept_ratio", 0.0, "ratio"))

  // ------------------------------------------------------------ helpers

  /** Bytes on disk under every root: data, log, checkpoints, sidecars. */
  def storedBytes: Long = roots.map(r => du(new File(r))).sum

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
    else if (f.isFile) f.length else 0L

  def versions: Map[String, Long] = roots.map(r =>
    r -> TxLog.latestVersion(spark, r).getOrElse(-1L)).toMap
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long,
            cpus: Int): Workload = name match {
    case "promote_fanout" => new PromoteFanout(spark, seed, cpus)
    case "acid_churn" => new AcidChurn(spark, seed, cpus)
    case "index_refresh" => new IndexRefresh(spark, seed, cpus)
    case other => throw new IllegalArgumentException(s"no workload $other")
  }
}
