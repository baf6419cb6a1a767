package lakebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.lake.{CommitStore, FsCommitStore}

/** A timed interval: an operation (kind "op") or one of its children — a
  * Spark job ("job") or a commit-store call ("claim", "read", "list").
  * Times are epoch milliseconds; `parent` is 0 for an operation.
  */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

object Span {
  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double,
              hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo),
      math.min(b, hi)) }.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover.
    */
  def selfMs(span: Span, children: Seq[Span]): Double =
    span.ms - covered(children.map(c => (c.startMs, c.endMs)), span.startMs,
      span.endMs)
}

/** Epoch-millisecond clock with sub-millisecond resolution, anchored once
  * so that operation spans (nanoTime) and Spark's event times
  * (currentTimeMillis) share one axis.
  */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** One Spark job as the listener saw it. `callsite` is the short form
  * (`<action> at File.scala:N`), `stack` the long form: both from the SQL
  * execution that ran the job when there is one, since Spark submits
  * adaptive query stages from its own thread pool.
  */
final class JobRec(val jobId: Int, val span: Long, val startMs: Long,
                   val callsite: String, val stack: String) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
}

/** Records every Spark job with the span id of the operation that ran it
  * (the `SpanKey` local property set on the calling thread) and folds
  * task metrics into the job that owns the stage.
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val executions = new ConcurrentHashMap[Long, (String, String)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(x.executionId, (x.description, x.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p =>
      Option(p.getProperty(k)))
    val span = prop(Trace.SpanKey).map(_.toLong).getOrElse(0L)
    val stage = if (e.stageInfos.isEmpty) ("", "") else {
      val last = e.stageInfos.maxBy(_.stageId)
      (last.name, last.details)
    }
    val (callsite, stack) = prop("spark.sql.execution.id")
      .flatMap(id => Option(executions.get(id.toLong))).getOrElse(stage)
    val rec = new JobRec(e.jobId, span, e.time, callsite, stack)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val rec = if (stageJob.containsKey(e.stageId))
      jobs.get(stageJob.get(e.stageId)) else null
    if (rec != null && e.taskMetrics != null) rec.synchronized {
      val m = e.taskMetrics
      rec.tasks += 1
      rec.taskMs += m.executorRunTime
      rec.inputBytes += m.inputMetrics.bytesRead
      rec.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
    }
  }
}

/** A commit store that delegates to [[FsCommitStore]] and records one
  * child span per call, tied to the operation running on the calling
  * thread. Installed per table root with [[CommitStore.install]].
  */
final class CountingStore(trace: Trace) extends CommitStore {
  val lostClaims = new AtomicLong()

  private def timed[A](kind: String, p: Path)(body: => A): A = {
    val t0 = Clock.nowMs
    try body
    finally trace.child(kind, p.getName, t0, Clock.nowMs)
  }

  override def claim(fs: FileSystem, p: Path, bytes: Array[Byte]): Boolean =
    timed("claim", p) {
      val won = FsCommitStore.claim(fs, p, bytes)
      if (!won) lostClaims.incrementAndGet()
      won
    }

  override def read(fs: FileSystem, p: Path): Array[Byte] =
    timed("read", p)(FsCommitStore.read(fs, p))

  override def list(fs: FileSystem, dir: Path): Seq[Path] =
    timed("list", dir)(FsCommitStore.list(fs, dir))
}

/** Local IO so far: bytes from Hadoop's `FileSystem` statistics for
  * scheme `file`, operation counts from [[CountingLocalFs]] (Hadoop counts
  * no operations for the local filesystem). Driver and local executors
  * share the JVM, so these cover the whole run.
  */
final case class FsStats(bytesRead: Long, bytesWritten: Long, readOps: Long,
                         writeOps: Long) {
  def -(o: FsStats): FsStats = FsStats(bytesRead - o.bytesRead,
    bytesWritten - o.bytesWritten, readOps - o.readOps, writeOps - o.writeOps)
}

object FsStats {
  def now(): FsStats = {
    val st = Option(FileSystem.getGlobalStorageStatistics.get("file"))
    def bytes(key: String): Long =
      st.flatMap(s => Option(s.getLong(key))).map(_.longValue).getOrElse(0L)
    FsStats(bytes("bytesRead"), bytes("bytesWritten"),
      CountingLocalFs.reads.get, CountingLocalFs.writes.get)
  }
}

/** In-memory span recorder. Operations open spans on their own thread
  * (setting [[Trace.SpanKey]] so Spark tags the jobs they start); the
  * listener and the counting store supply the children.
  */
final class Trace(sc: SparkContext) {
  private val nextId = new AtomicLong(1)
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val storeCalls =
    new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  val listener = new JobListener
  val store = new CountingStore(this)
  @volatile private var on = false

  def enabled: Boolean = on

  def start(): Unit = { sc.addSparkListener(listener); on = true }

  def stop(): Unit = {
    on = false
    org.apache.spark.LakebenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def newId(): Long = nextId.getAndIncrement()

  /** Tag the calling thread's Spark jobs with `id` (0 clears). */
  def bind(id: Long): Unit =
    sc.setLocalProperty(Trace.SpanKey, if (id == 0) null else id.toString)

  def recordOp(s: Span): Unit = if (on) ops.add(s)

  def child(kind: String, name: String, t0: Double, t1: Double): Unit = {
    val parent = Option(sc.getLocalProperty(Trace.SpanKey)).map(_.toLong)
      .getOrElse(0L)
    storeCalls.add(Span(newId(), parent, kind, name, t0, t1))
  }

  def opSpans: Seq[Span] = ops.asScala.toSeq.sortBy(_.startMs)
  def storeSpans: Seq[Span] = storeCalls.asScala.toSeq

  /** Job spans, each tied to its operation: by the span property, or —
    * for jobs started on threads the property did not reach — by time,
    * when exactly one operation was open over the whole job.
    */
  def jobSpans(): Seq[(Span, JobRec)] = {
    org.apache.spark.LakebenchBus.drain(sc)
    val opsSeq = opSpans
    listener.jobs.values.asScala.toSeq.filter(_.endMs >= 0)
      .sortBy(_.jobId).map { j =>
        val parent =
          if (j.span != 0) j.span
          else opsSeq.filter(o => o.startMs <= j.startMs + 1 &&
            o.endMs >= j.endMs - 1) match {
            case Seq(only) => only.id
            case _ => 0L
          }
        (Span(Trace.JobIdBase + j.jobId, parent, "job", j.callsite,
          j.startMs.toDouble,
          j.endMs.toDouble), j)
      }
  }

}

object Trace {
  val SpanKey = "lakebench.span"
  /** Job spans take ids above every op and store-call span. */
  val JobIdBase = 1000000000L
}

/** The local filesystem with call counters: installed as `fs.file.impl`
  * for traced runs, it counts the file opens and listings (reads) and the
  * creates, deletes, renames and mkdirs (writes) of every layer, driver
  * and local executors alike.
  */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import CountingLocalFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet(); super.listStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  val reads = new AtomicLong()
  val writes = new AtomicLong()
}
