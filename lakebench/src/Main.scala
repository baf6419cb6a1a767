package lakebench

import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.lake.{CommitStore, TxLog}

/** Entry point: runs one workload and prints its metrics.
  *
  * Both kinds of run first set up three times and warm up (see
  * `Run.prelude`). `--trace 0` then runs cycles for `--seconds`, checks
  * the outputs and prints the end-to-end metrics. `--trace 1` runs a fixed
  * number of traced cycles (so counts repeat exactly for a seed), then
  * alternates untraced and traced cycles until `--seconds` have passed, to
  * measure the tracing overhead, and prints the per-layer metrics.
  */
object Main {
  val AllOps = Seq("ingest", "promote", "curated_read", "append", "merge",
    "delete", "point_read", "range_read", "scan", "dedup_update",
    "ann_refresh", "ann_search")
  val Callsites = Seq("TxLog", "Writer", "Promote", "GraftDataSource",
    "DedupIndex", "AnnIndex")
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cpus = a("cpus").toInt
    val spark = graft.SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"lakebench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.hadoop.fs.file.impl",
        if (traced) classOf[CountingLocalFs].getName
        else classOf[org.apache.hadoop.fs.LocalFileSystem].getName))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try println(new Run(spark, Workload(workload, spark, seed, cpus), seed,
      seconds, work, a("report")).apply(traced))
    finally spark.stop()
  }
}

object Run {
  def sinceJvmStart: Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

final class Run(spark: SparkSession, w: Workload, seed: Long,
                seconds: Double, work: String, reportPath: String) {
  private val trace = new Trace(spark.sparkContext)
  private val rec = new Recorder(trace)
  private val report = mutable.LinkedHashMap.empty[String, Any]
  private val lines = mutable.ArrayBuffer.empty[String]

  private def now: Double = System.nanoTime() / 1e9

  private def say(s: String): Unit = lines += s

  /** Returns the result line; the report lines go to stdout first. */
  def apply(traced: Boolean): String = {
    report("workload") = w.name
    report("seed") = seed
    report("clients") = w.clients
    val metrics =
      if (traced) tracedRun() else plainRun()
    val attempted = rec.attempted.get
    val failed = rec.failed.get
    say(f"failed_op_ratio ${failed.toDouble / attempted}%.6f " +
      s"(failed $failed of $attempted operations and checks)")
    report("attempted") = attempted
    report("failed") = failed
    writeReport()
    lines.foreach(println)
    Json(ListMap("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> ListMap(metrics.map {
        case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u)
      }: _*)))
  }

  // ------------------------------------------------------------ set-up

  /** Set-up and warm-up, shared by both kinds of run: set up the measured
    * state under `dir`, run its layout cycles (after which stored bytes per
    * row are taken) and warm-up cycles, then set up twice more from
    * scratch, each into a directory of its own. The first set-up also pays
    * the JVM's warm-up; the later ones run in a warmer JVM, so the median
    * of the three is a warm set-up, and they warm the JVM further before
    * the timed cycles. Returns the set-up times and the stored bytes.
    */
  private def prelude(dir: String): (Seq[Double], Long, Double) = {
    rec.keep = false
    def timed(body: => Unit): Double = { val t0 = now; body; now - t0 }
    val first = timed(w.setup(dir, rec))
    w.run(rec, _ < w.layoutCycles)
    val storedRows = w.liveRows
    val storedPerRow = w.storedBytes.toDouble / storedRows
    w.run(rec, _ < w.warmCycles)
    val later = (1 until Main.Setups).map { k =>
      val d = s"$work/setup$k"
      val t = timed(Workload(w.name, spark, seed, w.cpus).setup(d, rec))
      deleteTree(d)
      t
    }
    (first +: later, storedRows, storedPerRow)
  }

  // ------------------------------------------------------------ trace 0

  private def plainRun(): Seq[(String, Double, String)] = {
    val (setups, storedRows, storedPerRow) = prelude(s"$work/data0")
    val t0 = now
    rec.keep = true
    val rows0 = w.rowsCommitted
    val deadline = t0 + seconds
    val cycles = w.run(rec, i => i < 1 || now < deadline)
    val elapsed = now - t0
    w.finalChecks(rec)
    val rows = w.rowsCommitted - rows0
    say(f"phases: jvm start, set-ups and warm-up " +
      f"${Run.sinceJvmStart - (now - t0)}%.2f s, timed $elapsed%.2f s, " +
      f"checks ${now - t0 - elapsed}%.2f s")
    val samples = rec.all
    val byOp = samples.groupBy(_.op)
    val p50 = w.ops.map(o => o -> Stats.median(byOp.getOrElse(o, Nil).map(_.ms)))
      .toMap
    rec.check("op_samples", w.ops.forall(byOp.contains),
      s"op types without a sample: ${w.ops.filterNot(byOp.contains)}")
    val setupS = Stats.median(setups)
    report("setup_s_samples") = setups
    report("cycles") = cycles
    report("timed_s") = elapsed
    say(f"workload ${w.name}: seed $seed, ${w.clients} client(s), " +
      f"$cycles cycles in $elapsed%.2f s")
    say(f"setup_s ${setupS}%.4f s (n=${setups.size}: " +
      setups.map(x => f"$x%.2f").mkString(", ") + ")")
    opLines(byOp)
    rec.steps.groupBy(_.op).foreach { case (n, s) =>
      say(f"${n}_p50_ms ${Stats.median(s.map(_.ms))}%.2f ms (n=${s.size})")
    }
    if (rows > 0)
      say(f"rows_per_s ${rows / elapsed}%.1f rows/s ($rows rows)")
    say(f"stored_bytes_per_row $storedPerRow%.2f B/row ($storedRows " +
      s"rows, after set-up and ${w.layoutCycles} cycle(s))")
    w.extras.foreach { case (n, v, u, k) => say(f"$n $v%.4f $u (n=$k)") }
    val ops = samples.size
    Seq(("setup_s", setupS, "s"),
      ("write_p50_ms", Stats.geomean(w.writes.map(p50)), "ms"),
      ("read_p50_ms", Stats.geomean(w.reads.map(p50)), "ms"),
      ("ops_per_s", ops / elapsed, "1/s"),
      ("stored_bytes_per_row", storedPerRow, "B/row"))
  }

  /** One line per op type: p50 and, where ten samples lie above it, p90. */
  private def opLines(byOp: Map[String, Seq[Sample]]): Unit =
    w.ops.foreach { o =>
      val ms = byOp.getOrElse(o, Nil).map(_.ms)
      say(f"${o}_p50_ms ${Stats.median(ms)}%.2f ms (n=${ms.size})")
      val p90 = Stats.quantile(ms, 0.9)
      val above = ms.count(_ > p90)
      if (above >= 10) say(f"${o}_p90_ms $p90%.2f ms (n=${ms.size})")
      else say(s"${o}_p90_ms null (only $above of ${ms.size} samples above " +
        "p90; needs 10)")
      report(s"${o}_ms") = ms
    }

  // ------------------------------------------------------------ trace 1

  private def tracedRun(): Seq[(String, Double, String)] = {
    val dir = s"$work/data0"
    // the counting store sees only the measured state's tables, and only
    // while tracing is on
    def tracing(body: => Unit): Unit = {
      CommitStore.install(dir, trace.store)
      trace.start()
      try body
      finally { trace.stop(); CommitStore.uninstall(dir) }
    }
    prelude(dir)
    rec.keep = true
    val v0 = w.versions
    val ck0 = w.roots.map(r => TxLog.checkpointVersions(spark, r).size).sum
    val fs0 = FsStats.now()
    val gc0 = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val rows0 = w.rowsCommitted
    val tA = now
    tracing(w.run(rec, _ < w.tracedCycles))
    val phaseA = now - tA
    val gcA = gcMs() - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val fsA = FsStats.now() - fs0
    val rowsA = w.rowsCommitted - rows0
    val opsA = trace.opSpans
    val jobs = trace.jobSpans()
    val calls = trace.storeSpans
    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, unit: String)(v: Double): Unit = m(name) = (v, unit)

    // per-op Spark attribution: wall = job-covered + driver-only, where a
    // job tied to an op must run inside the op's window
    val jobsOf = jobs.groupBy(_._1.parent).map { case (k, v) => k -> v.map(_._2) }
    val jobSpansOf = jobs.groupBy(_._1.parent).map { case (k, v) => k -> v.map(_._1) }
    val callsOf = calls.groupBy(_.parent)
    var outside = 0
    val perOp = mutable.LinkedHashMap.empty[String, Map[String, Double]]
    Main.AllOps.foreach { o =>
      val spans = opsA.filter(_.name == o)
      val n = spans.size.max(1).toDouble
      val js = spans.flatMap(s => jobsOf.getOrElse(s.id, Nil))
      val wall = spans.map(_.ms).sum
      var jobMs, selfMs = 0.0
      spans.foreach { s =>
        val own = jobSpansOf.getOrElse(s.id, Nil)
        val c = Span.covered(own.map(j => (j.startMs, j.endMs)), s.startMs,
          s.endMs)
        jobMs += c
        selfMs += Span.selfMs(s, own ++ callsOf.getOrElse(s.id, Nil))
        // event times are whole milliseconds
        outside += own.count(j => j.startMs < s.startMs - 2 ||
          j.endMs > s.endMs + 2)
      }
      val taskMs = js.map(_.taskMs).sum.toDouble
      put(s"$o.jobs", "count")(js.size / n)
      put(s"$o.tasks", "count")(js.map(_.tasks).sum / n)
      put(s"$o.input_bytes", "B")(js.map(_.inputBytes).sum / n)
      put(s"$o.shuffle_bytes", "B")(js.map(_.shuffleBytes).sum / n)
      put(s"$o.task_share", "ratio")(if (wall > 0) taskMs / wall else 0.0)
      put(s"$o.driver_share", "ratio")(
        if (wall > 0) (wall - jobMs) / wall else 0.0)
      if (spans.nonEmpty) perOp(o) = Map("ops" -> spans.size.toDouble,
        "wall_ms" -> wall / n, "job_ms" -> jobMs / n,
        "driver_ms" -> (wall - jobMs) / n, "self_ms" -> selfMs / n,
        "task_ms" -> taskMs / n)
    }
    val nOps = opsA.size.max(1).toDouble
    Main.Callsites.foreach { c =>
      put(s"callsite.$c.jobs", "count")(
      jobs.count(_._2.stack.contains(s"($c.scala:")) / nOps)
    }
    // commit path and store
    val v1 = w.versions
    val commits = w.roots.map(r => v1(r) - v0.getOrElse(r, -1L)).sum
    val hist = w.roots.flatMap(r => TxLog.historySummary(spark, r)
      .filter(h => h._1 > v0.getOrElse(r, -1L) && h._1 <= v1(r)))
    val opCalls = calls.filter(c => opsA.exists(_.id == c.parent))
    val claims = calls.filter(_.kind == "claim")
    put("txlog.files_added_per_commit", "count/commit")(
      hist.map(_._4).sum.toDouble / commits.max(1))
    put("txlog.files_removed_per_commit", "count/commit")(
      hist.map(_._5).sum.toDouble / commits.max(1))
    put("txlog.checkpoints_written", "count")(
      w.roots.map(r => TxLog.checkpointVersions(spark, r).size).sum - ck0)
    put("txlog.log_entries_end", "count")(
      w.roots.map(r => TxLog.logCounts(spark, r)._1).sum.toDouble)
    put("commitstore.claims_per_commit", "count/commit")(
      opCalls.count(_.kind == "claim").toDouble / commits.max(1))
    put("commitstore.claim_ms_p50", "ms")(Stats.median(claims.map(_.ms)))
    put("commitstore.lost_claims", "count")(trace.store.lostClaims.get.toDouble)
    put("commitstore.lists_per_op", "count/op")(
      opCalls.count(_.kind == "list") / nOps)
    put("commitstore.reads_per_op", "count/op")(
      opCalls.count(_.kind == "read") / nOps)
    // read path
    w.skipLayer().foreach { case (n, v, u) => put(n, u)(v) }
    val sizes = w.roots.map(r => TxLog.liveSizes(spark, r).size)
    val dvs = w.roots.map(r => TxLog.dvSummary(spark, r))
    put("txlog.live_files", "count")(sizes.sum.toDouble)
    put("txlog.dv_files", "count")(dvs.map(_._1).sum.toDouble)
    put("txlog.dv_rows", "count")(dvs.map(_._2).sum.toDouble)
    // filesystem and JVM
    put("fs.bytes_written_per_row", "B/row")(
      if (rowsA > 0) fsA.bytesWritten.toDouble / rowsA else 0.0)
    put("fs.bytes_read_per_op", "B/op")(fsA.bytesRead / nOps)
    put("fs.read_ops_per_op", "count/op")(fsA.readOps / nOps)
    put("fs.write_ops_per_op", "count/op")(fsA.writeOps / nOps)
    put("jvm.gc_ms", "ms")(gcA)
    put("jvm.heap_peak_mb", "MB")(heapPeakMb)
    val unattributed = jobs.count(_._1.parent == 0)
    put("trace.unattributed_jobs", "count")(unattributed.toDouble)
    put("trace.jobs_outside_op", "count")(outside.toDouble)
    rec.check("trace_attribution", outside == 0 && unattributed == 0,
      s"$outside jobs ran outside their op's window, $unattributed jobs " +
        "tied to no op")

    // tracing overhead: blocks (one cycle per client) alternate between
    // tracing off and on until the window ends, so that the JVM's warm-up
    // weighs on both sides alike
    val mark = rec.all.size
    val deadline = tA + seconds
    var blocks = 0
    while (blocks < 4 || now < deadline) {
      if (blocks % 2 == 1) tracing(w.run(rec, _ < w.clients))
      else w.run(rec, _ < w.clients)
      blocks += 1
    }
    val alternated = rec.all.drop(mark)
    val on = alternated.filter(_.traced).groupBy(_.op)
    val off = alternated.filterNot(_.traced).groupBy(_.op)
    val ratios = w.ops.filter(o => on.contains(o) && off.contains(o)).map { o =>
      val r = Stats.median(on(o).map(_.ms)) / Stats.median(off(o).map(_.ms))
      say(f"trace overhead $o: p50 on ${Stats.median(on(o).map(_.ms))}%.2f ms" +
        f" / off ${Stats.median(off(o).map(_.ms))}%.2f ms = $r%.3f " +
        s"(n=${on(o).size}/${off(o).size})")
      o -> r
    }
    put("trace.overhead_ratio", "ratio")(Stats.geomean(ratios.map(_._2)))
    w.finalChecks(rec)
    SelfCheck(spark, rec, s"$work/selfcheck")

    say(f"workload ${w.name}: seed $seed, traced ${w.tracedCycles} cycles in " +
      f"$phaseA%.2f s, ${opsA.size} ops, ${jobs.size} jobs, " +
      s"${calls.size} commit-store calls, $unattributed unattributed jobs; " +
      s"overhead over $blocks alternating blocks")
    perOp.foreach { case (o, v) =>
      say(f"$o: wall ${v("wall_ms")}%.1f ms = jobs ${v("job_ms")}%.1f + " +
        f"driver-only ${v("driver_ms")}%.1f; self ${v("self_ms")}%.1f; " +
        f"task ${v("task_ms")}%.1f ms (n=${v("ops").toInt})")
    }
    report("per_op") = perOp
    report("overhead") = ratios.toMap
    writeSpans(opsA, jobs.map(_._1), calls)
    m.toSeq.map { case (k, (v, u)) => (k, v, u) }
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  // ------------------------------------------------------------ output

  private def deleteTree(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def writeReport(): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(reportPath),
      Json(report) + "\n")

  private def writeSpans(ops: Seq[Span], jobs: Seq[Span],
                         calls: Seq[Span]): Unit = {
    val path = reportPath.stripSuffix(".json") + ".spans.jsonl"
    val out = (ops ++ jobs ++ calls)
      .map(s => Json(ListMap("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "workload" -> w.name)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      out.mkString("", "\n", "\n"))
  }
}
