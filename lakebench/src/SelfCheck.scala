package lakebench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.lake.{CommitStore, TxLog}

/** Pins the attribution on operations of known shape, so that a broken
  * listener, span binding or delegating store fails the run instead of
  * skewing the per-layer metrics.
  */
object SelfCheck {
  def apply(spark: SparkSession, rec: Recorder, dir: String): Unit = {
    // self time over a synthetic span tree with overlapping children
    val root = Span(1, 0, "op", "root", 0, 100)
    val kids = Seq((10.0, 30.0), (20.0, 40.0), (50.0, 60.0), (90.0, 120.0))
      .zipWithIndex.map { case ((a, b), i) => Span(2 + i, 1, "job", "j", a, b) }
    rec.check("selfcheck_self_time", Span.selfMs(root, kids) == 50.0 &&
      Span.selfMs(root, Nil) == 100.0 && Span.covered(Nil, 0, 1) == 0.0,
      s"self ${Span.selfMs(root, kids)}")

    // one single-file append onto a checkpointed table: the jobs tied to
    // the op by its span are every job the listener saw in its window,
    // and the uncontended commit claims exactly once
    val table = s"$dir/append"
    val batch = spark.range(0, 1000, 1, 1).select(col("id"),
      (col("id") % 7).as("g"))
    TxLog.append(spark, batch, table)
    TxLog.checkpoint(spark, table)
    val trace = new Trace(spark.sparkContext)
    val probe = new Recorder(trace)
    CommitStore.install(table, trace.store)
    trace.start()
    try probe.op("append")(TxLog.append(spark, batch, table))
    finally {
      trace.stop()
      CommitStore.uninstall(table)
    }
    val op = trace.opSpans.head
    val jobs = trace.jobSpans()
    val tied = jobs.count(_._1.parent == op.id)
    val inWindow = jobs.count { case (j, _) =>
      j.startMs >= op.startMs - 2 && j.endMs <= op.endMs + 2 }
    rec.check("selfcheck_append_jobs", tied >= 1 && tied == jobs.size &&
      tied == inWindow, s"tied $tied, seen ${jobs.size}, in window $inWindow")
    val claims = trace.storeSpans.count(c => c.kind == "claim" &&
      c.parent == op.id)
    rec.check("selfcheck_one_claim", claims == 1, s"$claims claims")
  }
}
