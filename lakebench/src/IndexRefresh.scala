package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.VecOps
import graft.lake.TxLog
import graft.operators.{AnnIndex, DedupIndex}

/** The operators layer: a document corpus with injected near-duplicates
  * under an incremental dedup index, and a vector corpus under an ANN
  * index. Each step appends a batch to both (`append`), consumes the
  * dedup pairs (`dedup_update`) and refreshes the ANN index
  * (`ann_refresh`) — together one `index_step` — then runs seeded
  * `ann_search` calls.
  */
final class IndexRefresh(spark: SparkSession, seed: Long, cpus: Int)
    extends Workload(spark, seed, cpus) {
  val name = "index_refresh"
  val writes = Seq("append", "dedup_update", "ann_refresh")
  val reads = Seq("ann_search")
  val tracedCycles = 2
  val warmCycles = 0
  val InitialDocs = 500
  val InitialVecs = 1000
  val BatchDocs = 50
  val BatchVecs = 50
  val Searches = 2
  val QueriesPerSearch = 8
  val K = 10
  // recall is scored over the first searches after set-up, which every
  // run makes (three cycles), so it repeats exactly for a seed
  val RecallSearches = 3 * Searches
  val Threshold = 0.5
  // refresh retrains once the churn since training passes half the
  // indexed rows, i.e. after InitialVecs / BatchVecs steps; the cap keeps
  // every step on the incremental path
  val MaxSteps = InitialVecs / BatchVecs - 1

  private var docsRoot, dedupRoot, vecRoot, annRoot = ""
  private val texts = new mutable.LongMap[String]()
  private val injected = mutable.Set.empty[(Long, Long)]
  private val returned = mutable.Set.empty[(Long, Long)]
  private val vecs = new mutable.LongMap[Array[Float]]()
  private var nextDoc, nextVec, steps, searches = 0L
  private var committed = 0L
  private var hits, wanted = 0L

  private val DocSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  private val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** The next `n` documents; one in eight is a near-duplicate of an
    * earlier one.
    */
  private def docBatch(n: Int): DataFrame = {
    val rows = (0 until n).map { _ =>
      val id = nextDoc
      nextDoc += 1
      val words =
        if (id >= 8 && Gen.below(seed, id, 35, 8) == 0) {
          val src = Gen.below(seed, id, 36, id)
          injected += ((src, id))
          Gen.variantWords(seed, texts(src).split(" ").map(_.tail.toInt), id)
        } else Gen.baseWords(seed, id)
      texts(id) = Gen.text(words)
      Row(id, texts(id))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), DocSchema)
  }

  private def vecBatch(n: Int): DataFrame = {
    val rows = (0 until n).map { _ =>
      val id = nextVec
      nextVec += 1
      vecs(id) = Gen.vector(seed, id)
      Row(id, vecs(id).toSeq)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), VecSchema)
  }

  private def consume(rec: Recorder, pairs: Array[Row]): Unit = {
    val bad = pairs.filter { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      returned += ((math.min(a, b), math.max(a, b)))
      Gen.jaccard(texts(a), texts(b)) < Threshold - 1e-9
    }
    rec.check("dedup_pairs_jaccard", bad.isEmpty, bad.take(3).mkString(","))
  }

  def setup(dir: String, rec: Recorder): Unit = {
    docsRoot = s"$dir/docs"; dedupRoot = s"$dir/dedup"
    vecRoot = s"$dir/vecs"; annRoot = s"$dir/ann"
    texts.clear(); injected.clear(); returned.clear(); vecs.clear()
    nextDoc = 0; nextVec = 0; steps = 0; searches = 0; committed = 0
    hits = 0; wanted = 0
    TxLog.append(spark, docBatch(InitialDocs), docsRoot)
    consume(rec, DedupIndex.update(spark, docsRoot, dedupRoot,
      threshold = Threshold).collect())
    TxLog.append(spark, vecBatch(InitialVecs), vecRoot)
    AnnIndex.build(spark, vecRoot, annRoot, nCells = 16, m = 4)
  }

  def cycle(rec: Recorder): Unit = {
    val docs = docBatch(BatchDocs)
    val vs = vecBatch(BatchVecs)
    val (pairs, refreshed) = rec.composite("index_step") {
      rec.op("append") {
        TxLog.append(spark, docs, docsRoot)
        TxLog.append(spark, vs, vecRoot)
      }
      val pairs = rec.op("dedup_update") {
        DedupIndex.update(spark, docsRoot, dedupRoot,
          threshold = Threshold).collect()
      }
      (pairs, rec.op("ann_refresh")(AnnIndex.refresh(spark, vecRoot, annRoot)))
    }
    steps += 1
    committed += BatchDocs + BatchVecs
    consume(rec, pairs)
    rec.check("ann_refresh_incremental",
      !refreshed.retrained && refreshed.added == BatchVecs, refreshed.toString)
    (0 until Searches).foreach(_ => search(rec))
  }

  override def run(rec: Recorder, more: Int => Boolean): Int =
    super.run(rec, i => more(i) && steps < MaxSteps)

  private def search(rec: Recorder): Unit = {
    val qs = (0 until QueriesPerSearch).map { j =>
      val qid = searches * QueriesPerSearch + j
      (qid, Gen.vector(seed, 1000000000L + qid))
    }
    searches += 1
    val qdf = spark.createDataFrame(spark.sparkContext.parallelize(
      qs.map { case (id, v) => Row(id, v.toSeq) }, 1),
      StructType(Seq(StructField("qid", LongType),
        StructField("qe", ArrayType(FloatType, containsNull = false)))))
      .withColumn("qnorm", VecOps.normf(col("qe")))
    val got = rec.op("ann_search") {
      AnnIndex.search(spark, vecRoot, annRoot, qdf, kTop = K, nProbe = 4,
        shortlist = 8 * K).collect()
    }.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    if (searches <= RecallSearches) qs.foreach { case (qid, q) =>
      val exact = exactTopK(q)
      hits += exact.count(got.getOrElse(qid, Set.empty[Long]))
      wanted += exact.size
    }
    rec.check("ann_search_rows", got.values.forall(_.size == K) &&
      got.size == QueriesPerSearch, s"${got.size} queries")
  }

  private def exactTopK(q: Array[Float]): Seq[Long] = {
    val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
    vecs.toSeq.map { case (id, v) =>
      var dot = 0.0
      var nn = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * q(i); nn += v(i) * v(i); i += 1 }
      (id, dot / (qn * math.sqrt(nn)))
    }.sortBy { case (id, c) => (-c, id) }.take(K).map(_._1)
  }

  def finalChecks(rec: Recorder): Unit = {
    val missing = injected.filterNot(returned)
    rec.check("dedup_injected_returned", missing.isEmpty,
      s"${missing.size} of ${injected.size} missing: ${missing.take(5)}")
  }

  override def extras: Seq[(String, Double, String, Int)] =
    Seq(("ann_recall_at_10", hits.toDouble / math.max(wanted, 1L), "share",
      (wanted / K).toInt))

  def roots: Seq[String] = Seq(docsRoot, dedupRoot, vecRoot,
    AnnIndex.centroidsRoot(annRoot), AnnIndex.codebookRoot(annRoot),
    AnnIndex.codesRoot(annRoot), AnnIndex.metaRoot(annRoot))
  def rowsCommitted: Long = committed
  def liveRows: Long = texts.size.toLong + vecs.size.toLong
}
