package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.IncrementalDedup
import graft.text.{PostingsIndex, Retrieval}
import Gen._

/** `curation_ingest`: one client thread feeding arrival batches of the
  * seeded corpus through incremental near-dup removal, then the postings
  * index, then one batch of BM25 queries, then both indexes are
  * compacted, so every batch does the same steps. Each document's status
  * (ingested, then kept or dropped) goes to the stateful status stream,
  * advanced once a batch. Survivor sets are checked against the planted
  * copies as each batch lands; one BM25 answer a batch is checked against
  * a corpus scan, and the stream's state against a recount, after the
  * timed window. */
final class Curation(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  val opName = "batch"
  private val TopK = 10

  private var dir: String = _
  private var corpus: DataFrame = _
  private var stream: StatusStream = _
  private var nextBatch = 0
  private var docsDone = 0L
  private var textBytes = 0L
  private val survivors = mutable.HashSet.empty[Long]
  private val searches = mutable.Buffer.empty[(Int, Seq[Long], Map[Long, Seq[(Long, Double)]])]
  private val checksPending = mutable.Buffer.empty[(Boolean, String)]

  def prepare(d: String): Unit = {
    dir = d
    val s = seed
    spark.range(0, CurationBatches, 1, 4).flatMap(b => batch(s, b.toInt).docs)
      .write.partitionBy("batch").parquet(s"$dir/corpus")
    corpus = spark.read.parquet(s"$dir/corpus")
    stream = new StatusStream(spark, s"$dir/status")
  }

  override def streamSessions: Seq[SparkSession] = Seq(stream.session)

  /** Batch 0 — the one that meets an empty index — so every timed batch
    * probes a non-empty index and the code is warm. Its answers are
    * checked like any other batch's. */
  def warm(quiet: Tracer): Unit = {
    nextBatch = 0; textBytes = 0
    survivors.clear(); searches.clear(); checksPending.clear()
    ingest(0, quiet, new Latencies)
    nextBatch = 1
  }

  def measure(seconds: Double, tr: Tracer, lat: Latencies): Double = {
    docsDone = 0
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline && nextBatch < CurationBatches) {
      val b = nextBatch
      nextBatch += 1
      try tr.request("batch")(ingest(b, tr, lat))
      catch { case e: Exception => lat.fail(s"batch $b: $e") }
    }
    require(nextBatch < CurationBatches, "the corpus ran out before the timed window ended")
    (System.nanoTime() - t0) / 1e9
  }

  def workUnits: Long = docsDone

  /** On-disk bytes of both indexes per byte of ingested text. */
  def indexBytesPerDocByte: Double = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = Seq("dedup", "postings").map(n => new Path(s"$dir/index/$n"))
      .filter(fs.exists).map(p => fs.getContentSummary(p).getLength).sum
    if (textBytes == 0) 0.0 else bytes.toDouble / textBytes
  }

  private def ingest(b: Int, tr: Tracer, lat: Latencies): Unit = {
    val root = s"$dir/index"
    val cb = batch(seed, b)
    val docs = corpus.filter(col("batch") === b).select("doc_id", "text")
    val t0 = System.nanoTime()
    val surv = tr.build("dedup", "IncrementalDedup.addBatch")(
      IncrementalDedup.addBatch(docs, "doc_id", "text", s"$root/dedup", b.toLong))
    val kept = tr.exec("dedup", "survivors.collect")(
      surv.select("doc_id").collect().map(_.getLong(0)).toSet)(_.size.toLong)
    tr.build("text", "PostingsIndex.addBatch")(
      PostingsIndex.addBatch(surv, "doc_id", "text", s"$root/postings", b.toLong))
    val ts = new java.sql.Timestamp(T0 + b * 60000L)
    val done = new java.sql.Timestamp(T0 + b * 60000L + 1000)
    stream.append(cb.docs.flatMap(d => Seq((d.doc_id, "ingested", ts),
      (d.doc_id, if (kept(d.doc_id)) "kept" else "dropped", done))))
    stream.advance(tr)
    lat.add((System.nanoTime() - t0) / 1e6)

    val df = tr.build("text", "PostingsIndex.multiQuery")(
      PostingsIndex.multiQuery(spark, s"$root/postings", cb.queries, topK = TopK))
    val hits = tr.exec("text", "search.collect")(df.collect())(_.length.toLong)
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rows) => q -> rows.toSeq.sortBy(_.getAs[Long]("rank"))
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")) }

    tr.build("dedup", "IncrementalDedup.compactIndex")(IncrementalDedup.compactIndex(spark, s"$root/dedup"))
    tr.build("text", "PostingsIndex.compactIndex")(PostingsIndex.compactIndex(spark, s"$root/postings"))
    docsDone += cb.docs.size
    textBytes += cb.docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    val answer = if (fault.contains("missed_copy") && checksPending.isEmpty) kept + cb.copies.head._1 else kept
    val copies = cb.copies.map(_._1).toSet
    val sources = cb.copies.map(_._2).toSet
    val missed = copies.filter(answer)
    val lostOriginals = cb.docs.map(_.doc_id).filterNot(copies).filterNot(answer)
    val lostSources = sources.filterNot(s => answer(s) || survivors.contains(s))
    checksPending += ((missed.isEmpty, s"batch $b: planted copies survived: ${missed.take(5).mkString(",")}"))
    checksPending += ((lostOriginals.isEmpty && lostSources.isEmpty,
      s"batch $b: originals removed: ${(lostOriginals ++ lostSources).take(5).mkString(",")}"))
    survivors ++= kept
    searches += ((b, survivors.toSeq, hits))
  }

  def verify(checks: Checks): Unit = {
    checksPending.foreach { case (ok, msg) => checks.check(ok, msg) }
    stream.verify(checks)
    for ((b, surv, hits) <- searches; (qid, terms) <- batch(seed, b).queries.take(1)) {
      val docs = corpus.join(surv.toDF("doc_id"), "doc_id")
      val ref = Retrieval.bm25TopK(docs, "doc_id", "text", terms, topK = TopK).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toSeq
      checks.check(sameTopK(hits.getOrElse(qid, Nil), ref), s"batch $b query $qid: BM25 top-$TopK differs from the scan")
    }
    searches.clear(); checksPending.clear()
  }

  /** Equal scores rank for rank; doc ids must agree except among docs tied
    * with the last kept score, where either engine may cut differently. */
  private def sameTopK(got: Seq[(Long, Double)], ref: Seq[(Long, Double)]): Boolean =
    got.size == ref.size && got.map(_._2).zip(ref.map(_._2)).forall { case (a, b) => math.abs(a - b) < 1e-9 } && {
      val cut = ref.lastOption.map(_._2).getOrElse(0.0)
      got.filter(_._2 > cut + 1e-9).map(_._1).toSet == ref.filter(_._2 > cut + 1e-9).map(_._1).toSet
    }
}
