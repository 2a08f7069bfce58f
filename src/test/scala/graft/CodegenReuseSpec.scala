package graft

import org.apache.spark.metrics.source.CodegenMetrics

import graft.dedup.IncrementalDedup
import graft.text.PostingsIndex

/** Repeated work must reuse its compiled code. An incremental ingest runs
  * the same plans batch after batch, and Spark keeps the Janino-compiled
  * classes in one JVM-wide LRU cache. When that cache is smaller than a
  * batch's working set of classes (Spark's default of 100 is; one batch
  * here touches about 150), every batch evicts what the next one needs
  * and recompiles it: a fixed per-batch cost that never goes away.
  * `Tables.configure` sizes the cache; this pins the effect through
  * behaviour, since the cache is sized once per JVM when codegen first
  * runs and a conf that is set but not applied would pass a conf check.
  * The queries keep one shape (8 distinct terms a batch) because
  * multiQuery's term IN-list is unrolled into generated code: a new
  * list length is new code, whatever the cache size. */
class CodegenReuseSpec extends SparkSuite {

  private val vocab = Seq("spark", "vector", "stream", "window", "hash", "index",
    "batch", "query", "shard", "token", "graph", "merge", "probe", "scan", "join",
    "cache", "plan", "row", "page", "band")

  /** Seeded batch `b`: 120 documents of 12–30 tokens, every tenth one a
    * whitespace-perturbed copy of an earlier document of the batch. */
  private def batchDocs(b: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(1000L + b)
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    for (i <- 0 until 120) {
      val id = b * 1000L + i
      val text =
        if (i % 10 == 9) docs(rnd.nextInt(docs.size))._2.replace(" ", "  ")
        else Seq.fill(12 + rnd.nextInt(19))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      docs += ((id, text))
    }
    docs.toSeq
  }

  test("repeated ingest batches compile no new code once the cache is warm") {
    val spark2 = spark
    import spark2.implicits._
    val root = "/tmp/graft_test/codegen_reuse"
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)

    val compiles = (0 until 4).map { b =>
      // 4 queries of 2 terms: the terms change from batch to batch, the
      // plan's shape does not
      val terms = new scala.util.Random(2000L + b).shuffle(vocab).take(8)
      val queries = terms.grouped(2).zipWithIndex.map { case (t, q) => q.toLong -> t }.toSeq
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val docs = batchDocs(b).toDF("doc_id", "text")
      val surv = IncrementalDedup.addBatch(docs, "doc_id", "text", s"$root/dedup", b.toLong)
      PostingsIndex.addBatch(surv, "doc_id", "text", s"$root/postings", b.toLong)
      assert(PostingsIndex.multiQuery(spark, s"$root/postings", queries).collect().nonEmpty)
      IncrementalDedup.compactIndex(spark, s"$root/dedup")
      PostingsIndex.compactIndex(spark, s"$root/postings")
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(compiles.last == 0,
      s"compilations per batch ${compiles.mkString(", ")}: batch 4 recompiled code")
  }
}
