package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Per-layer metrics of a traced window, from the spans and the listener
  * aggregates. Counts, bytes and times are per request (a portal request,
  * a manager cycle, a curation batch) unless the name says otherwise;
  * layers a workload does not reach read 0. */
object Layers {
  val LibraryLayers = Seq("records", "operators", "similarity", "dedup", "text", "streaming")

  def metrics(w: Workload, tr: Tracer, wallS: Double, cores: Int, gc: (Long, Long),
              untracedP50: Double, tracedP50: Double): Seq[(String, Double, String)] = {
    val spans = tr.allSpans
    val requests = spans.filter(_.phase == "request")
    val n = math.max(1, requests.size).toDouble
    val jobs = tr.jobsSnapshot
    val t = tr.total
    def per(v: Double) = v / n
    def meanMs(name: String) = {
      val s = spans.filter(_.name == name)
      if (s.isEmpty) 0.0 else s.map(_.ms).sum / s.size
    }
    val requestMs = requests.map(_.ms).sum

    // request time covered by none of the request's own jobs
    val byRequest = jobs.filter(_.end >= 0).groupBy(_.request)
    val gapMs = requests.map { r =>
      val (s0, s1) = (tr.wallMs(r.startNs), tr.wallMs(r.endNs))
      val ivs = byRequest.getOrElse(r.id, Nil).map(j => (math.max(j.start, s0), math.min(j.end, s1)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0.0; var end = s0
      ivs.foreach { case (a, b) => if (b > end) { covered += b - math.max(a, end); end = b } }
      (s1 - s0) - covered
    }.sum

    val planMs = tr.planAnalysisMs + tr.planOptimizeMs + tr.planPhysicalMs
    val readLayers = Seq("records", "operators").flatMap(tr.byLayer.get)
    val rowsOut = spans.filter(s => s.phase == "exec" && Seq("records", "operators").contains(s.layer)).map(_.rowsOut).sum
    val compactCalls = spans.count(_.name == "Layout.compactParquet")

    val layerRows = LibraryLayers.flatMap { l =>
      val ls = spans.filter(_.layer == l)
      Seq(
        (s"$l.build_ms", per(ls.filter(_.phase == "build").map(_.ms).sum), "ms"),
        (s"$l.exec_ms", per(ls.filter(_.phase == "exec").map(_.ms).sum), "ms"),
        (s"$l.calls", per(ls.count(_.phase == "build").toDouble), "count"),
        (s"$l.jobs", per(jobs.count(_.layer == l).toDouble), "count"))
    }
    val (repeatShare, recall) = w match { case p: Portal => (p.repeatShare, p.recall); case _ => (0.0, 0.0) }
    val indexRatio = w match { case c: Curation => c.indexBytesPerDocByte; case _ => 0.0 }

    Seq(
      ("spark.plan.analysis_ms", per(tr.planAnalysisMs.toDouble), "ms"),
      ("spark.plan.optimize_ms", per(tr.planOptimizeMs.toDouble), "ms"),
      ("spark.plan.physical_ms", per(tr.planPhysicalMs.toDouble), "ms"),
      ("spark.plan.share", if (requestMs > 0) planMs / requestMs else 0.0, "ratio"),
      ("spark.sched.jobs", per(jobs.size.toDouble), "count"),
      ("spark.sched.stages", per(tr.stageCount.toDouble), "count"),
      ("spark.sched.tasks", per(t.tasks.toDouble), "count"),
      ("spark.sched.driver_gap_ms", per(gapMs), "ms"),
      ("spark.sched.task_delay_ms", if (t.tasks > 0) t.delayMs.toDouble / t.tasks else 0.0, "ms"),
      ("spark.sched.task_run_ms", per(t.runMs.toDouble), "ms"),
      ("spark.sched.busy_share", t.runMs / (wallS * 1000.0 * cores), "ratio"),
      ("spark.sched.max_tasks_per_stage", tr.maxTasksPerStage.toDouble, "count"),
      ("spark.sched.failed_tasks", t.failed.toDouble, "count"),
      ("spark.shuffle.write_bytes", per(t.shuffleWrite.toDouble), "bytes"),
      ("spark.shuffle.read_bytes", per(t.shuffleRead.toDouble), "bytes"),
      ("spark.shuffle.spill_bytes", per(t.spill.toDouble), "bytes"),
      ("spark.shuffle.fetch_wait_ms", per(t.fetchWaitMs.toDouble), "ms"),
      ("spark.io.records_read", per(t.recordsRead.toDouble), "count"),
      ("spark.io.write_bytes", per(t.bytesWritten.toDouble), "bytes"),
      ("spark.io.files_written", per(tr.filesWritten.toDouble), "count"),
      ("records.rows_read_per_row_out",
        if (rowsOut > 0) readLayers.map(_.recordsRead).sum.toDouble / rowsOut else 0.0, "ratio"),
      ("operators.compact_ms", meanMs("Layout.compactParquet"), "ms"),
      ("operators.compact_bytes", tr.byName.get("Layout.compactParquet")
        .map(_.bytesWritten.toDouble / math.max(1, compactCalls)).getOrElse(0.0), "bytes"),
      ("spark.state.commit_ms", if (tr.triggers > 0) tr.stateCommitMs.toDouble / tr.triggers else 0.0, "ms"),
      ("spark.state.rows", tr.stateRows.toDouble, "count"),
      ("spark.state.memory_bytes", tr.stateMemoryBytes.toDouble, "bytes"),
      ("streaming.trigger_ms", meanMs("trigger"), "ms"),
      ("dedup.add_batch_ms", meanMs("IncrementalDedup.addBatch"), "ms"),
      ("dedup.compact_ms", meanMs("IncrementalDedup.compactIndex"), "ms"),
      ("text.add_batch_ms", meanMs("PostingsIndex.addBatch"), "ms"),
      ("text.compact_ms", meanMs("PostingsIndex.compactIndex"), "ms"),
      ("text.query_ms", meanMs("PostingsIndex.multiQuery") + meanMs("search.collect"), "ms"),
      ("jvm.gc_ms", per(gc._1.toDouble), "ms"),
      ("jvm.gc_count", per(gc._2.toDouble), "count"),
      ("trace.overhead_p50_share", if (untracedP50 > 0) (tracedP50 - untracedP50) / untracedP50 else 0.0, "ratio")
    ) ++ layerRows ++ Seq(
      ("portal.repeat_share", repeatShare, "ratio"),
      ("similarity.recall_at_k", recall, "ratio"),
      ("text.index_bytes_per_doc_byte", indexRatio, "ratio"))
  }

  /** Spans (one JSON object a line, with self time) and the layer table. */
  def write(prefix: String, tr: Tracer, layers: Seq[(String, Double, String)]): Unit = {
    val spans = tr.allSpans
    val children = spans.groupBy(_.parent)
    def selfMs(s: Span): Double = {
      val ivs = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L; var end = s.startNs
      ivs.foreach { case (a, b) => if (b > end) { covered += b - math.max(a, end); end = b } }
      s.ms - covered / 1e6
    }
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "request": ${s.request}, "name": ${q(s.name)}, """ +
        s""""layer": ${q(s.layer)}, "phase": ${q(s.phase)}, "start_ms": ${tr.wallMs(s.startNs)}, """ +
        s""""end_ms": ${tr.wallMs(s.endNs)}, "ms": ${s.ms}, "self_ms": ${selfMs(s)}, "rows_out": ${s.rowsOut}}"""
    }
    Files.createDirectories(Paths.get(prefix).getParent)
    Files.write(Paths.get(s"$prefix.spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val table = layers.map { case (n, v, u) => s"""  ${q(n)}: {"value": $v, "unit": ${q(u)}}""" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(s"$prefix.layers.json"), table.getBytes(StandardCharsets.UTF_8))
    println(s"spans and layer table written to $prefix.{spans.jsonl,layers.json}")
  }
}
