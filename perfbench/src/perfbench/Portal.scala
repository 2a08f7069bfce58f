package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{FilterOps, Pagination}
import graft.records.{DatasetOps, RecordQueries, RecordQueryFilters}
import graft.similarity.Vectors
import Gen._

/** `portal_reads`: a closed loop of one client thread over read-only
  * records, dataset items, events and embeddings. Every answer is kept
  * and checked after the timed window against a plain-Scala recompute. */
final class Portal(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  val opName = "request"
  private val NList = 16
  private val NProbe = 8
  private val RecallFloor = 0.85 // sim_knn_ivf's floor in verify_recall.json
  private val WarmRequests = 3 * Cycle.length
  private val MinCycles = 5

  private var records: DataFrame = _
  private var items: DataFrame = _
  private var events: DataFrame = _
  private var assigned: DataFrame = _
  private var centroids: DataFrame = _
  private val answers = mutable.Buffer.empty[(Req, Any)]
  private var next = 0L
  private val consumed = mutable.Buffer.empty[String]
  private var done = 0L
  def workUnits: Long = done

  def prepare(dir: String): Unit = {
    val s = seed
    currentDir = dir
    spark.range(1, PortalRecords + 1, 1, 8).map(i => portalRecord(s, i)).write.parquet(s"$dir/records")
    spark.range(0, Datasets.toLong * ItemsPerDataset, 1, 8).map(i => portalItem(s, i))
      .write.parquet(s"$dir/items")
    spark.range(0, PortalEvents, 1, 8).map(i => portalEvent(s, i)).write.parquet(s"$dir/events")
    spark.range(0, VectorCount, 1, 4).map(i => vector(s, i)).write.parquet(s"$dir/vectors")
    records = spark.read.parquet(s"$dir/records")
    items = spark.read.parquet(s"$dir/items")
    events = spark.read.parquet(s"$dir/events")
  }

  /** Builds the IVF index once and stores it, as a deployment would, then
    * serves WarmRequests requests. A handful is not enough: with one of
    * each kind, the JIT was still compiling the hot paths during the timed
    * window and same-seed runs differed by up to 40%; three cycles leave
    * the first timed cycle up to 30% slow, which the per-cycle medians
    * keep out. */
  def warm(quiet: Tracer): Unit = {
    val s = seed
    val dir = currentDir
    val (a, c) = Vectors.ivfFit(spark.read.parquet(s"$dir/vectors"), NList, s)
    a.write.parquet(s"$dir/ivf_assigned")
    c.write.parquet(s"$dir/ivf_centroids")
    assigned = spark.read.parquet(s"$dir/ivf_assigned")
    centroids = spark.read.parquet(s"$dir/ivf_centroids")
    (0 until WarmRequests).foreach(j => execute(warmRequest(s, j), quiet))
  }

  // One client: with two, same-seed runs spread ±15% on a 4-core host,
  // with one ±3%.
  def measure(seconds: Double, tr: Tracer, lat: Latencies): Double = {
    done = 0
    cycleSecs.clear()
    cycleP50s.clear()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var c0 = t0
    val cycleMs = mutable.Buffer.empty[Double]
    // the window serves whole cycles of the request mix, at least MinCycles
    val end = next + MinCycles * Cycle.length
    while (System.nanoTime() < deadline || next % Cycle.length != 0 || next < end) {
      val req = portalRequest(seed, next)
      next += 1
      consumed += req.key
      val r0 = System.nanoTime()
      val out = try tr.request(req.kind)(execute(req, tr)) catch {
        case e: Exception => lat.fail(s"${req.kind}: $e"); null
      }
      val ms = (System.nanoTime() - r0) / 1e6
      lat.add(ms)
      cycleMs += ms
      byKind += req.kind -> ms
      if (out != null) { answers += req -> out; done += 1 }
      if (next % Cycle.length == 0) {
        val now = System.nanoTime()
        cycleSecs += (now - c0) / 1e9
        cycleP50s += Stats.median(cycleMs.toSeq)
        c0 = now
        cycleMs.clear()
      }
    }
    (System.nanoTime() - t0) / 1e9
  }

  private val cycleSecs = mutable.Buffer.empty[Double]
  private val cycleP50s = mutable.Buffer.empty[Double]
  // Both are taken over the window's cycles, so that one cycle slowed by
  // late JIT compilation or a collection does not set them.
  /** Requests per second of the window's median cycle. */
  override def opsPerSecond(wall: Double): Double = Cycle.length / Stats.median(cycleSecs.toSeq)
  /** The median over the window's cycles of each cycle's median latency. */
  override def p50Ms(samples: Seq[Double]): Double = Stats.median(cycleP50s.toSeq)

  private val byKind = mutable.Buffer.empty[(String, Double)]
  /** Median latency and count per request kind, for the run's log. */
  def kindSummary: String = byKind.toSeq.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, v) =>
    f"$k ${Stats.median(v.map(_._2))}%.0f ms x${v.size}" }.mkString(", ")

  /** Share of consumed requests that repeat an earlier one. */
  def repeatShare: Double = {
    val keys = consumed.toSeq
    if (keys.isEmpty) 0.0 else 1.0 - keys.distinct.size.toDouble / keys.size
  }

  private def utc(ms: Long): String = {
    val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC")); f.format(new java.util.Date(ms))
  }

  private def execute(req: Req, tr: Tracer): Any = req match {
    case q: QueryReq =>
      var cursor: Option[Long] = None
      val pages = Seq.newBuilder[Array[Row]]
      var more = true; var p = 0
      while (more && p < q.pages) {
        val f = RecordQueryFilters(status = q.status, recordType = q.recordType,
          managerName = q.manager, creatorUser = q.user, createdAfter = q.createdAfter.map(utc),
          createdBefore = q.createdBefore.map(utc), cursor = cursor, limit = Some(q.limit))
        val df = tr.build("records", "RecordQueries.query")(RecordQueries.query(records, f))
        val page = tr.exec("records", "query.collect")(df.collect())(_.length.toLong)
        pages += page
        more = page.length == q.limit
        cursor = page.lastOption.map(_.getAs[Long]("record_id"))
        p += 1
      }
      pages.result()
    case h: HydrateReq =>
      val df = tr.build("records", "RecordQueries.hydrate")(
        RecordQueries.hydrate(records, h.ids, h.include, h.exclude,
          defaultCols = Seq("record_id", "record_type", "status", "manager_name", "created_on")))
      tr.exec("records", "hydrate.collect")((df.columns.toSeq, df.collect()))(_._2.length.toLong)
    case d: DatasetReq =>
      val its = items.filter(col("dataset_id") === d.datasetId)
      val df = tr.build("records", if (d.matrix) "DatasetOps.statusMatrix" else "DatasetOps.compileValues")(
        if (d.matrix) DatasetOps.statusMatrix(its, records)
        else DatasetOps.compileValues(its, records, col("record_id"), SpecNames))
      tr.exec("records", s"${req.kind}.collect")(df.collect())(_.length.toLong)
    case j: JsonReq =>
      val pred = tr.build("operators", "FilterOps.jsonContains")(
        FilterOps.jsonContains(col("props"), j.required.toMap))
      val df = tr.build("operators", "Pagination.keysetPage")(
        Pagination.keysetPage(events.filter(pred), "event_id", None, j.limit))
      tr.exec("operators", "json.collect")(df.select("event_id").collect().map(_.getLong(0)))(_.length.toLong)
    case k: KnnReq =>
      val q = k.qIds.map(id => (id, vector(seed, id).c_vec)).toDF("q_id", "q_vec")
      val df = tr.build("similarity", "Vectors.ivfProbe")(
        Vectors.ivfProbe(q, assigned, centroids, NProbe, k.k))
      tr.exec("similarity", "knn.collect")(
        df.select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))))(_.length.toLong)
  }

  // ---------------------------------------------------------------- checks

  var recall: Double = Double.NaN

  def verify(checks: Checks): Unit = {
    val model = (1 to PortalRecords).map(i => portalRecord(seed, i)).toArray // index = id - 1
    lazy val evModel = (0L until PortalEvents).map(portalEvent(seed, _)).toArray
    def datasetItems(d: Long) = (0 until ItemsPerDataset).map(j => portalItem(seed, d * ItemsPerDataset + j))
    var all = answers.toSeq
    if (fault.contains("out_of_filter")) {
      // append a record the first query's filters reject
      val i = all.indexWhere {
        case (_: QueryReq, pages: Seq[Array[Row]] @unchecked) => pages.head.nonEmpty
        case _ => false
      }
      require(i >= 0, "no non-empty query page answered to corrupt")
      val (q: QueryReq, pages: Seq[Array[Row]] @unchecked) = all(i)
      val last = pages.head.last
      val bad = model.find(r => !matches(q, r) && r.record_id < last.getAs[Long]("record_id")).get
      val row = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        last.schema.fieldNames.map(c => if (c == "record_id") bad.record_id else last.getAs[Any](c)), last.schema)
      all = all.updated(i, q -> pages.updated(0, pages.head :+ (row: Row)))
    }
    val knn = Seq.newBuilder[(Long, Long, Long)] // request index, q_id, vec_id
    all.zipWithIndex.foreach { case ((req, out), n) => req match {
      case q: QueryReq =>
        val pages = out.asInstanceOf[Seq[Array[Row]]]
        val expected = model.reverseIterator.filter(matches(q, _)).map(_.record_id)
          .take(q.limit * pages.size).toSeq
        val got = pages.flatMap(_.map(_.getAs[Long]("record_id")))
        val pagesFull = pages.init.forall(_.length == q.limit) && pages.last.length <= q.limit
        val rowsMatch = pages.forall(_.forall { r =>
          val m = model((r.getAs[Long]("record_id") - 1).toInt)
          r.getAs[String]("status") == m.status && r.getAs[String]("creator_user") == m.creator_user
        })
        checks.check(got == expected && pagesFull && rowsMatch, s"query page mismatch: ${q.key}")
      case h: HydrateReq =>
        val (cols, rows) = out.asInstanceOf[(Seq[String], Array[Row])]
        val excluded = h.exclude.filter(_ != "record_id")
        val colsOk = cols.head == "record_id" && excluded.forall(c => !cols.contains(c))
        val valuesOk = rows.forall { r =>
          val m = model((r.getAs[Long]("record_id") - 1).toInt)
          cols.forall {
            case "status" => r.getAs[String]("status") == m.status
            case "manager_name" => r.getAs[String]("manager_name") == m.manager_name
            case "creator_user" => r.getAs[String]("creator_user") == m.creator_user
            case _ => true
          }
        }
        checks.check(colsOk && valuesOk && rows.map(_.getAs[Long]("record_id")).toSeq == h.ids,
          s"hydrate mismatch: ${h.key.take(80)}")
      case d: DatasetReq =>
        val rows = out.asInstanceOf[Array[Row]]
        val its = datasetItems(d.datasetId)
        if (d.matrix) {
          val expected = its.groupBy(i => (i.specification_name, model((i.record_id - 1).toInt).status))
            .map { case (k, v) => k -> v.size.toLong }
          val got = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
          checks.check(got == expected, s"status matrix mismatch: dataset ${d.datasetId}")
        } else {
          val expected = its.filter(i => model((i.record_id - 1).toInt).status == "complete")
            .groupBy(_.entry_name).map { case (e, v) =>
              e -> SpecNames.map(s => v.find(_.specification_name == s).map(_.record_id)) }
          val got = rows.map(r => r.getString(0) ->
            SpecNames.map(s => Option(r.getAs[Any](s)).map(_.asInstanceOf[Long]))).toMap
          checks.check(got == expected, s"compile_values mismatch: dataset ${d.datasetId}")
        }
      case j: JsonReq =>
        val ids = out.asInstanceOf[Array[Long]].toSeq
        val expected = evModel.reverseIterator.filter { e =>
          j.required.forall { case (k, v) => jsonField(e.props, k) == v }
        }.map(_.event_id).take(j.limit).toSeq
        checks.check(ids == expected, s"json containment mismatch: ${j.key}")
      case k: KnnReq =>
        out.asInstanceOf[Array[(Long, Long)]].foreach { case (q, v) => knn += ((n.toLong, q, v)) }
        checks.check(out.asInstanceOf[Array[(Long, Long)]].groupBy(_._1).forall(_._2.length == k.k),
          s"knn answer is not k per query: ${k.key}")
    }}
    // recall@k of every kNN answer against exact brute force over the
    // same vectors, computed once for the query ids the run used
    val knnRows = knn.result()
    val knnReqs = all.collect { case (k: KnnReq, _) => k }
    if (knnReqs.nonEmpty) {
      val qIds = knnReqs.flatMap(_.qIds).distinct
      val corpus = spark.read.parquet(s"$currentDir/vectors")
      val q = qIds.map(id => (id, vector(seed, id).c_vec)).toDF("q_id", "q_vec")
      val truth = Vectors.bruteForceKnn(q, corpus, KnnK).select("q_id", "vec_id").collect()
        .groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getLong(1)).toSet }
      val perQuery = knnRows.groupBy(r => (r._1, r._2)).toSeq.map { case ((_, qid), v) =>
        v.count(r => truth(qid)(r._3)).toDouble / KnnK }
      recall = perQuery.sum / perQuery.size
      checks.check(recall >= RecallFloor, f"knn recall@$KnnK $recall%.3f below floor $RecallFloor")
    }
    answers.clear()
  }

  private var currentDir: String = _

  private def jsonField(props: String, k: String): String = {
    val i = props.indexOf("\"" + k + "\": ")
    if (i < 0) null
    else props.substring(i + k.length + 4).takeWhile(c => c != ',' && c != '}').stripPrefix("\"").stripSuffix("\"")
  }

  private def matches(q: QueryReq, r: PRecord): Boolean =
    (q.status.isEmpty || q.status.contains(r.status)) &&
      (q.recordType.isEmpty || q.recordType.contains(r.record_type)) &&
      (q.manager.isEmpty || (r.manager_name != null && q.manager.contains(r.manager_name))) &&
      (q.user.isEmpty || q.user.contains(r.creator_user)) &&
      q.createdAfter.forall(r.created_on.getTime >= _) &&
      q.createdBefore.forall(r.created_on.getTime <= _)
}
