package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Layout
import graft.records.{DatasetOps, RecordOps, TaskOps}
import Gen._

/** `manager_cycle`: one client thread serving four manager identities.
  * A cycle claims up to 200 tasks for each manager, returns them with
  * seeded outcomes persisted as a new delta, appends the status-change
  * events and advances the stateful status stream by one AvailableNow
  * trigger on a persistent checkpoint. Every third cycle compacts the
  * deltas and reads the status rollup. A plain-Scala model of the queue
  * checks each claim as it happens; the stream and rollup are checked
  * against it after the timed window. */
final class Manager(spark: SparkSession, seed: Long) extends Workload {
  import spark.implicits._

  val opName = "claim"
  private val CompactEvery = 3

  private val idents = managers(seed)
  private var dir: String = _
  private var tasks: DataFrame = _
  private var records: DataFrame = _
  private var items: DataFrame = _
  private var stream: StatusStream = _

  // model of the queue and of everything appended
  private val claimed = mutable.LinkedHashSet.empty[Long]
  private var taskModel: Array[MTask] = _
  private val rollups = mutable.Buffer.empty[(Map[String, Long], Map[String, Long])]
  private var cycle = 0
  private var tasksDone = 0L
  private val checksPending = mutable.Buffer.empty[(Boolean, String)]
  private var checkClaims = false

  def prepare(d: String): Unit = {
    dir = d
    val s = seed
    spark.range(1, Tasks + 1, 1, 4).map(i => task(s, i)).write.parquet(s"$dir/tasks")
    spark.range(1, Tasks + 1, 1, 4).map(i => taskRecord(s, i)).write.parquet(s"$dir/records")
    spark.range(1, Tasks + 1, 1, 4).map(i => taskItem(s, i)).write.parquet(s"$dir/items")
    spark.emptyDataset[PRecord].write.parquet(s"$dir/deltas")
    tasks = spark.read.parquet(s"$dir/tasks")
    records = spark.read.parquet(s"$dir/records")
    items = spark.read.parquet(s"$dir/items")
    stream = new StatusStream(spark, dir)
    taskModel = (1 to Tasks).map(i => task(s, i)).toArray
    claimed.clear(); rollups.clear(); checksPending.clear()
    cycle = 0; tasksDone = 0; checkClaims = false
  }

  /** One full cycle, compaction and rollup included; the model follows it
    * but its claims are not checked. */
  def warm(quiet: Tracer): Unit = {
    runCycle(quiet, new Latencies, compact = true)
    tasksDone = 0
    checkClaims = true
  }

  override def streamSessions: Seq[SparkSession] = Seq(stream.session)

  def measure(seconds: Double, tr: Tracer, lat: Latencies): Double = {
    tasksDone = 0
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      try tr.request("cycle")(runCycle(tr, lat, compact = (cycle + 1) % CompactEvery == 0))
      catch { case e: Exception => lat.fail(s"cycle $cycle: $e") }
    }
    (System.nanoTime() - t0) / 1e9
  }

  def workUnits: Long = tasksDone

  private def runCycle(tr: Tracer, lat: Latencies, compact: Boolean): Unit = {
    val events = mutable.Buffer.empty[(Long, String, java.sql.Timestamp)]
    for (m <- idents) {
      val t0 = System.nanoTime()
      val deltas = spark.read.parquet(s"$dir/deltas")
      val df = tr.build("records", "TaskOps.claimTagOrdered")(TaskOps.claimTagOrdered(
        tasks.join(deltas.select("record_id"), Seq("record_id"), "left_anti"),
        m.programs, m.tags, ClaimLimit))
      val got = tr.exec("records", "claim.collect")(
        df.select("task_id").collect().map(_.getLong(0)).toSeq)(_.size.toLong)
      lat.add((System.nanoTime() - t0) / 1e6)
      val answer = if (checkClaims && fault.contains("double_claim") && checksPending.isEmpty)
        got.init :+ claimed.head else got
      if (checkClaims) checkClaim(m, answer)
      claimed ++= got
      if (got.nonEmpty) {
        val results = got.map(t => (t, outcome(seed, t))).toDF("record_id", "new_status")
        val delta = tr.build("records", "RecordOps.applyFinished")(RecordOps.applyFinished(
          records.filter(col("record_id").isin(got: _*)), results))
        tr.exec("records", "delta.write")(delta.write.mode("append").parquet(s"$dir/deltas"))(_ => 0L)
        val ts = T0 + cycle * 60000L
        got.foreach { t =>
          events += ((t, "running", new java.sql.Timestamp(ts)))
          events += ((t, outcome(seed, t), new java.sql.Timestamp(ts + 1000)))
        }
        tasksDone += got.size
      }
    }
    stream.append(events.toSeq)
    stream.advance(tr)
    if (compact) {
      tr.build("operators", "Layout.compactParquet")(Layout.compactParquet(spark, s"$dir/deltas",
        s"$dir/deltas_next", Seq(col("record_id")), 8L << 20))
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(s"$dir/deltas"), true)
      fs.rename(new Path(s"$dir/deltas_next"), new Path(s"$dir/deltas"))
      val deltas = spark.read.parquet(s"$dir/deltas")
      val current = RecordOps.applyFinished(records,
        deltas.select(col("record_id"), col("status").as("new_status")))
      val df = tr.build("records", "DatasetOps.statusRollup")(DatasetOps.statusRollup(items, current))
      val got = tr.exec("records", "rollup.collect")(df.collect())(_.length.toLong)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      rollups += (got -> expectedRollup)
    }
    cycle += 1
  }

  /** The claim must equal a plain-Scala top-k of the eligible tasks: not
    * yet claimed, available, every required program served, tag served;
    * ordered by tag rank, priority desc, sort date, id. */
  private def checkClaim(m: ManagerId, got: Seq[Long]): Unit = {
    val progs = m.programs.toSet
    def rank(t: MTask) = if (m.tags.contains("*")) 1 else m.tags.indexOf(t.compute_tag) + 1
    val expected = taskModel.iterator
      .filter(t => t.available && !claimed(t.task_id) && t.required_programs.forall(progs) && rank(t) > 0)
      .toSeq.sortBy(t => (rank(t), -t.compute_priority, t.sort_date.getTime, t.task_id))
      .take(ClaimLimit).map(_.task_id)
    val twice = got.filter(claimed)
    checksPending += ((twice.isEmpty && got.distinct.size == got.size,
      s"cycle $cycle ${m.name}: tasks claimed twice: ${twice.take(5).mkString(",")}"))
    checksPending += ((got == expected, s"cycle $cycle ${m.name}: claim differs from the model's top-k"))
  }

  private def expectedRollup: Map[String, Long] = {
    val base = (1 to Tasks).groupBy(i => if (taskModel(i - 1).available) "waiting" else "running")
      .map { case (k, v) => k -> v.size.toLong }
    val moved = claimed.toSeq.groupBy(t => outcome(seed, t)).map { case (k, v) => k -> v.size.toLong }
    (base.keySet ++ moved.keySet).map { k =>
      k -> (base.getOrElse(k, 0L) + moved.getOrElse(k, 0L) - (if (k == "waiting") claimed.size.toLong else 0L))
    }.filter(_._2 != 0).toMap
  }

  def verify(checks: Checks): Unit = {
    checksPending.foreach { case (ok, msg) => checks.check(ok, msg) }
    rollups.foreach { case (got, exp) => checks.check(got == exp, s"status rollup $got != model $exp") }
    stream.verify(checks)
    checksPending.clear(); rollups.clear()
  }
}
