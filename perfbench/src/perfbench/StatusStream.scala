package perfbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.streaming.EventStreams
import graft.streaming.EventStreams.KeyUpdate

/** A stateful status stream: status-change events (key, status, ts) are
  * appended as parquet files under `dir/events.parquet`, and
  * `EventStreams.statefulUpdates` folds them per key, advanced by one
  * AvailableNow trigger at a time on a persistent checkpoint. The
  * benchmark's sink keeps the latest update per key; a plain-Scala
  * recount of everything appended is the reference. */
final class StatusStream(spark: SparkSession, dir: String) {
  import spark.implicits._

  private val schema = StructType(Seq(StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("ts", TimestampType)))
  spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema).write.parquet(s"$dir/events.parquet")
  /** The stream's own session, state partitions sized by the library. */
  val session: SparkSession = EventStreams.stateSession(spark, dir, Seq("events"))

  private val sink = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
  private val appended = mutable.Map.empty[Long, (Int, String)]

  def append(events: Seq[(Long, String, Timestamp)]): Unit = {
    events.toDF("user_id", "event_type", "ts").coalesce(1)
      .write.mode("append").parquet(s"$dir/events.parquet")
    // events of one key arrive in time order, so the last appended wins
    events.foreach { case (k, t, _) => appended(k) = (appended.get(k).fold(0)(_._1) + 1, t) }
  }

  /** One trigger over everything appended since the last one. */
  def advance(tr: Tracer): Unit = {
    val updates = tr.build("streaming", "EventStreams.statefulUpdates")(EventStreams.statefulUpdates(
      session.readStream.schema(schema).parquet(s"$dir/events.parquet")))
    val toSink: (Dataset[KeyUpdate], Long) => Unit = (ds, _) =>
      ds.collect().foreach(u => sink.merge(u.user_id, (u.n_events, u.last_type),
        (a, b) => if (b._1 >= a._1) b else a))
    tr.exec("streaming", "trigger")(updates.writeStream.outputMode("update")
      .trigger(Trigger.AvailableNow()).option("checkpointLocation", s"$dir/checkpoint")
      .foreachBatch(toSink).start().awaitTermination())(_ => 0L)
  }

  def verify(checks: Checks): Unit = {
    val state = sink.entrySet().toArray(Array.empty[java.util.Map.Entry[Long, (Long, String)]])
      .map(e => e.getKey -> (e.getValue._1.toInt, e.getValue._2)).toMap
    checks.check(state == appended.toMap,
      s"streaming state differs from the event recount (${state.size} keys vs ${appended.size})")
  }
}
