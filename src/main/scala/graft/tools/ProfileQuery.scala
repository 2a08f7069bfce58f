package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{SparkEntry, Tables}

/** Job-level profile of one driver-contract query: how many Spark jobs
  * it schedules and where the wall-clock goes. Orchestration-heavy
  * operators (incremental dedup, iterative components) are bounded by
  * scheduler round-trips at toy scale — this makes that visible, along
  * with the code the measured run had to compile (count and Janino ms).
  *
  *   sbt "runMain graft.tools.ProfileQuery dd_incremental /root/testdata/sf0.1"
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    // comma-separated names profile several queries in one JVM/session
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        starts.put(j.jobId, (j.time, desc))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(starts.remove(j.jobId)).foreach { case (t0, desc) =>
          rows.add((j.jobId, j.time - t0, desc, t0, j.time))
        }
      }
    })

    import scala.jdk.CollectionConverters._
    for (name <- names) {
      // warm-up so codegen/parquet-footer costs don't pollute the profile
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      rows.clear()
      // Janino compilations of the measured run: a class the JVM-wide
      // generated-class cache still holds from the warm-up costs nothing,
      // so a non-zero count here is code compiled again on a repeat run
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val totalMs = (System.nanoTime() - t0) / 1000000L
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1000000L
      Thread.sleep(500) // let listener events drain
      val all = rows.asScala.toSeq.sortBy(_._1)
      val jobSum = all.map(_._2).sum
      println(s"== $name: ${all.size} jobs, ${totalMs} ms wall, ${jobSum} ms in jobs, " +
        s"$compiles compilations, $compileMs ms compiling ==")
      // driver-side idle: gap between a job's end and the next job's start
      var prevEnd = 0L
      all.foreach { case (id, ms, desc, st, en) =>
        val gap = if (prevEnd == 0) 0 else st - prevEnd
        prevEnd = en
        println(f"job $id%3d  $ms%6d ms  gap $gap%6d ms  ${desc.take(95)}")
      }
    }
    spark.stop()
  }
}
