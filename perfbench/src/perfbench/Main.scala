package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A workload: set-up into a fresh directory, a timed closed loop, and
  * answer checks that run after the loop. */
trait Workload {
  /** What one latency sample is: a portal request, a claim, a batch. */
  def opName: String
  /** Units of work done in the timed loops: requests, tasks, documents. */
  def workUnits: Long
  /** Units of work per second of a timed window `wall` seconds long. */
  def opsPerSecond(wall: Double): Double = workUnits / wall
  /** Median latency of the timed window's operations. */
  def p50Ms(samples: Seq[Double]): Double = Stats.median(samples)
  /** A deliberately wrong answer to feed the checks (self-test only). */
  var fault: Option[String] = None
  /** Generate the inputs and build what the workload reads into `dir`. */
  def prepare(dir: String): Unit
  /** Run a first round of operations so the timed loop starts warm. */
  def warm(quiet: Tracer): Unit
  /** Run the closed loop for `seconds`; returns the wall seconds it took. */
  def measure(seconds: Double, tr: Tracer, lat: Latencies): Double
  /** Check every recorded answer, then drop the records of them. */
  def verify(checks: Checks): Unit
  /** Sessions besides the main one that plan queries (listeners go there too). */
  def streamSessions: Seq[SparkSession] = Nil
}

/** Latency samples and failed operations of the timed loops. */
final class Latencies {
  private val ms = mutable.ArrayBuffer.empty[Double]
  private val errors = mutable.ArrayBuffer.empty[String]
  def add(v: Double): Unit = synchronized(ms += v)
  def fail(msg: String): Unit = synchronized(errors += msg)
  def samples: Seq[Double] = synchronized(ms.toSeq)
  def failures: Seq[String] = synchronized(errors.toSeq)
}

/** Outcome of the answer checks. */
final class Checks {
  var attempted = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, msg: => String): Unit = { attempted += 1; if (!ok) failures += msg }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1); val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --root <dir> [--fault <kind>] [--digest-only]`. Prints the metrics by
  * name and unit, then one JSON result line; exits non-zero when any
  * answer is wrong. */
object Main {
  val Workloads = Seq("portal_reads", "manager_cycle", "curation_ingest")
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val digestOnly = args.contains("--digest-only")
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    if (digestOnly) { println(Gen.digest(workload, seed)); return }
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val root = opts("root")
    val fault = opts.get("fault")

    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.Tables.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.streaming.stopTimeout", "10s")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/tmp")
      .config("spark.sql.warehouse.dir", s"$root/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val runDir = s"$root/work/$workload-${ProcessHandle.current().pid()}"
    val fs = new Path(runDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val code = try {
      val w: Workload = workload match {
        case "portal_reads" => new Portal(spark, seed)
        case "manager_cycle" => new Manager(spark, seed)
        case "curation_ingest" => new Curation(spark, seed)
      }
      w.fault = fault
      val quiet = new Tracer(spark, enabled = false)
      // inputs and indexes are prepared SetupReps times from scratch (the
      // last is kept), then warmed once
      val setupTimes = (0 until SetupReps).map { r =>
        fs.delete(new Path(runDir), true)
        val t0 = System.nanoTime()
        w.prepare(s"$runDir/rep$r")
        (System.nanoTime() - t0) / 1e9
      }
      val w0 = System.nanoTime()
      w.warm(quiet)
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(setupTimes) + warmS
      val heapAfterSetup = liveHeapMb()
      println(s"workload $workload seed $seed input digest ${Gen.digest(workload, seed)}")
      println(f"setup: session $sessionS%.2f s, prepare ${setupTimes.map(t => f"$t%.2f").mkString(", ")} s, warm-up $warmS%.2f s")

      val lat = new Latencies
      val checks = new Checks
      val (metrics, wall) = if (!trace) {
        val wall = w.measure(seconds, quiet, lat)
        val v0 = System.nanoTime()
        w.verify(checks)
        println(f"checks: ${(System.nanoTime() - v0) / 1e9}%.2f s")
        // the recorded answers are gone by now: this is the program's heap
        val heap = math.max(heapAfterSetup, liveHeapMb())
        (Seq(
          ("setup_s", setupS, "s"),
          ("ops_per_s", w.opsPerSecond(wall), "1/s"),
          ("p50_ms", w.p50Ms(lat.samples), "ms"),
          ("live_heap_mb", heap, "MB")), wall)
      } else {
        // untraced, traced, untraced: the overhead compares the traced
        // window with both neighbours, so drift across the run cancels
        val before = new Latencies
        w.measure(seconds, quiet, before)
        val tr = new Tracer(spark, enabled = true)
        tr.install(spark +: w.streamSessions: _*)
        val gc0 = gcTotals
        val wall = w.measure(seconds, tr, lat)
        tr.drain()
        val gc1 = gcTotals
        tr.uninstall(spark +: w.streamSessions: _*)
        val after = new Latencies
        w.measure(seconds, quiet, after)
        w.verify(checks)
        val plainP50 = (Stats.median(before.samples) + Stats.median(after.samples)) / 2
        val layers = Layers.metrics(w, tr, wall, cores, (gc1._1 - gc0._1, gc1._2 - gc0._2),
          plainP50, Stats.median(lat.samples))
        Layers.write(s"$root/traces/$workload-seed$seed", tr, layers)
        println(f"tracing overhead on $workload: p50 ${Stats.median(lat.samples) - plainP50}%+.1f ms " +
          f"(untraced ${plainP50}%.1f ms, traced ${Stats.median(lat.samples)}%.1f ms)")
        (layers, wall)
      }

      w match {
        case p: Portal => println(f"portal.repeat_share ${p.repeatShare}%.4f; ${p.kindSummary}")
        case _ =>
      }
      val samples = lat.samples
      // every checked answer is an attempted operation, and so is every
      // operation that threw before it had an answer
      val failed = checks.failures.size + lat.failures.size
      val attempted = math.max(1L, checks.attempted + lat.failures.size)
      println(f"${samples.size} ${w.opName}s in $wall%.1f s; failed ${failed} " +
        f"(failed_ratio ${failed.toDouble / attempted}%.4f)")
      println("samples " + samples.map(x => f"$x%.0f").mkString(" "))
      if (samples.size >= 100)
        println(f"p90_ms ${Stats.quantile(samples, 0.9)}%.2f ms (${samples.size} samples)")
      (checks.failures ++ lat.failures).take(10).foreach(m => println(s"FAILED: $m"))
      metrics.foreach { case (n, v, u) => println(f"$n%-36s $v%.4f $u") }
      val json = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString("{", ", ", "}")
      println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
      if (failed == 0) 0 else 1
    } finally {
      fs.delete(new Path(runDir), true)
      spark.stop()
    }
    System.exit(code)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Heap in use right after a full collection, in MiB. Spark's context
    * cleaner frees cached blocks of unreachable RDDs only after a
    * collection has found them, so collect, give it time, and collect
    * again. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** (collection ms, collection count) summed over every collector. */
  def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }
}
