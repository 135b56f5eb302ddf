package routerbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Router pipeline benchmark entry point (launched by `run.py`).
  *
  * {{{
  * routerbench.Main --workload replay_clean|replay_dirty|stream_live
  *   --seed N --seconds S --trace 0|1 --work DIR --out DIR
  * }}}
  *
  * Prints a metric table, then one JSON result line; exits 1 when any
  * correctness check failed. */
object Main {

  val Workloads: Seq[String] = Seq("replay_clean", "replay_dirty", "stream_live")

  /** (name, unit), in BENCHMARK.json order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rec_per_s" -> "1/s", "batch_s_p50" -> "s", "cpu_ms_per_krec" -> "ms")

  /** Printed in the table and the run record but not in the result line.
    * The stream's open-loop latency follows the host's speed, amplified:
    * each micro-batch reads what arrived during the previous one, so a
    * slower host makes micro-batches both slower and larger, and ten-run
    * spreads reached 39 % when the host's CPU steal rose. On replay the
    * latency restates the batch time. The p99 is set by a run's slowest
    * batch, and the peak resident set reads the fixed heap size, not what
    * the router keeps live. */
  val ReportedOnly: Seq[(String, String)] = Seq(
    "latency_s_p50" -> "s", "latency_s_p99" -> "s", "rss_peak_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "decode.s" -> "s", "decode.rec_in" -> "count", "decode.rec_out" -> "count",
    "route.s" -> "s", "route.good" -> "count", "route.failed" -> "count", "route.dropped" -> "count",
    "enrich.s" -> "s",
    "sink.bulk.body_s" -> "s", "sink.bulk.body_mb" -> "MB", "sink.bulk.push_s" -> "s",
    "sink.transport.send_s" -> "s", "sink.transport.chunks" -> "count",
    "sink.transport.bytes" -> "B", "sink.transport.http_requests" -> "count",
    "sink.transport.http_retried" -> "count", "sink.transport.http_rejects" -> "count",
    "sink.transport.useful_frac" -> "frac",
    "sink.dlq.failed_s" -> "s", "sink.dlq.rejected_s" -> "s", "sink.dlq.rows" -> "count",
    "sink.dlq.files" -> "count", "sink.dlq.bytes" -> "B",
    "pipeline.run_batch_s" -> "s", "pipeline.overhead_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.gc_s" -> "s", "spark.executor_cpu_s" -> "s",
    "streaming.batches" -> "count", "streaming.rows_per_batch_p50" -> "count",
    "streaming.trigger_s_p50" -> "s", "streaming.add_batch_s_p50" -> "s",
    "streaming.latest_offset_s_p50" -> "s", "streaming.wal_commit_s_p50" -> "s",
    "harness.gen_late_s_max" -> "s", "harness.stub_busy_s" -> "s")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, out: File)

  def parse(args: Array[String]): Opts = {
    val m = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (${Workloads.mkString("|")})")
    val trace = m.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, not $trace")
    val seconds = need("seconds").toDouble
    require(seconds > 0, "--seconds must be positive")
    Opts(w, need("seed").toLong, seconds, trace == "1", new File(need("work")), new File(need("out")))
  }

  def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("routerbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.work.mkdirs(); o.out.mkdirs()
    val checks = new Checks
    val workload: Workload = o.workload match {
      case "replay_clean" => new Replay(dirty = false, o.seed, o.work, checks)
      case "replay_dirty" => new Replay(dirty = true, o.seed, o.work, checks)
      case "stream_live" => new Live(o.seed, o.work, checks)
    }
    // set-up is timed once per run, from JVM start: a cold set-up costs
    // about 25 s, so repeating it in a run does not fit the run budget
    val spark = session(o.work)
    workload.prepare(spark)
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = if (o.trace) Some(new SparkCounters) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val outcome = workload.run(spark, o.seconds, tracer)
    workload.close()
    spark.stop()

    val e2e = outcome.e2e ++ Map("setup_s" -> setupS, "rss_peak_mb" -> Clock.rssPeakMb())
    val layers = PerLayer.map { case (k, _) => k -> outcome.layers.getOrElse(k, 0.0) }.toMap
    val shown = if (o.trace) PerLayer.map { case (k, u) => k -> (layers(k), u) }
                else EndToEnd.map { case (k, u) => k -> (e2e(k), u) }
    writeRecord(o, e2e, layers, outcome.samples)
    checks.operations(1, shown.collect {
      case (k, (v, _)) if v.isNaN || v.isInfinite => s"metric $k not measured" -> 1L
    })

    val failedFrac = checks.failed.toDouble / math.max(1L, checks.attempted)
    println(s"# routerbench ${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0}")
    outcome.samples.toSeq.sorted.foreach { case (k, v) => println(f"#   $k%-28s ${v.toLong}") }
    shown.foreach { case (k, (v, u)) => println(f"#   $k%-28s $v%14.6f $u") }
    if (!o.trace) ReportedOnly.foreach { case (k, u) => println(f"#   $k%-28s ${e2e(k)}%14.6f $u (reported only)") }
    println(f"#   ${"failed_frac"}%-28s $failedFrac%14.6f frac (${checks.failed} of ${checks.attempted} operations)")
    println(Json.write(Map(
      "correct" -> (checks.failed == 0),
      "attempted" -> checks.attempted,
      "failed" -> checks.failed,
      "metrics" -> scala.collection.immutable.ListMap(shown.map { case (k, (v, u)) =>
        k -> scala.collection.immutable.ListMap("value" -> v, "unit" -> u)
      }: _*))))
    System.out.flush()
    System.exit(if (checks.failed == 0 && checks.attempted > 0) 0 else 1)
  }

  /** Writes this run's record under `out`. A traced run's record also holds
    * the tracing overhead: its own end-to-end numbers against those of the
    * newest untraced run of the same workload and length, as
    * (traced / untraced - 1). */
  private def writeRecord(o: Opts, e2e: Map[String, Double], layers: Map[String, Double],
                          samples: Map[String, Double]): Unit = {
    val kind = if (o.trace) "trace" else "e2e"
    val base = Map("workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "samples" -> samples)
    val record = if (!o.trace) base ++ Map("e2e" -> e2e)
    else {
      val untraced = Option(o.out.listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith(s"${o.workload}-") && f.getName.endsWith("-e2e.json"))
        .sortBy(_.lastModified).reverseIterator.map(readRecord)
        .collectFirst { case r if r.path("seconds").asDouble == o.seconds => e2eOf(r) }
      val overhead = untraced.map(u => e2e.collect {
        case (k, v) if u.get(k).exists(_ != 0) => k -> (v / u(k) - 1)
      })
      base ++ Map("per_layer" -> layers, "e2e_traced" -> e2e) ++
        untraced.map("e2e_untraced" -> _) ++ overhead.map("tracing_overhead" -> _)
    }
    Files.write(new File(o.out, s"${o.workload}-seed${o.seed}-$kind.json").toPath,
      (Json.write(record) + "\n").getBytes(UTF_8))
  }

  private def readRecord(f: File): JsonNode = Json.mapper.readTree(f)

  private def e2eOf(record: JsonNode): Map[String, Double] = {
    val e2e = record.path("e2e")
    e2e.fieldNames().asScala.map(k => k -> e2e.get(k).asDouble).toMap
  }
}
