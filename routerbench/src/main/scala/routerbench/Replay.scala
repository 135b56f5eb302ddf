package routerbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.config.PipelineConfig
import graft.model.Schemas

/** replay_clean / replay_dirty: closed loop of back-to-back
  * `Pipeline.runBatch` calls on the whole generated batch, NDJSON bodies
  * written by `FileBulkTransport`. */
final class Replay(dirty: Boolean, seed: Long, work: File, checks: Checks) extends Workload {
  private val bulkDir = new File(work, "bulk")
  private val dlqDir = new File(work, "dlq")
  private val cfg = PipelineConfig(
    logTypeWhitelist = if (dirty) Gen.dirtyWhitelist else None,
    indexNamePrefix = Gen.IndexPrefix,
    deadLetterPath = dlqDir.getAbsolutePath)
  private val transport = Pipeline.fileTransport(bulkDir.getAbsolutePath)
  private var batch: Batch = _
  private var envelopes: DataFrame = _

  def prepare(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    batch = if (dirty) Gen.dirty(seed) else Gen.clean(seed)
    val t1 = System.nanoTime()
    envelopes = Replay.frame(spark, batch.envelopes).persist(StorageLevel.MEMORY_ONLY)
    envelopes.count()
    val t2 = System.nanoTime()
    val warm = (1 to Replay.WarmupBatches).map(_ => runChecked().seconds)
    System.err.println(f"set-up: generate ${(t1 - t0) / 1e9}%.2f s, materialize ${(t2 - t1) / 1e9}%.2f s, " +
      f"warm-up batches ${warm.map(w => f"$w%.2f").mkString(" ")} s, total ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** One timed `runBatch` and its untimed checks. */
  private final case class Run(seconds: Double, cpuNanos: Long, records: Long, latencies: Array[Double])

  private def runChecked(): Run = {
    Outputs.delete(bulkDir); Outputs.delete(dlqDir)
    val startMicros = Clock.wallMicros()
    val cpu0 = Clock.processCpuNanos()
    val t0 = System.nanoTime()
    val res = Pipeline.runBatch(envelopes, cfg, transport)
    val dt = (System.nanoTime() - t0) / 1e9
    val cpu = Clock.processCpuNanos() - cpu0
    val exp = batch.expected
    val bulk = Outputs.readBulkDir(bulkDir)
    val dlq = Outputs.readDlq(dlqDir)
    checks.expect("records conserved",
      res.pushed + res.failed + res.rejected + res.dropped, exp.decoded)
    checks.expect("route counts",
      (res.pushed, res.failed, res.rejected, res.dropped), (exp.good, exp.failed, 0L, exp.dropped))
    checks.expect("documents per index", bulk.perIndex, exp.perIndex)
    checks.expect("distinct document ids", (bulk.docs, bulk.distinctIds.toLong), (exp.good, exp.good))
    checks.expect("dead-letter rows per reason and type", dlq.rows, exp.dlqRows)
    checks.operation()
    val latencies = bulk.chunks.flatMap { case (mtime, n) =>
      Iterator.fill(n)((mtime - startMicros) / 1e6)
    }.toArray
    Outputs.delete(bulkDir); Outputs.delete(dlqDir)
    Run(dt, cpu, res.pushed + res.failed + res.rejected + res.dropped, latencies)
  }

  def run(spark: SparkSession, seconds: Double, tracer: Option[SparkCounters]): Outcome = {
    val runs = ArrayBuffer.empty[Run]
    val layers = ArrayBuffer.empty[Map[String, Double]]
    val wall0 = System.nanoTime()
    while (runs.size < Replay.MinBatches || (System.nanoTime() - wall0) / 1e9 < seconds) {
      tracer match {
        case None => runs += runChecked()
        case Some(listener) =>
          val parts = Layers.decompose(spark, envelopes, base64 = false, cfg, transport, counted = true)
          Outputs.delete(bulkDir)
          BenchBus.drain(spark.sparkContext)
          listener.total.reset()
          val r = runChecked()
          BenchBus.drain(spark.sparkContext)
          runs += r
          layers += parts ++ listener.total.snapshot ++ Map(
            "pipeline.run_batch_s" -> r.seconds,
            "pipeline.overhead_s" -> (r.seconds - parts("layers.self_s")))
      }
    }
    System.err.println("batch seconds: " + runs.map(r => f"${r.seconds}%.3f").mkString(" "))
    val records = runs.map(_.records).sum
    val timed = runs.map(_.seconds).sum
    val latencies = runs.flatMap(_.latencies)
    Outcome(
      e2e = Map(
        "rec_per_s" -> records / timed,
        "batch_s_p50" -> Stats.median(runs.map(_.seconds).toSeq),
        "latency_s_p50" -> Stats.percentile(latencies.toSeq, 0.5),
        "latency_s_p99" -> Stats.percentile(latencies.toSeq, 0.99),
        "cpu_ms_per_krec" -> runs.map(_.cpuNanos).sum / 1e6 / (records / 1e3)),
      layers = Outcome.medians(layers.toSeq),
      samples = Map("batches" -> runs.size.toDouble, "latency_samples" -> latencies.size.toDouble))
  }

  def close(): Unit = ()
}

object Replay {
  /** Checked batches run in set-up, before measuring. */
  val WarmupBatches = 3
  val MinBatches = 3

  /** The generated envelopes as a DataFrame of `Schemas.envelope`, spread
    * over the default parallelism like `Pipeline.eventsAsEnvelopes`. */
  def frame(spark: SparkSession, envs: Array[Envelope]): DataFrame = {
    val rows = envs.toSeq.map(e =>
      Row(e.partitionKey, e.sequenceNumber, new Timestamp(e.arrivalMicros / 1000), e.data))
    val sc = spark.sparkContext
    spark.createDataFrame(sc.parallelize(rows, sc.defaultParallelism), Schemas.envelope)
  }
}
