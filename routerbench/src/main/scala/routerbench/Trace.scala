package routerbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.config.PipelineConfig
import graft.decode.Decode
import graft.enrich.Enrich
import graft.route.Router
import graft.sink.{BulkAction, BulkReject, BulkSink, BulkTransport, DeadLetterSink}

/** JVM-wide counters of [[CountingTransport]]; Spark runs in local mode,
  * so executor tasks and the harness share them. */
object TransportCounters {
  val sendNanos = new AtomicLong
  val chunks = new AtomicLong
  val actions = new AtomicLong
  val bytes = new AtomicLong

  def reset(): Unit = Seq(sendNanos, chunks, actions, bytes).foreach(_.set(0))
}

/** Times and counts every chunk handed to the wrapped transport. */
final class CountingTransport(inner: () => BulkTransport) extends BulkTransport {
  @transient private lazy val t = inner()

  override def sendChunk(body: String, actions: Seq[BulkAction]): Seq[BulkReject] = {
    val t0 = System.nanoTime()
    val rs = t.sendChunk(body, actions)
    TransportCounters.sendNanos.addAndGet(System.nanoTime() - t0)
    TransportCounters.chunks.incrementAndGet()
    TransportCounters.actions.addAndGet(actions.size.toLong)
    TransportCounters.bytes.addAndGet(body.getBytes(UTF_8).length.toLong)
    rs
  }

  override def close(): Unit = t.close()
}

/** Job, stage and task totals, overall and per streaming batch id. */
final class SparkCounts {
  val jobs, stages, tasks, shuffleWriteBytes, spillBytes, gcMs, cpuNanos = new AtomicLong

  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.get.toDouble,
    "spark.spill_bytes" -> spillBytes.get.toDouble,
    "spark.gc_s" -> gcMs.get / 1e3,
    "spark.executor_cpu_s" -> cpuNanos.get / 1e9)

  def reset(): Unit =
    Seq(jobs, stages, tasks, shuffleWriteBytes, spillBytes, gcMs, cpuNanos).foreach(_.set(0))
}

/** Attached by the benchmark in traced runs only. Jobs started by a
  * streaming micro-batch carry its batch id as a local property. */
final class SparkCounters extends SparkListener {
  val total = new SparkCounts
  val byBatch = new ConcurrentHashMap[String, SparkCounts]()
  private val stageBatch = new ConcurrentHashMap[Int, SparkCounts]()

  private def batchOf(stageId: Int): Option[SparkCounts] = Option(stageBatch.get(stageId))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
      val c = byBatch.computeIfAbsent(b, _ => new SparkCounts)
      c.jobs.incrementAndGet()
      e.stageIds.foreach(stageBatch.put(_, c))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    total.stages.incrementAndGet()
    batchOf(e.stageInfo.stageId).foreach(_.stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    (Seq(total) ++ batchOf(e.stageId)).foreach { c =>
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.cpuNanos.addAndGet(m.executorCpuTime)
      }
    }
}

/** Per-layer timings of one batch, taken by calling each layer's public
  * function on a cached copy of its input and forcing it with a noop
  * write (the sinks with their own write). Inputs are cached untimed. */
object Layers {

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Layer self-times and counts for `envelopes` (base64 `data` when
    * `base64`). With `counted`, the push goes through a
    * [[CountingTransport]] and the sink.transport row is filled in. DLQ
    * output under `cfg.deadLetterPath` is measured, then deleted. */
  def decompose(spark: SparkSession, envelopes: DataFrame, base64: Boolean,
                cfg: PipelineConfig, transport: () => BulkTransport,
                counted: Boolean): Map[String, Double] = {
    def decode(df: DataFrame) = if (base64) Decode.normalizeBase64(df) else Decode.normalize(df)
    val decodeS = seconds(noop(decode(envelopes)))
    val decoded = decode(envelopes).persist(StorageLevel.MEMORY_AND_DISK)
    val recIn = envelopes.count()
    val recOut = decoded.count()

    val routeS = seconds(noop(Router.route(decoded, cfg)))
    val routed = Router.route(decoded, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    val byRoute = routed.groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def routeCount(p: String => Boolean) = byRoute.filter(kv => p(kv._1)).values.sum.toDouble

    val enrichS = seconds(noop(Enrich.withIndexName(routed, cfg)))
    val enriched = Enrich.withIndexName(routed, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    val good = Router.good(enriched).persist(StorageLevel.MEMORY_AND_DISK)
    val failed = Router.failed(enriched).persist(StorageLevel.MEMORY_AND_DISK)
    good.count(); failed.count()

    val chunks = good.selectExpr("index_name as indexName", "log_id as id", "payload as source")
      .as(Encoders.product[BulkAction]).collect().grouped(cfg.bulkChunkSize).map(_.toSeq).toVector
    var bodies = Vector.empty[String]
    val bodyS = seconds { bodies = chunks.map(c => BulkSink.bulkBody(c, cfg.esLegacyType)) }
    val bodyMb = bodies.iterator.map(_.getBytes(UTF_8).length.toLong).sum / 1e6

    TransportCounters.reset()
    val sendVia = if (counted) () => new CountingTransport(transport): BulkTransport else transport
    var rejects = Array.empty[BulkReject]
    val pushS = seconds { rejects = BulkSink.push(good, cfg, sendVia).collect() }
    val rejectsDf = spark.createDataset(rejects.toSeq)(Encoders.product[BulkReject]).toDF()
      .persist(StorageLevel.MEMORY_AND_DISK)
    rejectsDf.count()

    val dlqRoot = new File(cfg.deadLetterPath)
    Outputs.delete(dlqRoot)
    val failedS = seconds(DeadLetterSink.writeFailed(failed, cfg, reason = "failed_validation"))
    val rejectedS = seconds(DeadLetterSink.writeRejected(rejectsDf, cfg))
    val dlq = Outputs.readDlq(dlqRoot)
    Outputs.delete(dlqRoot)
    Seq(decoded, routed, enriched, good, failed, rejectsDf).foreach(_.unpersist())

    val transportRow =
      if (!counted) Map.empty[String, Double]
      else Map(
        "sink.transport.send_s" -> TransportCounters.sendNanos.get / 1e9,
        "sink.transport.chunks" -> TransportCounters.chunks.get.toDouble,
        "sink.transport.bytes" -> TransportCounters.bytes.get.toDouble,
        "sink.transport.useful_frac" ->
          (1.0 - rejects.length.toDouble / math.max(1L, TransportCounters.actions.get)))
    transportRow ++ Map(
      "decode.s" -> decodeS,
      "decode.rec_in" -> recIn.toDouble,
      "decode.rec_out" -> recOut.toDouble,
      "route.s" -> routeS,
      "route.good" -> routeCount(_ == Router.Route.Good),
      "route.failed" -> routeCount(_.startsWith("failed:")),
      "route.dropped" -> routeCount(_.startsWith("dropped:")),
      "enrich.s" -> enrichS,
      "sink.bulk.body_s" -> bodyS,
      "sink.bulk.body_mb" -> bodyMb,
      "sink.bulk.push_s" -> pushS,
      "sink.dlq.failed_s" -> failedS,
      "sink.dlq.rejected_s" -> rejectedS,
      "sink.dlq.rows" -> dlq.rows.values.sum.toDouble,
      "sink.dlq.files" -> dlq.files.toDouble,
      "sink.dlq.bytes" -> dlq.bytes.toDouble,
      "layers.self_s" -> (decodeS + routeS + enrichS + pushS + failedS + rejectedS))
  }
}
