package routerbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant
import java.util.Base64

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unbase64}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.config.PipelineConfig
import graft.model.Schemas
import graft.sink.{BulkTransport, HttpBulkTransport}
import graft.streaming.StreamingPipeline

/** Open-loop source: every tick it writes one JSON-lines file of base64
  * envelopes into the watched directory (write to a hidden name, then
  * rename), holding the tick's records of all shards; record `n` belongs to
  * shard `n % Shards` and is due at its tick's scheduled time. One file per
  * tick, not per shard per tick: the stream's cost grows with the number of
  * files per micro-batch, and shard files landing one by one let a
  * micro-batch start on part of a tick. */
final class Generator(dir: File, seed: Long, t0Nanos: Long, ticks: Int)
    extends Thread("stream-generator") {
  import Generator._
  setDaemon(true)

  val lateNanos = new Array[Long](ticks)
  @volatile var error: Throwable = _

  def dueNanos(tick: Int): Long = t0Nanos + tick * TickNanos
  def tickOf(n: Long): Int = (n / PerTick).toInt
  def records: Long = ticks.toLong * PerTick

  /** The JSON-lines file of `tick`. */
  def file(tick: Int, dueWallMicros: Long): Array[Byte] = lines(tick.toLong * PerTick, PerTick, dueWallMicros)

  /** JSON-lines envelopes of records `first` until `first + count`. */
  def lines(first: Long, count: Int, arrivalWallMicros: Long): Array[Byte] = {
    val sb = new java.lang.StringBuilder(count * 300)
    val arrival = Gen.instant(arrivalWallMicros).toString
    (first until first + count).foreach { n =>
      val data = Gen.payload(Gen.streamEvent(n), Gen.streamKind(seed, n), n.toString)
      sb.append("{\"partitionKey\":\"shard-").append(n % Shards)
        .append("\",\"sequenceNumber\":\"").append(n)
        .append("\",\"approximateArrival\":\"").append(arrival)
        .append("\",\"data\":\"").append(Base64.getEncoder.encodeToString(data.getBytes(UTF_8)))
        .append("\"}\n")
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Puts a file into the watched directory under a hidden name, then
    * renames it, so the source never lists a half-written file. */
  def publish(name: String, body: Array[Byte]): Unit = {
    val tmp = new File(dir, "." + name + ".tmp")
    Files.write(tmp.toPath, body)
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  override def run(): Unit =
    try {
      val wallAtT0 = Clock.wallMicros() + (t0Nanos - System.nanoTime()) / 1000L
      (0 until ticks).foreach { k =>
        val due = dueNanos(k)
        val body = file(k, wallAtT0 + (due - t0Nanos) / 1000L)
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        publish(f"tick-$k%06d.json", body)
        lateNanos(k) = System.nanoTime() - due
      }
    } catch { case e: Throwable => error = e }
}

object Generator {
  val Shards = 4
  val RatePerShard = 1000
  val TickMs = 250
  val TickNanos: Long = TickMs * 1000000L
  val PerTick: Int = Shards * RatePerShard * TickMs / 1000
}

/** stream_live: `StreamingPipeline.run` on the JSON-lines file source
  * (Main's `--source json` wire format) with a `ProcessingTime(0)`
  * trigger, pushing through `HttpBulkTransport` to the [[BulkStub]].
  * Set-up warms the streaming path with a throwaway query; records due in
  * the measured query's first [[Live.WarmS]] seconds let it settle and are
  * checked but not measured. After the open-loop window, [[Live.Drains]]
  * backlogs of [[Live.DrainRecords]] records land one after another, each
  * as one file; the wall time of the micro-batches that clear one, and the
  * rows per second it gives, are what the stream can process, which the
  * offered rate cannot show. */
final class Live(seed: Long, work: File, checks: Checks) extends Workload {
  import Generator._
  private val dlqDir = new File(work, "dlq")
  private val cfg = PipelineConfig(indexNamePrefix = Gen.IndexPrefix,
    deadLetterPath = dlqDir.getAbsolutePath)
  private val stub = new BulkStub(seed)
  private def http: () => BulkTransport = { val url = stub.url; () => new HttpBulkTransport(url) }

  /** `n` stream-format records as a static frame: base64 `data` as on the
    * wire, or decoded as the streaming source hands it to the pipeline. */
  private def staticFrame(spark: SparkSession, prefix: String, n: Int, base64: Boolean): DataFrame = {
    import spark.implicits._
    val json = spark.read.schema(Schemas.envelopeJson).json(spark.createDataset(wireLines(prefix, n)))
      .repartition(math.max(1, n / PerTick))
    (if (base64) json else json.withColumn("data", unbase64(col("data"))))
      .persist(StorageLevel.MEMORY_ONLY)
  }

  /** `n` stream-format JSON lines (base64 `data`), ids `prefix0`.. . */
  private def wireLines(prefix: String, n: Int): Seq[String] = (0 until n).map { i =>
    val data = Gen.payload(Gen.streamEvent(i.toLong), Gen.streamKind(seed, i.toLong), s"$prefix$i")
    Json.write(Map("partitionKey" -> s"shard-${i % Shards}", "sequenceNumber" -> i.toString,
      "approximateArrival" -> "2024-02-01T00:00:00Z",
      "data" -> Base64.getEncoder.encodeToString(data.getBytes(UTF_8))))
  }

  /** Warms the streaming path: a throwaway query of the measured query's
    * shape reads [[Live.WarmFiles]] files of one second of offered load,
    * one file per micro-batch, back to back. A cold query fed at the full
    * rate starts with slow micro-batches, which the open loop turns into
    * larger and larger ones; warmed this way, the measured query starts
    * near its steady micro-batch. */
  private def warmStream(spark: SparkSession): Unit = {
    val dir = new File(work, "warm-in")
    val ckpt = new File(work, "warm-checkpoint")
    Seq(dir, ckpt).foreach(Outputs.delete)
    dir.mkdirs()
    val n = Shards * RatePerShard
    (0 until Live.WarmFiles).foreach { k =>
      Files.write(new File(dir, f"warm-$k%02d.json").toPath,
        wireLines(s"s$k-", n).mkString("", "\n", "\n").getBytes(UTF_8))
    }
    val source = spark.readStream.schema(Schemas.envelopeJson).option("maxFilesPerTrigger", 1L)
      .json(dir.getAbsolutePath).withColumn("data", unbase64(col("data")))
    val query = StreamingPipeline.run(source, cfg, http, ckpt.getAbsolutePath, Trigger.ProcessingTime(0L))
    query.processAllAvailable()
    query.stop()
    query.exception.foreach(e => throw e)
    val batches = query.recentProgress.filter(_.numInputRows > 0)
    System.err.println("warm-up micro-batch seconds: " +
      batches.map(_.durationMs.get("triggerExecution").longValue / 1e3).mkString(" "))
    checks.expect("stream warm-up rows read", batches.map(_.numInputRows).sum, Live.WarmFiles.toLong * n)
    checks.operation()
    Seq(dir, ckpt).foreach(Outputs.delete)
  }

  def prepare(spark: SparkSession): Unit = {
    val n = PerTick * 4
    val warm = staticFrame(spark, "w", n, base64 = false)
    val expectedFailed = (0 until n).count(i => Gen.streamKind(seed, i.toLong) != Kind.Good).toLong
    val res = Pipeline.runBatch(warm, cfg, http)
    checks.expect("warm-up records conserved",
      (res.pushed + res.rejected, res.failed, res.dropped), (n - expectedFailed, expectedFailed, 0L))
    checks.operation()
    warm.unpersist()
    warmStream(spark)
    stub.reset()
    Outputs.delete(dlqDir)
  }

  def run(spark: SparkSession, seconds: Double, tracer: Option[SparkCounters]): Outcome = {
    val inDir = new File(work, "stream-in")
    val ckpt = new File(work, "checkpoint")
    Seq(inDir, ckpt, dlqDir).foreach(Outputs.delete)
    inDir.mkdirs()
    val warmTicks = (Live.WarmS * 1000 / TickMs).toInt
    val windowTicks = math.max(1, math.ceil(seconds * 1000 / TickMs).toInt)
    val ticks = warmTicks + windowTicks

    val transport: () => BulkTransport =
      if (tracer.isDefined) { val h = http; () => new CountingTransport(h) } else http
    TransportCounters.reset()
    // a backlog file is split over the cores, as a backlog on a stream of
    // several shards is read by one reader per shard (by default a file
    // under 4 MB is one task, and one of 8 MB two); a tick file is smaller
    // than the split size and stays one task
    val lastBacklog = ticks.toLong * PerTick + (Live.Drains - 1).toLong * Live.DrainRecords
    val backlogBytes = new Generator(inDir, seed, 0L, 0).lines(lastBacklog, Live.DrainRecords, 0L).length
    spark.conf.set("spark.sql.files.maxPartitionBytes",
      backlogBytes / spark.sparkContext.defaultParallelism + 4096L)
    val source = spark.readStream.schema(Schemas.envelopeJson).json(inDir.getAbsolutePath)
      .withColumn("data", unbase64(col("data")))
    val query = StreamingPipeline.run(source, cfg, transport, ckpt.getAbsolutePath,
      Trigger.ProcessingTime(0L))

    val t0 = System.nanoTime() + 500000000L
    val wallAtT0 = Clock.wallMicros() + (t0 - System.nanoTime()) / 1000L
    val gen = new Generator(inDir, seed, t0, ticks)
    gen.start()
    val winStart = gen.dueNanos(warmTicks)
    val winEnd = gen.dueNanos(ticks)
    def sleepUntil(t: Long): Unit = { val w = t - System.nanoTime(); if (w > 0) Thread.sleep(w / 1000000L) }
    // process CPU, harness threads' CPU and transport counters, sampled at
    // the window's edges so that warm-up and backlogs stay out of them
    def sample() = Map(
      "cpu" -> Clock.processCpuNanos(), "gen_cpu" -> Clock.threadCpuNanos(gen.getId),
      "stub_cpu" -> Clock.threadCpuNanos(stub.threadId), "stub_busy" -> stub.busyNanos.get,
      "send" -> TransportCounters.sendNanos.get, "chunks" -> TransportCounters.chunks.get,
      "bytes" -> TransportCounters.bytes.get, "requests" -> stub.requests.get,
      "throttled" -> stub.throttledRequests.get, "rejects" -> stub.rejects.get,
      "seen" -> stub.actionsSeen.get, "accepted" -> stub.actionsAccepted.get)
    sleepUntil(winStart)
    val c0 = sample()
    sleepUntil(winEnd)
    val c1 = sample()
    def delta(k: String): Long = c1(k) - c0(k)
    gen.join()
    if (gen.error != null) throw gen.error
    query.processAllAvailable()

    // ---- backlog drains ----------------------------------------------------
    val drainSeconds = (0 until Live.Drains).map { k =>
      // one file, so that the backlog lands at once and is read by one
      // micro-batch; the split size set above spreads it over the cores
      val first = gen.records + k.toLong * Live.DrainRecords
      val seen = query.recentProgress.length
      gen.publish(f"backlog-$k%02d.json", gen.lines(first, Live.DrainRecords, Clock.wallMicros()))
      // the file lands while the query idles: wait for its receipts before
      // processAllAvailable, which could otherwise return on an idle
      // trigger that listed the directory just before it landed
      val ids = (first until first + Live.DrainRecords)
        .filter(n => Gen.streamKind(seed, n) == Kind.Good).map(_.toString)
      val deadline = System.nanoTime() + Live.DrainTimeoutS * 1000000000L
      while (!ids.forall(stub.firstReceipt.containsKey) && System.nanoTime() < deadline) Thread.sleep(5)
      query.processAllAvailable()
      val batches = query.recentProgress.toSeq.drop(seen).filter(_.numInputRows > 0)
      val rows = batches.map(_.numInputRows).sum
      checks.expect(s"backlog $k rows read", rows, Live.DrainRecords.toLong)
      checks.operation()
      batches.map(_.durationMs.get("triggerExecution").longValue / 1e3).sum
    }
    System.err.println("backlog seconds: " + drainSeconds.mkString(" "))
    query.stop()
    query.exception.foreach(e => throw e)
    BenchBus.drain(spark.sparkContext)

    // ---- checks (untimed) -------------------------------------------------
    val total = gen.records + Live.Drains.toLong * Live.DrainRecords
    val goodIds = (0L until total).filter(n => Gen.streamKind(seed, n) == Kind.Good).map(_.toString)
    val good = goodIds.toSet
    val received = stub.firstReceipt.keySet().asScala.toSet
    val wantRejected = goodIds.filter(Gen.esRejects(seed, _)).toSet
    val rejected = stub.rejected.asScala.toSet
    val dlq = Outputs.readDlq(dlqDir, idsOf = Set("es_rejected"))
    val dlqRejected = dlq.ids.getOrElse("es_rejected", Vector.empty)
    val failedRows = dlq.rows.collect { case (("failed_validation", t), n) => t -> n }
    checks.operations(total, Seq(
      "ids received that are not good ids" -> (received diff good).size.toLong,
      "good ids never received" -> (good diff received).size.toLong,
      "stub rejects that are not seed-chosen" -> (rejected diff wantRejected).size.toLong,
      "seed-chosen ids not rejected" -> (wantRejected diff rejected).size.toLong,
      "es_rejected rows without a stub reject" -> (dlqRejected.toSet diff rejected).size.toLong,
      "stub rejects missing from es_rejected" -> (rejected diff dlqRejected.toSet).size.toLong,
      "duplicate es_rejected rows" -> (dlqRejected.size - dlqRejected.toSet.size).toLong,
      "failed_validation rows off the invalid count" ->
        math.abs(failedRows.getOrElse("unknown", 0L) - (total - goodIds.size)),
      "failed_validation rows not under unknown" -> failedRows.filter(_._1 != "unknown").values.sum))

    // ---- end-to-end metrics ------------------------------------------------
    val latencies = ArrayBuffer.empty[Double]
    var lastReceipt = winStart
    (warmTicks.toLong * PerTick until gen.records).foreach { n =>
      val r = stub.firstReceipt.get(n.toString)
      if (r != null) {
        latencies += (r - gen.dueNanos(gen.tickOf(n))) / 1e9
        lastReceipt = math.max(lastReceipt, r.longValue)
      }
    }
    val winStartMs = (wallAtT0 + (winStart - t0) / 1000L) / 1000L
    val winEndMs = (wallAtT0 + (winEnd - t0) / 1000L) / 1000L
    val progress = query.recentProgress.toSeq.filter { p =>
      val at = Instant.parse(p.timestamp).toEpochMilli
      p.numInputRows > 0 && at >= winStartMs && at < winEndMs
    }
    def durS(key: String) = progress.flatMap(p => Option(p.durationMs.get(key)).map(_.longValue / 1e3))
    val windowRecords = windowTicks.toLong * PerTick
    val cpu = delta("cpu") - delta("gen_cpu") - delta("stub_cpu")
    val batchP50 = Stats.median(durS("triggerExecution"))
    System.err.println("window micro-batch seconds: " + durS("triggerExecution").mkString(" "))
    val tailS = (lastReceipt - winEnd) / 1e9
    val keptUp = Live.keptUp(tailS, batchP50)
    if (!keptUp) System.err.println(f"stream fell behind the offered rate: receipts of window " +
      f"records went on $tailS%.2f s after the window, micro-batch p50 $batchP50%.2f s")
    checks.operations(1, Seq("stream fell behind the offered rate" -> (if (keptUp) 0L else 1L)))
    val e2e = Map(
      "rec_per_s" -> Live.DrainRecords / Stats.median(drainSeconds),
      "batch_s_p50" -> Stats.median(drainSeconds),
      "latency_s_p50" -> Stats.percentile(latencies.toSeq, 0.5),
      "latency_s_p99" -> Stats.percentile(latencies.toSeq, 0.99),
      "cpu_ms_per_krec" -> cpu / 1e6 / (windowRecords / 1e3))

    // ---- per-layer metrics (traced run) -------------------------------------
    val layers = tracer.fold(Map.empty[String, Double]) { listener =>
      val nb = math.max(1, progress.size).toDouble
      val batchIds = progress.map(_.batchId.toString).toSet
      val perBatch = Outcome.medians(listener.byBatch.asScala.collect {
        case (b, c) if batchIds(b) => c.snapshot
      }.toSeq)
      val streamRows = Map(
        "streaming.batches" -> progress.size.toDouble,
        "streaming.rows_per_batch_p50" -> Stats.median(progress.map(_.numInputRows.toDouble)),
        "streaming.trigger_s_p50" -> Stats.median(durS("triggerExecution")),
        "streaming.add_batch_s_p50" -> Stats.median(durS("addBatch")),
        "streaming.latest_offset_s_p50" -> Stats.median(durS("latestOffset")),
        "streaming.wal_commit_s_p50" -> Stats.median(durS("walCommit")),
        "sink.transport.send_s" -> delta("send") / 1e9 / nb,
        "sink.transport.chunks" -> delta("chunks") / nb,
        "sink.transport.bytes" -> delta("bytes") / nb,
        "sink.transport.http_requests" -> delta("requests") / nb,
        "sink.transport.http_retried" -> delta("throttled") / nb,
        "sink.transport.http_rejects" -> delta("rejects") / nb,
        "sink.transport.useful_frac" -> delta("accepted").toDouble / math.max(1L, delta("seen")),
        "harness.gen_late_s_max" -> gen.lateNanos.slice(warmTicks, ticks).max / 1e9,
        "harness.stub_busy_s" -> delta("stub_busy") / 1e9)
      streamRows ++ perBatch ++ microBatchLayers(spark, Stats.median(progress.map(_.numInputRows.toDouble)))
    }
    Outcome(e2e, layers, Map("batches" -> progress.size.toDouble, "latency_samples" -> latencies.size.toDouble,
      "tail_ms" -> tailS * 1e3))
  }

  /** Layer decomposition and whole `runBatch` on a static batch the size of
    * the median micro-batch, through the stub. */
  private def microBatchLayers(spark: SparkSession, rowsPerBatch: Double): Map[String, Double] = {
    val n = math.max(PerTick, if (rowsPerBatch.isNaN) PerTick else rowsPerBatch.round.toInt)
    val wire = staticFrame(spark, "t", n, base64 = true)
    val decoded = staticFrame(spark, "t", n, base64 = false)
    wire.count(); decoded.count()
    val rounds = (1 to Live.LayerRounds).map { _ =>
      val parts = Layers.decompose(spark, wire, base64 = true, cfg, http, counted = false)
      val t0 = System.nanoTime()
      Pipeline.runBatch(decoded, cfg, http)
      val runS = (System.nanoTime() - t0) / 1e9
      Outputs.delete(dlqDir)
      parts ++ Map("pipeline.run_batch_s" -> runS, "pipeline.overhead_s" -> (runS - parts("layers.self_s")))
    }
    wire.unpersist(); decoded.unpersist()
    Outcome.medians(rounds)
  }

  def close(): Unit = stub.stop()
}

object Live {
  val WarmS = 6.0
  /** Files (one second of offered load each) read by the warm-up query. */
  val WarmFiles = 4
  val LayerRounds = 3
  /** Backlogs measured after the window; each is 5 s of offered load. */
  val Drains = 3
  val DrainRecords = 20000
  val DrainTimeoutS = 60L
  /** A stream that keeps up takes up to two micro-batches to deliver the
    * records due at the window's end: the batch running when they land,
    * then the one that reads them. */
  val MaxTailBatches = 4.0

  /** Whether the stream kept up with the offered rate: receipts of window
    * records ended within [[MaxTailBatches]] median micro-batches of the
    * window's end. A stream that falls behind reads ever larger backlogs,
    * so its last micro-batches, and with them the tail, outgrow the median. */
  def keptUp(tailS: Double, batchS: Double): Boolean = tailS <= MaxTailBatches * batchS
}
