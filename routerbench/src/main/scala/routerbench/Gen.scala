package routerbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** One row of the synthetic `events` corpus, shaped like the sf0.1
  * `events` fixture table: event_id, ts, user_id, event_type, value, props. */
final case class Event(id: Long, tsMicros: Long, userId: Int, eventType: String,
                       value: Double, k: Int)

/** A Kinesis record as the program receives it (`graft.model.Schemas.envelope`). */
final case class Envelope(partitionKey: String, sequenceNumber: String,
                          arrivalMicros: Long, data: Array[Byte])

/** What the router must make of a generated batch: route totals, good
  * documents per ES index, and dead-letter rows per (reason, log_type). */
final case class Expected(decoded: Long, good: Long, failed: Long, dropped: Long,
                          perIndex: Map[String, Long],
                          dlqRows: Map[(String, String), Long])

/** A generated batch: the envelopes plus the router's expected verdict. */
final case class Batch(envelopes: Array[Envelope], expected: Expected)

/** Record classes the generator plants. Each maps to exactly one route. */
object Kind {
  val Good = 0        // ISO-8601 time: indexed (or dropped by the whitelist)
  val DayName = 1     // RFC-1123 / asctime time: the dateutil path, indexed
  val NotJson = 2     // failed:not_json, dead-lettered under `unknown`
  val MissingType = 3 // failed:missing_type, dead-lettered under `unknown`
  val BadTs = 4       // failed:bad_timestamp, dead-lettered under its type
}

/** Tallies the expected outcome of records one by one. */
final class Expectation(whitelist: Option[Set[String]]) {
  private var decoded, good, failed, dropped = 0L
  private val perIndex = mutable.HashMap.empty[String, Long]
  private val dlq = mutable.HashMap.empty[(String, String), Long]

  /** Adds one decoded record; returns true when it should reach the sink. */
  def add(e: Event, kind: Int): Boolean = {
    decoded += 1
    kind match {
      case Kind.NotJson | Kind.MissingType =>
        failed += 1; bump(dlq, ("failed_validation", "unknown")); false
      case Kind.BadTs =>
        failed += 1; bump(dlq, ("failed_validation", e.eventType)); false
      case _ if whitelist.exists(w => !w(e.eventType)) =>
        dropped += 1; false
      case _ =>
        good += 1; bump(perIndex, Gen.indexName(e)); true
    }
  }

  private def bump[K](m: mutable.HashMap[K, Long], k: K): Unit =
    m.update(k, m.getOrElse(k, 0L) + 1)

  def result: Expected = Expected(decoded, good, failed, dropped, perIndex.toMap, dlq.toMap)
}

/** Seeded input generator. The corpus content is fixed (seed 42, like the
  * fixture); the workload seed only picks record order and which records
  * get which treatment, so every seed has the same class counts. */
object Gen {
  val Types: Vector[String] = Vector("view", "click", "purchase", "signup", "error")
  val CorpusSize = 100000
  val CorpusSeed = 42L
  val IndexPrefix = "logs"
  /** replay_dirty drops this type through the whitelist. */
  val DroppedType = "error"

  private val StartMicros = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L
  private val SpanMicros = 30L * 86400L * 1000000L

  private val IsoMicros =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").withZone(ZoneOffset.UTC)
  private val Rfc1123 = DateTimeFormatter.RFC_1123_DATE_TIME.withZone(ZoneOffset.UTC)
  private val Asctime =
    DateTimeFormatter.ofPattern("EEE MMM d HH:mm:ss uuuu", Locale.US).withZone(ZoneOffset.UTC)
  private val Day = DateTimeFormatter.ofPattern("yyyyMMdd").withZone(ZoneOffset.UTC)

  lazy val corpus: Array[Event] = events(CorpusSize, CorpusSeed)

  /** `n` events spread over 30 days from 2024-01-01, in time order. */
  def events(n: Int, seed: Long): Array[Event] = {
    val r = new SplittableRandom(seed)
    val step = SpanMicros / n
    Array.tabulate(n) { i =>
      Event(i.toLong, StartMicros + step * i + r.nextLong(step), r.nextInt(1500),
        Types(r.nextInt(Types.size)),
        math.round(-5000.0 * math.log(1.0 - r.nextDouble())) / 100.0, r.nextInt(100))
    }
  }

  def instant(micros: Long): Instant =
    Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)

  def indexName(e: Event): String =
    s"$IndexPrefix-${e.eventType}-${Day.format(instant(e.tsMicros))}"

  /** The log line carried in `data`, shaped like the canonical replay
    * payload (`graft.Pipeline.eventsAsEnvelopes`) and damaged per `kind`. */
  def payload(e: Event, kind: Int, logId: String): String = {
    if (kind == Kind.NotJson) return s"plaintext ${e.eventType} user=${e.userId} id=$logId"
    val at = instant(e.tsMicros)
    val time = kind match {
      case Kind.DayName => if ((e.id & 1L) == 0) Rfc1123.format(at) else Asctime.format(at)
      case Kind.BadTs => if ((e.id & 1L) == 0) s"nope-$logId" else "2024-13-45T99:00:00"
      case _ => IsoMicros.format(at)
    }
    val sb = new java.lang.StringBuilder(160).append('{')
    if (kind != Kind.MissingType) sb.append("\"log_type\":\"").append(e.eventType).append("\",")
    sb.append("\"time\":\"").append(time)
      .append("\",\"log_id\":\"").append(logId)
      .append("\",\"user_id\":").append(e.userId)
      .append(",\"value\":").append(e.value)
      .append(",\"props\":\"{\\\"k\\\": ").append(e.k).append("}\"}")
    sb.toString
  }

  // ---- wrappers: gzip, KPL aggregate, CloudWatch Logs bundle -------------

  def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(b.length / 2 + 64)
    val gz = new GZIPOutputStream(out)
    gz.write(b); gz.close()
    out.toByteArray
  }

  private val KplMagic = Array(0xF3, 0x89, 0x9A, 0xC2).map(_.toByte)

  /** KPL aggregated record: magic, protobuf `AggregatedRecord` (one
    * partition key, one user record per payload), MD5 of the protobuf. */
  def kpl(records: Seq[Array[Byte]]): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    varint(body, (1 << 3) | 2); varint(body, 1); body.write('a') // partition_key_table
    records.foreach { p =>
      val rec = new ByteArrayOutputStream()
      varint(rec, (1 << 3) | 0); varint(rec, 0)                    // partition_key_index
      varint(rec, (3 << 3) | 2); varint(rec, p.length.toLong); rec.write(p)
      val rb = rec.toByteArray
      varint(body, (3 << 3) | 2); varint(body, rb.length.toLong); body.write(rb)
    }
    val bb = body.toByteArray
    val out = new ByteArrayOutputStream(bb.length + 20)
    out.write(KplMagic); out.write(bb); out.write(MessageDigest.getInstance("MD5").digest(bb))
    out.toByteArray
  }

  private def varint(o: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    o.write(v.toInt)
  }

  /** Gzipped CloudWatch Logs subscription bundle; a CONTROL_MESSAGE carries
    * no log payloads. */
  def cwl(messages: Seq[String], control: Boolean, stream: Long): Array[Byte] = {
    val sb = new java.lang.StringBuilder(256)
    sb.append("{\"messageType\":\"").append(if (control) "CONTROL_MESSAGE" else "DATA_MESSAGE")
      .append("\",\"owner\":\"123456789012\",\"logGroup\":\"/bench/router\",\"logStream\":\"s-")
      .append(stream).append("\",\"subscriptionFilters\":[\"bench\"],\"logEvents\":[")
    messages.iterator.zipWithIndex.foreach { case (m, i) =>
      if (i > 0) sb.append(',')
      sb.append("{\"id\":\"").append(stream).append('-').append(i)
        .append("\",\"timestamp\":1704067200000,\"message\":").append(Json.write(m)).append('}')
    }
    sb.append("]}")
    gzip(sb.toString.getBytes(UTF_8))
  }

  // ---- workloads ----------------------------------------------------------

  private val ArrivalMicros = Instant.parse("2024-02-01T00:00:00Z").getEpochSecond * 1000000L

  private def envelope(seq: Int, data: Array[Byte]): Envelope =
    Envelope(s"pk-${seq % 16}", seq.toString, ArrivalMicros + seq * 1000L, data)

  /** replay_clean: the whole corpus as plain-JSON envelopes in seed order. */
  def clean(seed: Long): Batch = {
    val r = new SplittableRandom(mix(seed, 0xC1EA))
    val exp = new Expectation(None)
    val envs = permutation(CorpusSize, r).zipWithIndex.map { case (i, seq) =>
      val e = corpus(i)
      exp.add(e, Kind.Good)
      envelope(seq, payload(e, Kind.Good, e.id.toString).getBytes(UTF_8))
    }
    Batch(envs, exp.result)
  }

  val dirtyWhitelist: Option[Set[String]] = Some(Types.filterNot(_ == DroppedType).toSet)
  val ControlBundles = 500

  /** replay_dirty: the whole corpus with 30 % invalid records (not JSON,
    * missing type, unparseable time in equal shares) and 10 % day-name
    * timestamps (see [[dirtyKinds]]); records arrive plain (35 %), gzipped (25 %), in KPL
    * aggregates of 5 with every other aggregate's records gzipped (20 %)
    * and in gzipped CloudWatch Logs bundles of 10 (20 %), plus 500
    * CONTROL_MESSAGE bundles. The seed picks which record gets which
    * treatment and the envelope order. */
  def dirty(seed: Long): Batch = {
    val n = CorpusSize
    val r = dirtyRandom(seed)
    val kinds = dirtyKinds(r)
    val exp = new Expectation(dirtyWhitelist)
    def bytes(i: Int): Array[Byte] = {
      val e = corpus(i)
      exp.add(e, kinds(i))
      payload(e, kinds(i), e.id.toString).getBytes(UTF_8)
    }
    val wrap = permutation(n, r)
    val nPlain = n * 35 / 100
    val nGzip = n * 25 / 100
    val nKpl = n * 20 / 100
    val bodies = mutable.ArrayBuffer.empty[Array[Byte]]
    (0 until nPlain).foreach(j => bodies += bytes(wrap(j)))
    (nPlain until nPlain + nGzip).foreach(j => bodies += gzip(bytes(wrap(j))))
    (nPlain + nGzip until nPlain + nGzip + nKpl).grouped(5).zipWithIndex.foreach { case (g, gi) =>
      val inner = g.map(j => bytes(wrap(j)))
      bodies += kpl(if (gi % 2 == 0) inner.map(gzip) else inner)
    }
    (nPlain + nGzip + nKpl until n).grouped(10).zipWithIndex.foreach { case (g, gi) =>
      bodies += cwl(g.map(j => new String(bytes(wrap(j)), UTF_8)), control = false, gi.toLong)
    }
    (0 until ControlBundles).foreach { c =>
      bodies += cwl(Seq("CWL CONTROL MESSAGE: Checking health of destination Kinesis stream."),
        control = true, 1000000L + c)
    }
    val order = permutation(bodies.size, r)
    Batch(order.zipWithIndex.map { case (b, seq) => envelope(seq, bodies(b)) }, exp.result)
  }

  /** The [[Kind]] of each corpus record: within each event type, a tenth
    * each of not JSON, missing type, unparseable time and day-name time,
    * the rest good. Stratifying by type keeps every route and dead-letter
    * count independent of the seed. */
  def dirtyKinds(r: SplittableRandom): Array[Int] = {
    val kinds = new Array[Int](CorpusSize)
    Types.foreach { t =>
      val ids = corpus.indices.filter(i => corpus(i).eventType == t).toArray
      val perm = permutation(ids.length, r)
      val tenth = ids.length / 10
      Seq(Kind.NotJson, Kind.MissingType, Kind.BadTs, Kind.DayName).zipWithIndex.foreach {
        case (kind, slot) =>
          (slot * tenth until (slot + 1) * tenth).foreach(j => kinds(ids(perm(j))) = kind)
      }
    }
    kinds
  }

  def dirtyRandom(seed: Long): SplittableRandom = new SplittableRandom(mix(seed, 0xD1A7))

  /** stream_live record `n`: corpus content under `log_id = n`; a
    * seed-chosen 2 % are not JSON. */
  def streamKind(seed: Long, n: Long): Int =
    if (Math.floorMod(mix(seed, n), 50L) == 0) Kind.NotJson else Kind.Good

  def streamEvent(n: Long): Event = corpus((n % CorpusSize).toInt)

  /** The stub `_bulk` server rejects a seed-chosen 1 % of document ids. */
  def esRejects(seed: Long, id: String): Boolean =
    Math.floorMod(mix(seed ^ 0xE5E5E5L, id.hashCode.toLong), 100L) == 0

  val ThrottleEvery = 40

  /** The stub answers 429 to one `_bulk` request in 40 (1-based request
    * numbers), at a seed-chosen phase. Consecutive requests are never both
    * throttled, so the transport's retry always succeeds. */
  def throttled(seed: Long, request: Long): Boolean =
    Math.floorMod(request + Math.floorMod(mix(seed, 429L), ThrottleEvery.toLong), ThrottleEvery.toLong) == 0

  // ---- seeded helpers ------------------------------------------------------

  /** SplitMix64 finalizer over (seed, x). */
  def mix(seed: Long, x: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** MD5 over every envelope field: equal digests mean byte-identical inputs. */
  def digest(envs: Array[Envelope]): String = {
    val md = MessageDigest.getInstance("MD5")
    envs.foreach { e =>
      md.update(e.partitionKey.getBytes(UTF_8)); md.update(0: Byte)
      md.update(e.sequenceNumber.getBytes(UTF_8)); md.update(0: Byte)
      md.update(java.nio.ByteBuffer.allocate(8).putLong(e.arrivalMicros).array())
      md.update(e.data)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
