package routerbench

import java.io.File

import graft.sink.{BulkAction, BulkSink, HttpBulkTransport}

/** Self-tests of the benchmark harness (no Spark): input determinism,
  * percentiles, `_bulk` parsing and the stub, generator lateness, the
  * backlog rule and the result line.
  * Run with `python3 routerbench/run.py --self-test`. */
object SelfTest {
  private var failures = 0
  private var passed = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(s"  $name threw $e"); false }
    if (ok) passed += 1 else failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  private def near(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    val work = new File(args.headOption.getOrElse("."))

    // ---- inputs ------------------------------------------------------------
    val c1 = Gen.clean(1); val c1b = Gen.clean(1); val c2 = Gen.clean(2)
    check("clean: same seed gives byte-identical envelopes")(
      Gen.digest(c1.envelopes) == Gen.digest(c1b.envelopes))
    check("clean: another seed reorders the same records")(
      Gen.digest(c1.envelopes) != Gen.digest(c2.envelopes) &&
        c1.envelopes.map(e => new String(e.data, "UTF-8")).sorted.sameElements(
          c2.envelopes.map(e => new String(e.data, "UTF-8")).sorted) &&
        c1.expected == c2.expected)
    val d1 = Gen.dirty(1); val d1b = Gen.dirty(1); val d2 = Gen.dirty(2)
    check("dirty: same seed gives byte-identical envelopes")(
      Gen.digest(d1.envelopes) == Gen.digest(d1b.envelopes) && d1.expected == d1b.expected)
    val k1 = Gen.dirtyKinds(Gen.dirtyRandom(1)); val k2 = Gen.dirtyKinds(Gen.dirtyRandom(2))
    check("dirty: another seed corrupts other records")(
      Gen.digest(d1.envelopes) != Gen.digest(d2.envelopes) && !k1.sameElements(k2))
    check("dirty: class counts do not depend on the seed")(
      k1.groupBy(identity).map { case (k, v) => k -> v.length } ==
        k2.groupBy(identity).map { case (k, v) => k -> v.length } &&
        Seq(d1, d2).map(b => (b.expected.decoded, b.expected.good, b.expected.failed,
          b.expected.dropped, b.expected.dlqRows)).distinct.size == 1)
    check("dirty: expected totals add up to the corpus")(
      d1.expected.decoded == Gen.CorpusSize &&
        d1.expected.good + d1.expected.failed + d1.expected.dropped == Gen.CorpusSize &&
        d1.expected.failed == Gen.Types.map(t => Gen.corpus.count(_.eventType == t) / 10 * 3).sum &&
        d1.expected.perIndex.values.sum == d1.expected.good)
    check("dirty: fewer envelopes than records (KPL and CWL fan out)")(
      d1.envelopes.length == Gen.CorpusSize * 60 / 100 + Gen.CorpusSize * 20 / 100 / 5 +
        Gen.CorpusSize * 20 / 100 / 10 + Gen.ControlBundles)

    // ---- percentile helper ---------------------------------------------------
    check("percentile: interpolates between ranks")(
      near(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 0.5), 2.5) &&
        near(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 0.0), 1.0) &&
        near(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 1.0), 4.0) &&
        near(Stats.percentile((1 to 100).map(_.toDouble), 0.99), 99.01))
    check("percentile: one sample and no samples")(
      near(Stats.median(Seq(7.0)), 7.0) && Stats.median(Seq.empty).isNaN)
    check("percentile: rejects q outside [0, 1]")(
      scala.util.Try(Stats.percentile(Seq(1.0), 1.5)).isFailure)

    // ---- _bulk NDJSON parsing ---------------------------------------------------
    val actions = Seq(
      BulkAction("logs-view-20240101", "1", """{"log_type":"view"}"""),
      BulkAction("logs-click-20240102", "a\"b", """{"log_type":"click"}"""))
    check("parseBulk: reads (index, id) from the program's bulk body")(
      Outputs.parseBulk(BulkSink.bulkBody(actions)) ==
        Vector("logs-view-20240101" -> "1", "logs-click-20240102" -> "a\"b"))
    check("parseBulk: rejects an odd line count")(
      scala.util.Try(Outputs.parseBulk("{\"index\":{\"_index\":\"x\"}}\n")).isFailure)
    check("parseBulk: rejects a non-index action")(
      scala.util.Try(Outputs.parseBulk("{\"delete\":{\"_index\":\"x\"}}\n{}\n")).isFailure)

    // ---- stub: rejects and 429 schedule -----------------------------------------
    val seed = 7L
    val stub = new BulkStub(seed)
    try {
      val t = new HttpBulkTransport(stub.url, backoffBaseMs = 1)
      val ids = (0 until 2000).map(_.toString)
      val chunks = ids.grouped(50).toVector
      val rejects = chunks.flatMap { c =>
        val as = c.map(id => BulkAction("logs-view-20240101", id, s"""{"log_id":"$id"}"""))
        t.sendChunk(BulkSink.bulkBody(as), as)
      }
      val want = ids.filter(Gen.esRejects(seed, _)).toSet
      check("stub: rejects exactly the seed-chosen ids, reported per item")(
        want.nonEmpty && rejects.map(_.id).toSet == want && rejects.forall(_.status == 400) &&
          scala.jdk.CollectionConverters.SetHasAsScala(stub.rejected).asScala.toSet == want)
      val throttled = (1L to stub.requests.get).count(Gen.throttled(seed, _))
      check("stub: answers 429 on the seed schedule and the transport retries")(
        throttled > 0 && stub.throttledRequests.get == throttled &&
          stub.requests.get == chunks.size + throttled)
      check("stub: records the first receipt of every id")(stub.firstReceipt.size == ids.size)
      check("stub: throttling is never back to back")(
        (1L to 10000L).sliding(2).forall(p => !(Gen.throttled(seed, p(0)) && Gen.throttled(seed, p(1)))))
    } finally stub.stop()

    // ---- generator lateness ----------------------------------------------------
    val dir = new File(work, "gen"); dir.mkdirs()
    val onTime = new Generator(dir, seed, System.nanoTime() + 50000000L, 4)
    onTime.start(); onTime.join()
    check("generator: one file per tick, all records")(
      onTime.error == null &&
        dir.listFiles().count(_.getName.endsWith(".json")) == 4 &&
        dir.listFiles().filter(_.getName.endsWith(".json"))
          .map(f => scala.io.Source.fromFile(f).getLines().size).sum == onTime.records)
    check("generator: on-time ticks are accounted as barely late")(
      onTime.lateNanos.forall(l => l >= 0 && l < Generator.TickNanos))
    Outputs.delete(dir); dir.mkdirs()
    val behind = 2000000000L
    val late = new Generator(dir, seed, System.nanoTime() - behind, 3)
    late.start(); late.join()
    check("generator: a stalled schedule is accounted as late from the due time")(
      late.lateNanos.zipWithIndex.forall { case (l, k) => l >= behind - k * Generator.TickNanos })
    check("generator: record n is due at its tick")(
      late.tickOf(0) == 0 && late.tickOf(Generator.PerTick - 1) == 0 && late.tickOf(Generator.PerTick) == 1 &&
        late.dueNanos(2) - late.dueNanos(0) == 2 * Generator.TickNanos)
    Outputs.delete(dir)

    // ---- backlog rule and result line ----------------------------------------------
    check("backlog: receipts within a few micro-batches of the window's end keep up")(
      Live.keptUp(1.8, 1.0) && Live.keptUp(-0.1, 1.0) && !Live.keptUp(4.5, 1.0) &&
        !Live.keptUp(1.0, Double.NaN))
    check("result line: keys in contract order, numbers as measured")(
      Json.write(Map("correct" -> true, "attempted" -> 3L, "failed" -> 0L,
        "metrics" -> scala.collection.immutable.ListMap(
          "setup_s" -> Map("value" -> 12.3456789, "unit" -> "s")))) ==
        """{"correct":true,"attempted":3,"failed":0,"metrics":{"setup_s":{"value":12.3456789,"unit":"s"}}}""")

    println(s"$passed passed, $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
