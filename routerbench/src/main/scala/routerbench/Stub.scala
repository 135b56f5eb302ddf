package routerbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Stub Elasticsearch `_bulk` endpoint on the loopback interface, served by
  * one thread. It answers 429 to a seed-scheduled request in
  * [[Gen.ThrottleEvery]], rejects the seed-chosen 1 % of ids with a
  * per-item 400, and records when it first accepted each `_id`
  * (`System.nanoTime`). */
final class BulkStub(seed: Long) {
  /** id → nanoTime of the first request that delivered it and was not throttled. */
  val firstReceipt = new ConcurrentHashMap[String, java.lang.Long]()
  /** ids answered with a per-item reject. */
  val rejected: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val requests = new AtomicLong
  val throttledRequests = new AtomicLong
  val actionsSeen = new AtomicLong
  val actionsAccepted = new AtomicLong
  val rejects = new AtomicLong
  val busyNanos = new AtomicLong
  @volatile var threadId: Long = -1L

  private val exec = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "bulk-stub")
    t.setDaemon(true)
    threadId = t.getId
    t
  }
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
  server.createContext("/_bulk", (ex: HttpExchange) => handle(ex))
  server.setExecutor(exec)
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val received = System.nanoTime()
      val n = requests.incrementAndGet()
      val actions = Outputs.parseBulk(body)
      actionsSeen.addAndGet(actions.size.toLong)
      if (Gen.throttled(seed, n)) {
        throttledRequests.incrementAndGet()
        reply(ex, 429, """{"error":{"type":"es_rejected_execution_exception"},"status":429}""")
      } else {
        val sb = new java.lang.StringBuilder(actions.size * 64)
        var errors = false
        actions.iterator.zipWithIndex.foreach { case ((index, id), i) =>
          firstReceipt.putIfAbsent(id, received)
          if (i > 0) sb.append(',')
          sb.append("{\"index\":{\"_index\":").append(Json.write(index))
            .append(",\"_id\":").append(Json.write(id))
          if (Gen.esRejects(seed, id)) {
            errors = true
            rejected.add(id)
            rejects.incrementAndGet()
            sb.append(",\"status\":400,\"error\":{\"type\":\"mapper_parsing_exception\"," +
              "\"reason\":\"failed to parse field [value]\"}}}")
          } else {
            actionsAccepted.incrementAndGet()
            sb.append(",\"status\":201}}")
          }
        }
        reply(ex, 200, s"""{"took":1,"errors":$errors,"items":[$sb]}""")
      }
    } catch {
      case e: Exception => reply(ex, 400, Json.write(Map("error" -> e.toString)))
    } finally busyNanos.addAndGet(System.nanoTime() - t0)
  }

  private def reply(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val out = ex.getResponseBody
    out.write(bytes)
    out.close()
  }

  def reset(): Unit = {
    firstReceipt.clear(); rejected.clear()
    Seq(requests, throttledRequests, actionsSeen, actionsAccepted, rejects, busyNanos)
      .foreach(_.set(0))
  }

  def stop(): Unit = {
    server.stop(0)
    exec.shutdownNow()
    exec.awaitTermination(10, TimeUnit.SECONDS)
  }
}
