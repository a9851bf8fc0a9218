package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable.ArrayBuffer

/** In-process stand-in for the two Labelbox endpoints the import path posts
  * to: `/datarows` (upload payloads) and `/annotations` (ndjson records).
  *
  * Every request is parsed and held for a fixed service time, so API round
  * trips cost what they cost against a remote service. The first attempt of
  * every `failEvery`-th distinct batch per endpoint and iteration is answered
  * with a transient 503; the batch is accepted when it comes again. A batch
  * that arrives again after it was accepted is accepted again and counted as
  * a duplicate: the program's transport only resends after an error, so such
  * a batch was sent twice. The mock records what it accepted, per-request
  * timings and the number of requests in flight; [[reset]] starts a new
  * iteration.
  */
final class MockApi(threads: Int, serviceMs: Long, failEvery: Int) {
  import MockApi._

  // answer without Nagle delays, so a request costs the service time and
  // not a delayed-ACK round trip
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val mapper = new ObjectMapper()
  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  private val lock = new Object
  private var deliveries = Map.empty[String, Int]
  private var externalIds = Map.empty[String, String]
  private var ndjsonRecords = 0L
  private var ndjsonCrcSum = 0L
  private var badBodies = 0
  private val requests = ArrayBuffer[Req]()
  // batch digest -> accepted?
  private val seen = new ConcurrentHashMap[String, java.lang.Boolean]()
  private val transient503s = new AtomicInteger()
  private val retried = new AtomicInteger()
  private val duplicates = new AtomicInteger()
  private val distinctPerEndpoint = new ConcurrentHashMap[String, AtomicLong]()
  private val inflight = new AtomicInteger()
  private val inflightMax = new AtomicInteger()

  server.setExecutor(pool)
  server.createContext("/datarows", (ex: HttpExchange) => handle(ex, "/datarows"))
  server.createContext("/annotations", (ex: HttpExchange) => handle(ex, "/annotations"))
  server.start()

  def url(endpoint: String): String =
    s"http://127.0.0.1:${server.getAddress.getPort}$endpoint"

  def reset(): Unit = lock.synchronized {
    deliveries = Map.empty; externalIds = Map.empty
    ndjsonRecords = 0L; ndjsonCrcSum = 0L; badBodies = 0
    requests.clear(); seen.clear(); distinctPerEndpoint.clear()
    transient503s.set(0); retried.set(0); duplicates.set(0)
    inflightMax.set(0)
  }

  def received(): Received = lock.synchronized {
    val failed = seen.values().stream().filter(a => !a.booleanValue()).count().toInt
    Received(deliveries, externalIds, ndjsonRecords, ndjsonCrcSum, badBodies,
      transient503s.get(), retried.get(), duplicates.get(), failed, requests.toVector,
      inflightMax.get())
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def handle(ex: HttpExchange, endpoint: String): Unit = {
    val start = System.nanoTime()
    inflightMax.accumulateAndGet(inflight.incrementAndGet(), math.max)
    try {
      val body = ex.getRequestBody.readAllBytes()
      val digest = endpoint + MessageDigest.getInstance("SHA-256").digest(body)
        .map(b => f"$b%02x").mkString
      val parsed = try Some(mapper.readTree(body)) catch { case _: Exception => None }
      val prior = seen.putIfAbsent(digest, java.lang.Boolean.FALSE)
      val firstSeen = prior == null
      if (!firstSeen) (if (prior.booleanValue) duplicates else retried).incrementAndGet()
      val ordinal =
        if (firstSeen) distinctPerEndpoint.computeIfAbsent(endpoint, _ => new AtomicLong())
          .incrementAndGet()
        else 0L
      Thread.sleep(serviceMs)
      val status = parsed match {
        case Some(arr) if arr.isArray =>
          if (firstSeen && ordinal % failEvery == 0) {
            transient503s.incrementAndGet()
            503
          } else {
            seen.put(digest, java.lang.Boolean.TRUE)
            accept(endpoint, arr)
            200
          }
        case _ =>
          lock.synchronized(badBodies += 1)
          400
      }
      val out = s"""{"status":$status}""".getBytes(UTF_8)
      ex.sendResponseHeaders(status, out.length)
      ex.getResponseBody.write(out)
    } finally {
      ex.close()
      inflight.decrementAndGet()
      val end = System.nanoTime()
      lock.synchronized(requests += Req(start, end))
    }
  }

  private def text(n: JsonNode, path: String*): String =
    path.foldLeft(n)((m, p) => if (m == null) null else m.get(p)) match {
      case null => null
      case v if v.isNull => null
      case v => v.asText()
    }

  private def accept(endpoint: String, arr: JsonNode): Unit = {
    val it = arr.elements()
    if (endpoint == "/datarows") {
      val got = ArrayBuffer[(String, String)]()
      while (it.hasNext) {
        val e = it.next()
        got += text(e, "data_row", "global_key") -> text(e, "data_row", "external_id")
      }
      lock.synchronized {
        got.foreach { case (k, ext) =>
          deliveries = deliveries.updated(k, deliveries.getOrElse(k, 0) + 1)
          externalIds = externalIds.updated(k, ext)
        }
      }
    } else {
      var n = 0L
      var s = 0L
      while (it.hasNext) {
        val e = it.next()
        n += 1
        s += Gen.crc(text(e, "global_key"), text(e, "name"), text(e, "kind"))
      }
      lock.synchronized { ndjsonRecords += n; ndjsonCrcSum += s }
    }
  }
}

object MockApi {
  /** When the mock held one request. */
  final case class Req(startNs: Long, endNs: Long)

  /** What one iteration delivered. `deliveries` counts acceptances per key,
    * so a key delivered twice shows as 2. `retriedBatches` counts batches
    * that came again after a 503, `duplicateBatches` batches that came again
    * after they were accepted.
    */
  final case class Received(
      deliveries: Map[String, Int],
      externalIds: Map[String, String],
      ndjsonRecords: Long,
      ndjsonCrcSum: Long,
      badBodies: Int,
      transient503s: Int,
      retriedBatches: Int,
      duplicateBatches: Int,
      failedBatches: Int,
      requests: Seq[Req],
      inflightMax: Int)
}
