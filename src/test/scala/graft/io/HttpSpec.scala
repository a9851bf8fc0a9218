package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.net.http.HttpTimeoutException
import java.time.Duration
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import scala.jdk.CollectionConverters._

/** HTTP transport + distributed fetch against a local mock API server —
  * the SURVEY §5 "mock Labelbox API" end-to-end check, localhost-only.
  */
class HttpSpec extends SparkSpec {
  import spark.implicits._

  // state of the /bad, /throttled and /slow endpoints, reset per server
  private val badRequests = new AtomicInteger(0)
  private val throttledRequests = new AtomicInteger(0)
  private val slowInflight = new AtomicInteger(0)
  private val slowPeak = new AtomicInteger(0)

  private def withServer[T](f: (String, AtomicInteger) => T): T = withPooledServer(0)(f)

  /** The mock server; `threads > 0` gives it an executor of that many
    * handler threads, so requests are served concurrently.
    */
  private def withPooledServer[T](threads: Int)(f: (String, AtomicInteger) => T): T = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val pool = if (threads > 0) Some(Executors.newFixedThreadPool(threads)) else None
    pool.foreach(server.setExecutor)
    val uploads = new AtomicInteger(0)
    val failFirst = new AtomicInteger(0)
    Seq(badRequests, throttledRequests, slowInflight, slowPeak).foreach(_.set(0))
    server.createContext("/upload", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val body = new String(x.getRequestBody.readAllBytes())
        val n = body.count(_ == '{') // crude element count of the JSON array
        uploads.addAndGet(n)
        respond(x, 200, """{"ok":true}""")
      }
    })
    server.createContext("/flaky", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        x.getRequestBody.readAllBytes()
        if (failFirst.getAndIncrement() == 0) respond(x, 503, "busy")
        else { respond(x, 200, "ok") }
      }
    })
    server.createContext("/bad", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        x.getRequestBody.readAllBytes()
        badRequests.incrementAndGet()
        respond(x, 400, "malformed")
      }
    })
    server.createContext("/throttled", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        x.getRequestBody.readAllBytes()
        if (throttledRequests.getAndIncrement() == 0) respond(x, 429, "slow down")
        else respond(x, 200, "ok")
      }
    })
    server.createContext("/hang", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        x.getRequestBody.readAllBytes()
        try Thread.sleep(30000) catch { case _: InterruptedException => }
        x.close()
      }
    })
    server.createContext("/slow", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val body = new String(x.getRequestBody.readAllBytes())
        slowPeak.accumulateAndGet(slowInflight.incrementAndGet(), math.max)
        try Thread.sleep(30) finally slowInflight.decrementAndGet()
        uploads.addAndGet(body.count(_ == '{'))
        respond(x, 200, """{"ok":true}""")
      }
    })
    server.createContext("/frames/", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val id = x.getRequestURI.getPath.split('/').last
        if (id == "404") respond(x, 404, "nope")
        else respond(x, 200, s"""{"frame":$id,"objects":[{"title":"car"}]}""")
      }
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}", uploads)
    finally { server.stop(0); pool.foreach(_.shutdownNow()) }
  }

  private def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    x.sendResponseHeaders(code, bytes.length)
    x.getResponseBody.write(bytes)
    x.close()
  }

  test("JsonPostTransport uploads batches through both sink paths") {
    withServer { (base, uploads) =>
      val t = new Http.JsonPostTransport(s"$base/upload")
      val df = spark.range(7).select(concat(lit("""{"id":"""), col("id"), lit("}")).as("p"))
      val n = BatchedSink.uploadDriverSide(df, col("p"), t, batchSize = 3)
      assert(n == 7L && uploads.get() == 7)
      uploads.set(0)
      BatchedSink.uploadDistributed(df, col("p"), t, batchSize = 3)
      assert(uploads.get() == 7)
    }
  }

  test("transport retries transient failures with backoff") {
    withServer { (base, _) =>
      val t = new Http.JsonPostTransport(s"$base/flaky", maxRetries = 2)
      assert(t.send(Seq("""{"a":1}""")) == 1) // first attempt 503, retry 200
    }
  }

  test("transport fails at once on a non-transient status: one request, no retry") {
    withServer { (base, _) =>
      val t = new Http.JsonPostTransport(s"$base/bad", maxRetries = 3)
      val e = intercept[RuntimeException](t.send(Seq("""{"a":1}""")))
      assert(e.getMessage.startsWith("HTTP 400"), e.getMessage)
      assert(badRequests.get() == 1)
    }
  }

  test("transport retries a 429 like a 5xx") {
    withServer { (base, _) =>
      val t = new Http.JsonPostTransport(s"$base/throttled", maxRetries = 2)
      assert(t.send(Seq("""{"a":1}""")) == 1 && throttledRequests.get() == 2)
    }
  }

  test("transport gives up on a hung server within its request timeout") {
    withPooledServer(4) { (base, _) =>
      val t = new Http.JsonPostTransport(s"$base/hang", maxRetries = 1,
        requestTimeout = Duration.ofMillis(300))
      val t0 = System.nanoTime()
      intercept[HttpTimeoutException](t.send(Seq("""{"a":1}""")))
      val s = (System.nanoTime() - t0) / 1e9
      assert(s < 5.0, s"took $s s") // two 300 ms attempts and one 200 ms backoff
    }
  }

  /** Sleeps `ms` per send (the batch holding `failOn` throws at once) and
    * records every batch sent and the peak number of concurrent sends.
    */
  private class SlowTransport(ms: Long, failOn: String = null) extends UploadTransport {
    val sent = new ConcurrentLinkedQueue[Seq[String]]()
    val failure = new RuntimeException("injected send failure")
    private val inflight = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    def send(batch: Seq[String]): Int = {
      peak.accumulateAndGet(inflight.incrementAndGet(), math.max)
      try {
        sent.add(batch)
        if (batch.contains(failOn)) throw failure
        Thread.sleep(ms)
        batch.size
      } finally inflight.decrementAndGet()
    }
  }

  private def uploadThreadsAlive: Boolean =
    Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName.startsWith("graft-upload") && t.isAlive)

  test("driver-side sink overlaps sends: serial batches, each once, bounded concurrency") {
    val df = spark.range(0, 95, 1, 3).select(col("id").cast("string").as("p"))
    val serial = df.collect().map(_.getString(0)).toSeq.grouped(10).toSeq
    val t = new SlowTransport(30)
    assert(BatchedSink.uploadDriverSide(df, col("p"), t, batchSize = 10) == 95L)
    val sent = t.sent.asScala.toSeq
    assert(sent.size == serial.size && sent.toSet == serial.toSet)
    assert(t.peak.get > 1 && t.peak.get <= BatchedSink.MaxInFlight, s"peak ${t.peak.get}")
    assert(!uploadThreadsAlive)
  }

  test("driver-side sink: a failed send stops the upload and rethrows that failure") {
    val df = spark.range(0, 200, 1, 4).select(col("id").cast("string").as("p"))
    // batch 2 (ids 20-29) fails at once; the others take 50 ms each
    val t = new SlowTransport(50, failOn = "20")
    val e = intercept[RuntimeException](
      BatchedSink.uploadDriverSide(df, col("p"), t, batchSize = 10))
    assert(e eq t.failure)
    // once batch 2 has failed, only batches already in flight may have started
    val started = t.sent.asScala.map(_.head.toInt / 10).toSeq
    assert(started.distinct.size == started.size)
    assert(started.max <= 2 + BatchedSink.MaxInFlight - 1, s"started batches ${started.sorted}")
    assert(!uploadThreadsAlive)
  }

  test("driver-side sink: failures of sends in flight together are kept, later ones suppressed") {
    val df = spark.range(0, 20, 1, 1).select(col("id").cast("string").as("p"))
    // both batches are in flight before either fails
    def failTogether(err: Int => Throwable): Throwable = {
      val both = new CountDownLatch(2)
      val t = new UploadTransport {
        def send(b: Seq[String]): Int = {
          both.countDown(); both.await(30, TimeUnit.SECONDS); throw err(b.head.toInt / 10)
        }
      }
      intercept[RuntimeException](BatchedSink.uploadDriverSide(df, col("p"), t, batchSize = 10))
    }
    val errs = Seq(new RuntimeException("batch 0"), new RuntimeException("batch 1"))
    val e = failTogether(errs)
    assert(e.getSuppressed.length == 1 && (e +: e.getSuppressed.toSeq).toSet == errs.toSet)
    val same = new RuntimeException("one instance")
    val e2 = failTogether(_ => same)
    assert((e2 eq same) && e2.getSuppressed.isEmpty)
    assert(!uploadThreadsAlive)
  }

  test("driver-side sink: an interrupted caller stops the sends and sees the interrupt") {
    val df = spark.range(0, 200, 1, 1).select(col("id").cast("string").as("p"))
    val started = new CountDownLatch(BatchedSink.MaxInFlight)
    val t = new UploadTransport {
      def send(b: Seq[String]): Int = { started.countDown(); Thread.sleep(60000); b.size }
    }
    val thrown = new AtomicReference[Throwable]()
    val caller = new Thread(() =>
      try BatchedSink.uploadDriverSide(df, col("p"), t, batchSize = 10)
      catch { case e: Throwable => thrown.set(e) })
    caller.start()
    assert(started.await(60, TimeUnit.SECONDS))
    caller.interrupt()
    caller.join(10000) // the sends sleep 60 s unless the sink interrupts them
    assert(!caller.isAlive && thrown.get.isInstanceOf[InterruptedException], s"${thrown.get}")
    assert(!uploadThreadsAlive)
  }

  test("driver-side sink against a multi-threaded server: concurrent POSTs, every row once") {
    withPooledServer(4) { (base, uploads) =>
      val t = new Http.JsonPostTransport(s"$base/slow")
      val df = spark.range(0, 60, 1, 2)
        .select(concat(lit("""{"id":"""), col("id"), lit("}")).as("p"))
      assert(BatchedSink.uploadDriverSide(df, col("p"), t, batchSize = 5) == 60L)
      assert(uploads.get() == 60)
      assert(slowPeak.get > 1 && slowPeak.get <= BatchedSink.MaxInFlight, s"peak ${slowPeak.get}")
      assert(!uploadThreadsAlive)
    }
  }

  test("distributed per-row fetch: bodies + tolerated errors + S2 export parse") {
    withServer { (base, _) =>
      val urls = (Seq("1", "2", "404", "3")).map(i => s"$base/frames/$i").toDF("url")
      val fetched = Http.fetchPerRow(urls, "url").collect()
      assert(fetched.count(_.getString(2) == null) == 3)
      assert(fetched.exists(r => r.getString(2) != null && r.getString(0).endsWith("404")))

      val export = Http.fetchExport(spark, urls, "url")
      assert(export.count() == 3)
      assert(export.columns.toSet == Set("frame", "objects"))
      assert(export.agg(sum(col("frame"))).collect().head.getLong(0) == 6L)
    }
  }
}
