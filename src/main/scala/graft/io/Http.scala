package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.IOException
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** HTTP ingest/egress for the API-connected paths (SURVEY S2/S3/S10).
  *
  * The reference fetches exports on the driver (get_annotations.py:6-12) and
  * iterates rows for per-frame fetches (get_videoframe_annotations.py:28-31,
  * driver-side `iterrows` + one GET per row). Here both directions run on
  * executors: one HttpClient per partition (connection reuse), bounded
  * retries with exponential backoff, and results as plain DataFrames that
  * feed the S1 json path.
  */
object Http {

  /** POST transport for the batched sink: one JSON-array body per batch.
    * The client is per-JVM lazy (HttpClient is not serializable); `send` is
    * called from whichever side runs the sink (driver threads or executors),
    * possibly from several threads at once (HttpClient is thread-safe).
    * Transient failures (I/O errors including a request that outlives
    * `requestTimeout`, HTTP 429 and 5xx) are retried with exponential
    * backoff; any other non-2xx status fails at once.
    */
  final class JsonPostTransport(endpoint: String, maxRetries: Int = 3,
      requestTimeout: Duration = Duration.ofSeconds(60))
      extends UploadTransport {
    @transient private lazy val client =
      HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()

    override def send(batch: Seq[String]): Int = {
      val body = batch.mkString("[", ",", "]")
      val req = HttpRequest.newBuilder(URI.create(endpoint))
        .header("Content-Type", "application/json")
        .timeout(requestTimeout)
        .POST(HttpRequest.BodyPublishers.ofString(body))
        .build()
      var attempt = 0
      while (true) {
        val retryable = try {
          val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
          val code = resp.statusCode()
          if (code / 100 == 2) return batch.size
          val e = new RuntimeException(s"HTTP $code: ${resp.body().take(200)}")
          if (code != 429 && code / 100 != 5) throw e
          e
        } catch { case e: IOException => e }
        attempt += 1
        if (attempt > maxRetries) throw retryable
        Thread.sleep(100L << attempt) // 200/400/800ms backoff
      }
      0 // unreachable
    }
  }

  /** S3 replacement: fetch one URL per row, distributed. One client per
    * partition, sequential within a partition (parallelism = partitions —
    * size with `repartition(n)` upstream to set the request concurrency;
    * that IS the rate limiter at scale). Failed fetches yield null bodies
    * with the error in `error` instead of failing the job.
    */
  def fetchPerRow(df: DataFrame, urlCol: String,
      headers: Map[String, String] = Map.empty): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(urlCol).cast("string")).as[String].mapPartitions { urls =>
      val client = HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(10)).build()
      urls.map { url =>
        try {
          var b = HttpRequest.newBuilder(URI.create(url))
          headers.foreach { case (k, v) => b = b.header(k, v) }
          val resp = client.send(b.GET().build(), HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() / 100 == 2) (url, resp.body(), null: String)
          else (url, null: String, s"HTTP ${resp.statusCode()}")
        } catch { case e: Exception => (url, null: String, e.getMessage) }
      }
    }.toDF("url", "body", "error")
  }

  /** S2 end-to-end: fetch an export URL per row and parse the JSON bodies
    * through the S1 path (schema inferred over all fetched documents).
    */
  def fetchExport(spark: SparkSession, urls: DataFrame, urlCol: String,
      headers: Map[String, String] = Map.empty): DataFrame = {
    import spark.implicits._
    val bodies = fetchPerRow(urls, urlCol, headers)
      .filter(col("error").isNull).select("body").as[String]
    Sources.jsonLinesToDataFrame(spark, bodies)
  }
}
