package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.util.LongAccumulator

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, Semaphore}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

/** S10: the batched API sink (labelspark/create_labelbox_dataset.py:188-210
  * uploads 10k-row batches; 30k max with metadata).
  *
  * Two shapes:
  *   - [[uploadDriverSide]] — `toLocalIterator.grouped`: bounded driver
  *     memory (one partition at a time, never a full collect — the
  *     reference's `.rdd.map(...).collect()` at uploader.py:93 is the
  *     anti-pattern this replaces). For transports that must be driver-local
  *     (single API token, strict global rate limit). Up to
  *     [[BatchedSink.MaxInFlight]] batches are sent at once from driver
  *     threads while the next batch is read, so round trips overlap.
  *   - [[uploadDistributed]] — `foreachPartition` with an executor-side
  *     transport: each partition opens one transport, sends its batches,
  *     closes. The 100 TB shape; repartition by e.g. dataset_id upstream to
  *     route related rows to one connection.
  */
trait UploadTransport extends Serializable {
  /** Send one batch of serialized payloads; returns the accepted count.
    * Implementations must be idempotent per batch (the sink may retry).
    * Both sink shapes may call `send` from several threads at once (driver
    * upload threads, or executor tasks), and batches may complete in any
    * order; a transport that needs strictly serial calls serializes inside
    * `send`.
    */
  def send(batch: Seq[String]): Int
}

object BatchedSink {

  val DefaultBatchSize = 10000
  val MaxBatchWithMetadata = 30000
  /** Batches [[uploadDriverSide]] has in flight at once. */
  val MaxInFlight = 4

  /** Driver-side batched upload; returns total accepted.
    *
    * The calling thread reads rows and cuts the same `grouped(batchSize)`
    * batches as a serial loop; a pool of [[MaxInFlight]] daemon threads,
    * living only for this call, sends them through `transport`. Driver
    * memory holds at most `MaxInFlight + 1` batches. On the first failure
    * (a send or the read) no further batch is read or started, the sends in
    * flight finish, and that failure is rethrown with later ones attached as
    * suppressed. An interrupt of the caller interrupts the sends and
    * propagates; no upload thread outlives the call.
    */
  def uploadDriverSide(df: DataFrame, payload: Column, transport: UploadTransport,
      batchSize: Int = DefaultBatchSize): Long = {
    require(batchSize > 0 && batchSize <= MaxBatchWithMetadata,
      s"batchSize must be in (0, $MaxBatchWithMetadata], got $batchSize")
    val accepted = new AtomicLong()
    val failure = new AtomicReference[Throwable]()
    def fail(e: Throwable): Unit = // a transport may rethrow one instance
      if (!failure.compareAndSet(null, e) && (failure.get ne e)) failure.get.addSuppressed(e)
    val slots = new Semaphore(MaxInFlight)
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(MaxInFlight, { (r: Runnable) =>
      val t = new Thread(r, s"graft-upload-${threads.size}")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    def submit(batch: Seq[String]): Unit = {
      slots.acquire()
      pool.execute { () =>
        try if (failure.get == null) accepted.addAndGet(transport.send(batch))
        catch { case e: Throwable => fail(e) }
        finally slots.release()
      }
    }
    try {
      try {
        val it = df.select(payload.cast("string")).toLocalIterator()
        val buf = new scala.collection.mutable.ArrayBuffer[String](batchSize)
        while (failure.get == null && it.hasNext) {
          buf += it.next().getString(0)
          if (buf.length == batchSize) { submit(buf.toSeq); buf.clear() }
        }
        if (failure.get == null && buf.nonEmpty) submit(buf.toSeq)
      } catch {
        case e: InterruptedException => throw e
        case e: Throwable => fail(e)
      }
      slots.acquire(MaxInFlight) // every send has finished
    } catch {
      case e: InterruptedException => pool.shutdownNow(); throw e
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
    if (failure.get != null) throw failure.get
    accepted.get
  }

  /** Executor-side batched upload; `accepted` (optional accumulator) sums
    * transport-accepted counts across partitions.
    */
  def uploadDistributed(df: DataFrame, payload: Column, transport: UploadTransport,
      batchSize: Int = DefaultBatchSize, accepted: Option[LongAccumulator] = None): Unit = {
    require(batchSize > 0 && batchSize <= MaxBatchWithMetadata,
      s"batchSize must be in (0, $MaxBatchWithMetadata], got $batchSize")
    df.select(payload.cast("string")).foreachPartition {
      (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.map(_.getString(0)).grouped(batchSize).foreach { batch =>
          val n = transport.send(batch)
          accepted.foreach(_.add(n))
        }
    }
  }
}
