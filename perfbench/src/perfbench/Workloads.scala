package perfbench

import graft.api.Client
import graft.core.payload.UploadBuilder
import graft.ext.Curation
import graft.io.{BatchedSink, DeltaWrite, Http, Sources, UploadTransport}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable

/** What one iteration sees: the session, the span recorder and the per-layer
  * values the workload reports for this iteration.
  */
final case class Ctx(spark: SparkSession, spans: Spans, layer: mutable.Map[String, Double])

/** One pipeline workload. [[setup]] builds the inputs (untimed); [[run]] is
  * the timed pipeline and returns its output; [[check]] compares that output
  * with the generator's ground truth (None = correct) and is timed as part of
  * the iteration; [[corrupt]] gives corrupted copies of an output (one row
  * dropped from each output table, and for the upload a batch sent twice),
  * so the check can be shown to reject each.
  */
trait Workload {
  type Out
  def inputRows: Long
  def inputBytes: Long
  def setup(spark: SparkSession, dir: File): Unit
  def run(ctx: Ctx): Out
  def check(spark: SparkSession, out: Out): Option[String]
  def corrupt(spark: SparkSession, out: Out): Seq[Out]
  /** Per-layer values read from the output or needing extra work; runs
    * after a traced iteration, outside its timed window and its trace.
    */
  def probe(ctx: Ctx, out: Out): Unit = ()
}

object Workload {
  def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  def firstError(checks: Option[String]*): Option[String] = checks.flatten.headOption
}

import Workload._

/** Export JSON lines → bronze → silver → Delta overwrite → read back. */
final class ExportSilver(seed: Long, labels: Int) extends Workload {
  type Out = DataFrame
  private var input: Gen.ExportInput = _
  private var linesPath = ""
  private var silverPath = ""
  private var version = -1L

  def inputRows: Long = labels.toLong
  def inputBytes: Long = input.bytes

  def setup(spark: SparkSession, dir: File): Unit = {
    input = Gen.exportLabels(seed, labels)
    val f = new File(dir, "labels.jsonl")
    Files.write(f.toPath, input.lines.mkString("", "\n", "\n").getBytes(UTF_8))
    linesPath = f.getPath
    silverPath = new File(dir, "silver").getPath
  }

  def run(ctx: Ctx): DataFrame = {
    val spark = ctx.spark
    val lines = spark.read.textFile(linesPath)
    val bronze = ctx.spans("io.json_infer")(Sources.jsonLinesToDataFrame(spark, lines))
    val silver = ctx.spans("api.bronze_to_silver")(Client.bronzeToSilver(bronze))
    ctx.layer("core.silver_columns") = silver.columns.length
    version = ctx.spans("io.delta_write")(DeltaWrite.writeDeltaTable(silver, silverPath, "overwrite"))
    ctx.spans("io.table_read")(Sources.readTable(spark, silverPath))
  }

  def check(spark: SparkSession, silver: DataFrame): Option[String] = {
    val t = input.truth
    val id = col("DataRowID")
    val cls = Gen.ClassificationTitles
    val aggs = Seq(count(lit(1)), sum(crc32(id))) ++
      cls.flatMap { c =>
        val v = col(s"`$c`")
        Seq(count(v), sum(when(v.isNotNull, crc32(concat_ws("\u0001", id, v)))))
      } ++ Gen.ObjectTitles.map(o => sum(col(s"`$o.count`")))
    val r = silver.agg(aggs.head, aggs.tail: _*).head()
    def long(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    firstError(
      mismatch("silver rows", long(0), t.rows) +:
      mismatch("silver DataRowID crc", long(1), t.rowIdCrcSum) +:
      (cls.zipWithIndex.flatMap { case (c, i) => Seq(
        mismatch(s"answers of $c", long(2 + 2 * i), t.answerCount.getOrElse(c, 0L)),
        mismatch(s"answer crc of $c", long(3 + 2 * i), t.answerCrcSum.getOrElse(c, 0L)))
      } ++ Gen.ObjectTitles.zipWithIndex.map { case (o, i) =>
        mismatch(s"objects of $o", long(2 + 2 * cls.length + i), t.objectCount.getOrElse(o, 0L))
      }): _*)
  }

  def corrupt(spark: SparkSession, silver: DataFrame): Seq[DataFrame] =
    Seq(silver.filter(col("DataRowID") =!= f"dr-$seed%d-${0}%07d"))

  /** Files and bytes the overwrite committed, from its `_delta_log` entry. */
  override def probe(ctx: Ctx, out: DataFrame): Unit = {
    val log = new File(new File(silverPath, "_delta_log"), f"$version%020d.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val adds = Files.readAllLines(log.toPath).toArray(Array.empty[String]).toSeq
      .map(mapper.readTree).filter(_.has("add")).map(_.get("add"))
    ctx.layer("io.delta_files_added") = adds.size
    ctx.layer("io.delta_bytes_per_input_byte") =
      adds.map(_.get("size").asLong).sum.toDouble / inputBytes
  }
}

/** Wraps the program's transport and records the wall time of each send,
  * retries included, and the last batch sent.
  */
final class TimedTransport(val inner: UploadTransport, sendMs: mutable.ArrayBuffer[Double])
    extends UploadTransport {
  @volatile var lastBatch: Seq[String] = Nil
  def send(batch: Seq[String]): Int = {
    lastBatch = batch
    val t0 = System.nanoTime()
    try inner.send(batch)
    finally sendMs += (System.nanoTime() - t0) / 1e6
  }
}

/** Delta table → data rows to `/datarows`, then annotation ndjson to
  * `/annotations`, through the program's HTTP transport to the mock API.
  */
final class ImportUpload(seed: Long, rows: Int, mock: MockApi, batchSize: Int)
    extends Workload {
  type Out = ImportUpload.Out
  private var input: Gen.ImportInput = _
  private var tablePath = ""
  private val cfg = UploadBuilder.Config(datasetId = Some("ds-perfbench"))
  val sendMs = mutable.ArrayBuffer[Double]()
  private val dataRows = new TimedTransport(new Http.JsonPostTransport(mock.url("/datarows")), sendMs)
  private val annotations =
    new TimedTransport(new Http.JsonPostTransport(mock.url("/annotations")), sendMs)

  def inputRows: Long = rows.toLong
  def inputBytes: Long = input.bytes

  def setup(spark: SparkSession, dir: File): Unit = {
    input = Gen.importRows(seed, rows)
    val schema = StructType(Gen.ImportColumns.map(StructField(_, StringType)))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(input.rows.map(r => Row.fromSeq(r.toSeq)): _*), schema)
    tablePath = new File(dir, "import_table").getPath
    DeltaWrite.writeDeltaTable(df.repartition(spark.sparkContext.defaultParallelism),
      tablePath, "overwrite")
  }

  private var windowNs = (0L, 0L)

  def run(ctx: Ctx): Out = {
    mock.reset()
    val t0 = System.nanoTime()
    val res = ctx.spans("api.create_data_rows")(
      Client.createDataRowsFromPath(ctx.spark, tablePath, cfg, dataRows, batchSize))
    val nd = res.ndjson.toDF()
    val sent = ctx.spans("io.upload_annotations")(BatchedSink.uploadDriverSide(
      nd, to_json(struct(nd.columns.map(c => col(c)).toIndexedSeq: _*)), annotations, batchSize))
    windowNs = (t0, System.nanoTime())
    (res.accepted, sent, mock.received())
  }

  def check(spark: SparkSession, out: Out): Option[String] = {
    val (accepted, sent, got) = out
    val t = input.truth
    firstError(
      mismatch("unparseable bodies", got.badBodies, 0),
      mismatch("terminally failed batches", got.failedBatches, 0),
      mismatch("batches accepted twice", got.duplicateBatches, 0),
      mismatch("batches retried", got.retriedBatches, got.transient503s),
      mismatch("keys delivered more than once", got.deliveries.count(_._2 != 1), 0),
      mismatch("distinct keys delivered", got.deliveries.size, t.winners.size),
      mismatch("keys with the wrong row", t.winners.count { case (k, e) =>
        !got.externalIds.get(k).contains(e) }, 0),
      mismatch("accepted data rows", accepted, t.winners.size.toLong),
      mismatch("ndjson records", got.ndjsonRecords, t.ndjsonRecords),
      mismatch("ndjson records sent", sent, t.ndjsonRecords),
      mismatch("ndjson crc", got.ndjsonCrcSum, t.ndjsonCrcSum))
  }

  /** One key or one ndjson record missing, and a data-row batch really sent
    * a second time to the mock (the next iteration resets it).
    */
  def corrupt(spark: SparkSession, out: Out): Seq[Out] = {
    val (accepted, sent, got) = out
    val k = got.deliveries.keys.min
    val missing = Seq(
      (accepted, sent, got.copy(deliveries = got.deliveries - k, externalIds = got.externalIds - k)),
      (accepted, sent, got.copy(ndjsonRecords = got.ndjsonRecords - 1)))
    dataRows.inner.send(dataRows.lastBatch)
    missing :+ ((accepted, sent, mock.received()))
  }

  /** Upload counts seen by the mock, and the call time of the Delta read
    * that `createDataRowsFromPath` makes.
    */
  override def probe(ctx: Ctx, out: Out): Unit = {
    val t0 = System.nanoTime()
    Sources.readTable(ctx.spark, tablePath)
    ctx.layer("io.table_read_ms") = (System.nanoTime() - t0) / 1e6
    val (accepted, _, got) = out
    ctx.layer("core.ndjson_records") = got.ndjsonRecords
    ctx.layer("core.dup_keys_dropped") = rows - accepted
    ctx.layer("io.upload_requests") = got.requests.size
    ctx.layer("io.upload_inflight_max") = got.inflightMax
    ctx.layer("io.upload_idle_share") = 1.0 -
      Spans.covered(got.requests.map(r => (r.startNs, r.endNs))).toDouble / (windowNs._2 - windowNs._1)
    ctx.layer("io.upload_retries") = got.retriedBatches
    ctx.layer("io.upload_failed_batches") = got.failedBatches
  }
}

object ImportUpload {
  /** Data rows accepted, ndjson records sent, and what the mock received. */
  type Out = (Long, Long, MockApi.Received)
}

/** The labelspark pipelines back to back: [[ExportSilver]], then
  * [[ImportUpload]]. Each half keeps its own input, check and layer values.
  */
final class ExportImport(export: ExportSilver, imp: ImportUpload) extends Workload {
  type Out = (DataFrame, ImportUpload.Out)

  def inputRows: Long = export.inputRows + imp.inputRows
  def inputBytes: Long = export.inputBytes + imp.inputBytes

  def setup(spark: SparkSession, dir: File): Unit = {
    export.setup(spark, dir)
    imp.setup(spark, dir)
  }

  def run(ctx: Ctx): Out = {
    val silver = ctx.spans("export_silver")(export.run(ctx))
    (silver, ctx.spans("import_upload")(imp.run(ctx)))
  }

  def check(spark: SparkSession, out: Out): Option[String] =
    export.check(spark, out._1).orElse(imp.check(spark, out._2))

  def corrupt(spark: SparkSession, out: Out): Seq[Out] =
    export.corrupt(spark, out._1).map(_ -> out._2) ++
      imp.corrupt(spark, out._2).map(out._1 -> _)

  override def probe(ctx: Ctx, out: Out): Unit = {
    export.probe(ctx, out._1)
    imp.probe(ctx, out._2)
  }
}

/** Curation of a documents corpus (src0 is the eval set), written as parquet. */
final class CurateDedup(seed: Long, docs: Int) extends Workload {
  type Out = DataFrame
  private var input: Gen.Documents = _
  private var docsPath = ""
  private var outPath = ""
  private var reference: Option[(Long, Long)] = None
  private var lastRows = 0L

  def inputRows: Long = docs.toLong
  def inputBytes: Long = input.bytes

  def setup(spark: SparkSession, dir: File): Unit = {
    input = Gen.documents(seed, docs)
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = input.ids.indices.map(i => Row(input.ids(i), input.texts(i), "en",
      input.sources(i), input.texts(i).length.toLong))
    docsPath = new File(dir, "documents.parquet").getPath
    outPath = new File(dir, "curated.parquet").getPath
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).write.parquet(docsPath)
    reference = None
  }

  def run(ctx: Ctx): DataFrame = {
    val spark = ctx.spark
    val all = spark.read.parquet(docsPath)
    val curated = ctx.spans("ext.curate")(Curation.curate(
      all.filter(col("source") =!= "src0"), "doc_id", "text",
      evalDocs = Some(all.filter(col("source") === "src0").select(col("doc_id"), col("text"))),
      cfg = Curation.Config(packTokens = Some(512))))
    ctx.spans("io.write_table")(Sources.writeTable(curated, outPath, "overwrite"))
    Sources.readTable(spark, outPath)
  }

  /** Row count and order-independent crc-sum of `(doc_id, split)`. */
  def fingerprint(out: DataFrame): (Long, Long, Long, Long, Long) = {
    val id = col("doc_id")
    val t = input.truth
    val r = out.agg(count(lit(1)), sum(crc32(concat_ws("\u0001", id.cast("string"), col("split")))),
      countDistinct(id),
      sum(when(id < 0 || id >= t.docs || pmod(id, lit(Gen.Sources)) === 0, 1).otherwise(0)),
      sum(when(id.isin(t.mustDrop.toSeq: _*), 1).otherwise(0))).head()
    def long(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    (long(0), long(1), long(2), long(3), long(4))
  }

  def check(spark: SparkSession, out: DataFrame): Option[String] = {
    val (rows, fp, distinct, foreign, undropped) = fingerprint(out)
    lastRows = rows
    val expected = reference.orElse(CurateDedup.RecordedFingerprints.get(seed))
    if (reference.isEmpty) reference = Some((rows, fp))
    firstError(
      mismatch("duplicate doc_ids", rows - distinct, 0L),
      mismatch("doc_ids not among the training input", foreign, 0L),
      mismatch("planted duplicates or contaminated docs kept", undropped, 0L),
      expected.flatMap(e => mismatch("fingerprint (rows, crc)", (rows, fp), e)))
  }

  def corrupt(spark: SparkSession, out: DataFrame): Seq[DataFrame] =
    Seq(out.filter(col("doc_id") =!= out.agg(min(col("doc_id"))).head().getLong(0)))

  override def probe(ctx: Ctx, out: DataFrame): Unit =
    ctx.layer("ext.keep_share") = lastRows.toDouble / input.truth.trainDocs
}

object CurateDedup {
  /** `(rows, crc)` fingerprints of the curated output of `Main.CurateDocs`
    * documents for seeds 1-10, recorded on the program as it was when the
    * benchmark was written. A change that alters which documents survive,
    * or their splits, fails the check on these seeds.
    */
  val RecordedFingerprints: Map[Long, (Long, Long)] = Map(
    1L -> (10204L, 21928921522066L), 2L -> (10195L, 21834911367565L),
    3L -> (10202L, 21943594113458L), 4L -> (10219L, 21890066741405L),
    5L -> (10226L, 21870791541404L), 6L -> (10192L, 21842563545798L),
    7L -> (10206L, 21871115371075L), 8L -> (10239L, 21915756332596L),
    9L -> (10183L, 21832983666319L), 10L -> (10150L, 21792067662815L))
}
