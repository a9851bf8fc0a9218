package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{ExecutionException, Executors, TimeUnit, TimeoutException}
import scala.collection.mutable

/** Runs one workload for a fixed time in one JVM and prints the result as
  * the last line of stdout.
  *
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  --out <dir> --graft-src <dir> --bench-src <dir>`
  *
  * A run sets up once in this fresh JVM (session start, input generation,
  * untimed table builds), runs one cold iteration, shows that the check
  * rejects corrupted copies of the cold output, runs [[WarmupIterations]],
  * then measures warm iterations until `--seconds` have passed. Every
  * iteration is checked. With `--trace 1` every second warm iteration is
  * traced (listeners attached, spans recorded); the others are not, and the
  * gap between the two medians is the tracing overhead.
  */
object Main {

  /** Checked but unmeasured iterations after the cold one, while the JIT is
    * still compiling the pipeline's hot paths. At these sizes iterations get
    * faster by 3-10% each for eight and more iterations, more than a run can
    * afford, so every run stops at the same count: stopping when one
    * iteration was not faster left runs at different stages of warming.
    */
  val WarmupIterations = 4
  /** An iteration that takes longer has failed. `Http.JsonPostTransport`
    * sets no request timeout, so a hung server would otherwise block the run.
    */
  val DeadlineSeconds = 60L

  // Sizes: the largest at which a run still fits its time budget. The layers
  // each workload is chosen for take most of an iteration at these sizes;
  // perfbench/WORKLOADS.md gives the shares at these and at larger sizes.
  val ExportLabels = 2000
  val ImportRows = 6000
  val ImportBatch = 1000
  val MockServiceMs = 20L
  val MockFailEvery = 20
  val CurateDocs = 12000

  /** Modules reported one by one. Jobs of the other graft modules
    * (streaming, operators, plans, tools, the query catalogue) show in the
    * spark.* totals only.
    */
  val Modules = Seq("api", "core", "io", "ext", "functions", "bench")

  private final case class Iter(seconds: Double, traced: Boolean,
      layer: Map[String, Double], spans: Vector[Span], spark: Option[SparkTrace],
      sendMs: Vector[Double])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = new File(arg("work"))
    val outDir = new File(arg("out"))
    val nproc = Runtime.getRuntime.availableProcessors

    val mock = if (workload == "export_import")
      Some(new MockApi(nproc, MockServiceMs, MockFailEvery)) else None
    val upload = mock.map(new ImportUpload(seed, ImportRows, _, ImportBatch))
    val wl: Workload = workload match {
      case "export_import" => new ExportImport(new ExportSilver(seed, ExportLabels), upload.get)
      case "curate_dedup" => new CurateDedup(seed, CurateDocs)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up as a one-shot job pays it: in a fresh JVM
    val t0 = System.nanoTime()
    val spark = session(nproc, work)
    val data = new File(work, "data")
    data.mkdirs()
    wl.setup(spark, data)
    val setupSeconds = (System.nanoTime() - t0) / 1e9

    val spans = new Spans
    val tracer = if (trace) Some(new SparkTracer(spark,
      SparkTracer.moduleMap(new File(arg("graft-src")), new File(arg("bench-src"))))) else None
    val worker = Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "perfbench-iteration"); t.setDaemon(true); t
    }

    var lastOut: Option[wl.Out] = None
    var hung = false
    var attempted = 0
    val failures = mutable.ArrayBuffer[String]()
    // after a hung iteration the worker thread is stuck: attempt no more
    def iterate(traced: Boolean): Option[Iter] = if (hung) None else {
      attempted += 1
      val layer = mutable.Map[String, Double]()
      val ctx = Ctx(spark, spans, layer)
      tracer.filter(_ => traced).foreach(_.attach())
      spans.enabled = traced
      upload.foreach(_.sendMs.clear())
      val job = worker.submit { () =>
        val t0 = System.nanoTime()
        val (out, err) = spans("iteration") {
          val out = wl.run(ctx)
          (out, spans("bench.check")(wl.check(spark, out)))
        }
        ((System.nanoTime() - t0) / 1e9, out, err)
      }
      val result = try {
        val (secs, out, err) = job.get(DeadlineSeconds, TimeUnit.SECONDS)
        lastOut = Some(out)
        err.foreach(e => failures += s"check: $e")
        if (err.isEmpty) Some(secs -> out) else None
      } catch {
        case _: TimeoutException =>
          hung = true
          spark.sparkContext.cancelAllJobs()
          job.cancel(true)
          failures += s"deadline: iteration exceeded $DeadlineSeconds s"
          None
        case e: ExecutionException =>
          failures += s"error: ${e.getCause.toString.linesIterator.next().take(300)}"
          None
      }
      spans.enabled = false
      val st = tracer.filter(_ => traced && !hung).map(_.detach())
      result.map { case (secs, out) =>
        if (traced) wl.probe(ctx, out)
        Iter(secs, traced, layer.toMap, spans.take(), st,
          upload.map(_.sendMs.toVector).getOrElse(Vector.empty))
      }
    }

    val first = iterate(traced = false)
    // the check must reject every corrupted copy of the cold output
    val rejectsCorruption = lastOut.exists(o =>
      wl.corrupt(spark, o).forall(bad => wl.check(spark, bad).isDefined))
    val warmups = (1 to WarmupIterations).map(_ => iterate(traced = false))
    val warm = mutable.ArrayBuffer[Iter]()
    val until = System.nanoTime() + (seconds * 1e9).toLong
    var measured = 0
    while (!hung && System.nanoTime() < until) {
      iterate(traced = trace && measured % 2 == 1).foreach(warm += _)
      measured += 1
    }
    val failed = attempted - warm.size - first.size - warmups.count(_.isDefined)

    val untraced = warm.filter(!_.traced).map(_.seconds).toSeq
    val peakRssMb = "VmHWM:\\s+(\\d+) kB".r.findFirstMatchIn(
      new String(Files.readAllBytes(new File("/proc/self/status").toPath), UTF_8))
      .map(_.group(1).toDouble / 1024).getOrElse(Double.NaN)
    val tail = Stats.tail(untraced)

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        // the cold first iteration is part of set-up: it varies too much
        // between runs to stand as a metric of its own
        ("setup_s", setupSeconds + first.map(_.seconds).getOrElse(Double.NaN), "s"),
        ("pipeline_s_p50", Stats.median(untraced), "s"))
      else layerMetrics(warm.toSeq, nproc)

    // Everything behind the numbers goes to a file; stdout keeps one short line.
    outDir.mkdirs()
    val report = new File(outDir, s"$workload-seed$seed-trace${if (trace) 1 else 0}.json")
    Files.write(report.toPath, Json.obj(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "input_rows" -> wl.inputRows.toString, "input_bytes" -> wl.inputBytes.toString,
      "nproc" -> nproc.toString,
      "setup_only_s" -> Json.num(setupSeconds),
      "first_pipeline_s" -> first.map(i => Json.num(i.seconds)).getOrElse("null"),
      "warmup_s" -> Json.arr(warmups.flatten.map(i => Json.num(i.seconds))),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "warm_s" -> Json.arr(warm.toSeq.map(i => Json.num(i.seconds))),
      "warm_traced" -> Json.arr(warm.toSeq.map(_.traced.toString)),
      "tail_percentile" -> tail.map(t => Json.num(t._1)).getOrElse("null"),
      "tail_s" -> tail.map(t => Json.num(t._2)).getOrElse("null"),
      "tail_samples" -> untraced.size.toString,
      "failures" -> Json.arr(failures.toSeq.map(Json.str)),
      "check_rejects_corruption" -> rejectsCorruption.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, _) => k -> Json.num(v) }: _*),
      "spans" -> Json.arr(warm.toSeq.zipWithIndex.flatMap { case (it, n) =>
        val self = Spans.selfMs(it.spans)
        it.spans.map(s => Json.obj("iteration" -> n.toString, "id" -> s.id.toString,
          "parent" -> s.parent.toString, "name" -> Json.str(s.name),
          "ms" -> Json.num(s.ms), "self_ms" -> Json.num(self(s.id))))
      })).getBytes(UTF_8))

    println(s"perfbench $workload seed=$seed rows=${wl.inputRows} bytes=${wl.inputBytes} " +
      f"setup_only_s=$setupSeconds%.3f " +
      f"first_s=${first.map(_.seconds).getOrElse(Double.NaN)}%.3f warm_n=${untraced.size} " +
      f"p50_s=${Stats.median(untraced)}%.4f peak_rss_mb=$peakRssMb%.0f tail_s=${tail.map(t => f"${t._2}%.4f@p${t._1}%.0f").getOrElse("n/a")} " +
      s"failed=$failed/$attempted rejects_corruption=$rejectsCorruption report=${report.getPath}")
    failures.distinct.take(5).foreach(f => println(s"perfbench failure: $f"))

    val correct = rejectsCorruption && !failures.exists(_.startsWith("check"))
    println(Json.obj(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*)))
    System.out.flush()

    if (!hung) spark.stop()
    mock.foreach(_.stop())
    worker.shutdownNow()
    // a hung iteration thread is a daemon and does not keep the JVM alive
    System.exit(0)
  }

  private def session(nproc: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Medians over the traced warm iterations, plus the tracing overhead. */
  private def layerMetrics(warm: Seq[Iter], nproc: Int): Seq[(String, Double, String)] = {
    val traced = warm.filter(_.traced)
    val untraced = warm.filter(!_.traced)
    def med(f: Iter => Double): Double = Stats.median(traced.map(f))
    def sp(f: SparkTrace => Double): Double = med(i => i.spark.map(f).getOrElse(Double.NaN))
    def spanMs(name: String): Double = med(_.spans.filter(_.name == name).map(_.ms).sum)
    def layer(name: String): Double = med(_.layer.getOrElse(name, 0.0))
    val sendMs = traced.flatMap(_.sendMs).sorted
    val spark = Seq(
      ("spark.jobs", sp(_.jobs), "n"),
      ("spark.tasks", sp(_.tasks), "n"),
      ("spark.plan_ms", sp(_.planMs), "ms"),
      ("spark.driver_only_ms", med(i => i.seconds * 1e3 -
        i.spark.map(t => Spans.covered(t.jobIntervalsMs).toDouble).getOrElse(0.0)), "ms"),
      ("spark.task_ms", sp(_.taskMs), "ms"),
      ("spark.task_cpu_ms", sp(_.taskCpuMs), "ms"),
      ("spark.gc_ms", sp(_.gcMs), "ms"),
      ("spark.slot_busy_share", med(i => i.spark.map(_.taskMs).getOrElse(0.0) /
        (i.seconds * 1e3 * nproc)), "share"),
      ("spark.scan_bytes", sp(_.scanBytes.toDouble), "B"),
      ("spark.shuffle_write_bytes", sp(_.shuffleWriteBytes.toDouble), "B"),
      ("spark.shuffle_read_bytes", sp(_.shuffleReadBytes.toDouble), "B"),
      ("spark.shuffle_wait_ms", sp(_.shuffleWaitMs), "ms"),
      ("spark.spill_bytes", sp(_.spillBytes.toDouble), "B"),
      ("spark.stage_skew", sp(_.stageSkew), "ratio"))
    val modules = Modules.flatMap { m => Seq(
      (s"$m.jobs", sp(_.moduleJobs.getOrElse(m, 0).toDouble), "n"),
      (s"$m.task_ms", sp(_.moduleTaskMs.getOrElse(m, 0.0)), "ms"))
    }
    val layers = Seq(
      ("api.bronze_to_silver_ms", spanMs("api.bronze_to_silver"), "ms"),
      ("core.silver_columns", layer("core.silver_columns"), "n"),
      ("io.json_infer_ms", spanMs("io.json_infer"), "ms"),
      ("io.delta_write_ms", spanMs("io.delta_write"), "ms"),
      ("io.delta_files_added", layer("io.delta_files_added"), "n"),
      ("io.delta_bytes_per_input_byte", layer("io.delta_bytes_per_input_byte"), "ratio"),
      ("io.table_read_ms", spanMs("io.table_read") + layer("io.table_read_ms"), "ms"),
      ("api.create_data_rows_ms", spanMs("api.create_data_rows"), "ms"),
      ("core.ndjson_records", layer("core.ndjson_records"), "n"),
      ("core.dup_keys_dropped", layer("core.dup_keys_dropped"), "n"),
      ("io.upload_requests", layer("io.upload_requests"), "n"),
      ("io.upload_send_ms_p50", if (sendMs.isEmpty) 0.0 else Stats.quantile(sendMs, 0.5), "ms"),
      ("io.upload_send_ms_p99", if (sendMs.isEmpty) 0.0 else Stats.quantile(sendMs, 0.99), "ms"),
      ("io.upload_inflight_max", layer("io.upload_inflight_max"), "n"),
      ("io.upload_idle_share", layer("io.upload_idle_share"), "share"),
      ("io.upload_retries", layer("io.upload_retries"), "n"),
      ("io.upload_failed_batches", layer("io.upload_failed_batches"), "n"),
      ("ext.curate_ms", spanMs("ext.curate"), "ms"),
      ("ext.keep_share", layer("ext.keep_share"), "share"),
      ("bench.trace_overhead_share",
        Stats.median(traced.map(_.seconds)) / Stats.median(untraced.map(_.seconds)) - 1, "share"))
    spark ++ modules ++ layers
  }
}

/** Just enough JSON writing for the result line and the report. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < 0x20 => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Every digit as measured; NaN and infinities, which JSON lacks, become
    * null.
    */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else BigDecimal(d).underlying.stripTrailingZeros.toPlainString

  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
