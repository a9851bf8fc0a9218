package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.CRC32

/** Seeded input generators. Each returns the inputs the program sees and,
  * separately, the ground truth the workload's check compares against. Sizes
  * never depend on the seed, only contents do, so every seed asks for the
  * same amount of work.
  */
object Gen {

  /** crc32 of the UTF-8 bytes of `parts` joined with \u0001 — the same value
    * Spark's `crc32(concat_ws("\u0001", ...))` computes.
    */
  def crc(parts: String*): Long = {
    val c = new CRC32()
    c.update(parts.mkString("\u0001").getBytes(UTF_8))
    c.getValue
  }

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private val Words = IndexedSeq("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "agg", "filter", "query", "big",
    "key", "window", "row", "table", "stream", "merge", "data", "the", "a", "of", "and", "to")

  private def words(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => pick(r, Words)).mkString(" ")

  // ------------------------------------------------------------- export

  val RadioTitles = IndexedSeq("weather", "time_of_day")
  val ChecklistTitles = IndexedSeq("tags", "scene")
  val TextTitles = IndexedSeq("caption", "notes")
  val ClassificationTitles: IndexedSeq[String] =
    (RadioTitles ++ ChecklistTitles ++ TextTitles).sorted
  val ObjectTitles = IndexedSeq("bicycle", "car", "person", "sign", "tree")
  private val RadioAnswers = IndexedSeq("sunny", "cloudy", "rain", "snow", "fog", "night", "day")
  private val ChecklistAnswers = IndexedSeq("blurry", "occluded", "truncated", "urban",
    "rural", "indoor", "crowded")

  /** What the silver table must hold: one row per label; per classification
    * title the count and crc-sum of `(DataRowID, normalized answer)`; per
    * object title the total object count.
    */
  final case class ExportTruth(
      rows: Long,
      rowIdCrcSum: Long,
      answerCount: Map[String, Long],
      answerCrcSum: Map[String, Long],
      objectCount: Map[String, Long])

  final case class ExportInput(lines: Array[String], truth: ExportTruth) {
    def bytes: Long = lines.iterator.map(_.getBytes(UTF_8).length + 1L).sum
  }

  /** Labelbox v1 export records (one JSON document per label), with nested
    * `Label.objects` and `Label.classifications`. About one answer in eight
    * arrives JSON-serialized, which makes schema inference unify the answer
    * fields to strings.
    */
  def exportLabels(seed: Long, n: Int): ExportInput = {
    val r = new SplittableRandom(seed * 7919L + 1)
    val ansCount = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val ansCrc = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val objCount = collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var rowCrc = 0L
    def fid(): String = f"ck${r.nextLong() & 0xffffffffffffL}%012x"
    val lines = Array.tabulate(n) { i =>
      val dataRowId = f"dr-$seed%d-$i%07d"
      rowCrc += crc(dataRowId)
      val objects = (0 until r.nextInt(7)).map { _ =>
        val t = pick(r, ObjectTitles)
        objCount(t) += 1
        val geom =
          if (r.nextInt(4) == 0)
            "\"point\":{\"x\":" + r.nextInt(1920) + ",\"y\":" + r.nextInt(1080) + "}"
          else
            "\"bbox\":{\"top\":" + r.nextInt(1080) + ",\"left\":" + r.nextInt(1920) +
              ",\"height\":" + (1 + r.nextInt(400)) + ",\"width\":" + (1 + r.nextInt(400)) + "}"
        s"""{"featureId":"${fid()}","schemaId":"${fid()}","title":"$t","value":"$t","color":"#${f"${r.nextInt(0xffffff)}%06x"}",$geom,"instanceURI":"https://api.labelbox.example/masks/${fid()}"}"""
      }
      val classifications = ClassificationTitles.filter(_ => r.nextInt(10) < 7).map { t =>
        val asString = r.nextInt(8) == 0
        val (answerJson, normalized) =
          if (RadioTitles.contains(t)) {
            val a = pick(r, RadioAnswers)
            val obj = s"""{"featureId":"${fid()}","schemaId":"${fid()}","title":"$a","value":"$a"}"""
            (s""""answer":${if (asString) q(obj) else obj}""", a)
          } else if (ChecklistTitles.contains(t)) {
            val as = ChecklistAnswers.filter(_ => r.nextInt(3) == 0) match {
              case Seq() => IndexedSeq(pick(r, ChecklistAnswers))
              case xs => xs
            }
            val arr = as.map(a => s"""{"featureId":"${fid()}","title":"$a","value":"$a"}""")
              .mkString("[", ",", "]")
            (s""""answers":${if (asString) q(arr) else arr}""", as.mkString(","))
          } else {
            val text = words(r, 3 + r.nextInt(8))
            (s""""answer":${q(text)}""", text)
          }
        ansCount(t) += 1
        ansCrc(t) += crc(dataRowId, normalized)
        s"""{"featureId":"${fid()}","schemaId":"${fid()}","title":"$t","value":"$t",$answerJson}"""
      }
      val secs = r.nextInt(600000) / 1000.0
      val reviews =
        if (r.nextInt(3) == 0) s"""[{"score":${r.nextInt(3) - 1},"id":"${fid()}"}]""" else "[]"
      s"""{"ID":"lbl-$seed-$i","DataRow ID":"$dataRowId","Labeled Data":"https://storage.example.com/$seed/$i.jpg",""" +
        s""""Label":{"objects":${objects.mkString("[", ",", "]")},"classifications":${classifications.mkString("[", ",", "]")}},""" +
        s""""Created By":"labeler${r.nextInt(40)}@example.com","Project Name":"perfbench","Created At":"2021-0${1 + r.nextInt(9)}-1${r.nextInt(10)}T10:${10 + r.nextInt(50)}:00.000Z",""" +
        s""""Updated At":"2021-10-0${1 + r.nextInt(9)}T12:00:00.000Z","Seconds to Label":$secs,"External ID":"img_$i.jpg",""" +
        s""""Agreement":-1,"Benchmark Agreement":-1,"Benchmark ID":null,"Dataset Name":"ds-$seed","Reviews":$reviews,""" +
        s""""View Label":"https://editor.labelbox.example/?label=lbl-$i","Has Open Issues":${r.nextInt(2)},"Skipped":false}"""
    }
    ExportInput(lines, ExportTruth(n.toLong, rowCrc, ansCount.toMap, ansCrc.toMap, objCount.toMap))
  }

  // ------------------------------------------------------------- import

  /** The `kind///type///name` columns of the reference's full-import fixture:
    * every annotation, attachment and metadata cell kind, after the three
    * reserved columns.
    */
  val ImportColumns: IndexedSeq[String] = IndexedSeq("row_data", "global_key", "external_id",
    "annotation///bbox///sample_bounding_box",
    "annotation///bbox///sample_nested_bounding_box",
    "annotation///polygon///sample_polygon",
    "annotation///polygon///sample_nested_polygon",
    "annotation///mask///sample_segmentation_mask",
    "annotation///point///sample_point",
    "annotation///line///sample_polyline",
    "annotation///radio///sample_radio_question",
    "annotation///checklist///sample_checklist_question",
    "annotation///radio///sample_nested_radio_question",
    "annotation///text///sample_free_text_question",
    "attachment///image///sample_col_1",
    "attachment///video///sample_col_2",
    "attachment///text_url///sample_col_3",
    "attachment///raw_text///sample_col_4",
    "attachment///html///sample_col_5",
    "metadata///string///labelspark-String",
    "metadata///number///labelspark-Number",
    "metadata///enum///labelspark-Enum",
    "metadata///datetime///labelspark-Datetime")

  /** What the API must receive: every distinct global key exactly once, with
    * the external id of the row that wins the last-write-wins dedupe (the
    * largest), and the annotation records of the winning rows.
    */
  final case class ImportTruth(
      winners: Map[String, String],
      rows: Long,
      ndjsonRecords: Long,
      ndjsonCrcSum: Long)

  final case class ImportInput(rows: Array[Array[String]], truth: ImportTruth) {
    def bytes: Long = rows.iterator.map(_.iterator.map(c =>
      if (c == null) 0L else c.getBytes(UTF_8).length.toLong).sum).sum
  }

  /** One row per data row in the full-import column layout. About 2% of the
    * rows repeat an earlier row's `global_key` with a larger `external_id`.
    */
  def importRows(seed: Long, n: Int): ImportInput = {
    val r = new SplittableRandom(seed * 104729L + 3)
    def xy(): String = s"[${r.nextInt(1920)}, ${r.nextInt(1080)}]"
    def box(): String = s"[${r.nextInt(1800)}, ${r.nextInt(1000)}, ${1 + r.nextInt(300)}, ${1 + r.nextInt(300)}]"
    def pts(k: Int): String = (0 until k).map(_ => xy()).mkString("[", ", ", "]")
    def instances(k: Int)(one: => String): String = (0 until k).map(_ => one).mkString("[", ", ", "]")
    // (cell, number of ndjson records it expands to)
    val cellGen: IndexedSeq[() => (String, Int)] = IndexedSeq(
      () => { val k = 1 + r.nextInt(3); (instances(k)(s"[${box()}, []]"), k) },
      () => (s"[[${box()}, ['sample_tool_sub_text_question///${words(r, 2)}']]]", 1),
      () => { val k = 1 + r.nextInt(2); (instances(k)(s"[${pts(3 + r.nextInt(4))}, []]"), k) },
      () => (s"[[${pts(4)}, ['sample_tool_sub_radio_question///sample_sub_radio_answer_${1 + r.nextInt(3)}']]]", 1),
      () => (s"[[['iVBORw0KGgoAAAANSUhEUgAA${f"${r.nextLong() & 0xffffffffL}%08x"}', [${r.nextInt(256)}, ${r.nextInt(256)}, ${r.nextInt(256)}]], []]]", 1),
      () => { val k = 1 + r.nextInt(3); (instances(k)(s"[${xy()}, []]"), k) },
      () => (s"[[${pts(2 + r.nextInt(4))}, []]]", 1),
      () => (s"sample_radio_answer_${1 + r.nextInt(4)}", 1),
      () => (s"[[${(1 to 1 + r.nextInt(3)).map(a => s"'sample_checklist_answer_$a'").mkString(", ")}]]", 1),
      () => (s"['sample_branch_radio_answer_${1 + r.nextInt(2)}///sample_sub_radio_question///sample_sub_radio_answer_${1 + r.nextInt(2)}']", 1),
      () => (words(r, 2 + r.nextInt(6)), 1))
    val annNames = ImportColumns.slice(3, 14).map(_.split("///"))
    val winners = collection.mutable.LinkedHashMap[String, (String, Int, Long)]()
    var dupCount = 0
    val rows = Array.tabulate(n) { i =>
      val dup = i > 10 && r.nextInt(50) == 0
      val gk = if (dup) { dupCount += 1; f"gk-$seed%d-${r.nextInt(i)}%07d" } else f"gk-$seed%d-$i%07d"
      val ext = f"ext-$i%08d"
      var records = 0
      var recCrc = 0L
      val cells = cellGen.indices.map { c =>
        if (r.nextInt(100) < 30) {
          val (cell, k) = cellGen(c)()
          val Array(_, kind, name) = annNames(c)
          records += k
          recCrc += k * crc(gk, name, kind)
          cell
        } else null
      }
      winners(gk) = (ext, records, recCrc)
      val attachments = Seq(
        s"https://storage.example.com/att/$i.jpg", s"https://storage.example.com/att/$i.mp4",
        s"https://storage.example.com/att/$i.txt", words(r, 4), s"https://storage.example.com/att/$i.html")
        .map(a => if (r.nextInt(2) == 0) a else null)
      val metadata = Seq(words(r, 2), r.nextInt(100000).toString, pick(r, IndexedSeq("A", "B", "C")),
        f"0${1 + r.nextInt(9)}/${10 + r.nextInt(18)}/19${r.nextInt(100)}%02d 12:13 PM")
      (Seq(s"https://storage.example.com/$seed/$i.jpg", gk, ext) ++ cells ++ attachments ++ metadata).toArray
    }
    require(dupCount > 0, "the generator must emit duplicate global keys")
    val truth = ImportTruth(
      winners.map { case (k, (e, _, _)) => k -> e }.toMap, n.toLong,
      winners.valuesIterator.map(_._2.toLong).sum, winners.valuesIterator.map(_._3).sum)
    ImportInput(rows, truth)
  }

  // ----------------------------------------------------------- curation

  val Sources = 20

  /** What curation must remove: the larger id of every planted exact
    * duplicate pair and every training document planted with a 16-word span
    * of an eval document. Training ids are `i` with `i % Sources != 0`.
    */
  final case class CurateTruth(docs: Int, mustDrop: Set[Long]) {
    def trainDocs: Int = docs - (docs + Sources - 1) / Sources
  }

  final case class Documents(ids: Array[Long], texts: Array[String], sources: Array[String],
      truth: CurateTruth) {
    def bytes: Long = texts.iterator.map(_.getBytes(UTF_8).length.toLong).sum
  }

  /** A corpus shaped like the sf0.1 `documents` table (doc_id, text, lang,
    * source, n_chars; 20 sources, src0 the eval set, 10-100 words from a
    * small vocabulary). Word counts follow the doc index, not the seed, so
    * seeds change contents at equal length. About 4% of training documents
    * copy an earlier one exactly, 4% copy one with one word changed, and 1%
    * carry a 16-word span of an eval document.
    */
  def documents(seed: Long, n: Int): Documents = {
    val r = new SplittableRandom(seed * 15485863L + 5)
    val lens = Array.tabulate(n)(i => 10 + (i * 37 + i / 7) % 91)
    val texts = Array.tabulate(n)(i => words(r, lens(i)))
    val mustDrop = collection.mutable.Set[Long]()
    val evalIds = (0 until n).filter(_ % Sources == 0)
    for (i <- 0 until n if i % Sources != 0 && i > Sources) {
      val roll = r.nextInt(100)
      // earlier training doc of the same length — the edit keeps length
      def sameLen(): Option[Int] = {
        val j = i - Sources * (1 + r.nextInt(i / Sources))
        if (j > 0 && j % Sources != 0 && lens(j) == lens(i)) Some(j) else None
      }
      if (roll < 4) {
        val j = (1 to 8).iterator.map(_ => sameLen()).collectFirst { case Some(j) => j }
        j.foreach { j => texts(i) = texts(j); mustDrop += i.toLong }
      } else if (roll < 8) {
        (1 to 8).iterator.map(_ => sameLen()).collectFirst { case Some(j) => j }.foreach { j =>
          val w = texts(j).split(" ")
          w(r.nextInt(w.length)) = pick(r, Words)
          texts(i) = w.mkString(" ")
        }
      } else if (roll < 9 && lens(i) >= 20) {
        val e = evalIds(r.nextInt(evalIds.length))
        val ew = texts(e).split(" ")
        if (ew.length >= 16) {
          val start = r.nextInt(ew.length - 15)
          val w = texts(i).split(" ")
          System.arraycopy(ew, start, w, 0, 16)
          texts(i) = w.mkString(" ")
          mustDrop += i.toLong
        }
      }
    }
    Documents(Array.tabulate(n)(_.toLong), texts, Array.tabulate(n)(i => s"src${i % Sources}"),
      CurateTruth(n, mustDrop.toSet))
  }
}
