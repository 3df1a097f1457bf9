package perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

/** Deterministic generator of scaled ad-platform exports.
  *
  * Every generated file is grown from one committed fixture under
  * `fixtures/<pipeline>/`: same header (Korean and mixed-case headers
  * included), rows sampled from the fixture's data rows with numbers
  * rescaled and dates redrawn. The quirks the cleaners exist for carry
  * over: a TikTok "Total" summary row on top, rows with an empty date, X's
  * `-` placeholder, dotted Naver dates and the Naver age/gender strings.
  *
  * The generator also records what a correct export must contain: the row
  * count and the per-source sums of spend and impressions, computed from
  * the very strings it writes (exact decimal arithmetic), plus the date
  * range that names the output file.
  */
object Gen {

  /** One fixture file and what the pipeline must make of it: the source it
    * is detected as, and its raw spend and impressions columns.
    */
  final case class Spec(pipeline: String, stem: String, source: String, spend: String, impressions: String)

  /** Output column names of spend and impressions per pipeline. */
  val OutputCols: Map[String, (String, String)] = Map(
    "apsl" -> ("Amount spent (USD)", "Impressions"),
    "podl" -> ("Amount spent (USD)", "Impressions"),
    "mnb" -> ("Amount spent (USD)", "Impressions"),
    "like_eat" -> ("지출 금액 (KRW)", "노출"),
    "kcon" -> ("Amount spent (Raw)", "Impressions"))

  val Specs: Seq[Spec] = Seq(
    Spec("apsl", "meta", "Meta", "Amount Spent (USD)", "Impressions"),
    Spec("apsl", "meta_lead", "Meta_Lead", "Amount Spent (USD)", "Impressions"),
    Spec("apsl", "meta_olive", "Meta_OLIVE", "Amount Spent (USD)", "Impressions"),
    Spec("apsl", "tiktok", "TikTok", "Cost", "Impressions"),
    Spec("apsl", "x", "X (Twitter)", "Spend", "Impressions"),
    Spec("podl", "meta", "Meta", "Amount spent (USD)", "Impressions"),
    Spec("podl", "tiktok", "TikTok", "Cost", "Impressions"),
    Spec("mnb", "meta", "Meta", "Amount spent (USD)", "Impressions"),
    Spec("mnb", "x", "X (Twitter)", "Spend", "Impressions"),
    Spec("like_eat", "meta_naver", "Meta_naver", "지출 금액 (KRW)", "노출"),
    Spec("like_eat", "naver_gfa", "Naver_GFA", "총 비용", "노출"),
    Spec("kcon", "meta", "Meta", "Amount spent (KRW)", "Impressions"),
    Spec("kcon", "tiktok", "TikTok", "Cost", "Impressions"),
    Spec("kcon", "x", "X (Twitter)", "Spend", "Impressions"))

  sealed trait Kind
  case object IntK extends Kind
  case object DecK extends Kind
  final case class DateK(dotted: Boolean) extends Kind
  case object StrK extends Kind

  final case class Template(spec: Spec, header: Vector[String], total: Option[Vector[String]],
      rows: Vector[Vector[String]], kinds: Vector[Kind])

  private val IntRe = "[+-]?\\d{1,15}".r
  private val DecRe = "[+-]?\\d+\\.\\d+".r
  private val IsoDateRe = "\\d{4}-\\d{2}-\\d{2}".r
  private val DotDateRe = "\\d{4}\\.\\d{2}\\.\\d{2}\\.".r

  def isTotal(row: Seq[String]): Boolean = row.headOption.exists(_.startsWith("Total"))

  /** Parse a committed fixture (plain comma-separated, no quoting). */
  def template(spec: Spec, text: String): Template = {
    val lines = text.split("\n").toVector.map(_.stripSuffix("\r")).filter(_.nonEmpty)
    val header = lines.head.split(",", -1).toVector
    val all = lines.tail.map(_.split(",", -1).toVector)
    all.foreach(r => require(r.length == header.length, s"ragged fixture row in ${spec.pipeline}/${spec.stem}: $r"))
    val (totals, rows) = all.partition(isTotal)
    val kinds = header.indices.map { j =>
      val vs = rows.map(_(j)).filter(v => v.nonEmpty && v != "-")
      if (vs.isEmpty) StrK
      else if (vs.forall(IntRe.matches)) IntK
      else if (vs.forall(v => IntRe.matches(v) || DecRe.matches(v))) DecK
      else if (vs.forall(IsoDateRe.matches)) DateK(dotted = false)
      else if (vs.forall(DotDateRe.matches)) DateK(dotted = true)
      else StrK
    }.toVector
    require(kinds.head.isInstanceOf[DateK], s"${spec.pipeline}/${spec.stem}: first column is not a date")
    Template(spec, header, totals.headOption, rows, kinds)
  }

  def loadTemplates(fixtures: Path): Seq[Template] =
    Specs.map { s =>
      template(s, new String(Files.readAllBytes(fixtures.resolve(s.pipeline).resolve(s.stem + ".csv")), UTF_8))
    }

  /** Per-source totals of a correct export. */
  final case class Totals(rows: Long, spend: BigDecimal, impressions: Long) {
    def +(o: Totals): Totals = Totals(rows + o.rows, spend + o.spend, impressions + o.impressions)
  }
  object Totals { val zero: Totals = Totals(0L, BigDecimal(0), 0L) }

  /** What one pipeline's export must contain. */
  final case class Expected(rows: Long, bySource: Map[String, Totals], minDate: String, maxDate: String) {
    def fileName(prefix: String): String = s"${prefix}_$minDate–$maxDate.csv"
  }

  /** One generated file: name, rows below the header (summary row included). */
  final case class FileInfo(name: String, rows: Long, xlsx: Boolean)

  final case class PipelineInput(pipeline: String, rawDir: Path, files: Seq[FileInfo], expected: Expected)

  /** Workload shape: which pipelines, how many files per fixture, how many
    * data rows per file (fixed, so every seed carries the same volume), which
    * files are XLSX and how many days the exports span.
    */
  final case class Shape(pipelines: Seq[String], copies: String => Int, rowsPerFile: Int,
      xlsxEvery: Int, xlsxStems: Set[String], windowDays: Int)

  /** ~30 small daily exports over the five shipped pipelines, 1 in 5 XLSX. */
  val Daily: Shape = Shape(Seq("apsl", "kcon", "like_eat", "mnb", "podl"),
    p => if (p == "apsl") 3 else 2, 300, xlsxEvery = 5, xlsxStems = Set.empty, windowDays = 7)

  /** One large export per apsl source (150k rows in all), TikTok as XLSX. */
  val Backfill: Shape = Shape(Seq("apsl"), _ => 1, 30000,
    xlsxEvery = 0, xlsxStems = Set("tiktok"), windowDays = 365)

  private def formatDate(d: LocalDate, dotted: Boolean): String =
    if (dotted) f"${d.getYear}%04d.${d.getMonthValue}%02d.${d.getDayOfMonth}%02d." else d.toString

  private def isoOf(v: String): String = if (v.endsWith(".")) v.stripSuffix(".").replace('.', '-') else v

  /** Generate the inputs of every pipeline of `shape` under `out`. The same
    * templates, shape and seed give the same bytes.
    */
  def generate(templates: Seq[Template], shape: Shape, seed: Long, out: Path): Seq[PipelineInput] = {
    val master = new SplittableRandom(seed)
    val jobs = for {
      p <- shape.pipelines
      t <- templates.filter(_.spec.pipeline == p)
      i <- 0 until shape.copies(p)
    } yield (t, i)
    val xlsxIdx: Set[Int] =
      if (shape.xlsxEvery <= 0) jobs.indices.filter(k => shape.xlsxStems(jobs(k)._1.spec.stem)).toSet
      else shuffled(jobs.indices.toVector, master).take(jobs.size / shape.xlsxEvery).toSet
    val starts = shape.pipelines.map(p => p -> LocalDate.of(2025, 1, 1).plusDays(master.nextInt(365).toLong)).toMap
    val written = jobs.zipWithIndex.map { case ((t, i), k) =>
      val p = t.spec.pipeline
      val rng = master.split()
      val name = f"${t.spec.stem}_$i%03d.${if (xlsxIdx(k)) "xlsx" else "csv"}"
      val rawDir = Files.createDirectories(out.resolve(p))
      p -> writeFile(t, shape.rowsPerFile, rng, starts(p), shape.windowDays, rawDir.resolve(name), xlsxIdx(k))
    }
    shape.pipelines.map { p =>
      val results = written.collect { case (`p`, r) => r }
      val perSource = results.map(_._2).groupMapReduce(_._1)(_._2)(_ + _)
      val dates = results.flatMap(_._3)
      PipelineInput(p, out.resolve(p), results.map(_._1),
        Expected(perSource.values.map(_.rows).sum, perSource, dates.min, dates.max))
    }
  }

  private def shuffled[A](xs: Vector[A], rng: SplittableRandom): Vector[A] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val tmp = a(i); a(i) = a(j); a(j) = tmp
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** Rows of one file (data rows only) drawn from the template. */
  private def rows(t: Template, n: Int, rng: SplittableRandom, start: LocalDate,
      windowDays: Int): Vector[Vector[String]] =
    Vector.fill(n) {
      val base = t.rows(rng.nextInt(t.rows.size))
      base.indices.map { j =>
        val v = base(j)
        if (v.isEmpty || v == "-") v
        else t.kinds(j) match {
          case IntK => math.round(v.toDouble * (0.5 + rng.nextDouble())).toString
          case DecK => BigDecimal(math.round(v.toDouble * 100 * (0.5 + rng.nextDouble())), 2).toString
          case DateK(dotted) => formatDate(start.plusDays(rng.nextInt(windowDays).toLong), dotted)
          case StrK => v
        }
      }.toVector
    }

  /** The summary row a TikTok export puts on top: campaign count, then sums. */
  private def totalRow(t: Template, body: Vector[Vector[String]]): Vector[String] =
    t.header.indices.map { j =>
      if (j == 0) s"Total of ${body.size} campaigns"
      else t.kinds(j) match {
        case IntK => body.map(r => if (r(j).isEmpty) 0L else r(j).toLong).sum.toString
        case DecK => body.map(r => if (r(j).isEmpty || r(j) == "-") BigDecimal(0) else BigDecimal(r(j))).sum.toString
        case _ => ""
      }
    }.toVector

  /** Totals and date range a correct pipeline derives from `body`. */
  private[perfbench] def expectedOf(t: Template, body: Seq[Seq[String]]): (Totals, Seq[String]) = {
    val si = t.header.indexOf(t.spec.spend)
    val ii = t.header.indexOf(t.spec.impressions)
    require(si >= 0 && ii >= 0, s"${t.spec.pipeline}/${t.spec.stem}: spend/impressions column missing")
    val totals = body.foldLeft(Totals.zero) { (acc, r) =>
      Totals(acc.rows + 1,
        acc.spend + (if (r(si).isEmpty) BigDecimal(0) else BigDecimal(r(si))),
        acc.impressions + (if (r(ii).isEmpty) 0L else r(ii).toLong))
    }
    (totals, body.map(_.head).filter(_.nonEmpty).map(isoOf))
  }

  private def writeFile(t: Template, n: Int, rng: SplittableRandom, start: LocalDate, windowDays: Int,
      file: Path, xlsx: Boolean): (FileInfo, (String, Totals), Seq[String]) = {
    val body = rows(t, n, rng, start, windowDays)
    val all = t.total.map(_ => totalRow(t, body) +: body).getOrElse(body)
    if (xlsx) XlsxWriter.write(file, t.header, all.iterator)
    else {
      val w: BufferedWriter = Files.newBufferedWriter(file, UTF_8)
      try {
        w.write(t.header.mkString(","))
        all.foreach { r => w.write("\n"); w.write(r.mkString(",")) }
        w.write("\n")
      } finally w.close()
    }
    val (totals, dates) = expectedOf(t, body)
    val range = if (dates.isEmpty) Nil else Seq(dates.min, dates.max)
    (FileInfo(file.getFileName.toString, all.size.toLong, xlsx), t.spec.source -> totals, range)
  }
}
