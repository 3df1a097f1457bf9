package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.{Configs, MultiSourceAdEtl, PipelineRunner}
import graft.etl.PipelineRunner.{ExportResult, SheetTarget}
import graft.io.{Sinks, Sources, Xlsx}
import graft.util.A1

/** Benchmark JVM: generates one workload's inputs, runs closed-loop units
  * (one unit = one export of every pipeline of the workload), checks every
  * output and prints one `PERFBENCH {...}` result line on stdout.
  *
  * Untraced mode times `PipelineRunner.runAndExport`. Traced mode replays
  * its steps through the same public calls, in the same order, with a span
  * around each call, and alternates traced with untraced units so the
  * tracing overhead is measured in the same process.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
      fixtures: Path, launchNs: Long, budgetS: Double, spans: Option[Path])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("fixtures")).toAbsolutePath,
      get("launch-ns").toLong, get("budget-s").toDouble, m.get("spans").map(Paths.get(_).toAbsolutePath))
  }

  /** Warm units an untraced run measures at least, however short `--seconds` is. */
  val MinWarm = 3
  /** Unmeasured units after the cold one run for at least this long. */
  val SettleS = 8.0
  /** Cap on units per run, so a pathological slowdown still ends the run. */
  val MaxUnits = 40

  /** Span names of the layers, in pipeline order. */
  val Layers: Seq[String] = Seq(
    "io.Sources.readCsv", "io.Xlsx.read",
    "etl.MultiSourceAdEtl.capitalizeColNames", "etl.MultiSourceAdEtl.assignSource",
    "etl.MultiSourceAdEtl.cleanDataFrames", "etl.MultiSourceAdEtl.standardizeDataFrames",
    "etl.MultiSourceAdEtl.merge", "etl.materialize", "util.A1.makeDateFilename",
    "io.Sinks.writeCsvWithBom", "io.Sinks.collectSheetPayload", "io.Sinks.uploadPayload",
    "etl.unpersist")

  private def epochNs(): Long = { val i = Instant.now(); i.getEpochSecond * 1000000000L + i.getNano }

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p))(
      _.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_)))

  /** Sheet targets per pipeline. */
  def sheetTargets(workload: String, pipeline: String): Seq[SheetTarget] = workload match {
    case "adetl_daily" => Seq(SheetTarget(s"${pipeline}_raw", "Sheet1"), SheetTarget(s"${pipeline}_report", "daily"))
    case _             => Seq(SheetTarget(s"${pipeline}_backfill", "Sheet1"))
  }

  /** `PipelineRunner.runAndExport`'s steps, one span per public call. */
  def exportTraced(spark: SparkSession, tr: Tracer, pipeline: String, rawDir: Path, processedDir: String,
      orderBy: Seq[Column], svc: Sinks.SheetService, sheets: Seq[SheetTarget]): ExportResult = {
    val (config, capitalize) = Configs.all(pipeline)
    val etl = new MultiSourceAdEtl(config)
    val files = scala.util.Using.resource(Files.list(rawDir))(_.iterator().asScala.toSeq.sortBy(_.getFileName.toString))
    val raw = files.flatMap { f =>
      f.getFileName.toString.toLowerCase match {
        case n if n.endsWith(".csv")  => Some(tr("io.Sources.readCsv")(Sources.readCsv(spark, f)))
        case n if n.endsWith(".xlsx") => Some(tr("io.Xlsx.read")(Xlsx.read(spark, f)))
        case _ => None
      }
    }
    require(raw.nonEmpty, s"No CSV or XLSX found in directory: $rawDir")
    val named = if (capitalize) tr("etl.MultiSourceAdEtl.capitalizeColNames")(etl.capitalizeColNames(raw)) else raw
    val sourced = tr("etl.MultiSourceAdEtl.assignSource")(etl.assignSource(named))
    val cleaned = tr("etl.MultiSourceAdEtl.cleanDataFrames")(etl.cleanDataFrames(sourced))
    val standard = tr("etl.MultiSourceAdEtl.standardizeDataFrames")(etl.standardizeDataFrames(cleaned))
    val unioned = tr("etl.MultiSourceAdEtl.merge")(etl.merge(standard))
    val (merged, rowCount) = tr("etl.materialize") { val m = unioned.persist(); (m, m.count()) }
    try {
      if (rowCount == 0) throw new IllegalStateException(s"Pipeline produced 0 rows from $rawDir")
      val fileName = tr("util.A1.makeDateFilename")(A1.makeDateFilename(pipeline, merged))
      val csvPath = Paths.get(processedDir, fileName).toString
      tr("io.Sinks.writeCsvWithBom")(Sinks.writeCsvWithBom(merged, csvPath, orderBy))
      if (sheets.nonEmpty) {
        val (header, rows) = tr("io.Sinks.collectSheetPayload")(Sinks.collectSheetPayload(merged, orderBy))
        sheets.foreach { t =>
          tr("io.Sinks.uploadPayload")(Sinks.uploadPayload(svc, header, rows, t.sheetKey, t.sheetName))
        }
      }
      ExportResult(csvPath, rowCount, sheets)
    } finally tr("etl.unpersist")(merged.unpersist())
  }

  /** One JSON line per span: timing, self time and the engine counters of
    * the jobs it ran.
    */
  def writeSpans(file: Path, spans: Seq[Span], counters: Map[Int, Counters]): Unit = {
    val self = Tracer.selfTimes(spans)
    Files.createDirectories(file.getParent)
    Files.write(file, spans.map { s =>
      val c = counters.getOrElse(s.id, Counters())
      Json.obj(Seq("id" -> Json.raw(s.id.toString), "name" -> Json.str(s.name),
        "unit" -> Json.raw(s.unit.toString), "parent" -> Json.raw(s.parent.toString),
        "start_ns" -> Json.raw(s.startNs.toString), "end_ns" -> Json.raw(s.endNs.toString),
        "self_ns" -> Json.raw(self(s.id).toString)) ++
        c.productElementNames.zip(c.productIterator).map { case (k, v) => k -> Json.raw(v.toString) }).toString
    }.asJava)
  }

  final case class UnitRun(id: Int, traced: Boolean, seconds: Double, heapPeakMb: Double, gcS: Double,
      csvBytes: Long, sheetCells: Long)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    deleteTree(o.work)
    Files.createDirectories(o.work)
    try run(o, cores) finally deleteTree(o.work)
  }

  def run(o: Opts, cores: Int): Unit = {
    val shape = o.workload match {
      case "adetl_daily"    => Gen.Daily
      case "adetl_backfill" => Gen.Backfill
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = SparkSession.builder()
      .appName(s"perfbench-${o.workload}")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    try {
      val sc = spark.sparkContext
      val inputs = Gen.generate(Gen.loadTemplates(o.fixtures), shape, o.seed, o.work.resolve("in"))
      val inputRows = inputs.map(_.expected.rows).sum
      val listener = if (o.trace) Some(new EngineListener) else None
      listener.foreach(sc.addSparkListener)
      val tracer = new Tracer(sc)
      val reference = mutable.Map.empty[String, String] // pipeline -> CSV sha256 of the first unit
      var attempted = 0L
      var failed = 0L

      def runUnit(u: Int, traced: Boolean): UnitRun = {
        val outDir = o.work.resolve("out").resolve(s"u$u")
        Files.createDirectories(outDir)
        val svc = new Sinks.InMemorySheetService
        def exports(traced: Boolean): Seq[(Gen.PipelineInput, Either[Throwable, ExportResult])] =
          inputs.map { in =>
            val orderBy = Configs.all(in.pipeline)._1.standardSchema.fieldNames.toSeq.map(n => col(s"`$n`"))
            val sheets = sheetTargets(o.workload, in.pipeline)
            in -> (try Right(
              if (traced) tracer("etl.PipelineRunner")(
                exportTraced(spark, tracer, in.pipeline, in.rawDir, outDir.toString, orderBy, svc, sheets))
              else {
                val (config, capitalize) = Configs.all(in.pipeline)
                PipelineRunner.runAndExport(spark, config, in.rawDir.toString, capitalize, outDir.toString,
                  in.pipeline, orderBy, svc, sheets)
              })
            catch { case NonFatal(e) => Left(e) })
          }

        heapPools.foreach(_.resetPeakUsage())
        val gc0 = gcMs()
        tracer.unit = u
        val t0 = System.nanoTime()
        val results = if (traced) tracer("unit")(exports(traced = true)) else exports(traced = false)
        val dt = (System.nanoTime() - t0) / 1e9
        val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
        val gcS = (gcMs() - gc0) / 1000.0

        var csvBytes = 0L
        var cells = 0L
        results.foreach { case (in, res) =>
          attempted += 1
          val problems: Seq[String] = res match {
            case Left(e) => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}")
            case Right(r) => try {
              val (spendCol, imprCol) = Gen.OutputCols(in.pipeline)
              val path = Paths.get(r.csvPath)
              val got = Check.readCsv(path, spendCol, imprCol)
              csvBytes += Files.size(path)
              cells += got.rows * got.header.length * r.uploaded.size
              val ref = reference.getOrElseUpdate(in.pipeline, got.sha256)
              Check.csv(got, in.expected, spendCol, imprCol, path.getFileName.toString,
                in.expected.fileName(in.pipeline)) ++
                (if (r.rowCount != in.expected.rows) Seq(s"runAndExport reported ${r.rowCount} rows") else Nil) ++
                r.uploaded.flatMap(t => Check.sheet(svc, t.sheetKey, t.sheetName, got)) ++
                (if (ref == got.sha256) Nil
                 else Seq(s"CSV differs from unit 0's (${if (traced) "traced" else "untraced"} unit $u)"))
            } catch { case NonFatal(e) => Seq(s"output check threw ${e.getClass.getName}: ${e.getMessage}") }
          }
          if (problems.nonEmpty) {
            failed += 1
            System.err.println(s"FAIL unit $u pipeline ${in.pipeline}: ${problems.mkString("; ")}")
          }
        }
        deleteTree(outDir)
        UnitRun(u, traced, dt, heapPeak, gcS, csvBytes, cells)
      }

      val firstUnitNs = epochNs()
      // the first unit of the process is always untraced: it is cold_s, and
      // its CSVs are the reference every later unit must reproduce byte for byte
      val units = mutable.ArrayBuffer(runUnit(0, traced = false))
      // unmeasured units for SettleS seconds (one at least) let the JIT
      // settle: the warm units that follow sit near the plateau instead of
      // on the warm-up slope
      do units += runUnit(units.size, traced = false)
      while (units.tail.map(_.seconds).sum < SettleS && units.size < MaxUnits / 2)
      val settled = units.size
      def measured = units.drop(settled)
      def warm(traced: Boolean) = measured.filter(_.traced == traced)
      val warmStart = System.nanoTime()
      def elapsed = (System.nanoTime() - warmStart) / 1e9
      // closed loop: the next unit starts when the previous one ends. Traced
      // mode runs blocks of untraced, traced, traced, untraced units, so a
      // linear drift cancels out of the tracing overhead.
      def done = if (!o.trace) measured.size >= MinWarm && elapsed >= o.seconds
        else measured.nonEmpty && measured.size % 4 == 0 && elapsed >= o.seconds
      // on a slow host the run still ends in time: once two units are
      // measured (one of each kind when traced), no unit starts that would
      // likely end past the budget counted from JVM launch
      def outOfTime = measured.size >= 2 &&
        (epochNs() - o.launchNs) / 1e9 + units.last.seconds > o.budgetS
      while (!done && !outOfTime && units.size < MaxUnits) {
        val k = measured.size % 4
        units += runUnit(units.size, traced = o.trace && (k == 1 || k == 2))
      }
      val setupS = (firstUnitNs - o.launchNs) / 1e9
      val unitS = median(warm(o.trace).map(_.seconds).toSeq)
      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      val info = mutable.LinkedHashMap[String, Any](
        "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores, "pipelines" -> inputs.size,
        "input_files" -> inputs.map(_.files.size).sum, "input_rows" -> inputRows,
        "units" -> units.size, "unit_times_s" -> units.map(_.seconds).mkString(" "))
      if (!o.trace) {
        metrics("setup_s") = (setupS, "s")
        metrics("cold_s") = (units.head.seconds, "s")
        metrics("unit_s") = (unitS, "s")
        metrics("rows_per_s") = (inputRows / unitS, "1/s")
        metrics("peak_rss_mb") = (vmHwmMb(), "MB")
      } else {
        listener.foreach(_.drain(sc))
        val spans = tracer.spans
        val counters = listener.map(_.counters).getOrElse(Map.empty)
        val traced = warm(true).toSeq
        val tracedIds = traced.map(_.id).toSet
        val self = Tracer.selfByName(spans.filter(s => tracedIds(s.unit)))
        val spanName = spans.map(s => s.id -> s.name).toMap
        val spanUnit = spans.map(s => s.id -> s.unit).toMap
        // per unit, per span name: engine counters
        val engine: Map[Int, Map[String, Counters]] = counters.toSeq
          .filter { case (id, _) => spanUnit.get(id).exists(tracedIds) }
          .groupBy { case (id, _) => spanUnit(id) }
          .map { case (u, cs) => u -> cs.groupMapReduce(c => spanName(c._1))(_._2)(_ + _) }
        def perUnit(f: Int => Double): Double = median(traced.map(u => f(u.id)))
        def selfS(u: Int, name: String) = self.getOrElse(u, Map.empty).getOrElse(name, 0L) / 1e9
        def eng(u: Int, name: String) = engine.getOrElse(u, Map.empty).getOrElse(name, Counters())
        def total(u: Int) = engine.getOrElse(u, Map.empty).values.foldLeft(Counters())(_ + _)
        def count(u: Int, name: String) = spans.count(s => s.unit == u && s.name == name).toDouble
        val untracedS = median(warm(false).map(_.seconds).toSeq)
        val xlsxRows = inputs.flatMap(_.files).filter(_.xlsx).map(_.rows).sum.toDouble
        Layers.foreach { l =>
          metrics(s"$l.s") = (perUnit(selfS(_, l)), "s")
          val jobs = if (l == "io.Sources.readCsv") "io.Sources.jobs" else s"$l.jobs"
          metrics(jobs) = (perUnit(eng(_, l).jobs.toDouble), "count")
        }
        metrics("io.Sources.files") = (perUnit(count(_, "io.Sources.readCsv")), "count")
        metrics("io.Xlsx.read.files") = (perUnit(count(_, "io.Xlsx.read")), "count")
        metrics("io.Xlsx.read.rows") = (xlsxRows, "count")
        metrics("etl.MultiSourceAdEtl.merge.branches") =
          (perUnit(count(_, "io.Sources.readCsv")) + perUnit(count(_, "io.Xlsx.read")), "count")
        metrics("io.Sinks.writeCsvWithBom.bytes") = (median(traced.map(_.csvBytes.toDouble)), "bytes")
        metrics("io.Sinks.collectSheetPayload.cells") = (median(traced.map(_.sheetCells.toDouble)), "count")
        metrics("spark.jobs") = (perUnit(total(_).jobs.toDouble), "count")
        metrics("spark.stages") = (perUnit(total(_).stages.toDouble), "count")
        metrics("spark.tasks") = (perUnit(total(_).tasks.toDouble), "count")
        metrics("spark.executor_run_s") = (perUnit(total(_).runMs / 1e3), "s")
        metrics("spark.executor_cpu_s") = (perUnit(total(_).cpuNs / 1e9), "s")
        metrics("spark.gc_s") = (perUnit(total(_).gcMs / 1e3), "s")
        metrics("spark.input_bytes") = (perUnit(total(_).inputBytes.toDouble), "bytes")
        metrics("spark.shuffle_read_bytes") = (perUnit(total(_).shuffleRead.toDouble), "bytes")
        metrics("spark.shuffle_write_bytes") = (perUnit(total(_).shuffleWrite.toDouble), "bytes")
        metrics("spark.spill_bytes") = (perUnit(total(_).spill.toDouble), "bytes")
        metrics("spark.result_bytes") = (perUnit(total(_).resultBytes.toDouble), "bytes")
        metrics("jvm.gc_s") = (median(traced.map(_.gcS)), "s")
        metrics("jvm.heap_peak_mb") = (median(traced.map(_.heapPeakMb)), "MB")
        val unitSpan = spans.filter(s => s.name == "unit" && tracedIds(s.unit)).map(s => s.unit -> s).toMap
        val layerSet = Layers.toSet
        metrics("trace.unit_s") = (unitS, "s")
        metrics("trace.untraced_unit_s") = (untracedS, "s")
        metrics("trace.overhead_s") = (unitS - untracedS, "s")
        metrics("trace.unaccounted_s") = (perUnit { u =>
          unitSpan(u).durNs / 1e9 - self(u).collect { case (n, ns) if layerSet(n) => ns }.sum / 1e9
        }, "s")
        metrics("trace.spans") = (perUnit(u => spans.count(_.unit == u).toDouble), "count")
        o.spans.foreach(writeSpans(_, spans, counters))
      }
      val result = Json.obj(Seq(
        "correct" -> Json.raw((failed == 0).toString),
        "attempted" -> Json.raw(attempted.toString),
        "failed" -> Json.raw(failed.toString),
        "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }),
        "info" -> Json.obj(info.toSeq.map {
          case (k, v: String) => k -> Json.str(v)
          case (k, v)         => k -> Json.raw(v.toString)
        })))
      println(s"PERFBENCH $result")
    } finally spark.stop()
  }
}

/** Just enough JSON for the result line. */
object Json {
  final case class V(s: String) { override def toString: String = s }
  def raw(s: String): V = V(s)
  def num(d: Double): V = V(if (d.isNaN || d.isInfinite) "null" else d.toString)
  def str(s: String): V = V("\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\"")
  def obj(kv: Seq[(String, V)]): V = V(kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"))
}
