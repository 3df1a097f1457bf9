package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType

import graft.SparkSpec
import graft.io.{Sinks, Sources}
import graft.util.A1

/** The full reference script lifecycle end-to-end: pipeline → date-range
  * filename → BOM CSV → sheet clear+upload with serial dates.
  */
class PipelineRunnerSpec extends SparkSpec {

  private val apslOrder = Seq(col("Source"), col("Day"), col("Campaign name"))
  private val target = PipelineRunner.SheetTarget("key1", "raw_data")

  private def sheetRows(svc: Sinks.SheetService): Seq[Seq[String]] =
    svc.get(target.sheetKey, target.sheetName, "A:ZZ")

  private def runExport(pipeline: String, rawDir: String, orderBy: Seq[Column])
      : (PipelineRunner.ExportResult, Seq[Seq[String]]) = {
    val (config, capitalize) = Configs.all(pipeline)
    val svc = new Sinks.InMemorySheetService
    val result = PipelineRunner.runAndExport(spark, config, rawDir, capitalize,
      Files.createTempDirectory("processed").toString, pipeline, orderBy, svc, Seq(target))
    (result, sheetRows(svc))
  }

  /** The export as it was formulated before one sort served every sink: an
    * unsorted persist, then a separate `orderBy` inside each sink.
    */
  private def exportPerSinkSort(pipeline: String, rawDir: String, orderBy: Seq[Column])
      : (Path, Seq[Seq[String]]) = {
    val (config, capitalize) = Configs.all(pipeline)
    val merged = new MultiSourceAdEtl(config).run(spark, rawDir, capitalize).persist()
    try {
      assert(merged.count() > 0)
      val csv = Files.createTempDirectory("processed").resolve(A1.makeDateFilename(pipeline, merged))
      Sinks.writeCsvWithBom(merged, csv.toString, orderBy)
      val svc = new Sinks.InMemorySheetService
      val (header, rows) = Sinks.collectSheetPayload(merged, orderBy)
      Sinks.uploadPayload(svc, header, rows, target.sheetKey, target.sheetName)
      (csv, sheetRows(svc))
    } finally merged.unpersist()
  }

  /** Jobs Spark runs for `body`, counted through the job group set around
    * it — the read pool's threads inherit it from the calling thread.
    */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${UUID.randomUUID()}"
    val marker = s"$group-drained"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group`  => jobs.incrementAndGet()
          case `marker` => drained.countDown()
          case _        =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      val out = try body finally sc.clearJobGroup()
      // the bus delivers events in order: once the marker job's start
      // arrives, every job of `body` has been counted
      sc.setJobGroup(marker, "drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain within 30 s")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  test("runAndExport: apsl pipeline to CSV + sheet (full script shape)") {
    val processed = Files.createTempDirectory("processed").toString
    val svc = new Sinks.InMemorySheetService
    val result = PipelineRunner.runAndExport(
      spark,
      Configs.apsl,
      Fixtures.materialize("apsl"),
      capitalize = true,
      processedDir = processed,
      filenamePrefix = "apsl_daily",
      orderBy = apslOrder,
      svc = svc,
      sheets = Seq(PipelineRunner.SheetTarget("key1", "raw_data")))

    assert(result.rowCount == 8)
    // date-range filename from the Day column, en-dash separator
    assert(Paths.get(result.csvPath).getFileName.toString ==
      "apsl_daily_2025-08-01–2025-08-02.csv")
    val bytes = Files.readAllBytes(Paths.get(result.csvPath))
    assert(bytes.take(3).toSeq == Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
    val lines = new String(bytes, "UTF-8").linesIterator.toSeq
    assert(lines.length == 9) // header + 8 rows

    // sheet got cleared then uploaded with header + serial-dated rows
    assert(svc.cleared.nonEmpty && svc.cleared.head._3 == "A:Q")
    val uploaded = svc.get("key1", "raw_data", "A1:Q9")
    assert(uploaded.length == 9)
    assert(uploaded.head.take(2) == Seq("Day", "Source"))
    // 2025-08-01 → Excel serial 45870
    assert(uploaded.tail.exists(_.head == "45870"))
  }

  test("one sort for every sink: CSV bytes and sheet payload equal the per-sink-sort export") {
    Configs.all.keys.toSeq.sorted.foreach { pipeline =>
      val raw = Fixtures.materialize(pipeline)
      val orderBy = Configs.all(pipeline)._1.standardSchema.fieldNames.toSeq.map(n => col(s"`$n`"))
      val (result, sheet) = runExport(pipeline, raw, orderBy)
      val (oldCsv, oldSheet) = exportPerSinkSort(pipeline, raw, orderBy)
      assert(Paths.get(result.csvPath).getFileName == oldCsv.getFileName, pipeline)
      assert(Files.readAllBytes(Paths.get(result.csvPath)).toSeq == Files.readAllBytes(oldCsv).toSeq, pipeline)
      assert(sheet == oldSheet, pipeline)
    }
  }

  test("under an orderBy with ties, the CSV and the sheet list rows in the same sequence") {
    // the apsl fixture plus a Meta export whose rows all tie on
    // (Source, Day, Campaign name) and differ only in later columns
    val raw = Files.createTempDirectory("ties-raw")
    val fixture = Paths.get(Fixtures.materialize("apsl"))
    scala.util.Using.resource(Files.list(fixture))(_.forEach(f => Files.copy(f, raw.resolve(f.getFileName))))
    Files.write(raw.resolve("meta_ties.csv"), ((
      "Day,Account Name,Campaign Name,Ad Set Name,Ad Name,Amount Spent (USD),Impressions,Reach,Frequency,Link Clicks,Registrations Completed,Adds To Cart,Checkouts Initiated,Purchases,Purchases Conversion Value" +:
        (0 until 40).map(i => s"2025-08-01,acct_a,camp_m1,set_$i,ad_tie_$i,${i + 1}.5,${100 * i},90,1.1,3,1,2,1,1,9.5")
      ).mkString("\n")).getBytes("UTF-8"))
    val (result, sheet) = runExport("apsl", raw.toString, apslOrder)
    val csvLines = new String(Files.readAllBytes(Paths.get(result.csvPath)).drop(3), "UTF-8").linesIterator.toSeq
    // compare the String-typed columns: the CSV renders dates ISO, the sheet as serials
    val stringCols = Configs.apsl.standardSchema.fields.zipWithIndex.collect { case (f, i) if f.dataType == StringType => i }
    def strings(rows: Seq[Seq[String]]) = rows.map(r => stringCols.toSeq.map(r))
    assert(result.rowCount == 48)
    assert(csvLines.head.split(",", -1).toSeq == sheet.head)
    assert(strings(csvLines.tail.map(_.split(",", -1).toSeq)) == strings(sheet.tail))
  }

  test("runAndExport's Spark job count on apsl stays pinned") {
    val raw = Fixtures.materialize("apsl")
    val csvFiles = scala.util.Using.resource(Files.list(Paths.get(raw)))(_.iterator().asScala
      .count(_.getFileName.toString.endsWith(".csv")))
    // the read pool's threads inherit the caller's job group: every CSV's
    // schema-inference jobs are attributed to it
    val (_, readJobs) = jobsOf(Sources.readTabularFiles(spark, raw))
    assert(readJobs >= csvFiles, s"$readJobs read jobs for $csvFiles CSV files")
    val (result, jobs) = jobsOf(runExport("apsl", raw, apslOrder))
    assert(result._1.rowCount == 8)
    // 17 = 10 read jobs (two per CSV) + 7 for the sorted cache, the
    // count/filename agg, the CSV write and the sheet collect. The runner
    // that sorted inside each sink and ran count and the filename agg as
    // separate actions ran 21 here.
    assert(jobs <= 17, s"runAndExport ran $jobs Spark jobs")
  }
}
