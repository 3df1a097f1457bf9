package graft.etl

import java.nio.file.Paths

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.io.Sinks
import graft.util.A1

/** The reference's script lifecycle (`scripts/apsl_internal.py:138-192`) as
  * one reusable driver: run the conformance pipeline, derive the
  * date-range filename, export to a BOM CSV and to each configured sheet
  * (clear range → serial-dated upload).
  *
  * One sort, one cache: the merged plan is sorted once by `orderBy` and the
  * SORTED result is persisted. The row count and the filename come from one
  * aggregation over that cache, and the CSV write and the sheet collect read
  * it in partition order without sorting again, so every sink sees the same
  * rows in the same sequence, ties included. `orderBy` keys make the
  * exported row order deterministic where the reference relied on eager
  * concat order.
  */
object PipelineRunner {

  final case class SheetTarget(sheetKey: String, sheetName: String)

  final case class ExportResult(csvPath: String, rowCount: Long, uploaded: Seq[SheetTarget])

  def runAndExport(
      spark: SparkSession,
      config: EtlConfig,
      rawDir: String,
      capitalize: Boolean,
      processedDir: String,
      filenamePrefix: String,
      orderBy: Seq[Column],
      svc: Sinks.SheetService,
      sheets: Seq[SheetTarget]): ExportResult = {
    // persist before the first action: the count/filename agg, the CSV
    // write and the sheet collect are separate actions — uncached they would
    // re-read, re-clean and re-sort the raw dir per action, and a file
    // landing mid-run would make filename/CSV/sheet reflect different data
    val merged = new MultiSourceAdEtl(config).run(spark, rawDir, capitalize)
    val sorted = (if (orderBy.nonEmpty) merged.orderBy(orderBy: _*) else merged).persist()
    try {
      val (rowCount, fileName) = A1.countAndDateFilename(filenamePrefix, sorted)
      if (rowCount == 0) throw new IllegalStateException(
        s"Pipeline produced 0 rows from $rawDir — refusing to export an empty artifact")
      val csvPath = Paths.get(processedDir, fileName).toString
      Sinks.writeCsvWithBom(sorted, csvPath)
      if (sheets.nonEmpty) {
        // one serial-dated collect, fanned out to every sheet target
        val (header, rows) = Sinks.collectSheetPayload(sorted, Nil)
        sheets.foreach(t => Sinks.uploadPayload(svc, header, rows, t.sheetKey, t.sheetName))
      }
      ExportResult(csvPath, rowCount, sheets)
    } finally sorted.unpersist()
  }
}
