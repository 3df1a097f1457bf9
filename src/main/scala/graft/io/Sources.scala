package graft.io

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Input connectors (reference S1–S4, S7 — SURVEY §2.1). */
object Sources {

  /** Enumerate a raw directory and read each tabular file as its OWN
    * DataFrame with full schema inference — files may have heterogeneous
    * schemas, and per-file frames are what source detection operates on
    * (a multi-file `spark.read.csv(dir)` would union the schemas and break
    * detection). Ref `multi_source_ad_etl.py:96-108`. `.xlsx` dispatches to
    * the JDK-only [[Xlsx]] reader (reference S2).
    *
    * Concurrency: the reads — a CSV's schema-inference jobs, an XLSX's
    * driver-side decode — run on a fixed pool of min(files,
    * `defaultParallelism`) threads. The pool is created per call, so its
    * threads inherit the caller's Spark local properties (job group, tags,
    * scheduler pool), and it is shut down before the call returns.
    *
    * Order: the frames come back in file-name order, whatever order the
    * reads finish in.
    *
    * Errors: a read that throws surfaces as one IllegalArgumentException
    * naming the file, with the read's exception as its cause. The reported
    * file is the first failing one in file-name order; the other reads are
    * cancelled.
    */
  def readTabularFiles(spark: SparkSession, rawDir: String): Seq[DataFrame] = {
    val dir = Paths.get(rawDir)
    require(Files.isDirectory(dir), s"Not a directory: $rawDir")
    val files = scala.util.Using.resource(Files.list(dir))(
      _.iterator().asScala.toSeq.sortBy(_.getFileName.toString))
    val reads = files.flatMap { f =>
      f.getFileName.toString.toLowerCase match {
        case n if n.endsWith(".csv")  => Some(f -> (() => readCsv(spark, f)))
        case n if n.endsWith(".xlsx") => Some(f -> (() => Xlsx.read(spark, f)))
        case _ => None
      }
    }
    if (reads.isEmpty)
      throw new IllegalArgumentException(
        s"No CSV or XLSX found in directory: $rawDir. File(s) present: " +
          (if (files.isEmpty) "None" else files.map(_.getFileName).mkString(", ")))
    readConcurrently(spark, reads)
  }

  /** Name prefix of the threads [[readTabularFiles]] reads on. */
  private[io] val ReadThreadPrefix = "graft-read-"

  /** Run `reads` on a pool created for this call; see [[readTabularFiles]]. */
  private def readConcurrently(spark: SparkSession, reads: Seq[(Path, () => DataFrame)]): Seq[DataFrame] = {
    val sc = spark.sparkContext
    // tags the reads' Spark jobs, so a failure can cancel the ones in flight
    val tag = s"graft-read-job-${UUID.randomUUID()}"
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(math.min(reads.size, sc.defaultParallelism), { (r: Runnable) =>
      val t = new Thread(r, s"$ReadThreadPrefix${threads.size}")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    try {
      val pending = reads.map { case (f, read) =>
        f -> pool.submit(new Callable[DataFrame] {
          def call(): DataFrame = { sc.addJobTag(tag); read() }
        })
      }
      pending.map { case (f, future) =>
        try future.get()
        catch {
          case e: ExecutionException =>
            pending.foreach(_._2.cancel(true))
            sc.cancelJobsWithTag(tag)
            e.getCause match {
              case NonFatal(cause) => throw new IllegalArgumentException(
                s"Failed to read $f: ${cause.getClass.getName}: ${cause.getMessage}", cause)
              case fatal => throw fatal
            }
        }
      }
    } finally {
      pool.shutdownNow()
      // joined, not just awaited: no pool thread outlives the call
      threads.forEach(_.join())
    }
  }

  /** One CSV file, header row, full-file schema inference — the Spark
    * equivalent of `read_csv(infer_schema_length=None)` (Spark samples every
    * row for inference by default). Dates stay ISO strings unless inferred.
    */
  def readCsv(spark: SparkSession, file: Path): DataFrame =
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      // quoted fields may contain newlines (ad names); Polars parses them by
      // default — without this Spark splits them into corrupt rows. Costs
      // file-level splittability, irrelevant for per-file daily exports.
      .option("multiLine", "true")
      // RFC-4180 quote doubling ("" inside quoted fields) — platform CSV
      // exports use it; Spark's default backslash escape mis-parses it
      .option("escape", "\"")
      .csv(file.toString)

  /** Build an all-String, row-oriented DataFrame from an in-memory
    * header + rows payload — the Sheets-ingest shape (reference S4/S7,
    * `google_cloud_client.py:87-89`).
    */
  def fromRows(spark: SparkSession, header: Seq[String], rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(header.map(StructField(_, StringType, nullable = true)))
    val data = rows.map(r => Row.fromSeq(r)).asJava
    spark.createDataFrame(data, schema)
  }
}
