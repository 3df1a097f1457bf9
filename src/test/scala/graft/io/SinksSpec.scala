package graft.io

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.util.A1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}

class SinksSpec extends SparkSpec {

  test("writeCsvWithBom escapes embedded quotes RFC-4180 style (doubling, not backslash)") {
    import spark.implicits._
    val df = Seq(("""ACME "Summer" Sale""", 1)).toDF("name", "n")
    val out = java.nio.file.Files.createTempDirectory("csv-q").resolve("q.csv")
    Sinks.writeCsvWithBom(df, out.toString)
    val body = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
    assert(body.contains("\"ACME \"\"Summer\"\" Sale\""))
    assert(!body.contains("\\\""))
  }

  test("writePartitionedParquet: filesPerPartition > 1 actually spreads a partition over tasks") {
    val docs = graft.queries.Tables.t(spark, graft.TestSpark.sf0001, "documents")
    val out = java.nio.file.Files.createTempDirectory("part-salt").resolve("docs").toString
    Sinks.writePartitionedParquet(docs, out, partitionBy = Seq("lang"),
      sortWithin = Seq("doc_id"), filesPerPartition = 4)
    val en = new java.io.File(s"$out/lang=en")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(en > 1 && en <= 4, s"lang=en has $en files")
    assert(spark.read.parquet(out).count() == docs.count())
  }

  test("writePartitionedParquet: hive-style lang partitions, bounded file count, round-trips") {
    val docs = graft.queries.Tables.t(spark, graft.TestSpark.sf0001, "documents")
    val out = java.nio.file.Files.createTempDirectory("part-out").resolve("docs").toString
    Sinks.writePartitionedParquet(docs, out, partitionBy = Seq("lang"),
      sortWithin = Seq("doc_id"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("lang=de", "lang=en", "lang=es", "lang=fr", "lang=zh"))
    // bounded files per partition (no every-task-writes-every-partition blowup)
    dirs.foreach { d =>
      val files = new java.io.File(s"$out/$d").listFiles().count(_.getName.endsWith(".parquet"))
      assert(files >= 1 && files <= 8, s"$d has $files files")
    }
    val back = spark.read.parquet(out)
    assert(back.count() == docs.count())
    assert(back.columns.toSet == docs.columns.toSet)
  }
  import spark.implicits._

  test("writeCsvWithBom produces one headered CSV starting with the UTF-8 BOM") {
    val df = Seq(("한글", 1L), ("english", 2L)).toDF("name", "n")
    val out = Files.createTempDirectory("graft-sink").resolve("out.csv")
    Sinks.writeCsvWithBom(df, out.toString, orderBy = Seq(col("n")))
    val bytes = Files.readAllBytes(out)
    assert(bytes.take(3).toSeq == Seq(0xEF.toByte, 0xBB.toByte, 0xBF.toByte))
    val text = new String(bytes.drop(3), "UTF-8")
    assert(text.linesIterator.toSeq == Seq("name,n", "한글,1", "english,2"))
  }

  test("withExcelSerialDates: 2025-08-01 -> 45870, non-date columns untouched") {
    val df = Seq(("2025-08-01", "x"), ("1970-01-01", "y"))
      .toDF("Day", "tag")
      .select(col("Day").cast(DateType).as("Day"), col("tag"))
    val out = Sinks.withExcelSerialDates(df).orderBy(desc("Day")).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(45870L, 25569L))
    assert(Sinks.withExcelSerialDates(df).schema("Day").dataType == LongType)
    assert(out.map(_.getString(1)).toSeq == Seq("x", "y"))
  }

  test("uploadDataFrame clears the column range then uploads header+rows with serial dates") {
    val svc = new Sinks.InMemorySheetService
    val df = Seq(("2025-08-01", 10L), ("2025-08-02", 20L)).toDF("Day", "Clicks")
      .select(col("Day").cast(DateType).as("Day"), col("Clicks"))
    Sinks.uploadDataFrame(svc, df, "key1", "raw", orderBy = Seq(col("Day")))
    assert(svc.cleared.toSeq == Seq(("key1", "raw", "A:B")))
    val rows = svc.get("key1", "raw", "A1:B3")
    assert(rows == Seq(Seq("Day", "Clicks"), Seq("45870", "10"), Seq("45871", "20")))
  }

  test("getDataFrame round-trips rows as an all-String frame (S4/S7)") {
    val svc = new Sinks.InMemorySheetService
    svc.update("k", "s", "A1:B3", Seq(Seq("h1", "h2"), Seq("a", "1"), Seq("b", "2")))
    val df = Sinks.getDataFrame(spark, svc, "k", "s", "A1:B3")
    assert(df.columns.toSeq == Seq("h1", "h2"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    assert(df.orderBy("h1").collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("a", "1"), ("b", "2")))
  }

  test("InMemorySheetService.get crops to the requested A1 rectangle like the real API") {
    val svc = new Sinks.InMemorySheetService
    svc.update("k", "s", "A1:C4", Seq(
      Seq("h1", "h2", "h3"), Seq("a", "1", "x"), Seq("b", "2", "y"), Seq("c", "3", "z")))
    // interior sub-rectangle
    assert(svc.get("k", "s", "B2:C3") == Seq(Seq("1", "x"), Seq("2", "y")))
    // column-only range keeps all rows, crops columns
    assert(svc.get("k", "s", "B:C") ==
      Seq(Seq("h2", "h3"), Seq("1", "x"), Seq("2", "y"), Seq("3", "z")))
    // single cell
    assert(svc.get("k", "s", "C4") == Seq(Seq("z")))
    // column range with a bottom row bound ("A:B3" = first 3 rows)
    assert(svc.get("k", "s", "A:B3") == Seq(Seq("h1", "h2"), Seq("a", "1"), Seq("b", "2")))
    // range larger than the payload just returns what exists
    assert(svc.get("k", "s", "A1:Z99").map(_.length).toSet == Set(3))
  }

  test("makeDateFilename uses first Date column and an en-dash") {
    val df = Seq("2025-08-01", "2025-08-03", "2025-08-02").toDF("Day")
      .select(col("Day").cast(DateType).as("Day"))
    assert(A1.makeDateFilename("apsl", df) == "apsl_2025-08-01–2025-08-03.csv")
    val noDate = Seq(1, 2).toDF("n")
    intercept[IllegalArgumentException] { A1.makeDateFilename("x", noDate) }
  }

  test("countAndDateFilename: row count and the same filename from one aggregation") {
    // a second, later Date column must not move the name off the first one
    val df = Seq(("2025-08-01", "2030-01-01"), ("2025-08-03", "2030-01-02"), ("2025-08-02", null))
      .toDF("Day", "Later")
      .select(col("Day").cast(DateType).as("Day"), col("Later").cast(DateType).as("Later"))
    assert(A1.countAndDateFilename("apsl", df) == ((3L, "apsl_2025-08-01–2025-08-03.csv")))
    assert(A1.countAndDateFilename("apsl", df)._2 == A1.makeDateFilename("apsl", df))
    val e = intercept[IllegalArgumentException] { A1.countAndDateFilename("x", Seq(1, 2).toDF("n")) }
    assert(e.getMessage.contains("Date col not found"))
  }
}
