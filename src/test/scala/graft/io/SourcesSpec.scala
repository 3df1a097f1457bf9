package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** `Sources.readTabularFiles`' contract: one frame per file in file-name
  * order, read on a per-call pool that never outlives the call, and a
  * failing file reported by name with the read's exception as cause.
  */
class SourcesSpec extends SparkSpec {

  private def goodCsvs(dir: Path, names: String*): Unit =
    names.foreach(n => Files.write(dir.resolve(s"$n.csv"),
      s"$n,Day\n1,2025-08-01\n2,2025-08-02".getBytes(StandardCharsets.UTF_8)))

  private def liveReadThreads: Set[String] =
    Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && t.getName.startsWith(Sources.ReadThreadPrefix)).map(_.getName).toSet

  private def truncatedXlsx(file: Path): Path = {
    XlsxTestWriter.write(file, Seq("A", "B"), Seq(Seq("a1", "b1")))
    val bytes = Files.readAllBytes(file)
    Files.write(file, bytes.take(bytes.length / 2))
  }

  private def overflowingXlsx(file: Path): Path =
    XlsxTestWriter.write(file, Seq("A", "B"), Seq(Seq("a1", "b1", "ORPHAN")))

  test("frames come back in file-name order, one per tabular file") {
    val dir = Files.createTempDirectory("order-raw")
    // written out of order; the first column's name identifies the file
    val names = Seq("f07", "f02", "f11", "f00", "f05", "f09", "f03", "f10", "f01", "f06", "f04", "f08")
    goodCsvs(dir, names: _*)
    XlsxTestWriter.write(dir.resolve("f05b.xlsx"), Seq("f05b", "Day"), Seq(Seq(1, "2025-08-01")))
    Files.write(dir.resolve("notes.txt"), "ignored".getBytes(StandardCharsets.UTF_8))
    val dfs = Sources.readTabularFiles(spark, dir.toString)
    assert(dfs.map(_.columns.head) == (names :+ "f05b").sorted)
    assert(dfs.map(_.count()) == Seq.fill(names.size + 1)(2L).updated(6, 1L))
    assert(liveReadThreads.isEmpty)
  }

  test("a truncated .xlsx among good CSVs fails naming the file, with the zip error as cause") {
    val dir = Files.createTempDirectory("trunc-raw")
    goodCsvs(dir, "a", "b", "d", "e")
    val bad = truncatedXlsx(dir.resolve("c.xlsx"))
    val e = intercept[IllegalArgumentException](Sources.readTabularFiles(spark, dir.toString))
    assert(e.getMessage.contains(bad.toString), e.getMessage)
    assert(e.getCause.isInstanceOf[java.util.zip.ZipException], e.getCause)
    assert(liveReadThreads.isEmpty, liveReadThreads)
  }

  test("an .xlsx with a cell beyond its header among good CSVs fails naming the file") {
    val dir = Files.createTempDirectory("wide-raw")
    goodCsvs(dir, "a", "b", "d", "e")
    val bad = overflowingXlsx(dir.resolve("c.xlsx"))
    val e = intercept[IllegalArgumentException](Sources.readTabularFiles(spark, dir.toString))
    assert(e.getMessage.contains(bad.toString), e.getMessage)
    assert(e.getCause.isInstanceOf[IllegalArgumentException])
    assert(e.getCause.getMessage.contains("beyond"), e.getCause.getMessage)
    assert(liveReadThreads.isEmpty, liveReadThreads)
  }

  test("with several bad files the first failing one in file-name order is reported") {
    val dir = Files.createTempDirectory("two-bad-raw")
    goodCsvs(dir, "a", "c", "e", "g")
    val first = overflowingXlsx(dir.resolve("b.xlsx"))
    truncatedXlsx(dir.resolve("d.xlsx"))
    truncatedXlsx(dir.resolve("f.xlsx"))
    val e = intercept[IllegalArgumentException](Sources.readTabularFiles(spark, dir.toString))
    assert(e.getMessage.contains(first.toString), e.getMessage)
    assert(e.getCause.getMessage.contains("beyond"), e.getCause.getMessage)
    assert(liveReadThreads.isEmpty, liveReadThreads)
  }
}
