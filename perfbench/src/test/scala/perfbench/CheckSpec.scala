package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sinks

class CheckSpec extends AnyFunSuite {

  private val Bom = Array(0xEF, 0xBB, 0xBF).map(_.toByte)

  private def csvFile(text: String, bom: Boolean = true): Path = {
    val f = Files.createTempFile("perfbench-check", ".csv")
    f.toFile.deleteOnExit()
    Files.write(f, (if (bom) Bom else Array.emptyByteArray) ++ text.getBytes(UTF_8))
    f
  }

  private val text =
    "Day,Source,Amount spent (USD),Impressions\n" +
      "2025-08-01,Meta,1.25,10\n2025-08-02,Meta,2.5,5\n,TikTok,0.25,1\n"

  private val expected = Gen.Expected(3, Map(
    "Meta" -> Gen.Totals(2, BigDecimal("3.75"), 15),
    "TikTok" -> Gen.Totals(1, BigDecimal("0.25"), 1)), "2025-08-01", "2025-08-02")

  private def problems(got: Check.CsvSummary, exp: Gen.Expected = expected): Seq[String] =
    Check.csv(got, exp, "Amount spent (USD)", "Impressions", "apsl_2025-08-01–2025-08-02.csv",
      exp.fileName("apsl"))

  private def read(f: Path) = Check.readCsv(f, "Amount spent (USD)", "Impressions")

  test("a correct export passes") {
    val got = read(csvFile(text))
    assert(got.bom && got.rows == 3)
    assert(problems(got).isEmpty)
  }

  test("a planted wrong row count is rejected") {
    val p = problems(read(csvFile(text)), expected.copy(rows = 4))
    assert(p.exists(_.contains("3 rows, expected 4")))
  }

  test("a missing BOM, a wrong sum and a wrong file name are rejected") {
    assert(problems(read(csvFile(text, bom = false))).exists(_.contains("BOM")))
    val wrongSum = text.replace("2.5,5", "2.5,6")
    assert(problems(read(csvFile(wrongSum))).exists(_.contains("impressions sum 16, expected 15")))
    val renamed = Check.csv(read(csvFile(text)), expected, "Amount spent (USD)", "Impressions",
      "apsl_2025-08-01–2025-08-03.csv", expected.fileName("apsl"))
    assert(renamed.exists(_.contains("named")))
  }

  test("identical bytes give identical digests") {
    assert(read(csvFile(text)).sha256 == read(csvFile(text)).sha256)
    assert(read(csvFile(text)).sha256 != read(csvFile(text + ",Meta,0,0\n")).sha256)
  }

  test("a row of the wrong width is reported, not thrown") {
    val got = read(csvFile(text + "x\n"))
    assert(got.malformed == 1)
    assert(problems(got).exists(_.contains("1 rows whose width differs")))
  }

  test("quoted fields split per RFC 4180") {
    assert(Check.splitCsv("a,\"b,c\",\"d\"\"e\",") == Vector("a", "b,c", "d\"e", ""))
  }

  test("the sheet payload must match the CSV's header and row count") {
    val got = read(csvFile(text))
    val svc = new Sinks.InMemorySheetService
    val rows = Seq(Seq("2025-08-01", "Meta", 1.25, 10), Seq("2025-08-02", "Meta", 2.5, 5), Seq(null, "TikTok", 0.25, 1))
    Sinks.uploadPayload(svc, got.header, rows, "k", "s")
    assert(Check.sheet(svc, "k", "s", got).isEmpty)
    Sinks.uploadPayload(svc, got.header, rows.take(2), "k", "s")
    assert(Check.sheet(svc, "k", "s", got).exists(_.contains("2 data rows, CSV has 3")))
  }
}
