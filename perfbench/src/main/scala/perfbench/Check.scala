package perfbench

import java.io.{BufferedInputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.{DigestInputStream, MessageDigest}

import scala.collection.mutable

import graft.io.Sinks
import graft.util.A1

/** Output checks of one pipeline export. Each returns the problems found;
  * an empty result means the output is correct.
  */
object Check {

  /** What was read back from an exported CSV. */
  final case class CsvSummary(header: Vector[String], rows: Long, malformed: Long,
      bySource: Map[String, Gen.Totals], bom: Boolean, sha256: String)

  /** RFC-4180 split of one line (the exports hold no embedded newlines). */
  private[perfbench] def splitCsv(line: String): Vector[String] =
    if (line.indexOf('"') < 0) line.split(",", -1).toVector
    else {
      val out = Vector.newBuilder[String]
      val sb = new StringBuilder
      var quoted = false
      var i = 0
      while (i < line.length) {
        val c = line.charAt(i)
        if (quoted) {
          if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { sb += '"'; i += 1 }
          else if (c == '"') quoted = false
          else sb += c
        } else if (c == '"') quoted = true
        else if (c == ',') { out += sb.toString; sb.clear() }
        else sb += c
        i += 1
      }
      out += sb.toString
      out.result()
    }

  /** Read an exported CSV: BOM, header, row count, per-source sums of the
    * spend and impressions columns, and the file's SHA-256.
    */
  def readCsv(file: Path, spendCol: String, imprCol: String): CsvSummary = {
    val md = MessageDigest.getInstance("SHA-256")
    val in: InputStream = new DigestInputStream(new BufferedInputStream(Files.newInputStream(file), 1 << 16), md)
    try {
      val bomBytes = in.readNBytes(3)
      val bom = bomBytes.sameElements(Array(0xEF, 0xBB, 0xBF).map(_.toByte))
      val prefix = if (bom) "" else new String(bomBytes, UTF_8)
      val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      val header = splitCsv(prefix + (if (lines.hasNext) lines.next() else ""))
      val (srcI, spI, imI) = (header.indexOf("Source"), header.indexOf(spendCol), header.indexOf(imprCol))
      val acc = mutable.Map.empty[String, Gen.Totals]
      var rows = 0L
      var malformed = 0L
      lines.foreach { line =>
        rows += 1
        val f = splitCsv(line)
        if (f.length != header.length) malformed += 1
        else if (srcI >= 0 && spI >= 0 && imI >= 0) {
          val t = acc.getOrElse(f(srcI), Gen.Totals.zero)
          acc(f(srcI)) = Gen.Totals(t.rows + 1,
            t.spend + (if (f(spI).isEmpty) BigDecimal(0) else BigDecimal(f(spI))),
            t.impressions + (if (f(imI).isEmpty) 0L else f(imI).toLong))
        }
      }
      CsvSummary(header, rows, malformed, acc.toMap, bom, md.digest().map("%02x".format(_)).mkString)
    } finally in.close()
  }

  /** Compare an exported CSV with what the generator says it must hold. */
  def csv(got: CsvSummary, exp: Gen.Expected, spendCol: String, imprCol: String,
      fileName: String, expectedName: String): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    if (!got.bom) p += "CSV does not start with the UTF-8 BOM"
    if (fileName != expectedName) p += s"CSV named $fileName, expected $expectedName"
    Seq("Source", spendCol, imprCol).filterNot(got.header.contains).foreach(c => p += s"CSV lacks column $c")
    if (got.rows != exp.rows) p += s"CSV has ${got.rows} rows, expected ${exp.rows}"
    if (got.malformed > 0) p += s"CSV has ${got.malformed} rows whose width differs from the header's"
    if (got.bySource.keySet != exp.bySource.keySet)
      p += s"CSV sources ${got.bySource.keySet.toSeq.sorted} != expected ${exp.bySource.keySet.toSeq.sorted}"
    exp.bySource.toSeq.sortBy(_._1).foreach { case (src, e) =>
      got.bySource.get(src).foreach { g =>
        if (g.rows != e.rows) p += s"$src: ${g.rows} rows, expected ${e.rows}"
        if (g.spend.compare(e.spend) != 0) p += s"$src: spend sum ${g.spend}, expected ${e.spend}"
        if (g.impressions != e.impressions) p += s"$src: impressions sum ${g.impressions}, expected ${e.impressions}"
      }
    }
    p.toSeq
  }

  /** The sheet payload must carry the CSV's header and row count (read back
    * as the header row and the first column, not as a full copy).
    */
  def sheet(svc: Sinks.InMemorySheetService, key: String, name: String, csv: CsvSummary): Seq[String] = {
    val lastCol = A1.intToBijectiveBase26(csv.header.length)
    val header = svc.get(key, name, s"A1:${lastCol}1")
    val rows = svc.get(key, name, "A:A").size - 1
    val p = mutable.ArrayBuffer.empty[String]
    if (header.headOption.getOrElse(Nil) != csv.header) p += s"sheet $key/$name header differs from the CSV header"
    if (rows != csv.rows) p += s"sheet $key/$name has $rows data rows, CSV has ${csv.rows}"
    p.toSeq
  }
}
