package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, date_format, lit, max, min}
import org.apache.spark.sql.types.DateType

/** Spreadsheet A1-range math and date-range filenames (reference M4–M6,
  * `utils.py:6-60`). Pure driver-side utilities; the only Spark actions are
  * [[dfRange]]'s count and the single count/min/max aggregation behind
  * [[makeDateFilename]].
  */
object A1 {

  /** 1→A, 26→Z, 27→AA … (bijective base-26; ref `utils.py:43-48`). */
  def intToBijectiveBase26(n: Int): String = {
    require(n > 0, s"column index must be positive, got $n")
    @annotation.tailrec
    def loop(n: Int, acc: String): String =
      if (n <= 0) acc
      else loop((n - 1) / 26, ((65 + (n - 1) % 26).toChar +: acc).mkString)
    loop(n, "")
  }

  /** Inverse of [[intToBijectiveBase26]] (for property tests). */
  def bijectiveBase26ToInt(s: String): Int =
    s.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1))

  /** A1 range for a table of `nRows` data rows × `nCols` columns (+1 header
    * row), with optional offsets. `column_range` = letters only ("A:Q");
    * `full_range` = full rectangle ("A1:Q101"). Ref `utils.py:29-60`.
    */
  def range(
      nRows: Long,
      nCols: Int,
      rangeMode: String = "full_range",
      verticalOffset: Int = 0,
      horizontalOffset: Int = 0): String = {
    val length = nRows + 1 // header row
    val a1Start = intToBijectiveBase26(1 + horizontalOffset)
    val intStart = 1 + verticalOffset
    val a1End = intToBijectiveBase26(nCols + horizontalOffset)
    val intEnd = length + verticalOffset
    rangeMode match {
      case "column_range" => s"$a1Start:$a1End"
      case "full_range"   => s"$a1Start$intStart:$a1End$intEnd"
      case other => throw new IllegalArgumentException(s"Unknown range_mode: $other")
    }
  }

  private val RangeRe = "^([A-Z]+)([0-9]*)(?::([A-Z]+)([0-9]*))?$".r

  /** Parse an A1 range back to 1-based bounds:
    * `(colStart, rowStart, colEnd, rowEnd)` — row bounds are None for a
    * column-only range ("A:Q"); a single cell ("B2") is its own end.
    * Inverse of [[range]] (property-tested round trip).
    */
  def parseRange(a1: String): (Int, Option[Long], Int, Option[Long]) = a1 match {
    case RangeRe(c1, r1, c2, r2) =>
      val colStart = bijectiveBase26ToInt(c1)
      val rowStart = if (r1 == null || r1.isEmpty) None else Some(r1.toLong)
      val colEnd = if (c2 == null) colStart else bijectiveBase26ToInt(c2)
      val rowEnd =
        if (c2 == null) rowStart
        else if (r2 == null || r2.isEmpty) None else Some(r2.toLong)
      require(colEnd >= colStart && rowEnd.zip(rowStart).forall { case (e, s) => e >= s },
        s"inverted A1 range: $a1")
      (colStart, rowStart, colEnd, rowEnd)
    case other => throw new IllegalArgumentException(s"malformed A1 range: $other")
  }

  /** A1 range of a DataFrame — `df.shape` is a count() action (reference M4,
    * `utils.py:38-41`); call once per sink, not per stage.
    */
  def dfRange(df: DataFrame, rangeMode: String = "full_range",
      verticalOffset: Int = 0, horizontalOffset: Int = 0): String =
    range(df.count(), df.columns.length, rangeMode, verticalOffset, horizontalOffset)

  /** `"{prefix}_{min}–{max}.csv"` (EN-DASH separator, ref `utils.py:26`) from
    * the FIRST DateType column; errors when none exists (`utils.py:17-21`).
    * One job computes both bounds (the reference runs two full passes).
    */
  def makeDateFilename(prefix: String, df: DataFrame): String =
    countAndDateFilename(prefix, df)._2

  /** `(rowCount, fileName)` from ONE aggregation: `count` plus the
    * `min`/`max` of the first DateType column that [[makeDateFilename]]
    * names the file after — an export needs both, and one job serves both.
    */
  def countAndDateFilename(prefix: String, df: DataFrame): (Long, String) = {
    val dateCol = df.schema.fields.collectFirst { case f if f.dataType == DateType => f.name }
      .getOrElse(throw new IllegalArgumentException(s"Date col not found in schema ${df.schema.simpleString}"))
    val row = df.agg(
      count(lit(1)),
      date_format(min(col(s"`$dateCol`")), "yyyy-MM-dd"),
      date_format(max(col(s"`$dateCol`")), "yyyy-MM-dd")).head()
    (row.getLong(0), s"${prefix}_${row.getString(1)}–${row.getString(2)}.csv")
  }
}
