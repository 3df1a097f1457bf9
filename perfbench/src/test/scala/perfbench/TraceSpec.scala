package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, name: String, parent: Int, start: Long, end: Long, unit: Int = 1) =
    Span(id, name, unit, parent, start, end)

  test("self time is the duration minus the children's covered interval") {
    val spans = Seq(
      span(0, "unit", -1, 0, 100),
      span(1, "etl.PipelineRunner", 0, 10, 90),
      span(2, "io.Sources.readCsv", 1, 10, 30),
      span(3, "io.Sources.readCsv", 1, 30, 45),
      span(4, "etl.materialize", 1, 50, 80))
    val self = Tracer.selfTimes(spans)
    assert(self == Map(0 -> 20L, 1 -> 15L, 2 -> 20L, 3 -> 15L, 4 -> 30L))
    assert(self.values.sum == 100L)
  }

  test("overlapping children are counted once and clipped to the parent") {
    val spans = Seq(
      span(0, "p", -1, 0, 100),
      span(1, "a", 0, 10, 50),
      span(2, "b", 0, 40, 60),
      span(3, "c", 0, 90, 120))
    assert(Tracer.selfTimes(spans)(0) == 100L - 50L - 10L)
  }

  test("self time sums per span name within each unit") {
    val spans = Seq(
      span(0, "unit", -1, 0, 50, unit = 1),
      span(1, "io.Sources.readCsv", 0, 0, 10, unit = 1),
      span(2, "io.Sources.readCsv", 0, 10, 30, unit = 1),
      span(3, "unit", -1, 100, 140, unit = 2),
      span(4, "io.Sources.readCsv", 3, 100, 105, unit = 2))
    val by = Tracer.selfByName(spans)
    assert(by(1) == Map("unit" -> 20L, "io.Sources.readCsv" -> 30L))
    assert(by(2) == Map("unit" -> 35L, "io.Sources.readCsv" -> 5L))
  }

  test("job groups map back to span ids") {
    assert(Tracer.spanOf(Tracer.group(17)).contains(17))
    assert(Tracer.spanOf("someone-else").isEmpty)
    assert(Tracer.spanOf(null).isEmpty)
  }
}
