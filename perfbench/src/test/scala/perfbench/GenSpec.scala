package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.io.Xlsx

class GenSpec extends AnyFunSuite {

  private val fixtures = Paths.get(sys.props("user.dir")).getParent.resolve("fixtures")

  private def tree(dir: Path): Map[String, Seq[Byte]] =
    scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      dir.relativize(f).toString -> Files.readAllBytes(f).toSeq
    }.toMap)

  private def withDir[A](body: Path => A): A = {
    val d = Files.createTempDirectory("perfbench-gen")
    try body(d)
    finally scala.util.Using.resource(Files.walk(d))(_.iterator().asScala.toSeq.reverse.foreach(Files.delete))
  }

  test("the same seed gives the same bytes; another seed gives others") {
    val ts = Gen.loadTemplates(fixtures)
    withDir { d =>
      val a = Gen.generate(ts, Gen.Daily, 42L, d.resolve("a"))
      val b = Gen.generate(ts, Gen.Daily, 42L, d.resolve("b"))
      Gen.generate(ts, Gen.Daily, 43L, d.resolve("c"))
      assert(tree(d.resolve("a")) == tree(d.resolve("b")))
      assert(tree(d.resolve("a")) != tree(d.resolve("c")))
      assert(a.map(_.expected) == b.map(_.expected))
      assert(a.map(_.files.map(_.name)) == b.map(_.files.map(_.name)))
    }
  }

  test("daily shape: five pipelines, 1 in 5 files as XLSX, 300 data rows each") {
    withDir { d =>
      val in = Gen.generate(Gen.loadTemplates(fixtures), Gen.Daily, 1L, d)
      val files = in.flatMap(_.files)
      assert(in.map(_.pipeline) == Seq("apsl", "kcon", "like_eat", "mnb", "podl"))
      assert(files.size == 33)
      assert(files.count(_.xlsx) == 33 / 5)
      assert(files.forall(f => f.rows == 300 || f.rows == 301)) // + a TikTok summary row
      assert(in.map(_.expected.rows).sum == 33 * 300)
    }
  }

  test("expected totals and date range on a hand-checked case") {
    val spec = Gen.Spec("t", "t", "TikTok", "Cost", "Impressions")
    val t = Gen.template(spec,
      "By Day,Name,Cost,Impressions\nTotal of 2 campaigns,,3.0,30\n2025-08-01,a,1.0,10\n,b,2.0,20\n")
    assert(t.total.isDefined)
    assert(t.kinds == Vector(Gen.DateK(dotted = false), Gen.StrK, Gen.DecK, Gen.IntK))
    val body = Seq(
      Seq("2025-08-03", "a", "1.25", "10"),
      Seq("", "b", "2.50", "5"),
      Seq("2025-08-01", "c", "0.25", "1"))
    val (totals, dates) = Gen.expectedOf(t, body)
    assert(totals == Gen.Totals(3, BigDecimal("4.00"), 16))
    assert(dates.sorted == Seq("2025-08-01", "2025-08-03"))

    val naver = Gen.template(Gen.Spec("n", "n", "Naver_GFA", "총 비용", "노출"),
      "기간,총 비용,노출\n2026.02.09.,52000.0,16000\n")
    assert(naver.kinds.head == Gen.DateK(dotted = true))
    assert(Gen.expectedOf(naver, Seq(Seq("2026.02.10.", "1.5", "2")))._2 == Seq("2026-02-10"))
    assert(Gen.Expected(1, Map.empty, "2026-02-09", "2026-02-10").fileName("like_eat") ==
      "like_eat_2026-02-09–2026-02-10.csv")
  }

  test("recorded expectations match the files as written, XLSX read back by the library's reader") {
    withDir { d =>
      val in = Gen.generate(Gen.loadTemplates(fixtures), Gen.Daily, 7L, d)
      assert(in.flatMap(_.files).exists(_.xlsx))
      in.foreach { p =>
        val specs = Gen.Specs.filter(_.pipeline == p.pipeline)
        val sums = p.files.map { f =>
          val spec = specs.find(s => f.name.startsWith(s.stem + "_") &&
            f.name.stripPrefix(s.stem + "_").take(3).forall(_.isDigit)).get
          val (header, rows) =
            if (f.xlsx) Xlsx.parse(p.rawDir.resolve(f.name))
            else {
              val lines = Files.readAllLines(p.rawDir.resolve(f.name)).asScala.toSeq
              (Check.splitCsv(lines.head), lines.tail.map(Check.splitCsv))
            }
          assert(rows.size == f.rows, f.name)
          val body = rows.map(_.map(v => if (v == null) "" else v)).filterNot(Gen.isTotal)
          val t = Gen.Template(spec, header.toVector, None, Vector.empty, Vector.empty)
          spec.source -> Gen.expectedOf(t, body)._1
        }.groupMapReduce(_._1)(_._2)(_ + _)
        assert(sums == p.expected.bySource, p.pipeline)
        assert(sums.values.map(_.rows).sum == p.expected.rows)
      }
    }
  }
}
