package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (session-per-suite churn
  * dominates test wall-clock otherwise).
  */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)

  // env-overridable so the suites aren't coupled to this machine's layout
  private val testdataRoot =
    sys.env.getOrElse("GRAFT_TESTDATA_ROOT", "/root/testdata")
  val sf0001 = s"$testdataRoot/sf0.001"
  val sf001 = s"$testdataRoot/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
