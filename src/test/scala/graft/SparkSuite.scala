package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for suites. Deliberately leaves Spark 4 defaults
  * (ANSI on) in place — the engine must behave identically either way. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Harness.session("graft-test", 4, "WARN",
    conf = Seq("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))

  def resourcePath(p: String): String =
    getClass.getResource(p).getPath

  /** Rows as a multiset, doubles by their bits: for results that must
    * match exactly, not within a tolerance. */
  def exactMultiset(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).groupBy(identity).view.mapValues(_.size).toMap

  def approx(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
