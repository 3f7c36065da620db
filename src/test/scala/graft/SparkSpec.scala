package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; scalatest
  * suites reuse it via getOrCreate), built by the engine's own factory so
  * tests run the same configuration and native functions as the mains.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.EngineDefaults.local(4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}
