package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM test session (suites run sequentially in the forked
  * test JVM; a session per suite would dominate test wall-clock).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  /** The driver-generated smallest fixture — ONE definition for every
    * spec that reads it (four hardcoded copies had to move together).
    */
  val testDataDir: String = "/root/testdata/sf0.001"

  /** The engine's own session posture (GraftSession's defaults, its
    * extensions included) at four cores; the spec adds only its name and
    * one stricter check.
    */
  lazy val session: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .appName("graft-test")
      // a generated method past the JVM's 64 KB limit fails its test
      // instead of logging one line and running without whole-stage codegen
      .config("spark.sql.codegen.fallback", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
