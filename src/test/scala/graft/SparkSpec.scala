package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, cheap). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  implicit def sparkImplicit: SparkSession = spark
}

object SparkSpec {
  /** Built by the engine's session factory, so specs run under the
    * same configs as Bench and Verify, at two cores. */
  lazy val session: SparkSession = {
    val s = Session.build(2, Map("spark.app.name" -> "graft-test"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
