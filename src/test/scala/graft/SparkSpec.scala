package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM; suites reuse it). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sqlCtx = spark.sqlContext
}

object SparkSpec {
  /** Fixed at 4 cores, whatever SPARK_GRAFT_CPUS says, so a suite's
    * result does not depend on the host it runs on. */
  lazy val session: SparkSession = Session.local("graft-test", cpus = 4)
}
