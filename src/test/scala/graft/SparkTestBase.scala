package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs — one JVM-wide session (forked test
  * JVM) on the shared factory settings. Four cores, not the host's
  * count, so test plans are the same on any host.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.Session(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"

  /** Multiset equality via two-sided exceptAll (null-safe). */
  def sameRows(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
}
