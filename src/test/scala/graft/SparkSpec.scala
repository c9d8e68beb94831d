package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM-wide session, local[2]).
  * Carries GraftExtensions and the Kryo serializer like every
  * production session (Verify, Bench), so specs exercise the same
  * optimizer rules — including FocalPlan fusion — and the keyed-RDD
  * loops shuffle their records through the production serializer. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
