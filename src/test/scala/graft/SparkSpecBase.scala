package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per JVM; sbt forks tests). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .withExtensions(new graft.functions.GraftExtensions())
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      // Mirror SparkEnv's engine default: INT96 timestamps carry no
      // pushdown stats, and SortedSinkSpec gates on them existing.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      // Mirror SparkEnv's `file:` binding, so specs write through the
      // engine's filesystem classes.
      .config(graft.sink.NioLocalFs.SparkConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
