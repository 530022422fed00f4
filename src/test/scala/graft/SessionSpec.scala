package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One session configuration: every main entry point and the shared
  * test session build through [[graft.Session]], so specs, Bench and
  * Verify run the same engine settings. */
class SessionSpec extends AnyFunSuite {

  test("SparkSession.builder() appears in exactly one main file, " +
    "graft/Session.scala") {
    val root = Paths.get("src/main/scala")
    val builders = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder()"))
      .map(root.relativize(_).toString).toSeq
    assert(builders == Seq("graft/Session.scala"))
  }

  test("the shared test session carries the factory's configuration " +
    "at 4 cores") {
    // the context's conf holds what the builder set (runtime
    // spark.conf.set calls by other suites do not reach it)
    val conf = SparkTestSession.spark.sparkContext.getConf
    Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false"
    ).foreach { case (k, v) => assert(conf.getOption(k).contains(v), k) }
  }
}
