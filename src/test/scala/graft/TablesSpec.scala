package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.relational.Tables

/** `Tables.table` infers a path's schema once: a repeat read starts no
  * job, yet a rewrite at the same path or a change of the parquet
  * read settings is seen at the next call, and the memo keeps one
  * entry per path. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Tag = "graft.tables.spec"

  /** `body`'s result and the number of Spark jobs it started. A fence
    * job run after it is awaited on the listener bus, which delivers
    * events in order, so every job of `body` has been counted. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val fenced = Promise[Unit]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(Tag)).orNull match {
          case `tag` => jobs.incrementAndGet()
          case t if t == s"$tag-fence" => fenced.trySuccess(())
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, tag)
      val r = try body finally sc.setLocalProperty(Tag, s"$tag-fence")
      sc.parallelize(Seq(1), 1).count()
      Await.result(fenced.future, 30.seconds)
      (r, jobs.get)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  private def tempDir(): String = Files.createTempDirectory("graft-tables").toString

  /** Writes `cols` extra columns beside `id` over `path`. */
  private def writeWide(path: String, cols: Int): Unit =
    spark.range(5).selectExpr("id" +: (1 to cols).map(i => s"id * $i AS c$i"): _*)
      .write.mode("overwrite").parquet(path)

  test("a second read of an unchanged path starts no job and has the inferred schema") {
    val dir = tempDir()
    val path = s"$dir/t.parquet"
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(path)
    val (_, first) = jobsOf(Tables.table(spark, dir, "t"))
    assert(first >= 1, "the first read infers the schema in a job")
    val (df, second) = jobsOf(Tables.table(spark, dir, "t"))
    assert(second == 0)
    val plain = spark.read.parquet(path)
    assert(df.schema == plain.schema)
    assert(df.orderBy("id").collect().toSeq == plain.orderBy("id").collect().toSeq)
  }

  test("a table rewritten in place is read with its new column") {
    val dir = tempDir()
    val path = s"$dir/t.parquet"
    writeWide(path, 1)
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "c1"))
    writeWide(path, 2)
    val df = Tables.table(spark, dir, "t")
    assert(df.columns.toSeq == Seq("id", "c1", "c2"))
    assert(df.orderBy("id").select("c2").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 2L, 4L, 6L, 8L))
  }

  test("spark.sql.parquet.binaryAsString is part of the memo key") {
    // A footer without Spark's row metadata, so the setting decides
    // how the unannotated binary column is inferred.
    val dir = tempDir()
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/bin.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("b", "x"))
    finally writer.close()

    val key = "spark.sql.parquet.binaryAsString"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.table(spark, dir, "bin").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val df = Tables.table(spark, dir, "bin")
      assert(df.schema("b").dataType == StringType)
      assert(df.collect().map(_.getString(0)).toSeq == Seq("x"))
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the memo holds one entry per path across rewrites") {
    val dir = tempDir()
    val path = s"$dir/t.parquet"
    (1 to 4).foreach { cols =>
      writeWide(path, cols)
      assert(Tables.table(spark, dir, "t").columns.length == cols + 1)
    }
    val entries = Tables.memoEntries.filter(_._1 == path)
    assert(entries.size == 1)
    assert(entries.head._2 == spark.read.parquet(path).schema)
  }
}
