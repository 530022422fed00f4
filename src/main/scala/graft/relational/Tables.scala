package graft.relational

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType}

/** Parquet table loader for the driver-generated testdata
  * (see TESTDATA.md). Schemas are fixed per table, mirroring how the
  * reference fixes types per topic edge via Serdes
  * (reference: src/main/java/de/tg/kafka/streams/dead/letter/topology/ErrorHandlingTopology.java:30).
  * Parquet scans benefit from Catalyst column pruning + predicate
  * pushdown automatically — every query below selects/filters before
  * any wide transform so the scan stays narrow.
  *
  * Schema memo: `spark.read.parquet(path)` runs one Spark job to infer
  * the schema from the footers, at every call. `table` infers a path's
  * schema once and then reads with `spark.read.schema(inferred)`, which
  * starts no job. The files stay the one source of truth:
  *  - key: the path, the recursive listing of the files under it
  *    (relative name, length, modification time), and the session's
  *    explicitly set `spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`
  *    and `spark.sql.caseSensitive` entries, which change the inferred
  *    types (`nanosAsLong`, `binaryAsString`);
  *  - bound: one entry per path; a call whose key differs re-infers and
  *    replaces that path's entry;
  *  - a rewrite is seen at the next call after it: each call lists the
  *    path before it reuses or infers, so a rewrite that races an
  *    inference leaves an entry whose listing no longer matches and is
  *    re-inferred, never a stale schema under a current listing.
  * The inference job runs outside any map lock; concurrent misses may
  * infer the same schema twice, and the first to store it wins.
  */
object Tables {
  private final case class Key(files: Seq[(String, Long, Long)], conf: Seq[(String, String)])
  private final case class Inferred(key: Key, schema: StructType)

  private val memo = new ConcurrentHashMap[String, Inferred]()

  /** Every memo entry as (path, schema), for specs. */
  private[graft] def memoEntries: Seq[(String, StructType)] =
    memo.asScala.toSeq.map { case (p, e) => p -> e.schema }

  private def readsConf(k: String): Boolean =
    k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
      k == "spark.sql.caseSensitive"

  /** Files under `path` (the file itself for a single-file table),
    * sorted by name; empty when nothing is there, so the read below
    * raises Spark's own path-not-found error. */
  private def listing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = fs.makeQualified(root).toString
    val files = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString.stripPrefix(prefix), f.getLen, f.getModificationTime))
      }
    } catch { case _: FileNotFoundException => }
    files.result().sortBy(_._1)
  }

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val key = Key(listing(spark, path),
      spark.conf.getAll.filter { case (k, _) => readsConf(k) }.toSeq.sorted)
    val cached = memo.get(path)
    if (cached != null && cached.key == key) cached.schema
    else {
      val fresh = Inferred(key, spark.read.parquet(path).schema)
      if (cached == null) memo.putIfAbsent(path, fresh)
      else memo.replace(path, cached, fresh)
      fresh.schema
    }
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** `events.ts` is presented as epoch-NANOS BIGINT regardless of how
    * the parquet types it. Generator history: the testdata has shipped
    * both as int64 nanos (read natively as LongType under
    * `legacy.parquet.nanosAsLong`) and as timestamp[us] (read as
    * TIMESTAMP_NTZ, which Spark refuses to CAST to BIGINT). Every
    * event-time operator here and every DuckDB oracle (`epoch_ns(ts)`)
    * computes on naive-UTC epoch nanos, so the loader is the single
    * place that absorbs the representation: all sessions pin
    * `spark.sql.session.timeZone=UTC`, making NTZ→LTZ a wall-clock
    * identity and `unix_micros` the naive-as-UTC epoch. The projection
    * is codegen'd arithmetic on the scan — no shuffle, pruning intact. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case _ =>
        // The NTZ→epoch conversion below is a wall-clock identity ONLY
        // under a UTC session; enforce the invariant where it is relied
        // on rather than trusting every caller's builder to pin it.
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"Tables.events requires spark.sql.session.timeZone=UTC " +
            s"(got $tz): the timestamp[us] vintage is naive-UTC and any " +
            s"other zone would silently shift all event times")
        raw.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = table(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "region")
}
