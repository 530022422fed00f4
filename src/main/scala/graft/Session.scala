package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every entry point (Bench,
  * Verify, the tools, the test suites) builds through, so a timing, a
  * correctness dump and a spec all run the same engine settings. A key
  * this does not set can still be tried per run as a
  * `-Dspark.<key>=<value>` JVM property (SparkConf reads those). */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else every core the JVM sees. */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with shuffle partitions = cores. The parquet flag
    * reads TIMESTAMP(NANOS) columns (older testdata vintages) as
    * epoch-nanos BIGINT; queries that need a real timestamp convert
    * explicitly. Idempotent: a second call returns the live session. */
  def apply(cores: Int = defaultCores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
