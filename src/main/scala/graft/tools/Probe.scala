package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, Session, SparkEntry}

/** Per-query probe (dev tool, not product surface) over declared
  * queries, on the session Bench builds ([[graft.Session]]):
  *
  *  - `runMain graft.tools.Probe plan <query>[,<query>…] <outDir> <tag> [sfDir]`
  *    writes `<outDir>/<query>_<tag>.txt`, the formatted physical plan
  *    of each query: the before/after plan artifacts under `plans/`.
  *    Queries with imperative stages (persisted-store pipelines) show
  *    only their FINAL read-back plan; their per-stage jobs run while
  *    the DataFrame is built.
  *  - `runMain graft.tools.Probe time <query>[,<query>…] [sfDir] [reps]`
  *    prints best-of-reps and every sample, from Bench's own estimator
  *    ([[graft.Bench.sample]]: untimed warm-up, round-robin timed
  *    build + hash-reduce), so its numbers are Bench's quantity.
  *  - `runMain graft.tools.Probe jobs <query>[,<query>…] [sfDir] [reps]`
  *    after the same warm-up, profiles `reps` runs of the same
  *    estimator per job: wall, task time, deserialize / GC / result-
  *    serialize time (which task time excludes), task count, shuffle
  *    read/write and input bytes, and the call site that submitted
  *    the job. The UI is off, so this listener is the stage/job view.
  *
  * `all` names every declared query. A query that throws is reported
  * failed, never timed. */
object Probe {

  private final class Rec {
    var start = 0L
    var end = 0L
    var site = ""
    var nTasks = 0
    var taskNanos = 0L
    var deserMs = 0L
    var gcMs = 0L
    var resSerMs = 0L
    var shufR = 0L
    var shufW = 0L
    var input = 0L
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe plan <queries> <outDir> <tag> [sfDir] | " +
      "Probe time|jobs <queries> [sfDir] [reps]"
    require(args.length >= 2, usage)
    val queries: Seq[(String, Bench.Query)] =
      if (args(1) == "all") SparkEntry.queries.toSeq.sortBy(_._1)
      else args(1).split(',').toSeq.map(n => n -> SparkEntry.queries
        .getOrElse(n, throw new IllegalArgumentException(s"unknown query $n")))
    def opt(i: Int, default: String) = if (args.length > i) args(i) else default
    val spark = Session()
    args(0) match {
      case "plan" =>
        require(args.length >= 4, usage)
        plan(spark, queries, args(2), args(3), opt(4, "/root/testdata/sf0.1"))
      case "time" =>
        time(spark, queries, opt(2, "/root/testdata/sf0.1"), opt(3, "3").toInt)
      case "jobs" =>
        jobs(spark, queries, opt(2, "/root/testdata/sf0.1"), opt(3, "3").toInt)
      case m => throw new IllegalArgumentException(s"unknown mode $m; $usage")
    }
    spark.stop()
  }

  private def reportFailed(failed: Seq[String], of: Int): Unit =
    if (failed.nonEmpty) System.err.println(
      s"[probe] failed ${failed.size} of $of: ${failed.mkString(",")}")

  private def plan(spark: SparkSession, queries: Seq[(String, Bench.Query)],
      outDir: String, tag: String, sfDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { case (name, fn) =>
      val text =
        try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"PLAN CAPTURE FAILED: $e" }
      val p = Paths.get(outDir, s"${name}_$tag.txt")
      Files.write(p, text.getBytes(StandardCharsets.UTF_8))
      System.err.println(s"[probe] $name -> $p")
    }
  }

  private def time(spark: SparkSession, queries: Seq[(String, Bench.Query)],
      sfDir: String, reps: Int): Unit = {
    val (samples, failed) = Bench.sample(spark, sfDir, queries, reps)
    queries.foreach { case (name, _) =>
      samples.get(name).foreach { s =>
        val walls = s.reverse.map(_._1)
        println(f"[probe] $name best=${walls.min}%.2fs " +
          s"all=${walls.map(t => f"$t%.2f").mkString(",")}")
      }
    }
    reportFailed(failed, queries.size)
  }

  private def jobs(spark: SparkSession, queries: Seq[(String, Bench.Query)],
      sfDir: String, reps: Int): Unit = {
    val (_, warmupFailed) = Bench.sample(spark, sfDir, queries, reps = 0)
    val byJob = mutable.LinkedHashMap[Int, Rec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    // written by the main thread, read from the listener-bus thread —
    // volatile so rep-boundary flips are visible
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (collecting) synchronized {
          val r = new Rec
          r.start = j.time
          // the result stage (highest id) is named by the job's call site
          r.site = j.stageInfos.maxByOption(_.stageId).map(_.name)
            .getOrElse("")
          byJob(j.jobId) = r
          j.stageIds.foreach(s => stageToJob(s) = j.jobId)
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (collecting) synchronized {
          byJob.get(j.jobId).foreach(_.end = j.time)
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (collecting) synchronized {
          for {
            jid <- stageToJob.get(t.stageId)
            r <- byJob.get(jid)
            m <- Option(t.taskMetrics)
          } {
            r.nTasks += 1
            r.taskNanos += m.executorRunTime * 1000000L
            r.deserMs += m.executorDeserializeTime
            r.gcMs += m.jvmGCTime
            r.resSerMs += m.resultSerializationTime
            r.shufR += m.shuffleReadMetrics.totalBytesRead
            r.shufW += m.shuffleWriteMetrics.bytesWritten
            r.input += m.inputMetrics.bytesRead
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val failed = mutable.ArrayBuffer[String]() ++= warmupFailed
    for ((name, fn) <- queries; rep <- 1 to reps if !failed.contains(name)) {
      byJob.clear(); stageToJob.clear()
      collecting = true
      val t0 = System.nanoTime()
      val ok =
        try { Bench.materialize(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          System.err.println(s"[probe] $name rep $rep failed: $e")
          false
        }
      val wall = (System.nanoTime() - t0) / 1e9
      // drain listener-bus stragglers before reading the maps
      // (listenerBus is private[spark]; job-end events land within
      // milliseconds)
      Thread.sleep(300)
      collecting = false
      if (!ok) failed += name
      else {
        println(f"%n[probe] $name rep $rep wall=$wall%.2fs jobs=${byJob.size}")
        var acct = 0.0
        byJob.toSeq.sortBy(_._1).foreach { case (id, r) =>
          val w = (r.end - r.start) / 1e3
          acct += w
          println(f"  job $id%3d ${w}%7.3fs task=${r.taskNanos / 1e9}%7.2fs " +
            f"deser=${r.deserMs / 1e3}%6.2fs gc=${r.gcMs / 1e3}%5.2fs " +
            f"rser=${r.resSerMs / 1e3}%5.2fs " +
            f"n=${r.nTasks}%4d shufR=${r.shufR / 1024}%8dK " +
            f"shufW=${r.shufW / 1024}%8dK in=${r.input / 1024}%8dK  ${r.site}")
        }
        println(f"  [sum of job walls] $acct%.2fs (gaps = driver/plan time)")
      }
      Bench.dropLeftoverBlocks(spark)
    }
    reportFailed(failed.toSeq, queries.size)
  }
}
