package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession, Registry, Sql}

/** Run registered keys one at a time; the first argument picks what is
  * reported:
  *
  * {{{
  *   runMain graft.tools.KeyRun run key1 key2 ...
  *     20 rows and the row count per key (local[8]; data dir from
  *     SF_DIR, default /root/testdata/sf0.001)
  *   runMain graft.tools.KeyRun plan <sfDir> key1,key2,...
  *     each key's executed plan with AQE off, for shape audits (local[8])
  *   runMain graft.tools.KeyRun time key1 key2 ...
  *     4 noop-write runs per key between the CPU and IO sentinels Bench
  *     uses (local[32]; data dir from SPARK_GRAFT_SF_DIR, default
  *     /root/testdata/sf0.1) — the adjudication tool for bench outliers:
  *     inflated sentinels mean the host was contended and the numbers
  *     are upper bounds, clean sentinels mean the numbers are real
  *   runMain graft.tools.KeyRun profile <sfDir> <cpus> key1 key2 ...
  *     wall seconds split into plan construction vs execution, plus
  *     Spark job/stage/task counts, summed task time and the number of
  *     classes codegen compiled (`compiles=`), after one warm-up run
  *     (GRAFT_PROFILE_JOBS=1 also prints every job) — separates
  *     driver-overhead keys from compute-bound ones
  *   runMain graft.tools.KeyRun sql <stmt|@file> ...
  *     each statement through LakeSql.sql over the views of `run`'s
  *     data dir (local[8]), printing up to 50
  *     rows or REFUSED/<exception>: <message>; an @file argument holds
  *     one statement per non-empty line (sbt's runMain arg lexer
  *     rejects backslashes)
  * }}}
  */
object KeyRun {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(args.tail.toSeq)
    case Some("plan") => plan(args(1), args(2).split(",").toSeq)
    case Some("time") => time(args.tail.toSeq)
    case Some("profile") =>
      profile(args(1), args(2).toInt, args.drop(3).toSeq)
    case Some("sql") => sql(args.tail.toSeq)
    case _ => throw new IllegalArgumentException(
      "usage: KeyRun run|plan|time|profile|sql ... (see the scaladoc)")
  }

  private def session(cpus: Int): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", shufflePartitions = cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def sfDir = sys.env.getOrElse("SF_DIR", "/root/testdata/sf0.001")

  private def run(names: Seq[String]): Unit = {
    val spark = session(8)
    val dir = sfDir
    names.foreach { name =>
      val df = Registry.byName(name).fn(spark, dir)
      df.show(20, false)
      println(s"$name rows=${df.count()}")
    }
    spark.stop()
  }

  private def sql(args: Seq[String]): Unit = {
    val spark = session(8)
    Sql.open(spark, sfDir)
    val texts = args.flatMap { a =>
      if (a.startsWith("@"))
        scala.io.Source.fromFile(a.drop(1), "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toSeq
      else Seq(a)
    }
    texts.foreach { text =>
      println(s"-- $text")
      try graft.LakeSql.sql(spark, text).show(50, false)
      catch { case e: Exception =>
        println(s"REFUSED/${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  private def plan(sfDir: String, names: Seq[String]): Unit = {
    val spark = session(8)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    Sql.open(spark, sfDir)
    names.foreach { n =>
      println(s"==== $n ====")
      println(Registry.byName(n).fn(spark, sfDir)
        .queryExecution.executedPlan.toString)
    }
    spark.stop()
  }

  private def time(names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = session(32)
    def sentinel(): Double = (1 to 3).map(_ => Bench.sentinelOnce(spark, 32)).min
    def sentinelIo(): Double =
      (1 to 3).map(_ => Bench.sentinelIoOnce(spark, sfDir)).min
    Bench.sentinelOnce(spark, 32) // warmup
    Bench.sentinelIoOnce(spark, sfDir)
    println(f"sentinel_start ${sentinel()}%.2f s (reference ~0.40)")
    println(f"sentinel_io_start ${sentinelIo()}%.2f s")
    names.foreach { name =>
      val fn = Registry.byName(name).fn
      (1 to 4).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        println(f"$name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    println(f"sentinel_end ${sentinel()}%.2f s (reference ~0.40)")
    println(f"sentinel_io_end ${sentinelIo()}%.2f s")
    spark.stop()
  }

  private def profile(sfDir: String, cpus: Int, names: Seq[String]): Unit = {
    val spark = session(cpus)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskNanos = new AtomicLong(0L)
    val verbose = sys.env.get("GRAFT_PROFILE_JOBS").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val cs = Option(j.properties)
            .map(_.getProperty("callSite.short", "?")).getOrElse("?")
          println(s"JOB ${j.jobId} stages=${j.stageInfos.size} " +
            s"tasks=${j.stageInfos.map(_.numTasks).sum} site=$cs")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null)
          taskNanos.addAndGet(t.taskMetrics.executorRunTime * 1000000L)
      }
    })
    names.foreach { n =>
      val fn = Registry.byName(n).fn
      fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warmup
      (1 to 2).foreach { i =>
        jobs.set(0); stages.set(0); tasks.set(0); taskNanos.set(0L)
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tPlan = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        Thread.sleep(150) // let listener events drain before reading counters
        println(f"PROFILE $n run$i wall=${(t1 - t0) / 1e9}%.3f " +
          f"build=${(tPlan - t0) / 1e9}%.3f " +
          f"exec=${(t1 - tPlan) / 1e9}%.3f jobs=${jobs.get} " +
          f"stages=${stages.get} tasks=${tasks.get} " +
          f"taskTime=${taskNanos.get / 1e9}%.3f " +
          s"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0}")
      }
    }
    spark.stop()
  }
}
