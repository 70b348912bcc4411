package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local Spark session for all suites (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs `body` starts, counted by a job group; read once a
    * sentinel job submitted after `body` reaches the listener (listener
    * events arrive in submission order).
    */
  protected def jobsOf(body: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val done = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == tag => jobs.incrementAndGet(); ()
          case Some(g) if g == s"$tag-end" => done.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(tag, "counted")
      body
      sc.setJobGroup(s"$tag-end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(60, TimeUnit.SECONDS), "sentinel job never arrived")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    jobs.get
  }

  /** Run `write`, expecting it to fail, with a function that fails the
    * task evaluating it on 0 at once and makes the task evaluating it
    * on any other value wait 1.5 s first, so that task is still
    * running when the job has failed; `write` spreads 0 and another
    * value over two tasks. Returns once every task started meanwhile
    * has ended.
    */
  protected def failWithStraggler(write: (Column => Column) => Unit): Unit = {
    val straggleMs = 1500L
    val started = new AtomicInteger(0)
    val ended = new AtomicInteger(0)
    val l = new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit = {
        started.incrementAndGet(); ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        ended.incrementAndGet(); ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      // the straggler sleeps through the interrupt a cancelled task
      // gets, as a task busy in non-interruptible work does
      val straggle = udf { (k: Long) =>
        if (k == 0L) throw new IllegalStateException("failing task")
        val end = System.nanoTime + straggleMs * 1000000L
        var interrupted = false
        while (System.nanoTime < end)
          try Thread.sleep(10)
          catch { case _: InterruptedException => interrupted = true }
        if (interrupted) Thread.currentThread.interrupt()
        k
      }
      intercept[Exception](write(c => straggle(c)))
      val deadline = System.nanoTime + 60L * 1000000000L
      while ((started.get < 2 || ended.get < started.get) &&
          System.nanoTime < deadline) Thread.sleep(20)
      assert(started.get >= 2 && ended.get == started.get,
        s"${started.get} tasks started, ${ended.get} ended")
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the ENGINE session builder, not a bare one: specs must run under
    // the product configuration (raw string literals, UTC, AQE,
    // extensions) — a conf drift here tests a session no user gets
    val s = GraftSession.builder("local[4]", shufflePartitions = 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
