package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
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
