package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local[2] session for all specs (one JVM, forked by sbt). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = () // shared session — never stop it

  /** `body` with `spark.sql.shuffle.partitions` at `n`, restoring the
    * session's value afterwards — for placement-independence checks. */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Spark jobs started by `body`. Listener events arrive
    * asynchronously but in order, so a marker job before and after
    * fences the count. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    @volatile var marker = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(
            "spark.job.description") == "spec-job-marker"))
          marker.countDown()
        else jobs.incrementAndGet()
    }
    def fence(): Unit = {
      marker = new CountDownLatch(1)
      sc.setJobDescription("spec-job-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(marker.await(60, TimeUnit.SECONDS), "marker job not seen")
    }
    sc.addSparkListener(l)
    try { fence(); jobs.set(0); body; fence(); jobs.get }
    finally sc.removeSparkListener(l)
  }
}

object SparkTestBase {
  lazy val session: SparkSession =
    Session.local(2).appName("graft-test").getOrCreate()
}
