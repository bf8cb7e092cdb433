package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one per JVM — ScalaTest suites in
  * the same forked JVM reuse it via getOrCreate): the harness mains'
  * [[Sessions.local]] on 4 cores. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4").appName("graft-test").getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** `body`'s result and the number of Spark jobs it started. A sentinel
    * job marks the end: the listener bus is ordered, so once the
    * sentinel's start is delivered every earlier start has been too. The
    * sentinel is a raw RDD action — an SQL count() under AQE submits one
    * job per query stage. */
  def withJobCount[T](body: => T): (T, Int) = {
    val sentinel = "graft-suite-job-count-sentinel"
    val jobs = new AtomicInteger(0)
    val seen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.job.description") == sentinel))
          seen.countDown()
        else { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val v = body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(30, TimeUnit.SECONDS), "the sentinel job's start was never delivered")
      (v, jobs.get())
    } finally sc.removeSparkListener(l)
  }
}
