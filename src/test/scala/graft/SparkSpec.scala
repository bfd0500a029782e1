package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one session per forked
  * test JVM, mirroring how the reference's pytest suite shares nothing but
  * pure functions — our pure functions just happen to need a SparkSession).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local("4")

  /** Spark jobs started while `body` runs. Every job counts, including
    * those submitted from pool threads, which a thread-local job group
    * would miss; the asynchronous listener bus is drained by waiting for a
    * marker job submitted after `body` (events arrive in order).
    */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == "jobs-in-drain")
          drained.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup("jobs-in-drain", "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
