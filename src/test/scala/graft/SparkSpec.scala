package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The generated test corpus the specs read: its root, and the sf0.001
  * tables under it.
  */
object TestData {
  val Root = "/root/testdata"
  val Sf0001 = s"$Root/sf0.001"
}

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
    val (out, descriptions) = jobDescriptionsIn(body)
    (out, descriptions.size)
  }

  /** The `spark.job.description` of every Spark job started while `body`
    * runs (None where unset), counted as in [[jobsIn]]. The drain marker
    * sets only the job group id and restores it, so the calling thread's
    * job description and group are as `body` left them.
    */
  def jobDescriptionsIn[T](body: => T): (T, Seq[Option[String]]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == "jobs-in-drain"))
          drained.countDown()
        else jobs.add(props.flatMap(p => Option(p.getProperty("spark.job.description"))))
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      val group = sc.getLocalProperty("spark.jobGroup.id")
      sc.setLocalProperty("spark.jobGroup.id", "jobs-in-drain")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("spark.jobGroup.id", group)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
