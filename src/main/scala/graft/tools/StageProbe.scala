package graft.tools

import graft.{Blocks, Sessions}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-stage accounting for one harness query (r18 measurement tool):
  * `runMain graft.tools.StageProbe <query> [sfDir] [warmRuns]`.
  *
  * Runs the query `warmRuns` times untimed (JIT/codegen warm), then once
  * with a listener attached, and prints per stage: task count, summed
  * executor run time, wall duration, shuffle read/write bytes — plus the
  * job count and the total wall vs summed-stage wall (the gap is
  * driver/plan/scheduling time between stages).
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val warm = if (args.length > 2) args(2).toInt else 1
    val spark = Sessions.local()
    val fn = graft.SparkEntry.queries(name)
    for (_ <- 1 to warm) {
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      Blocks.releaseAll(spark)
    }
    case class St(var tasks: Int = 0, var runMs: Long = 0, var wallMs: Long = 0,
                  var shRead: Long = 0, var shWrite: Long = 0, var name: String = "",
                  var deserMs: Long = 0, var gcMs: Long = 0, var cpuMs: Long = 0)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val st = stages.getOrElseUpdate(si.stageId, St())
        st.tasks = si.numTasks
        st.name = si.name.take(60)
        st.wallMs = (for {c <- si.completionTime; s <- si.submissionTime} yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        if (m != null) {
          st.runMs = m.executorRunTime
          st.shRead = m.shuffleReadMetrics.totalBytesRead
          st.shWrite = m.shuffleWriteMetrics.bytesWritten
          st.deserMs = m.executorDeserializeTime
          st.gcMs = m.jvmGCTime
          st.cpuMs = m.executorCpuTime / 1000000L
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, dir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Blocks.releaseAll(spark)
    Thread.sleep(500) // let listener events drain
    println(f"[stage] $name total ${wall}%.2f s, $jobs jobs, ${stages.size} stages")
    val totWall = stages.values.map(_.wallMs).filter(_ > 0).sum
    val totRun = stages.values.map(_.runMs).sum
    println(f"[stage] stage-wall sum ${totWall / 1e3}%.2f s, task-run sum ${totRun / 1e3}%.2f s (over ${spark.sparkContext.defaultParallelism} cores), gap ${wall - totWall / 1e3}%.2f s")
    stages.toSeq.sortBy(-_._2.wallMs).take(30).foreach { case (id, s) =>
      println(f"[stage] #$id%-4d tasks=${s.tasks}%-4d wall=${s.wallMs}%-6d ms run=${s.runMs}%-7d ms cpu=${s.cpuMs}%-7d ms deser=${s.deserMs}%-6d ms gc=${s.gcMs}%-5d ms shR=${s.shRead / 1024}%-8d KB shW=${s.shWrite / 1024}%-8d KB  ${s.name}")
    }
    spark.stop()
  }
}
