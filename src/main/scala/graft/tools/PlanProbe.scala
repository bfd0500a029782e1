package graft.tools

import graft.Sessions

/** Print or dump the formatted physical plan of harness queries — the
  * .explain feedback loop from the brief, wired to the harness surface.
  *
  *  - `runMain graft.tools.PlanProbe <query> [sfDir]` — print one plan.
  *  - `runMain graft.tools.PlanProbe --out <dir> <suffix> <q1,q2,..> [sfDir]`
  *    — write `<dir>/<query>_<suffix>.txt` per query in ONE JVM (the r17
  *    plans/ evidence workflow: before/after files for every touched query
  *    without paying a session spin-up per plan). The files are
  *    [[normalize]]d, so two runs of one commit write identical bytes and
  *    a before/after pair differs only where the plans do.
  */
object PlanProbe {

  /** What a formatted plan prints that depends on the JVM rather than on
    * the query: lambda class names, object identities (`IvfModel@1a2b`),
    * exchange `plan_id` counters and the source line of an RDD call site.
    */
  private val JvmNoise = Seq(
    raw"\$$Lambda\$$?\d*/0x[0-9a-f]+".r -> "\\$Lambda",
    raw"([\w$$])@[0-9a-f]+\b".r -> "$1@<id>",
    raw"plan_id=\d+".r -> "plan_id=<n>",
    raw"\bat (\w+)\.scala:\d+".r -> "at $1.scala:<line>")

  /** Counters that number everything the JVM created before the plan:
    * expression ids (`#123L`, `obj#370`), RDD ids (`MapPartitionsRDD[186]`)
    * and lambda variables (`lambda x_2`). Each family is renumbered in
    * order of first appearance within the plan; equal numbers stay equal.
    */
  private val JvmCounters = Seq(raw"(#)(\d+)".r, raw"(RDD\[)(\d+)".r,
    raw"(lambda \w+_)(\d+)".r)

  private def normalize(plan: String): String = {
    val masked = JvmNoise.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }
    JvmCounters.foldLeft(masked) { (s, re) =>
      val ids = collection.mutable.Map.empty[String, Int]
      re.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(
        m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--out")) {
      val outDir = args(1)
      val suffix = args(2)
      val names = args(3).split(",").toSeq
      val dir = if (args.length > 4) args(4) else "/root/testdata/sf0.1"
      val spark = Sessions.local()
      new java.io.File(outDir).mkdirs()
      names.foreach { name =>
        val df = graft.SparkEntry.queries(name)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), normalize(txt))
        graft.Blocks.releaseAll(spark)
        System.err.println(s"[plan] wrote $outDir/${name}_$suffix.txt")
      }
      spark.stop()
    } else {
      val name = args(0)
      val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
      val spark = Sessions.local()
      graft.SparkEntry.queries(name)(spark, dir).explain("formatted")
      spark.stop()
    }
  }
}
