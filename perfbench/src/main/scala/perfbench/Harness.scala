package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Blocks, Pipeline, Sessions, SparkEntry}
import graft.clv.ClvModel
import graft.io.{Catalog, Sources}
import graft.model.Schemas
import graft.operators.Rfm
import graft.quality.Firewall
import graft.sim.Generate

/** One benchmark run in one JVM: set up a workload, run its timed passes
  * from one closed-loop caller, and write every raw measurement to
  * `<work>/raw.json` once, at the end. `perfbench/run.py` starts this
  * program, checks the outputs it leaves under `<work>/checks`, and turns
  * the raw record into metrics.
  *
  * An op is one pipeline day (clv_daily) or one query (query_mix). In a
  * traced pass the Probe is attached and every layer call is wrapped in a
  * span.
  */
object Harness {

  final case class Opts(workload: String, seed: Long, passes: Int, trace: Boolean,
      setupReps: Int, work: Path, data: String, queries: Seq[String],
      days: Int)

  final case class Op(pass: Int, traced: Boolean, name: String,
      startMs: Long, endMs: Long, seconds: Double, cpuSeconds: Double, error: Option[String],
      counters: Map[String, Long])

  private val Base = java.time.LocalDate.parse("2025-10-03")
  private def day(i: Int): String = Base.plusDays(i.toLong).toString

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = Sessions.local(logLevel = "ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val raw = mutable.LinkedHashMap[String, Any](
      "session_ready_ms" -> sessionReadyMs,
      "session_ready_cpu_s" -> cpuNs() / 1e9,
      "spark_version" -> spark.version,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20))
    val w: Workload = o.workload match {
      case "clv_daily" => new Daily(spark, o)
      case "query_mix" => new QueryMix(spark, o)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up, several times so its figure is a median; the last one's
    // state is what the timed passes use
    val setupReps = (1 to o.setupReps).map { rep =>
      val c0 = cpuNs()
      val s = timed(w.setup())._2
      Map("seconds" -> s, "cpu_seconds" -> (cpuNs() - c0) / 1e9)
    }
    raw("setup_reps") = setupReps
    HeapAfterGc.reset()

    val ops = mutable.ArrayBuffer[Op]()
    var probe: Option[Probe] = None
    // a traced run does traced, untraced, traced passes on one input: the
    // first traced pass is as cold as an untraced run's first pass (its
    // layer figures), the other two are equally warm (their difference is
    // the tracing overhead)
    val plan = if (o.trace) Seq(true, false, true) else Seq.fill(o.passes)(false)
    for ((traced, p) <- plan.zipWithIndex) {
      if (traced && probe.isEmpty) probe = Some(new Probe(spark, java.util.UUID.randomUUID().toString))
      if (traced) probe.foreach(_.attach())
      val dataPass = if (o.trace) 0 else p
      w.pass(p, dataPass, traced, probe.filter(_ => traced)) { (name, body) =>
        probe.filter(_ => traced).foreach(_.op = ops.size)
        val before = probe.filter(_ => traced).map(_.snapshot()).getOrElse(Map.empty)
        val t0Ms = System.currentTimeMillis()
        val c0 = cpuNs()
        val (err, s) = timed(try { body(); None } catch {
          case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
        })
        val cpu = (cpuNs() - c0) / 1e9
        val t1Ms = System.currentTimeMillis()
        val after = probe.filter(_ => traced).map(_.snapshot()).getOrElse(Map.empty)
        err.foreach(e => System.err.println(s"[perfbench] op $name failed: $e"))
        // after each op of the first traced pass (the one its layer figures
        // come from), the heap the session keeps, after a full collection;
        // no other pass forces one
        val liveHeap = if (traced && p == 0) Map("jvm.live_heap.bytes" -> liveHeapBytes())
          else Map.empty
        ops += Op(p, traced, name, t0Ms, t1Ms, s, cpu, err,
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)) } ++ liveHeap)
        ops.size - 1
      }
      if (traced) probe.foreach(_.detach())
    }
    raw("heap_after_gc_mb") = HeapAfterGc.samples.map(_.toDouble / (1 << 20))
    raw("ops") = ops.map(op => Map("pass" -> op.pass, "traced" -> op.traced, "name" -> op.name, "start_ms" -> op.startMs, "end_ms" -> op.endMs,
      "seconds" -> op.seconds, "cpu_seconds" -> op.cpuSeconds, "error" -> op.error,
      "counters" -> op.counters))
    raw("checks") = w.checks
    probe.foreach { pr =>
      raw("run_id") = pr.runId
      raw("jobs") = pr.jobs.asScala.toSeq.map { case (s, e) => Seq(s, e) }
      raw("spans") = pr.spans.map { case (id, parent, name, op, t0, t1) =>
        Map("run" -> pr.runId, "id" -> id, "parent" -> parent, "name" -> name,
          "op" -> op, "seconds" -> (t1 - t0) / 1e9) }
    }
    Files.writeString(o.work.resolve("raw.json"), Json.render(raw))
    spark.stop()
  }

  /** CPU time of the whole JVM (every thread: tasks, driver, GC, JIT). */
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  /** Heap in use after a full collection: what the session keeps. */
  def liveHeapBytes(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    rt.totalMemory - rt.freeMemory
  }

  /** Heap in use right after each of the collector's own collections
    * during the timed passes, from its notifications. */
  object HeapAfterGc {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    def reset(): Unit = seen.clear()
    def samples: Seq[Long] = seen.asScala.toSeq.map(_.longValue)
    for (gc <- ManagementFactory.getGarbageCollectorMXBeans.asScala)
      gc.asInstanceOf[NotificationEmitter].addNotificationListener(
        (n: Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            seen.add(used)
          }, null, null)
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** A workload: `setup` builds its fixtures and warms it up; `pass` runs
    * its ops in order through `op(name, body)`, which returns the op's
    * index in the run. */
  trait Workload {
    def setup(): Unit
    def pass(p: Int, dataPass: Int, traced: Boolean, probe: Option[Probe])(
        op: (String, () => Unit) => Int): Unit
    /** What run.py must check, recorded as the workload goes. */
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
  }

  // ---- clv_daily -------------------------------------------------------

  private def dirs(root: Path) = Pipeline.Dirs(
    root.resolve("staging").toString, root.resolve("master_users").toString,
    root.resolve("features").toString, root.resolve("predicted_clv").toString)

  /** One Pipeline.runDaily day, calling the functions it calls in its
    * order, with one span per layer. The fit/score split repeats
    * ClvModel.runClvLogic's guards so the two can be timed apart; run.py
    * fails the run if the scored snapshot ever differs from the one
    * runDaily itself produced on the same inputs. */
  def tracedDay(spark: SparkSession, d: Pipeline.Dirs, start: String, asOf: String,
      seed: Long, pr: Option[Probe]): Unit = Probe.span(pr, "pipeline.day") {
    val maxId = Probe.span(pr, "io.max_id") {
      Catalog.createIfNotExists(spark, d.masterUsers, Schemas.masterUsers)
      Catalog.readOrEmpty(spark, d.masterUsers, Schemas.masterUsers)
        .agg(coalesce(max(col("CustomerID")), lit(0L))).first().getLong(0)
    }
    val (batch, newIds) = Probe.span(pr, "sim")(Generate.dailyBatch(spark, maxId, start, seed))
    Probe.span(pr, "io.append") {
      Sources.appendParquet(batch, d.staging)
      Sources.appendParquet(newIds, d.masterUsers)
    }
    val staging = Probe.span(pr, "io.read_snapshot")(spark.read.parquet(d.staging))
    Probe.span(pr, "rfm") {
      Sources.overwriteParquet(Rfm.customerFeatures(staging, to_date(lit(asOf))), d.features)
    }
    val features = Probe.span(pr, "io.read_snapshot")(Sources.readSnapshot(spark, d.features))
    Probe.span(pr, "firewall")(Firewall.validateFeatures(staging, features))
    val (returning, model) = Probe.span(pr, "clv.fit") {
      val df = ClvModel.prepare(features)
      if (df.isEmpty) throw new IllegalArgumentException("INPUT ERROR: Dataframe is empty")
      require(df.columns.toSeq == ClvModel.expectedColumns, "Bad Schema!")
      val returning = df.filter(col("frequency") > 0 && col("monetary") > 0)
        .withColumn("frequency", col("frequency").cast("double"))
        .withColumn("recency", col("recency").cast("double"))
        .withColumn("t", col("t").cast("double"))
        .withColumn("monetary", col("monetary").cast("double"))
      (returning, ClvModel.fitModel(returning))
    }
    Probe.span(pr, "clv.score") {
      Sources.overwriteParquet(ClvModel.outputColumns(ClvModel.score(returning, model)),
        d.predictedClv)
    }
    Probe.span(pr, "io.read_snapshot")(Sources.readSnapshot(spark, d.predictedClv))
  }

  /** Copy the live version of a snapshot root aside with plain file I/O,
    * so run.py can check it after the run without going through the code
    * under test. */
  def copySnapshot(root: String, to: Path): Unit = {
    val live = Files.readString(Paths.get(root, "CURRENT")).trim
    Files.createDirectories(to)
    Files.list(Paths.get(root, live)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  def parquetFiles(dir: String): Seq[String] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted

  /** `days` consecutive Pipeline.runDaily days in one session, at the
    * reference batch size (10 new, 200 returning users).
    *
    * A pipeline is bootstrapped untimed: day 0 only ingests its batch (all
    * users new), then day 1 runs through runDaily, so the timed days start
    * at day 2. Day 0 is not scored because runDaily fails on a day where no
    * customer has two purchase days yet (the BG/NBD fit gets no
    * observations), which an all-new first batch usually is. Set-up is one
    * bootstrap; each pass after the first bootstraps a fresh pipeline. */
  final class Daily(spark: SparkSession, o: Opts) extends Workload {
    private var roots = 0
    private var ready: Option[Pipeline.Dirs] = None
    private def daySeed(dataPass: Int, i: Int): Long = o.seed * 1000003L + dataPass * 1009L + i

    private def bootstrap(dataPass: Int): Pipeline.Dirs = {
      roots += 1
      val d = dirs(o.work.resolve(s"pipeline-$roots"))
      val (batch, newIds) = Generate.dailyBatch(spark, 0L, day(0), daySeed(dataPass, 0))
      Sources.appendParquet(batch, d.staging)
      Sources.appendParquet(newIds, d.masterUsers)
      Pipeline.runDaily(spark, d, day(1), day(3), daySeed(dataPass, 1))
      d
    }

    def setup(): Unit = ready = Some(bootstrap(0))

    def pass(p: Int, dataPass: Int, traced: Boolean, pr: Option[Probe])(
        op: (String, () => Unit) => Int): Unit = {
      val d = ready.filter(_ => dataPass == 0).getOrElse(bootstrap(dataPass))
      ready = None
      for (i <- 2 until 2 + o.days) {
        val (start, asOf, seed) = (day(i), day(i + 2), daySeed(dataPass, i))
        val opIdx = op(s"day$i", () =>
          if (traced) tracedDay(spark, d, start, asOf, seed, pr)
          else Pipeline.runDaily(spark, d, start, asOf, seed))
        val out = o.work.resolve("checks").resolve(
          f"p$p%02d-${if (traced) "traced" else "plain"}-day$i%03d")
        copySnapshot(d.features, out.resolve("features"))
        copySnapshot(d.predictedClv, out.resolve("predicted"))
        checks += Map("kind" -> "clv", "op" -> opIdx, "dir" -> out.toString, "as_of" -> asOf,
          "traced" -> traced, "data_pass" -> dataPass, "day" -> i,
          "staging" -> parquetFiles(d.staging))
      }
    }
  }

  // ---- query_mix -------------------------------------------------------

  /** JVM warm-up before the timed pass: a query that is not in the mix,
    * so every query in the mix still plans and compiles its code for the
    * first time when it is timed. */
  val WarmUp: Seq[String] = Seq("q_filter_project")

  /** Distinct SparkEntry queries, run in the order of query_mix.txt. An op
    * builds one, writes its result to parquet (the sink run.py checks
    * against the DuckDB oracle) and releases its blocks. */
  final class QueryMix(spark: SparkSession, o: Opts) extends Workload {
    private val fns = o.queries.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"query $n is not in SparkEntry.queries")))

    private def run(fn: (SparkSession, String) => DataFrame, out: Path, pr: Option[Probe]): Unit =
      Probe.span(pr, "entry.query") {
        val df = Probe.span(pr, "entry.build")(fn(spark, o.data))
        try Probe.span(pr, "entry.action")(df.write.parquet(out.toString))
        finally Probe.span(pr, "blocks.release")(Blocks.releaseAll(spark))
      }

    require(WarmUp.forall(w => !o.queries.contains(w)), "warm-up queries must not be in the mix")

    private var setups = 0

    def setup(): Unit = {
      setups += 1
      for (name <- WarmUp)
        run(SparkEntry.queries(name), o.work.resolve(s"warm-up-$setups").resolve(name), None)
    }

    def pass(p: Int, dataPass: Int, traced: Boolean, pr: Option[Probe])(
        op: (String, () => Unit) => Int): Unit = {
      for ((name, fn) <- fns) {
        val out = o.work.resolve("results").resolve(f"p$p%02d").resolve(name)
        val opIdx = op(name, () => run(fn, out, pr))
        checks += Map("kind" -> "oracle", "op" -> opIdx, "query" -> name, "dir" -> out.toString,
          "sql" -> SparkEntry.oracleSql.get(name), "traced" -> traced)
      }
    }
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, default: String) = m.getOrElse(k, default)
    Opts(m("workload"), m("seed").toLong, get("passes", "1").toInt, get("trace", "0") == "1",
      get("setup-reps", "1").toInt,
      Paths.get(m("work")), get("data", ""),
      m.get("queries").map(f => Files.readAllLines(Paths.get(f)).asScala.toSeq
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))).getOrElse(Nil),
      get("days", "7").toInt)
  }
}
