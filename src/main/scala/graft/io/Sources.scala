package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.model.Schemas

/** Sources/sinks (SURVEY §2.1, S1–S9).
  *
  * The reference's wire formats are CSV (generator → GCS) and BigQuery
  * tables; here the store is parquet on the local FS and CSV for the
  * reference corpus. All loads use explicit schemas — autodetect is
  * deliberately off, matching the reference (dags/clv_data_dag.py:73).
  */
object Sources {

  /** Scan one testdata table: `spark.read.parquet(dir/name.parquet)`.
    * Column pruning + predicate pushdown reach the parquet scan because the
    * schema comes from parquet metadata and filters stay declarative.
    *
    * `events.ts` has shipped in two physical layouts across testdata
    * generations: TIMESTAMP(NANOS) (read as long nanos via the legacy conf
    * and truncated to Spark's µs precision — the same truncation DuckDB
    * applies on cast) and TIMESTAMP(MICROS) without UTC adjustment (read as
    * TIMESTAMP_NTZ). Both normalize to a session-UTC TIMESTAMP here, so
    * every downstream query sees one canonical type regardless of which
    * generator wrote the files.
    *
    * Schema-inference memo (per-query metadata cost): a bare
    * `read.parquet(path)` runs a footer-read JOB per call to infer the
    * schema — ~30 ms of pure driver/scheduler overhead that every query
    * paid once per table it touches (a 5-table star query paid five).
    * The STRUCTTYPE — metadata only, never data or results — is memoized
    * per path together with the path's file signature, and handed to the
    * reader, which then skips the inference job. A path rewritten in place
    * changes its signature, so it is inferred again rather than read with
    * a stale schema. Every scan still reads the parquet data itself on
    * every invocation.
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(String, Long, Long)], org.apache.spark.sql.types.StructType)]()

  private def readTable(spark: SparkSession, path: String): DataFrame = {
    val sig = fileSignature(spark, path)
    val cached = schemaMemo.get(path)
    if (cached != null && cached._1 == sig) spark.read.schema(cached._2).parquet(path)
    else {
      val df = spark.read.parquet(path)
      if (cached != null || schemaMemo.size < 256) schemaMemo.put(path, (sig, df.schema))
      df
    }
  }

  /** (name, length, modification time) of the file, or of every entry of
    * a dataset directory — a rewrite renames the part files. One
    * file-system listing, no Spark job; a missing path lists as empty, so
    * its read fails in Spark exactly as before.
    */
  private def fileSignature(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Nil }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // nanosAsLong is set at session build (graft.Sessions); this is an
      // idempotent safety net for sessions built elsewhere, set before any
      // query in this lineage executes (not flipped mid-flight).
      if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = readTable(spark, s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // session tz is UTC (graft.Sessions), so this cast relabels the
          // same wall-clock instant — no offset arithmetic happens
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else readTable(spark, s"$dir/$name.parquet")
  }

  /** Ingest the reference CSV corpus (S3): explicit schema, header skipped,
    * float-formatted CustomerID absorbed via double→long cast, nanosecond
    * timestamps truncated to Spark's µs precision, session in UTC.
    * (reference: dags/clv_data_dag.py:58–75; quirks per SURVEY §1.4)
    */
  def referenceTransactionsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schemas.transactionsCsvRaw)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSSSSS][XXX]")
      .option("mode", "PERMISSIVE")
      .csv(path)
      .withColumn("CustomerID", col("CustomerID").cast(LongType))

  /** Append-only staging write (reference WRITE_APPEND, dags/clv_data_dag.py:68). */
  def appendParquet(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Snapshot write (reference CREATE OR REPLACE / WRITE_TRUNCATE,
    * dags/clv_data_dag.py:80, dags/clv_models.py:96–97) with the
    * reference's TRANSACTIONAL semantics: a BigQuery WRITE_TRUNCATE load
    * is atomic — a concurrent reader sees the old table or the new one,
    * never a half-replaced mix — whereas Spark's `mode("overwrite")`
    * deletes the directory and then writes into it, a window in which a
    * dying job leaves a corrupt snapshot a concurrent reader CAN see.
    *
    * Protocol (JDK-only, same-filesystem; safe with several writers racing
    * on one path):
    *  1. the snapshot root holds immutable version dirs
    *     `v-<seq>-<uuid>` (sequence assigned at commit, under the lock —
    *     the time-travel ordinal [[readSnapshot(spark,path,version)*]]
    *     resolves) plus a one-line `CURRENT` pointer file naming the
    *     live version;
    *  2. the new version is written to a staging dir `.tmp-v-<uuid>`
    *     (Spark's own job-commit makes the DIR internally consistent) —
    *     the expensive part, deliberately OUTSIDE any lock so concurrent
    *     writers overlap their cluster work;
    *  3. under the commit lock (a per-root JVM monitor nested with a
    *     `COMMIT_LOCK` file lock — threads and processes both serialize;
    *     an object store swaps this step for its conditional-put via the
    *     [[PointerStore]] seam, the version-dir + pointer shape
    *     unchanged): rename staging →
    *     `v-<uuid>`, re-read `CURRENT` (the version in-flight readers may
    *     still hold — NOW, not at entry, so the grace copy is the one
    *     that matters), then commit = write the pointer to a temp file,
    *     fsync it, ATOMIC_MOVE it over `CURRENT` — a POSIX rename, so
    *     every reader resolves either the old pointer or the new one in
    *     full. Writers racing on one path therefore serialize their
    *     commits; the last to commit wins, and every intermediate state a
    *     reader can observe is a complete committed version;
    *  4. GC — still under the lock — removes superseded/orphaned version
    *     dirs, keeping the newest `retain` versions by sequence (the
    *     time-travel window; the live version carries the highest
    *     sequence so it survives at any retain ≥ 1), the grace copy, and
    *     any FOREIGN staging dir younger than [[StagingGraceMs]] (a
    *     concurrent writer between its write and its commit —
    *     distinguishable from a crashed writer's leftovers precisely
    *     because committed dirs are never named `.tmp-*`; stale staging
    *     ages out and is swept). A committed version that falls OUT of
    *     the keep-window is not deleted on the spot: it is first marked
    *     retired (a `.retired-<dir>` tombstone) and deleted only once the
    *     tombstone is older than `retireGraceMs` — a reader pinned to the
    *     oldest retained version, by number or through a `CURRENT` read two
    *     commits ago, would otherwise have its parquet files deleted
    *     mid-scan by a concurrent writer's commit. The grace is a
    *     parameter because it is a READER-LATENCY contract, not a
    *     protocol constant: 0 restores immediate deletion.
    *
    * Readers go through [[readSnapshot]], which resolves `CURRENT` (and
    * falls back to a plain parquet dir for pre-protocol layouts).
    */
  def overwriteParquet(df: DataFrame, path: String,
      store: PointerStore = LocalPointerStore, retain: Int = 2,
      retireGraceMs: Long = StagingGraceMs): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    require(retain >= 1, s"retain must be >= 1, got $retain")
    val root = Paths.get(path)
    Files.createDirectories(root)
    val uuid = java.util.UUID.randomUUID().toString
    val staged = s".tmp-v-$uuid"
    df.write.parquet(s"$path/$staged")
    withCommitLock(root) {
      // sequence assignment happens HERE, under the lock, where commits
      // serialize — the staging dir (written lock-free above) only gets
      // its ordinal when it becomes a committed version. 9 digits cannot
      // collide with a legacy `v-<uuid>` name (a UUID's first segment is
      // 8 hex chars), so parseVersionSeq is unambiguous on mixed roots.
      val version = f"v-${nextSeq(root)}%09d-$uuid"
      Files.move(root.resolve(staged), root.resolve(version),
        StandardCopyOption.ATOMIC_MOVE)
      // pointer swap through the conditional-put seam: observe the
      // committed version, then install ours fenced on that observation.
      // Overwrite semantics make a lost race RETRYABLE (the intent is
      // "replace whatever is there"), so the loser re-observes and
      // retries; the version the WINNER installed is what we must keep
      // as the grace copy — `previous` is the observation of the
      // successful attempt, not of loop entry. Bounded so a pathological
      // store turns livelock into a loud failure, never a truncation.
      val previous = {
        @annotation.tailrec
        def commit(attempt: Int): Option[String] = {
          val observed = store.read(root)
          if (store.compareAndPut(root, observed, version)) observed
          else if (attempt >= MaxCommitAttempts) sys.error(
            s"snapshot commit at $path lost $attempt consecutive pointer " +
              s"races; version dir $version is committed but unreferenced")
          else commit(attempt + 1)
        }
        commit(1)
      }
      // GC: everything that is neither a RETAINED version (the newest
      // `retain` by sequence — time-travel reads resolve these), the live
      // version, the grace copy, nor a concurrent writer's young staging
      // dir — superseded versions past the keep-count, crashed-write
      // orphans, stray temp pointers, and pre-protocol root-level files.
      // The live version carries the highest sequence, so it is retained
      // by construction at ANY retain >= 1; the grace copy is kept
      // unconditionally (in-flight readers of the pointer we just
      // replaced may still hold it, even when it is legacy-named).
      val retained = listVersions(path).takeRight(retain).map(_._2)
      val keep = Set("CURRENT", CommitLockName, version) ++ previous ++
        retained
      val now = System.currentTimeMillis()
      val children = Files.list(root)
      try children.forEach { p =>
        val name = p.getFileName.toString
        // in-flight vs crashed by the NEWEST mtime anywhere under the
        // staging tree, not the root's: the root's mtime is its creation
        // time until Spark's job-commit moves files in, so a live writer
        // whose parquet write alone exceeds the grace would look crashed
        // and lose its staging mid-write. Task files keep the deep mtime
        // fresh for as long as the write is making progress.
        val inFlight = name.startsWith(".tmp-v-") &&
          (now - newestMtimeMillis(p)) < StagingGraceMs
        if (name.startsWith(RetiredMarkerPrefix)) {
          // a tombstone whose dir is already gone is stale; the keep-set
          // guard is defensive only (delisting at tombstone time means a
          // retired version cannot re-enter `retained` even when `retain`
          // is raised between writes — it could only re-enter keep as the
          // live/grace target, which GC never tombstones)
          val target = name.stripPrefix(RetiredMarkerPrefix)
          if (keep.contains(target) || !Files.exists(root.resolve(target)))
            Files.deleteIfExists(p)
        } else if (!keep.contains(name) && !inFlight) {
          if (parseVersionSeq(name).isDefined) {
            // committed version leaving the keep-window: tombstone first,
            // delete only once the tombstone has aged past the reader
            // grace (both can happen in this one pass when the grace is 0)
            val marker = root.resolve(RetiredMarkerPrefix + name)
            // a marker created THIS pass has age exactly 0 (its mtime is
            // stamped after `now` was captured, so the subtraction would
            // go spuriously negative and defer a grace-0 sweep by a pass)
            val existed = Files.exists(marker)
            if (!existed) Files.createFile(marker)
            val age = if (existed) now - newestMtimeMillis(marker) else 0L
            if (age >= retireGraceMs) {
              deleteRecursively(p)
              Files.deleteIfExists(marker)
            }
          } else deleteRecursively(p)
        }
      } finally children.close()
    }
  }

  /** Foreign `.tmp-v-*` staging dirs whose newest file is younger than
    * this survive GC: they belong to a writer between (or during) its
    * parquet write and its commit. A CRASHED writer's staging stops
    * changing, ages past the grace, and is swept by the next successful
    * overwrite.
    */
  private[io] val StagingGraceMs: Long = 60L * 60L * 1000L

  /** Newest last-modified time anywhere under `p` (the path itself for a
    * plain file or an unreadable tree). Races with concurrent deletes and
    * task-file renames inside a live writer's staging are benign: a
    * vanished entry is skipped, and any surviving entry a live writer is
    * still touching keeps the tree young.
    */
  private def newestMtimeMillis(p: java.nio.file.Path): Long = {
    import java.nio.file.Files
    import scala.util.Try
    val own = Try(Files.getLastModifiedTime(p).toMillis).getOrElse(0L)
    if (!Files.isDirectory(p)) own
    else Try {
      val children = Files.list(p)
      try {
        val it = children.iterator()
        var mx = own
        while (it.hasNext) mx = math.max(mx, newestMtimeMillis(it.next()))
        mx
      } finally children.close()
    }.getOrElse(own)
  }

  /** CURRENT-pointer commit seam: [[overwriteParquet]] step 3's swap as
    * an explicit compare-and-put, so the only store-specific piece of the
    * snapshot protocol is swappable. The contract an implementation must
    * satisfy:
    *
    *  - `read` returns the committed version name, atomically (a reader
    *    never sees a partial pointer);
    *  - `compareAndPut(root, expected, next)` installs `next` iff the
    *    committed version still equals `expected` (`None` = no pointer
    *    yet), atomically, returning false on a lost race — it must NEVER
    *    clobber a pointer that no longer matches `expected`, because the
    *    caller's grace-copy bookkeeping keys off the version it observed.
    *
    * On a real object store this maps 1:1 onto the native conditional
    * write — S3 `PutObject` with `If-Match: <etag>` (`If-None-Match: *`
    * for the `expected = None` create), GCS `x-goog-if-generation-match`
    * (0 for create) — with the version-dir + pointer shape unchanged and
    * NO commit lock needed for the pointer itself (the lock also fences
    * local GC; store-side GC wants a lifecycle rule or lease instead).
    * That mapping is tested, not only documented: the protocol's
    * CAS/race/grace contracts run against an in-memory store with exactly
    * those semantics — generation-compared atomic replace, no rename, no
    * pointer file, plus an injected stale-read (list-after-write lag)
    * that must resolve as a lost put and a clean fenced retry — in
    * ObjectStorePointerSpec, with the reader side resolving through
    * [[readSnapshot(spark,path,store)*]].
    * The local implementation runs under [[withCommitLock]], where the
    * verify-then-move below is trivially atomic; it still VERIFIES
    * `expected` so that injected-race tests and conditional-put stores
    * exercise the identical caller retry path.
    */
  trait PointerStore {
    def read(root: java.nio.file.Path): Option[String]
    def compareAndPut(root: java.nio.file.Path, expected: Option[String],
        next: String): Boolean
  }

  object LocalPointerStore extends PointerStore {
    def read(root: java.nio.file.Path): Option[String] =
      currentVersion(root.toString)

    def compareAndPut(root: java.nio.file.Path, expected: Option[String],
        next: String): Boolean = {
      import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}
      if (currentVersion(root.toString) != expected) false
      else {
        val tmp = root.resolve(s".CURRENT.tmp-${java.util.UUID.randomUUID()}")
        Files.writeString(tmp, next)
        // fsync the pointer bytes (and best-effort the dir entries) so the
        // rename cannot surface a pointer that never hit the disk
        val ch = java.nio.channels.FileChannel.open(tmp,
          StandardOpenOption.WRITE)
        try ch.force(true) finally ch.close()
        Files.move(tmp, root.resolve("CURRENT"),
          StandardCopyOption.ATOMIC_MOVE)
        fsyncDir(root)
        true
      }
    }
  }

  /** A lost pointer race means another writer committed between our read
    * and our put — under overwrite semantics we re-observe and retry, and
    * convergence is immediate unless the store misbehaves; 16 consecutive
    * losses is a broken store, reported loudly with the orphaned version
    * named (the data is written and internally consistent, only the
    * pointer never adopted it).
    */
  private val MaxCommitAttempts = 16

  private val CommitLockName = "COMMIT_LOCK"

  /** Per-root commit mutex: a JVM monitor (same-process writers — file
    * locks are held per-JVM, and overlapping acquisition from two threads
    * throws rather than blocks) nested with a `COMMIT_LOCK` file lock
    * (cross-process writers). Held only for rename + pointer swap + GC —
    * milliseconds, never the parquet write.
    */
  private val commitMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withCommitLock[T](root: java.nio.file.Path)(body: => T): T = {
    import java.nio.file.StandardOpenOption
    val monitor = commitMonitors.computeIfAbsent(
      root.toAbsolutePath.normalize.toString, _ => new Object)
    monitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        root.resolve(CommitLockName),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body finally lock.release()
      } finally ch.close()
    }
  }

  /** Resolve a [[overwriteParquet]] snapshot root to its live version (or
    * read a pre-protocol plain parquet dir unchanged). The resolution is
    * one atomic pointer-file read, so the frame is pinned to a complete,
    * immutable version dir for its whole lifetime — an overwrite committed
    * later neither corrupts it (grace copy, retire grace) nor leaks into it.
    */
  def readSnapshot(spark: SparkSession, path: String): DataFrame =
    readSnapshot(spark, path, LocalPointerStore)

  /** [[readSnapshot]] resolving the pointer through an explicit
    * [[PointerStore]] — on a real object store the reader's pointer GET
    * goes through the same client as the writer's conditional put, not
    * through a local `CURRENT` file (ObjectStorePointerSpec drives the
    * whole read-after-racing-commits contract through an in-memory store
    * with exactly those semantics).
    */
  def readSnapshot(spark: SparkSession, path: String,
      store: PointerStore): DataFrame =
    store.read(java.nio.file.Paths.get(path)) match {
      case Some(v) => spark.read.parquet(s"$path/$v")
      case None => spark.read.parquet(path)
    }

  /** Time-travel read (the versioned face of the S6 snapshot write):
    * resolve a RETAINED historical version by its sequence number, as
    * committed by [[overwriteParquet]] and kept by its `retain` policy.
    * Fails loudly — naming what IS retained — when the requested version
    * was pruned by retention or never existed; it never falls back to
    * CURRENT, because "an old snapshot" silently becoming "the newest
    * snapshot" is the exact bug a time-travel reader exists to avoid.
    *
    * Reader-vs-GC contract: a version that concurrent overwrites
    * push out of the retain window is tombstoned and DELISTED at commit
    * but physically deleted only after the writer's `retireGraceMs`
    * (default [[StagingGraceMs]], 1 h) — so a reader pinned here keeps
    * scanning through concurrent commits. A scan still running past the
    * grace after its version left the window can lose files mid-scan;
    * size the grace to the slowest expected reader.
    */
  def readSnapshot(spark: SparkSession, path: String,
      version: Long): DataFrame =
    listVersions(path).find(_._1 == version) match {
      case Some((_, dir)) => spark.read.parquet(s"$path/$dir")
      case None =>
        val have = listVersions(path).map(_._1)
        sys.error(s"snapshot version $version at $path is not retained " +
          s"(available: ${if (have.isEmpty) "none" else have.mkString(", ")})" +
          " — pruned by the overwrite retention policy, or never committed")
    }

  /** Committed, sequence-named versions under a snapshot root, ascending
    * by sequence: (sequence, dirName). Legacy `v-<uuid>` dirs (unnumbered
    * layouts) carry no ordinal and are not listed — they remain readable
    * through the CURRENT pointer until the next overwrite sweeps them.
    * A version that left the retain window is delisted the moment its
    * `.retired-*` tombstone lands, even though its dir survives the
    * reader grace — logically pruned at commit, physically deleted after
    * the grace, so no NEW reader can pin data already scheduled to die.
    */
  def listVersions(path: String): Seq[(Long, String)] = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(path)
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val children = Files.list(root)
      val names = try {
        import scala.jdk.CollectionConverters._
        children.iterator().asScala.map(_.getFileName.toString).toSet
      } finally children.close()
      names.toVector
        .flatMap(n => parseVersionSeq(n).map(_ -> n))
        .filterNot { case (_, n) => names.contains(RetiredMarkerPrefix + n) }
        .sortBy(_._1)
    }
  }

  /** Tombstone prefix for a committed version dir that left the retain
    * window but is inside its reader grace (see [[overwriteParquet]]
    * step 4). The leading dot keeps Spark's parquet reader from treating
    * it as data if a root is ever read as a plain directory.
    */
  private val RetiredMarkerPrefix = ".retired-"

  /** Sequence of a committed version dir name (`v-<9+ digits>-<uuid>`);
    * None for staging dirs, legacy `v-<uuid>` names (whose first UUID
    * segment is 8 hex chars, never 9+ digits), and foreign files.
    * `{9,}` rather than `{9}`: nextSeq formats with %09d, which emits 10
    * digits once the sequence passes 999,999,999 — an exact-9 match would
    * make such a version invisible to listVersions (sequence numbers
    * would regress and repeat, and the dir would be swept as garbage).
    * Theoretical at 1e9 commits, but free to close.
    */
  private def parseVersionSeq(name: String): Option[Long] = {
    val m = java.util.regex.Pattern.compile("^v-(\\d{9,})-").matcher(name)
    if (m.find()) Some(m.group(1).toLong) else None
  }

  /** Next commit ordinal — callers hold the commit lock, where commits
    * serialize, so max+1 is race-free. */
  private def nextSeq(root: java.nio.file.Path): Long =
    listVersions(root.toString).lastOption.map(_._1 + 1L).getOrElse(1L)

  private def currentVersion(path: String): Option[String] = {
    val p = java.nio.file.Paths.get(path, "CURRENT")
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p).trim)
    else None
  }

  /** Directory-entry fsync (the Lucene idiom); best-effort because some
    * filesystems refuse read-channels on directories. */
  private def fsyncDir(dir: java.nio.file.Path): Unit =
    try {
      val ch = java.nio.channels.FileChannel.open(dir,
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    } catch { case _: java.io.IOException => () }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.isDirectory(p)) {
      val children = Files.list(p)
      try children.forEach(deleteRecursively) finally children.close()
    }
    Files.deleteIfExists(p)
  }

  /** CSV sink (S1: the generator's batch file, header on, no index column —
    * reference: dags/simulate_data.py:233).
    */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)
}
