package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Table catalog + sources/sinks (SURVEY §2.1, §2.7).
  *
  * The reference addresses tables with BigQuery `project:dataset.table`
  * strings (reference `csv_to_bq.py:8`, `csv_to_bq_NYC.py:36-38`) and reads
  * CSV either line-split (`csv_to_bq.py:14-20` — S1) or via a GCS blob
  * reader with header inference (`read_csv_no_pandas.py:7-28` — S4).
  *
  * Here the catalog maps a table name to a parquet directory under a root
  * path (the driver testdata layout `dir/<name>.parquet`); the
  * `project:dataset.table` convention is kept as a pure naming layer. On a
  * real deployment the same resolution would target a warehouse connector —
  * nothing else in the engine changes, because every operator takes/returns
  * DataFrames.
  *
  * Scale notes:
  *   - parquet + explicit column selection downstream lets Catalyst push
  *     filter + projection into the scan (PushedFilters/ReadSchema).
  *   - sinks are plain `df.write` with append/overwrite — at cluster scale
  *     these parallelize per-partition; nothing is collected to the driver.
  *
  * One store protocol: every versioned store is a BUNDLE ([[commitBundle]])
  * — a versioned table and a deployment pin set are bundles with one
  * member — and a version is committed exactly when its directory holds a
  * `_manifest`, the only commit marker.
  *
  * Committed-version memo ([[memoAtBundle]]): values derived from a
  * COMMITTED version — bundle manifests, member DataFrames (file listing),
  * deployment pin sets, BM25 corpus stats, ANN quantizers — are kept in
  * one bounded, process-wide LRU. The key is (the version's `_manifest`
  * path, its modification time, artifact name), plus the session for
  * DataFrames. Safe because the store never mutates a committed version:
  * every commit, append, compaction, takedown or restore lands a NEW
  * numbered directory whose `_manifest` appears with it in one rename.
  * Each lookup stats the manifest: a pruned or never-committed version has
  * none, so the value is recomputed and fails exactly as an uncached read
  * does; a store deleted and rebuilt at the same path writes a new
  * manifest with a new modification time, hence a new key. A value
  * derived from a few members only (the ANN quantizer) is
  * keyed by the FILE SETS those members list at the version instead, each
  * stamped with the modification time of the manifest of the version that
  * wrote it ([[memoAtBundle]] `members`): the versions an append, a restore
  * or a codes-only takedown publishes carry those file sets by reference
  * and share the entry. The requested version's marker is still stat'ed
  * first. Resolving WHICH version to read is never cached — `_latest`
  * pointers (bundle latest, the current deployment) are re-read on every
  * call, so a flip or rollback is seen by the next serve.
  *
  * Bundle reads infer nothing: each manifest records every member's data
  * schema at commit ([[BundleManifest]]), and [[readBundleTable]] reads
  * with it, so a member read lists files but opens no Parquet footer.
  */
object Catalog {

  /** `proj:ds.table` or `ds.table` or bare `table` → table name. */
  def tableName(ref: String): String = {
    val afterColon = ref.lastIndexOf(':') match {
      case -1 => ref
      case i  => ref.substring(i + 1)
    }
    afterColon.lastIndexOf('.') match {
      case -1 => afterColon
      case i  => afterColon.substring(i + 1)
    }
  }

  /** Resolve a table reference against a data root (testdata layout). */
  def path(root: String, ref: String): String =
    s"${root.stripSuffix("/")}/${tableName(ref)}.parquet"

  /** S2: table scan. */
  def table(spark: SparkSession, root: String, ref: String): DataFrame =
    spark.read.parquet(path(root, ref))

  /** The filesystem owning `p`, from the session's Hadoop conf — local
    * file://, HDFS, or an object store, all through the same API, so the
    * maintenance paths below (compact / upsert / swap) run unchanged on a
    * cluster. Resolution is per-path: a catalog can span filesystems.
    */
  private[graft] def fsFor(spark: SparkSession, p: HPath): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Entries the committed-version memo holds; least recently used first
    * out. Per served version it holds a manifest, a few member frames and
    * one or two small derived values.
    */
  private val MemoCapacity = 256

  private val memo = new java.util.LinkedHashMap[Any, Any](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Any, Any]): Boolean =
      size > MemoCapacity
  }

  /** `compute`, memoized under a committed bundle version (see the memo
    * contract above): keyed by that version's `_manifest` — or, when
    * `members` is non-empty, by the file sets those members list at that
    * version, each stamped with the modification time of the `_manifest`
    * of the version directory holding it, which changes when the store is
    * rebuilt at the same path. `perSession` keys the value by `spark` too —
    * required for DataFrames, which belong to their session. A missing
    * manifest (or a file set's manifest) bypasses the memo: `compute` runs
    * and refuses the version exactly as it does uncached. Racing callers
    * may both compute on a miss; the values are equal by immutability.
    */
  private[graft] def memoAtBundle[T](spark: SparkSession, root: String,
      bundle: String, version: Long, artifact: String,
      perSession: Boolean = false,
      members: Seq[String] = Nil)(compute: => T): T = {
    val base = bundleDir(root, bundle)
    val f = fsFor(spark, new HPath(base))
    val at = try {
      val s = f.getFileStatus(new HPath(s"$base/$version/_manifest"))
      Some(if (members.isEmpty) (s.getPath.toString, s.getModificationTime) else {
        val m = bundleManifest(spark, root, bundle, Some(version))
        val sets = members.map(r => r -> m.dirs(r))
        val stamps = sets.flatMap(_._2).map(_.takeWhile(_ != '/')).distinct.map(o =>
          o -> f.getFileStatus(new HPath(s"$base/$o/_manifest")).getModificationTime)
        (base, sets, stamps)
      })
    } catch { case _: java.io.FileNotFoundException => None }
    at.fold(compute) { a =>
      val key = (a, artifact, if (perSession) Some(spark) else None)
      memo.synchronized(Option(memo.get(key))) match {
        case Some(v) => v.asInstanceOf[T]
        case None =>
          val v = compute
          memo.synchronized(memo.put(key, v))
          v
      }
    }
  }

  /** Does the table exist on its filesystem? */
  def tableExists(spark: SparkSession, root: String, ref: String): Boolean = {
    val p = new HPath(path(root, ref))
    fsFor(spark, p).exists(p)
  }

  /** S1: header CSV scan with a declared schema (no inference job). */
  def csv(spark: SparkSession, p: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(p)

  /** S4: header CSV scan, schema inferred from the header only — every
    * column STRING, mirroring `read_csv_no_pandas.py:18-24` where values
    * stay Python strings end-to-end (SURVEY §1.2).
    */
  def csvAllStrings(spark: SparkSession, p: String): DataFrame =
    spark.read.option("header", "true").csv(p)

  /** Unit-robust `ts` normalizer, shared by the batch reader below and the
    * streaming reader (`EventsStream`). The driver's testdata has shipped
    * `events.ts` as parquet TIMESTAMP(NANOS) — which Spark reads as raw-nanos
    * Long under `spark.sql.legacy.parquet.nanosAsLong=true` — and, since
    * round 8, as TIMESTAMP(MICROS), which arrives as native TimestampType.
    * Dispatch on the ARRIVED type so both (and any future unit flip back)
    * normalize to microsecond TimestampType identically; batch and stream
    * cannot drift because they call this one function.
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(tsCol, expr(s"timestamp_micros($tsCol div 1000)"))
      case _ => df.withColumn(tsCol, col(tsCol).cast("timestamp"))
    }
  }

  /** Batch scan of the `events` table with `ts` normalized via
    * [[normalizeTs]] so downstream operators always see TimestampType.
    */
  def events(spark: SparkSession, root: String): DataFrame =
    normalizeTs(spark.read.parquet(path(root, "events")))

  /** Driver testdata table names (TESTDATA.md). */
  val TestdataTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Register every testdata table as a temp view so `spark.sql(...)` is a
    * first-class query surface over the catalog. Views are lazy plans —
    * registration costs nothing until a query scans one. `events` goes
    * through its timestamp normalization.
    */
  def registerViews(spark: SparkSession, root: String,
      tables: Seq[String] = TestdataTables): Unit =
    tables.foreach { t =>
      val df = if (t == "events") events(spark, root) else table(spark, root, t)
      df.createOrReplaceTempView(t)
    }

  /** K2: append sink. */
  def writeAppend(df: DataFrame, root: String, ref: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path(root, ref))

  /** K3: truncate (overwrite) sink. */
  def writeTruncate(df: DataFrame, root: String, ref: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path(root, ref))

  /** Small-file compaction: rewrite a parquet table into ~`targetFileMB`
    * files, sized from the table's actual on-disk bytes. Streaming/append
    * ingest accretes thousands of tiny files whose per-file open/footer
    * cost eventually dominates scans; compaction is the standing
    * maintenance job. Uses a staging directory + atomic swap so a reader
    * never sees a half-written table, and `coalesce` (not `repartition`)
    * so the rewrite is shuffle-free.
    */
  def compact(spark: SparkSession, root: String, ref: String,
      targetFileMB: Int = 128): Unit = {
    val dir = new HPath(path(root, ref))
    val f = fsFor(spark, dir)
    val children = if (f.exists(dir)) f.listStatus(dir) else Array.empty[org.apache.hadoop.fs.FileStatus]
    // A Hive-partitioned table has key=value subdirectories instead of
    // top-level parquet files; a flat coalesce-rewrite would fold the
    // partition columns into the data files and silently destroy the
    // layout (and the partition pruning) writePartitioned created.
    val partDirs = children.filter(st => st.isDirectory && st.getPath.getName.contains("="))
    require(partDirs.isEmpty,
      s"compact: $dir is Hive-partitioned (${partDirs.head.getPath.getName}, ...); " +
        "rewrite it with writePartitioned instead of a flat compact")
    val bytes = children
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val nFiles = math.max(1, (bytes / (targetFileMB.toLong << 20)).toInt)
    val staged = new HPath(dir.getParent, s".${dir.getName}.compacting")
    spark.read.parquet(dir.toString).coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(staged.toString)
    atomicSwap(f, staged, dir, "compact")
  }

  /** Per-partition compaction for Hive-partitioned tables — the
    * maintenance complement to `writePartitioned` + the streaming
    * partitioned append (each micro-batch adds files to the day it
    * touches; closed partitions then compact INDEPENDENTLY). `partition`
    * is the key=value directory spec (e.g. `Map("event_date" ->
    * "2024-01-08")`, nested maps joined in order for multi-level
    * layouts). Only that directory is read, rewritten shuffle-free via
    * `coalesce`, and atomically swapped — concurrent readers of other
    * partitions never see the rewrite at all, which is exactly why flat
    * `compact` refuses partitioned tables.
    */
  def compactPartition(spark: SparkSession, root: String, ref: String,
      partition: Seq[(String, String)], targetFileMB: Int = 128): Unit = {
    require(partition.nonEmpty, "compactPartition: empty partition spec")
    val dir = new HPath(
      path(root, ref) + partition.map { case (k, v) => s"/$k=$v" }.mkString)
    val f = fsFor(spark, dir)
    require(f.exists(dir), s"compactPartition: no partition at $dir")
    val bytes = f.listStatus(dir)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).sum
    val nFiles = math.max(1, (bytes / (targetFileMB.toLong << 20)).toInt)
    val staged = new HPath(dir.getParent, s".${dir.getName}.compacting")
    // read the leaf directory directly: partition columns live in the
    // path, not the files, so the rewrite carries the data columns only —
    // exactly what a partition directory holds
    spark.read.parquet(dir.toString).coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(staged.toString)
    atomicSwap(f, staged, dir, "compactPartition")
  }

  // ------------------------------------------------- commit protocol

  /** Bounded retry budget for optimistic version-slot claims. Each retry
    * is a metadata rename, never a data rewrite, so losing a race is
    * cheap; exhausting the budget means pathological contention and
    * fails loudly.
    */
  private[graft] val MaxCommitAttempts = 8

  private def newCommitToken(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  /** Committed = the numbered directory holds its `_manifest`, which
    * appears together with the data it lists in one rename.
    */
  private def isCommitted(f: FileSystem, dir: HPath): Boolean =
    f.exists(new HPath(dir, "_manifest"))

  /** The committed version numbers under `base`, ascending; none when the
    * store does not exist.
    */
  private def committedVersions(f: FileSystem, base: HPath): Seq[Long] =
    if (!f.exists(base)) Nil
    else f.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.forall(_.isDigit))
      .map(_.getPath).filter(isCommitted(f, _)).map(_.getName.toLong).sorted

  /** Claim the next version slot under `base` by renaming `staging` into
    * it — the shared optimistic-commit core of every bundle commit verb
    * ([[commitBundle]], [[appendBundle]], [[restoreBundleVersion]],
    * [[rewriteBundleMembers]]).
    *
    * Per attempt: recompute `next` off the newest committed directory,
    * clear a target that exists but never committed (committed
    * directories appear ATOMICALLY via this same rename, so an
    * uncommitted numbered directory is by definition a crashed legacy
    * writer's garbage — deleting it can never un-commit data; at worst
    * it fails a still-running in-place writer loudly, which then
    * retries), run `prepare(next)` to (re)write any version-number-
    * dependent staging content (bundle manifests), and rename. A rename
    * that "succeeds" is trusted only if the caller's ownership marker
    * (`_writer-<token>`) is visible at the target: local and HDFS
    * `rename` NEST the source into a directory that appeared between the
    * existence check and the rename, in which case the nested staging
    * directory is adopted as the new source and the claim retries under
    * the next number. `prepare(next, staging)` receives the CURRENT
    * staging path (it moves when a nested rename is adopted); returning
    * false aborts the claim (the staging directory is deleted) and
    * surfaces as -1 — [[appendBundle]] uses it when a racing writer
    * committed the same batch id first.
    */
  private def claimVersionSlot(f: FileSystem, base: HPath, staging0: HPath,
      token: String, op: String)
      (prepare: (Long, HPath) => Boolean): Long = {
    var staging = staging0
    var attempts = 0
    while (attempts < MaxCommitAttempts) {
      attempts += 1
      // The staging data must still be OURS before anything references it:
      // an adopted nested staging lives inside an uncommitted numbered
      // directory, which a CONCURRENT claimer's clear step may delete
      // wholesale. Without this check, `prepare` would recreate the
      // vanished directory (file create auto-creates parents) holding
      // ONLY the manifest, and the rename would publish a committed
      // version whose manifest references data that no longer exists —
      // every reader breaks. Fail loudly BEFORE publishing instead; the
      // caller retries the whole commit (data rewrite, not corruption).
      if (!f.exists(new HPath(staging, s"_writer-$token")))
        sys.error(s"$op: staging directory lost before claiming under " +
          s"$base (a concurrent claimer reclaimed the uncommitted slot " +
          "it was nested in) — retry the commit")
      val next = latestIn(f, base).getOrElse(0L) + 1
      val target = new HPath(base, next.toString)
      if (f.exists(target) && !isCommitted(f, target)) f.delete(target, true)
      if (!f.exists(target)) {
        if (!prepare(next, staging)) { f.delete(staging, true); return -1L }
        if (f.rename(staging, target)) {
          if (f.exists(new HPath(target, s"_writer-$token"))) {
            // Foreign ROOT-LEVEL marker beside ours = two writers'
            // file sets interleaved into one slot. Impossible under
            // atomic rename (a racer's staging nests as a directory,
            // its marker a level down) — it means this filesystem
            // emulates rename as copy+delete and the uncommitted-
            // target clear destroyed a racer's in-flight copy. Fail
            // LOUDLY instead of publishing interleaved data: the
            // multi-writer claim protocol requires atomic rename
            // (posix/HDFS); object stores need external coordination
            // (see the atomicSwap caveat).
            val foreign = f.listStatus(target).toSeq.map(_.getPath.getName)
              .filter(n => n.startsWith("_writer-") && n != s"_writer-$token")
            if (foreign.nonEmpty)
              sys.error(s"$op: slot $target contains another writer's " +
                s"marker ($foreign) beside ours — non-atomic rename " +
                "interleaved two commits; multi-writer claims require " +
                "atomic rename or external coordination on this store")
            return next
          }
          val nested = new HPath(target, staging.getName)
          if (f.exists(nested)) staging = nested
          else sys.error(s"$op: staging directory lost claiming $target")
        }
      }
    }
    sys.error(s"$op: no version slot claimed under $base after " +
      s"$MaxCommitAttempts attempts — pathological writer contention")
  }

  /** Pointer flip: write-temp + delete + rename. The delete→rename gap
    * is not atomic, but a missing pointer only sends readers through
    * the committed-directory fallback — same answer, two extra lists.
    *
    * Concurrency: callers are now racing committers whose version slots
    * ALREADY committed, so a failed rename (HDFS fails a rename onto a
    * file a racer just flipped in) must never surface as an error — the
    * orchestrator would retry an append that actually landed and read
    * the replay-rejected false for a committed batch. On failure,
    * re-read the pointer: at or above `next` means a racer's flip
    * already satisfied ours (readers can only be ahead); below means
    * the racer was older — retry the flip, bounded. Even exhausting the
    * budget only warns: the slot IS committed, and [[latestIn]] never
    * trusts a stale-low pointer below the committed-directory max.
    */
  private def flipPointer(f: FileSystem, base: HPath, next: Long,
      op: String): Unit = {
    val ptr = new HPath(base, "_latest")
    var attempts = 0
    while (attempts < MaxCommitAttempts) {
      attempts += 1
      val tmp = new HPath(base, s"._latest.tmp.$next")
      val out = f.create(tmp, true)
      try out.write(next.toString.getBytes("UTF-8")) finally out.close()
      if (f.exists(ptr)) f.delete(ptr, false)
      if (f.rename(tmp, ptr)) return
      f.delete(tmp, false)
      if (readPointer(f, base).exists(_ >= next)) return
    }
    System.err.println(s"[graft] $op: pointer flip for $base lost " +
      s"$MaxCommitAttempts races; readers fall back to the committed-" +
      "directory scan (correct, two extra lists) until the next commit")
  }

  /** The `_latest` pointer's value, if present and well-formed. A racer
    * may delete the pointer between the existence check and the open
    * (the flip's delete→rename gap), which reads as absent, not an
    * error — callers all tolerate a missing pointer.
    */
  private def readPointer(f: FileSystem, base: HPath): Option[Long] = {
    val ptr = new HPath(base, "_latest")
    try {
      if (!f.exists(ptr)) None
      else {
        val in = f.open(ptr)
        try {
          val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          if (s.nonEmpty && s.forall(_.isDigit)) Some(s.toLong) else None
        } finally in.close()
      }
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Newest committed version under `base`: the `_latest` pointer when
    * present, validated against (and never below) the highest committed
    * numbered directory — so a crash between the slot claim and the
    * pointer flip still serves the committed data.
    */
  private def latestIn(f: FileSystem, base: HPath): Option[Long] =
    (committedVersions(f, base) ++ readPointer(f, base)).reduceOption(_ max _)

  // ------------------------------------------------- deployment pins

  /** Atomic DEPLOYMENT PIN: the set of (artifact, version) pairs a
    * serving tier should answer from, committed as ONE tiny bundle with
    * one member, `pins` ([[commitBundle]] — a handful of rows, atomic
    * like any commit). This closes the cross-STORE consistency gap the
    * per-bundle protocol cannot: each bundle's commits are atomic, but
    * a maintenance action spanning SEVERAL stores (a takedown hitting
    * the text index and the ANN index of one stack) is necessarily two
    * commits, and a serve resolving each store's `latest` independently
    * between them sees SKEW — the removed ids already gone from one
    * retrieval side, still served by the other. A serve that resolves
    * its versions through ONE committed deployment pin can never skew:
    * maintenance retracts every store first and flips the pin LAST, one
    * atomic pointer for the whole stack (the per-store flips become
    * invisible staging). A pin is a long-lived READER: pass the live
    * pins' versions to [[pruneBundleVersions]] / [[bundleHealth]]
    * `pinned` and retention keeps them (with everything their
    * manifests reference) regardless of the keep window — enforced by
    * the prune's own decision path, not operator arithmetic
    * (CatalogSpec pins survive-then-reclaim-after-the-pin-moves).
    */
  def commitDeployment(spark: SparkSession, root: String, name: String,
      pins: Map[String, Long], validate: Boolean = true,
      expectedVersion: Option[Long] = None): Long = {
    require(pins.nonEmpty, "commitDeployment: no pins")
    // a pin is published ONCE and trusted by every serve and prune that
    // resolves it — validate at the flip, not at the thousand reads: a
    // typo'd artifact name or a stale/never-committed version must fail
    // HERE, before the pointer moves, not when a serve errors
    // per-artifact or a retention caller silently loses the protection.
    // `validate = false` is the escape hatch for pinning artifacts that
    // are not bundles under this root (none in this engine today).
    if (validate) pins.toSeq.sortBy(_._1).foreach { case (art, v) =>
      try { bundleManifest(spark, root, art, Some(v)); () }
      catch { case e: Exception =>
        sys.error(s"commitDeployment: pin '$art' -> $v does not resolve " +
          s"to a committed bundle version under $root (${e.getMessage}) " +
          "— refusing to publish a broken deployment")
      }
    }
    import spark.implicits._
    // `expectedVersion` = the deployment version the caller's pins were
    // DERIVED from — the compare-and-set of [[commitBundle]]'s
    // `supersedes`: a maintenance flip computed against a stale read
    // refuses loudly instead of silently discarding the racing operator's
    // retractions. None = an independent forward flip (first publish,
    // routine re-pin).
    commitBundle(Seq("pins" ->
      pins.toSeq.sortBy(_._1).toDF("artifact", "version").repartition(1)),
      root, deploymentRef(name), supersedes = expectedVersion)
  }

  /** Deployments live under a dedicated `_deployments/` namespace so
    * retention can DISCOVER every live pin set under a root
    * ([[listDeployments]]) instead of trusting each prune caller to
    * enumerate them — the underscore prefix also hides the namespace
    * from any recursive data scan, like every other protocol file.
    *
    * The name charset is a strict allowlist because the name becomes a
    * path segment: '/' or '..' would commit OUTSIDE the `_deployments/`
    * namespace, invisible to [[listDeployments]] and therefore
    * unprotected by derived retention, and ':' breaks Hadoop path
    * parsing. Refuse loudly at the flip instead.
    *
    * On-disk layout note: a pin-set history is the bundle
    * `_deployments/<name>_bundle`. One persisted in an older layout
    * (`root/<name>_versions` or `_deployments/<name>_versions`, committed
    * under `_SUCCESS` markers) is NOT read back (readDeployment errors,
    * listDeployments omits it) and its pins lose derived-retention
    * protection; re-commit its pin set before any
    * [[pruneBundleVersionsDeployed]] run.
    */
  private def deploymentRef(name: String): String = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"deployment name must match [A-Za-z0-9_-]+, got '$name' — it is a " +
        "path segment under the _deployments/ namespace")
    s"_deployments/$name"
  }

  /** Newest committed version of a deployment's pin-set history — what
    * a maintenance flip reads before a compare-and-set commit
    * ([[takedownStack]], [[rollbackDeployment]]), and what a follow-mode
    * serve resolves once per batch so a flip is visible only at a batch
    * boundary ([[graft.streaming.ServeStream]]).
    */
  def latestDeploymentVersion(spark: SparkSession, root: String,
      name: String): Option[Long] =
    latestBundleVersion(spark, root, deploymentRef(name))

  /** Read a deployment pin set (`None` = the current deployment) —
    * bounded at a row per artifact; refuses duplicates loudly. Read with
    * the member's recorded schema, so no Parquet footer is opened.
    */
  def readDeployment(spark: SparkSession, root: String, name: String,
      version: Option[Long] = None): Map[String, Long] = {
    import org.apache.spark.sql.functions.col
    val ref = deploymentRef(name)
    // the current deployment is resolved on every call (a flip or a
    // rollback shows on the next serve); only the immutable pin set of
    // the resolved version is memoized
    val v = resolveVersion(spark, root, ref, version, "readDeployment")
    memoAtBundle(spark, root, ref, v, "pins") {
      val rows = readBundleTable(spark, root, ref, "pins", Some(v))
        .select(col("artifact"), col("version"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val m = rows.toMap
      require(m.size == rows.length,
        s"readDeployment: duplicate artifact rows in '$name' under $root")
      m
    }
  }

  /** Every deployment name with at least one committed pin set under
    * `root` — the discovery that lets retention derive the live pins
    * itself ([[deployedPins]]) instead of trusting the caller.
    */
  def listDeployments(spark: SparkSession, root: String): Seq[String] = {
    val base = new HPath(s"${root.stripSuffix("/")}/_deployments")
    val f = fsFor(spark, base)
    if (!f.exists(base)) return Seq.empty
    f.listStatus(base).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.endsWith("_bundle"))
      .map(_.getPath.getName.stripSuffix("_bundle")).sorted
      .filter(n => latestDeploymentVersion(spark, root, n).isDefined)
  }

  /** The bundle versions some LIVE deployment under `root` currently
    * pins `bundle` at — the union over every deployment's newest
    * committed pin set. Older pin-set versions are deliberately NOT
    * protected (they are history, not commitments); an in-flight serve
    * that resolved a pre-flip deployment is covered by the prune's
    * `minAgeMs` reader grace, same as any time-travel reader.
    */
  def deployedPins(spark: SparkSession, root: String,
      bundle: String): Set[Long] =
    listDeployments(spark, root)
      .flatMap(d => readDeployment(spark, root, d).get(bundle)).toSet

  /** [[pruneBundleVersions]] with `pinned` DERIVED from the live
    * deployments under `root` ([[deployedPins]]) instead of passed by
    * the caller — the retention entry point a serving stack should run:
    * a forgotten pin set is no longer possible, because the prune reads
    * the same committed deployment tables the serves resolve. Shares
    * [[bundleVictims]], so dry-run ([[bundleHealth]] with the same
    * derived set) and action can never disagree.
    */
  def pruneBundleVersionsDeployed(spark: SparkSession, root: String,
      bundle: String, keep: Int, minAgeMs: Long = 0L): Unit =
    pruneBundleVersions(spark, root, bundle, keep, minAgeMs,
      pinned = deployedPins(spark, root, bundle))

  /** The dry-run matching [[pruneBundleVersionsDeployed]]: the health
    * report with `pinned` derived the same way, so operators of a
    * deployed stack read the report the prune will act on — same
    * report-equals-action contract as every health/prune pair.
    */
  def bundleHealthDeployed(spark: SparkSession, root: String,
      bundle: String, keep: Int, minAgeMs: Long = 0L): DataFrame =
    bundleHealth(spark, root, bundle, keep, minAgeMs,
      pinned = deployedPins(spark, root, bundle))

  /** ROLL BACK the deployment pointer to a prior pin set — the incident
    * response after a bad maintenance action (a takedown that removed
    * the wrong ids, a reindex that tanked recall): deployment version
    * `toVersion`'s pins re-commit as the NEW latest. History stays
    * immutable and monotone — a rollback is an ordinary forward commit
    * of old pins, so the audit trail of what served when survives, and
    * serves flip back without touching any store (the old bundle
    * versions are still on disk: while they were pinned, retention kept
    * them, and the moment the rollback lands they are pinned AGAIN —
    * [[deployedPins]] re-protects them mechanically). Validation
    * re-runs at the flip: if a version the old pin set names is gone
    * (the documented zero-grace-prune-after-flip unsafe path), the
    * rollback refuses LOUDLY instead of publishing pins that serve
    * errors. The flip compare-and-sets against the history as read at
    * entry (see [[takedownStack]]'s concurrency note) — a racing
    * maintenance flip refuses this stale rollback rather than being
    * silently undone by it. Returns the new deployment version.
    */
  def rollbackDeployment(spark: SparkSession, root: String, name: String,
      toVersion: Long): Long = {
    // compare-and-set against the latest version at entry: the operator
    // decided to roll back after looking at THIS history — if another
    // maintenance flip lands before ours, that decision is stale (the
    // racer's change would vanish from the served set) and must be
    // re-taken against the new history, not silently overridden
    val cur = resolveVersion(spark, root, deploymentRef(name), None,
      "rollbackDeployment")
    commitDeployment(spark, root, name,
      readDeployment(spark, root, name, Some(toVersion)),
      expectedVersion = Some(cur))
  }

  /** Re-align a deployment's STORES with its pins — the bridge between
    * [[rollbackDeployment]] and forward maintenance. After a rollback,
    * serves answer the old pins but each store's LATEST is still the
    * bad maintenance result; the forward verbs (retracts, appends'
    * baseline) derive from latest, so the incident's next step — the
    * CORRECTED takedown — would silently compound the wrong retraction
    * it was meant to replace. This restores every pinned artifact whose
    * pin is not the store's latest ([[restoreBundleVersion]] — a
    * manifest-only by-reference commit per store) and re-pins the
    * deployment to the restored versions in one compare-and-set flip,
    * after which latest ≡ served for the whole stack and ordinary
    * forward maintenance ([[takedownStack]]) is correct again.
    *
    * Same discipline as [[takedownStack]]: per-store restores commit
    * first (invisible staging — serves keep resolving the old pins),
    * the pin flips LAST and CAS-refuses if any maintenance flip raced
    * this one. Idempotent: a stack already aligned commits nothing.
    * Returns the (possibly re-pinned) pin set.
    */
  def realignStack(spark: SparkSession, root: String,
      deployment: String): Map[String, Long] = {
    val depV = resolveVersion(spark, root, deploymentRef(deployment), None,
      "realignStack")
    val pins = readDeployment(spark, root, deployment, Some(depV))
    val newPins = pins.toSeq.sortBy(_._1).map { case (art, pv) =>
      val latest = resolveVersion(spark, root, art, None, "realignStack")
      art -> (if (latest == pv) pv
              else restoreBundleVersion(spark, root, art, pv))
    }.toMap
    if (newPins != pins)
      commitDeployment(spark, root, deployment, newPins,
        expectedVersion = Some(depV))
    newPins
  }

  /** Retention for the deployment history ITSELF — each flip is a tiny
    * committed version, but a stack that flips hourly accumulates
    * thousands, and the history IS the rollback horizon: `keep` bounds
    * how far back [[rollbackDeployment]] can reach (it reads the
    * pin-set history, not the bundles), so set it to the incident
    * window the stack needs, not 1. The current deployment is never
    * dropped: this is [[pruneBundleVersions]] on the namespaced pin-set
    * bundle — same `minAgeMs` reader grace, same victim arithmetic.
    */
  def pruneDeploymentHistory(spark: SparkSession, root: String,
      name: String, keep: Int, minAgeMs: Long = 0L): Unit =
    pruneBundleVersions(spark, root, deploymentRef(name), keep, minAgeMs)

  /** The dry-run matching [[pruneDeploymentHistory]] — [[bundleHealth]]
    * over the namespaced pin-set bundle, same report-equals-action
    * contract.
    */
  def deploymentHealth(spark: SparkSession, root: String, name: String,
      keep: Int, minAgeMs: Long = 0L): DataFrame =
    bundleHealth(spark, root, deploymentRef(name), keep, minAgeMs)

  /** One health report for the WHOLE deployed stack — the union
    * operating a deployment actually asks for ("is this stack safe to
    * prune?") instead of N per-artifact calls whose union is the
    * answer: every pinned artifact's [[bundleHealthDeployed]] report
    * (pins derived from the live deployments, like the prune) plus the
    * pin-set history's own [[deploymentHealth]] report, each row tagged
    * with an `artifact` column (history rows as `_history`). Built BY
    * CALLING the per-component reports, which share their decision
    * functions with the prunes — so this report ≡ the action of
    * [[pruneBundleVersionsDeployed]] on every artifact plus
    * [[pruneDeploymentHistory]] with the same arguments, stack-wide.
    *
    * `keep` applies per artifact; `historyKeep` (default `keep`) bounds
    * the pin-set history — the rollback horizon, usually set wider than
    * the per-store keep window.
    */
  def stackHealth(spark: SparkSession, root: String, deployment: String,
      keep: Int, minAgeMs: Long = 0L,
      historyKeep: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val pins = readDeployment(spark, root, deployment)
    val parts = pins.keys.toSeq.sorted.map { art =>
      bundleHealthDeployed(spark, root, art, keep, minAgeMs)
        .withColumn("artifact", lit(art))
    } :+ deploymentHealth(spark, root, deployment,
      historyKeep.getOrElse(keep), minAgeMs)
      .withColumn("artifact", lit("_history"))
    val unioned = parts.reduce(_ unionByName _)
    unioned.select(col("artifact") +:
      unioned.columns.filterNot(_ == "artifact").toIndexedSeq.map(col): _*)
  }

  /** Cross-store TAKEDOWN as one tested library path — the x194
    * discipline (retract EVERY pinned artifact first, flip the
    * deployment pin LAST) executed by the operator instead of promised
    * by it. `retract` maps each artifact to a function from its
    * currently-pinned version to the NEW committed version its
    * retraction produced (e.g. `_ => TextIndex.retractBundle(...)`).
    *
    * Ordering contract: retractions run in ASCENDING artifact-name
    * order (the map is sorted before execution) — part of the API, not
    * an accident, so callers that embed observations inside a retract
    * closure (x194/x195 take their mid-maintenance serve inside the
    * LAST artifact's closure) can rely on which retractions have
    * already committed when theirs runs.
    *
    * Concurrency: the flip is a COMPARE-AND-SET against the deployment
    * version read at entry ([[commitDeployment]] `expectedVersion`) —
    * two racing maintenance operators (a scheduled takedown racing an
    * operator rollback, or two takedowns) can no longer both "succeed"
    * with the last flip silently discarding the first one's
    * retractions: exactly one lands, the loser refuses loudly naming
    * the interleaving and retries against the new pin set. The loser's
    * already-committed store retractions are superseding versions the
    * un-flipped pins simply never serve — no cleanup needed.
    *
    * Refuses PARTIAL application: the retract map must cover exactly
    * the deployment's pinned artifacts — retracting one side and
    * flipping would re-open the exact skew window the pin exists to
    * close (removed ids gone from one retrieval side, still served by
    * the other). Crash-safe by construction: the pin flips only after
    * every retraction committed, so a failure anywhere leaves the
    * deployment — and every serve resolving it — on the pre-takedown
    * pin set, answering pre-takedown versions that retention keeps
    * (they are still the live pins). Returns the new pin set.
    */
  def takedownStack(spark: SparkSession, root: String, deployment: String,
      retract: Map[String, Long => Long]): Map[String, Long] = {
    // resolve the deployment version ONCE: the pins below are read at
    // it, and the final flip compare-and-sets against it — a concurrent
    // maintenance flip (another takedown, an operator rollback) landing
    // between this read and the commit refuses loudly instead of having
    // its change silently discarded by our stale pin set
    val depV = resolveVersion(spark, root, deploymentRef(deployment), None,
      "takedownStack")
    val pins = readDeployment(spark, root, deployment, Some(depV))
    require(retract.keySet == pins.keySet,
      s"takedownStack: retractions ${retract.keySet.toSeq.sorted} must " +
        s"cover exactly the deployment's pinned artifacts " +
        s"${pins.keySet.toSeq.sorted} — a partial takedown would flip " +
        "the pin while an uncovered artifact still serves the removed rows")
    val newPins = retract.toSeq.sortBy(_._1).map { case (art, fn) =>
      art -> fn(pins(art))
    }.toMap
    commitDeployment(spark, root, deployment, newPins,
      expectedVersion = Some(depV))
    newPins
  }

  // ----------------------------------------------- versioned bundles

  /** Root of a versioned BUNDLE: one immutable numbered directory per
    * committed version, each holding EVERY member table, plus a
    * `_latest` pointer.
    */
  def bundleDir(root: String, bundle: String): String =
    s"${root.stripSuffix("/")}/${bundle}_bundle"

  /** Parsed bundle manifest: the ingested batch ids, per member table
    * the base-relative data directories its rows live in, per member its
    * Hive partition columns (empty = flat), and per member its data
    * schema. Partitioning is a CREATE-time layout decision recorded IN the
    * manifest so appends and compaction can never silently flatten a
    * directory layout a serving index prunes by.
    *
    * The schema (one `#schema=<ref>\t<StructType json>` line per member)
    * holds the data columns only: the written frame's schema minus the
    * member's partition columns, whose types Spark infers from the
    * directory names as before, with no job. Every commit verb records or
    * carries it, and [[readBundleTable]] reads with it, so no member read
    * opens a Parquet footer. Stores written before manifests recorded
    * schemas fail on read, naming the member, and must be rebuilt.
    */
  final case class BundleManifest(batches: Seq[String],
      dirs: Map[String, Seq[String]],
      parts: Map[String, Seq[String]] = Map.empty,
      schemas: Map[String, StructType] = Map.empty) {

    /** The member's recorded data schema; loud when the manifest has none. */
    def schema(ref: String): StructType = schemas.getOrElse(ref, sys.error(
      s"bundle manifest records no schema for member '$ref' — the store " +
        "predates schema-recording manifests; rebuild it"))
  }

  /** The data columns of a member frame: its schema minus the member's
    * partition columns — what a manifest records as the member's schema.
    */
  private def dataSchema(df: DataFrame, parts: Seq[String]): StructType =
    StructType(df.schema.filterNot(f => parts.contains(f.name)))

  /** `t` with every field, element and value nullable — the form a file
    * read returns, so recorded and offered schemas compare in it.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** (Re)write a staged bundle manifest. The manifest body references
    * version-NUMBERED data directories, so the optimistic claim loop
    * rewrites it per attempted version number; atomicity comes from the
    * staging-directory rename that publishes manifest and member file
    * sets in one metadata operation ("committed" = the manifest exists,
    * and it can only appear together with the data it lists).
    */
  private def writeStagedManifest(f: FileSystem, staging: HPath,
      m: BundleManifest): Unit = {
    val partsLine =
      if (m.parts.isEmpty) Seq.empty
      else Seq("#parts=" + m.parts.toSeq.sortBy(_._1)
        .map { case (ref, cols) => s"$ref:${cols.mkString("|")}" }
        .mkString(","))
    val schemaLines = m.schemas.toSeq.sortBy(_._1)
      .map { case (ref, s) => s"#schema=$ref\t${s.json}" }
    val body = ((s"#batches=${m.batches.mkString(",")}" +: partsLine) ++
      schemaLines ++ m.dirs.toSeq.sortBy(_._1).flatMap { case (ref, ds) =>
        ds.map(d => s"$ref\t$d")
      }).mkString("\n")
    val out = f.create(new HPath(staging, "_manifest"), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  /** Read a committed version's manifest. */
  def bundleManifest(spark: SparkSession, root: String, bundle: String,
      version: Option[Long] = None): BundleManifest = {
    val base = bundleDir(root, bundle)
    val v = resolveVersion(spark, root, bundle, version, "bundleManifest")
    memoAtBundle(spark, root, bundle, v, "manifest") {
      val manifest = new HPath(s"$base/$v/_manifest")
      val f = fsFor(spark, manifest)
      require(f.exists(manifest),
        s"bundleManifest: version $v at $base is not committed")
      val in = f.open(manifest)
      val lines = try
        scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
      val batches = lines.headOption.filter(_.startsWith("#batches="))
        .map(_.stripPrefix("#batches=")).filter(_.nonEmpty)
        .map(_.split(",").toSeq).getOrElse(Seq.empty)
      val parts = lines.find(_.startsWith("#parts="))
        .map(_.stripPrefix("#parts=")).filter(_.nonEmpty)
        .map(_.split(",").toSeq.map { e =>
          val Array(ref, cols) = e.split(":", 2)
          ref -> cols.split("\\|").toSeq
        }.toMap).getOrElse(Map.empty[String, Seq[String]])
      val schemas = lines.filter(_.startsWith("#schema=")).map { l =>
        val Array(ref, json) = l.stripPrefix("#schema=").split("\t", 2)
        ref -> DataType.fromJson(json).asInstanceOf[StructType]
      }.toMap
      val dirs = lines.filterNot(_.startsWith("#"))
        .map { l => val Array(ref, d) = l.split("\t", 2); (ref, d) }
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      BundleManifest(batches, dirs, parts, schemas)
    }
  }

  /** One member's staged write, honoring the bundle's declared partition
    * columns — the single write shape [[commitBundle]] and
    * [[appendBundle]] share, so a partitioned member's directory layout
    * (the thing a serving index prunes by) is identical at create,
    * append, and compaction. Returns the member's data schema, which the
    * manifest records.
    */
  private def writeMember(staging: HPath, ref: String, df: DataFrame,
      parts: Map[String, Seq[String]]): StructType = {
    val cs = parts.get(ref).filter(_.nonEmpty)
    // REBALANCE before the write (optimization guide §6 "coalesce on
    // write"): a member written straight off a W-partition frame leaves up
    // to W files under EVERY partition directory (a 32-partition postings
    // frame × 16 shard dirs = ~500 tiny files per commit, and the
    // per-file open/commit overhead dominated the store family's member
    // writes). Rebalancing on the partition columns first gives one
    // size-bounded file set per directory: with AQE on (every engine
    // session) the exchange coalesces small partitions AND splits
    // oversized ones at `advisoryPartitionSizeInBytes`, so the same code
    // writes few-files-per-dir locally and ~advisory-sized files at
    // cluster scale — never one giant file per hot shard. Unpartitioned
    // members get the keyless form (small snapshots collapse to one file).
    // Row placement is the only thing that changes; the table's content,
    // the directory layout serves prune by, and the manifest are
    // identical.
    val balanced = cs.fold(df.hint("rebalance"))(c =>
      df.hint("rebalance", c.map(org.apache.spark.sql.functions.col): _*))
    val w = balanced.write.mode(SaveMode.Overwrite)
    cs.fold(w)(c => w.partitionBy(c: _*))
      .parquet(s"$staging/${tableName(ref)}.parquet")
    dataSchema(df, cs.getOrElse(Nil))
  }

  /** Atomic commit of one or more member tables as the bundle's next
    * version — the store's one commit protocol. A versioned table is a
    * bundle with one member (`commitBundle(Seq(ref -> df), root, ref)`,
    * read back with `readBundleTable(spark, root, ref, ref, v)`), and so
    * is a deployment pin set ([[commitDeployment]]). Member data lands
    * ONCE in a hidden staging directory; then an O(1) directory rename
    * claims the next version slot, so the numbered directory appears
    * atomically WITH the `_manifest` naming the members' data directories
    * ([[claimVersionSlot]]), and only then does the `_latest` pointer
    * flip. "Committed" = the manifest exists. A crash anywhere leaves
    * readers on the previous version, or on the new one if its rename
    * landed — monotone, never partial, because [[latestBundleVersion]]
    * falls back to the highest committed directory whenever the pointer
    * is missing or stale-low, and readers resolving every member through
    * [[readBundleTable]] can never observe table A at version n and table
    * B at n−1. Old versions stay readable (time travel) until
    * [[pruneBundleVersions]] retention. A full-snapshot commit; it resets
    * the batch-ingest history ([[appendBundle]] grows it).
    *
    * Concurrency: OPTIMISTIC multi-writer. Racing writers compute the
    * same `next`; one rename wins the slot, the loser detects the loss
    * via its ownership marker (`_writer-<token>`, an underscore-hidden
    * empty file that rides in the staged data — local/HDFS `rename` into
    * a directory created concurrently NESTS the source instead of
    * failing, so success must be verified, not assumed), re-reads the
    * latest version, and re-claims under a bumped number — the data is
    * never rewritten, each retry rewrites only the tiny manifest and is
    * one rename. Racing committers both land, as distinct versions. A
    * crashed writer leaves only an ignorable `.staging-*` directory
    * (reclaimed by [[pruneBundleVersions]]), never a blocked version slot.
    *
    * MULTI-writer claims additionally require ATOMIC directory rename
    * (posix/HDFS). On object stores, where connectors emulate rename
    * as copy+delete, two racers can interleave one slot (the
    * uncommitted-target clear destroys a racer's in-flight copy) —
    * USUALLY detected loudly via the foreign-marker check in
    * [[claimVersionSlot]] (proven by CatalogSpec's shim), but the
    * check is best-effort: a racer whose marker copy lands after our
    * listing, or whose marker was destroyed mid-flight leaving only
    * data files, interleaves undetected. Single-writer per store is
    * the REQUIREMENT on non-atomic-rename filesystems; coordinate
    * commits externally otherwise (the same caveat class as
    * [[atomicSwap]]).
    *
    * `supersedes` turns the both-land semantics into a COMPARE-AND-SET:
    * a snapshot REPLACING a specific prior version (a compaction, a
    * rebuild-from-read, a deployment flip derived from the pins it read)
    * passes that version; the claim then verifies, atomically at every
    * attempt, that the new version lands directly on top of it — else it
    * fails LOUDLY. Without it, a batch appended between the compaction's
    * read and its commit would survive as a ledger id whose data the
    * compacted snapshot silently dropped, and a maintenance flip would
    * silently discard a racing operator's change ([[takedownStack]],
    * [[rollbackDeployment]]). `None` (the default) keeps the
    * racing-committers-both-land semantics for independent snapshots.
    */
  def commitBundle(tables: Seq[(String, DataFrame)], root: String,
      bundle: String, batchIds: Seq[String] = Nil,
      partitionBy: Map[String, Seq[String]] = Map.empty,
      supersedes: Option[Long] = None): Long = {
    require(tables.nonEmpty, "commitBundle: no member tables")
    require(tables.map(_._1).distinct.size == tables.size,
      s"commitBundle: duplicate member refs in ${tables.map(_._1)}")
    require(partitionBy.keySet.subsetOf(tables.map(_._1).toSet),
      s"commitBundle: partitionBy names non-members " +
        s"${partitionBy.keySet -- tables.map(_._1)}")
    val spark = tables.head._2.sparkSession
    val base = new HPath(bundleDir(root, bundle))
    val f = fsFor(spark, base)
    val token = newCommitToken()
    val staging = new HPath(base, s".staging-$token")
    // members are independent file sets under one staging dir — write
    // them as overlapped jobs (guide §2.6): each small write is
    // fixed-overhead-dominated (plan, codegen, task launch, commit), and
    // nothing below reads a member until the manifest names them all
    val schemas = graft.tools.Par.run(tables) { case (ref, df) =>
      ref -> writeMember(staging, ref, df, partitionBy) }.toMap
    f.create(new HPath(staging, s"_writer-$token"), true).close()
    // batchIds seeds the ingest ledger: a snapshot BUILT from a batch
    // (the streaming twin's first micro-batch) records that batch's id,
    // so its post-crash replay is rejected by the same manifest check
    val next = claimVersionSlot(f, base, staging, token, "commitBundle") { (n, st) =>
      // next = newest committed + 1, so newest committed = n − 1: a
      // superseding snapshot that is not landing directly on top of the
      // version it was computed from would silently drop whatever landed
      // in between — refuse and let the caller re-read and retry
      supersedes.foreach { pv =>
        if (n - 1 != pv)
          sys.error(s"commitBundle: compare-and-set failed for '$bundle' " +
            s"under $root — the store advanced past superseded version $pv " +
            s"(newest committed is ${n - 1}): a concurrent writer flipped " +
            "it while this snapshot was being computed, and landing it " +
            "would silently discard that change; re-read and retry")
      }
      writeStagedManifest(f, st, BundleManifest(batchIds,
        tables.map { case (ref, _) =>
          ref -> Seq(s"$n/${tableName(ref)}.parquet")
        }.toMap, partitionBy, schemas))
      true
    }
    flipPointer(f, base, next, "commitBundle")
    next
  }

  /** Atomic LEDGERED batch append — the shape that closes the ingest
    * ledgers' replay residual FOR GOOD: each member's batch rows land
    * as a NEW immutable file set inside the next version directory (the
    * resident data is never rewritten — the new manifest lists the old
    * file sets plus the new ones), the batch id is recorded IN the
    * manifest, and manifest-rename + pointer-flip publish data and
    * ledger in one atomic step. A replayed batch id returns false with
    * the store untouched, and — unlike the marker-file ledgers, whose
    * append→marker gap replays on a crash between them — there is NO
    * window where data committed but the ledger entry didn't: they are
    * the same file.
    *
    * Concurrency: optimistic, like [[commitBundle]]. The batch file
    * sets write ONCE into staging; each claim attempt re-reads the
    * NEWEST manifest (a racing append may have advanced it) and rebuilds
    * the merged manifest against it, so two concurrent appends of
    * different batches both land, serialized by the slot rename — and a
    * racer that committed the SAME batch id first turns this call into
    * the ordinary replay-rejected false, checked again atomically at
    * every claim attempt.
    *
    * `pinned = Some((v, refs))`: the batch was ENCODED against member
    * tables read at version `v` (an ANN batch assigned/coded against
    * v's quantizer and codebooks, a dedup batch matched against v's
    * bucket index); the claim then verifies, atomically at every
    * attempt, that each named ref's file-set list is UNCHANGED since
    * `v` — else it fails LOUDLY instead of committing rows that are
    * inconsistent with the store they land in (codes a retrained
    * quantizer decodes to wrong vectors, pairs that missed a racing
    * batch's buckets). Appends to members NOT named still interleave
    * freely.
    *
    * Each batch frame's data schema must equal its member's recorded one
    * (nullability aside) — a renamed, retyped, added or dropped column
    * fails loudly before anything is staged, since the member is read
    * with the recorded schema and would otherwise silently null-fill.
    */
  def appendBundle(tables: Seq[(String, DataFrame)], root: String,
      bundle: String, batchId: String,
      pinned: Option[(Long, Seq[String])] = None): Boolean = {
    require(tables.nonEmpty, "appendBundle: no member tables")
    require(batchId.nonEmpty && !batchId.contains(",") && !batchId.contains("\n"),
      s"appendBundle: batchId must be a plain name, got '$batchId'")
    val spark = tables.head._2.sparkSession
    val base = new HPath(bundleDir(root, bundle))
    val f = fsFor(spark, base)
    // cheap pre-check before any data work; the authoritative check
    // re-runs inside every claim attempt below. The manifest's declared
    // partition columns apply to the staged batch writes too — an append
    // can never flatten a partitioned member's layout.
    val pre = bundleManifest(spark, root, bundle)
    if (pre.batches.contains(batchId)) return false
    // a pinned version's manifest is immutable — read it once; the
    // comparison against the CURRENT manifest re-runs per claim attempt
    val pinnedDirs = pinned.map { case (pv, refs) =>
      val m = bundleManifest(spark, root, bundle, Some(pv))
      refs.foreach(r => require(m.dirs.contains(r),
        s"appendBundle: pinned ref '$r' not in bundle at version $pv"))
      refs.map(r => r -> m.dirs(r)).toMap
    }
    def checkPinned(cur: BundleManifest): Unit = pinnedDirs.foreach(_.foreach {
      case (ref, ds) =>
        if (cur.dirs.get(ref) != Some(ds))
          sys.error(s"appendBundle: member '$ref' advanced since pinned " +
            s"version ${pinned.get._1} — the batch was encoded against a " +
            "superseded table (racing retrain/compaction/takedown); " +
            "re-encode against the current version and retry")
    })
    def checkSchemas(cur: BundleManifest): Unit = tables.foreach {
      case (ref, df) if cur.dirs.contains(ref) =>
        val (got, want) = (dataSchema(df, cur.parts.getOrElse(ref, Nil)), cur.schema(ref))
        if (nullable(got) != nullable(want))
          sys.error(s"appendBundle: batch for member '$ref' has data schema " +
            s"${got.simpleString}, the member records ${want.simpleString}")
      case _ => // unknown members fail in the claim below
    }
    checkPinned(pre)
    checkSchemas(pre)
    val token = newCommitToken()
    val staging = new HPath(base, s".staging-$token")
    // independent member file sets — overlapped like commitBundle's
    graft.tools.Par.run(tables) { case (ref, df) =>
      writeMember(staging, ref, df, pre.parts) }
    f.create(new HPath(staging, s"_writer-$token"), true).close()
    val next = claimVersionSlot(f, base, staging, token, "appendBundle") { (n, st) =>
      val prior = bundleManifest(spark, root, bundle)
      if (prior.batches.contains(batchId)) false
      else {
        checkPinned(prior)
        require(tables.forall { case (ref, _) => prior.dirs.contains(ref) },
          s"appendBundle: unknown member in ${tables.map(_._1)} " +
            s"(bundle has ${prior.dirs.keys})")
        checkSchemas(prior)
        val merged = prior.dirs.map { case (ref, ds) =>
          ref -> (if (tables.exists(_._1 == ref))
            ds :+ s"$n/${tableName(ref)}.parquet" else ds)
        }
        writeStagedManifest(f, st, prior.copy(batches = prior.batches :+ batchId,
          dirs = merged))
        true
      }
    }
    if (next < 0) false
    else { flipPointer(f, base, next, "appendBundle"); true }
  }

  /** Bundle compaction — after many [[appendBundle]] batches every
    * member is a list of small file sets; rewrite each member as ONE
    * snapshot file set in a new committed version, PRESERVING the batch
    * ledger (the manifest's batch ids carry over — compaction must not
    * make replayed batches ingestable again). Published with the same
    * manifest-rename + pointer-flip atomicity; older versions remain
    * readable until [[pruneBundleVersions]] retention.
    */
  def compactBundle(spark: SparkSession, root: String,
      bundle: String): Long = {
    // resolve ONE version and read every member at it — resolving
    // latest per member would let a racing commit tear the snapshot —
    // and pass it as `supersedes` so a batch that lands between this
    // read and the commit fails the compaction loudly instead of
    // having its data silently dropped from the compacted snapshot
    val pv = resolveVersion(spark, root, bundle, None, "compactBundle")
    val prior = bundleManifest(spark, root, bundle, Some(pv))
    commitBundle(
      prior.dirs.keys.toSeq.sorted.map(ref =>
        ref -> readBundleTable(spark, root, bundle, ref, Some(pv))),
      root, bundle, prior.batches, prior.parts, supersedes = Some(pv))
  }

  /** Restore a PRIOR bundle version as the new latest — the STORE-level
    * incident-response verb that completes [[rollbackDeployment]]: a
    * deployment rollback flips serves back to old pins in one commit,
    * but the store's LATEST is still the bad maintenance result, and
    * every forward maintenance verb ([[rewriteBundleMembers]] and the
    * per-store retracts built on it) derives from latest — a corrected
    * takedown run directly after a rollback would compound the wrong
    * retraction instead of replacing it. This re-commits `toVersion`'s
    * MANIFEST as a new version whose member file sets carry BY
    * REFERENCE (a manifest-only commit — no member is read or
    * rewritten; O(manifest) at any store size, the same reference
    * mechanics appends use), so history stays immutable and monotone:
    * the bad version remains readable time-travel until retention.
    *
    * The batch ledger carries from `toVersion` — the store IS that
    * version again, data and replay guard consistent: a batch ingested
    * before `toVersion` stays rejected on replay, while a batch that
    * landed AFTER it leaves the ledger together with its data (re-
    * ingesting it is the correct recovery, and the restore-then-retract
    * composition the deployment runbook describes has no such batches).
    *
    * Compare-and-set like [[commitBundle]]'s `supersedes`: refuses
    * loudly if any commit lands between reading the current latest and
    * the claim — a racing append's data must not be silently shadowed
    * by the restored manifest. Also validates AT THE FLIP that every
    * file set `toVersion` references still exists (a manifest can
    * outlive its references through the reader-grace edge) — same
    * principle as [[commitDeployment]]'s pin validation: refuse here,
    * not at the thousand member reads that would serve errors.
    */
  def restoreBundleVersion(spark: SparkSession, root: String,
      bundle: String, toVersion: Long): Long = {
    val base = new HPath(bundleDir(root, bundle))
    val f = fsFor(spark, base)
    val cur = resolveVersion(spark, root, bundle, None, "restoreBundleVersion")
    val m = bundleManifest(spark, root, bundle, Some(toVersion))
    // validate at the flip (like commitDeployment's pin check): a
    // manifest can outlive file sets it references through the
    // reader-grace edge (an append's manifest kept by grace while the
    // older directory it references aged out) — publishing it as the
    // new latest would serve errors on every member read
    m.dirs.toSeq.sortBy(_._1).foreach { case (ref, ds) =>
      ds.foreach { d =>
        if (!f.exists(new HPath(base, d)))
          sys.error(s"restoreBundleVersion: version $toVersion of " +
            s"'$bundle' references '$d' (member '$ref') which no longer " +
            "exists — retention reclaimed it; refusing to publish a " +
            "manifest that serves errors")
      }
    }
    val token = newCommitToken()
    val staging = new HPath(base, s".staging-$token")
    f.mkdirs(staging)
    f.create(new HPath(staging, s"_writer-$token"), true).close()
    val next = claimVersionSlot(f, base, staging, token, "restoreBundleVersion") {
      (n, st) =>
        if (n - 1 != cur)
          sys.error(s"restoreBundleVersion: store advanced past version " +
            s"$cur (newest committed is ${n - 1}) while restoring " +
            s"$toVersion — a racing commit would be silently shadowed " +
            "by the restored manifest; re-read and retry")
        writeStagedManifest(f, st, m)
        true
    }
    flipPointer(f, base, next, "restoreBundleVersion")
    next
  }

  /** Atomic selective-member REWRITE — the takedown/retraction shape a
    * production corpus store needs (contaminated-document removal,
    * copyright/right-to-be-forgotten deletes): each member named in
    * `rewrite` is read at the current version, transformed, and lands
    * as ONE new file set in the next version; members NOT named carry
    * forward by manifest reference — their resident file sets are
    * never read or rewritten, which is the difference between pricing
    * a takedown at O(affected members) and O(store). The batch ledger
    * carries over verbatim: a retraction must not reopen replayed
    * batches. Published with the same staged-rename + pointer-flip
    * atomicity as every commit — a reader sees the store entirely
    * before or entirely after the takedown, and older versions remain
    * time-travel-readable until [[pruneBundleVersions]] retention
    * (which is where the retracted rows physically leave disk — run it
    * after a takedown when the deletion must be durable on storage).
    * Partition columns declared in the manifest apply to the rewritten
    * members, so a takedown can never flatten a serving index's
    * pruning layout. The manifest records each rewritten frame's data
    * schema; untouched members keep theirs.
    */
  def rewriteBundleMembers(spark: SparkSession, root: String,
      bundle: String,
      rewrite: Map[String, DataFrame => DataFrame],
      version: Option[Long] = None): Long = {
    require(rewrite.nonEmpty, "rewriteBundleMembers: nothing to rewrite")
    // one resolved version for BOTH the baseline manifest and every
    // member read below — `prior` and the rewritten data can never
    // come from different versions, whatever commits race this call.
    // A caller whose rewrite fns themselves read OTHER members pins
    // the same version by resolving it first and passing `Some(v)`.
    val pv = resolveVersion(spark, root, bundle, version, "rewriteBundleMembers")
    val prior = bundleManifest(spark, root, bundle, Some(pv))
    require(rewrite.keySet.subsetOf(prior.dirs.keySet),
      s"rewriteBundleMembers: unknown member in ${rewrite.keys.toSeq} " +
        s"(bundle has ${prior.dirs.keys})")
    val base = new HPath(bundleDir(root, bundle))
    val f = fsFor(spark, base)
    val token = newCommitToken()
    val staging = new HPath(base, s".staging-$token")
    // rewrites are independent per member (every fn reads at the pinned
    // version `pv`, never a staged sibling) — overlapped (guide §2.6);
    // sorted order retained only to keep result-order deterministic
    val schemas = graft.tools.Par.run(rewrite.toSeq.sortBy(_._1)) { case (ref, fn) =>
      ref -> writeMember(staging, ref,
        fn(readBundleTable(spark, root, bundle, ref, Some(pv))), prior.parts)
    }.toMap
    f.create(new HPath(staging, s"_writer-$token"), true).close()
    val next = claimVersionSlot(f, base, staging, token, "rewriteBundleMembers") {
      (n, st) =>
        val cur = bundleManifest(spark, root, bundle)
        // the rewritten members were computed from `prior`'s file sets;
        // if a racing append advanced one of them since, publishing the
        // stale rewrite would silently DROP that batch — fail loudly
        // instead (a takedown racing live ingest is a coordination
        // error; the retraction is simply retried)
        rewrite.keys.foreach { ref =>
          if (cur.dirs(ref) != prior.dirs(ref))
            sys.error(s"rewriteBundleMembers: member '$ref' advanced " +
              s"during the rewrite (racing append) — retry the takedown")
        }
        writeStagedManifest(f, st, cur.copy(
          dirs = cur.dirs.map { case (ref, ds) =>
            ref -> (if (rewrite.contains(ref))
              Seq(s"$n/${tableName(ref)}.parquet") else ds)
          }, schemas = cur.schemas ++ schemas))
        true
    }
    flipPointer(f, base, next, "rewriteBundleMembers")
    next
  }

  // ------------------------------------------ retention and store health

  /** Retention for bundle versions: drop committed versions older than
    * the newest `keep`. `keep` counts COMMITTED versions only — a crashed
    * writer's garbage never consumes a retention slot; it is reclaimed
    * here instead, both uncommitted numbered directories and stale
    * `.staging-*` leftovers. The latest version is never dropped. Append
    * manifests REFERENCE file sets living in older version directories,
    * so this deletes only numbered directories that no kept manifest
    * references — after a [[compactBundle]] (whose snapshot references
    * only itself), all older directories become unreferenced and
    * reclaimable.
    *
    * `minAgeMs` is the reader grace period: nothing whose modification
    * time is younger than `now − minAgeMs` is deleted, regardless of the
    * keep count — so a long-running time-travel reader on an old version
    * keeps its files for at least that long after the version was
    * superseded. 0 (the default) reclaims immediately.
    */
  def pruneBundleVersions(spark: SparkSession, root: String,
      bundle: String, keep: Int, minAgeMs: Long = 0L,
      pinned: Set[Long] = Set.empty): Unit = {
    require(keep >= 1, s"pruneBundleVersions: keep=$keep must be >= 1")
    val base = new HPath(bundleDir(root, bundle))
    val f = fsFor(spark, base)
    if (!f.exists(base)) return
    bundleVictims(spark, f, root, bundle, base, keep, minAgeMs, pinned)._1
      .foreach(p => f.delete(p, true))
    pruneGarbage(f, base, minAgeMs)
  }

  /** The version directories a [[pruneBundleVersions]](keep, minAgeMs,
    * pinned) call WOULD delete, and the versions the kept manifests
    * reference — the one decision function the prune and
    * [[bundleHealth]] share, so a dry-run can never disagree with the
    * action it predicts. A kept manifest's file-set references protect
    * the older directories they live in. `pinned` versions (the ones a
    * live [[commitDeployment]] pin set names — a time-travel READER with
    * a commitment) are kept regardless of the retention window, together
    * with every directory their manifests reference: the retention
    * contract x194 states, enforced by the prune's own decision path
    * rather than left to operator arithmetic.
    */
  private def bundleVictims(spark: SparkSession, f: FileSystem,
      root: String, bundle: String, base: HPath, keep: Int,
      minAgeMs: Long, pinned: Set[Long]): (Seq[HPath], Set[Long]) = {
    val old = graceFilter(f, base, minAgeMs)
    val committed = committedVersions(f, base)
    // a pin naming no committed version is a stale or mistyped pin set
    // (or a pin whose version an unpinned prune already took): silently
    // dropping it would proceed with the protection lost and fail only
    // at read time — abort the prune loudly instead, same convention as
    // every other protocol check
    require(pinned.subsetOf(committed.toSet),
      s"bundle '$bundle' retention: pinned versions " +
        s"${(pinned -- committed).toSeq.sorted.mkString(",")} are not " +
        s"committed under $base — stale or mistyped pin set; refusing " +
        "to prune")
    val kept = committed.takeRight(keep) ++
      committed.filter(pinned.contains)
    val referenced = kept.flatMap { v =>
      bundleManifest(spark, root, bundle, Some(v))
        .dirs.values.flatten.map(_.split("/").head.toLong)
    }.toSet ++ kept
    (committed.filterNot(referenced).map(v => new HPath(base, v.toString))
      .filter(old), referenced)
  }

  /** mtime-based retention grace: true iff the path is old enough to
    * reclaim under `minAgeMs` (always true at the 0 default).
    */
  private def graceFilter(f: FileSystem, base: HPath,
      minAgeMs: Long): HPath => Boolean = {
    if (minAgeMs <= 0) _ => true
    else {
      val cutoff = System.currentTimeMillis() - minAgeMs
      p => f.getFileStatus(p).getModificationTime <= cutoff
    }
  }

  /** Minimum age before prune reclaims writer garbage, regardless of the
    * caller's `minAgeMs`: a `.staging-*` directory (or an in-place
    * writer's uncommitted numbered directory) younger than this may
    * belong to a LIVE writer mid-claim, and deleting it would fail that
    * writer's commit for no reason. One hour dwarfs any commit's
    * staging window while still reclaiming crashed writers promptly.
    * (Claim-time reclaim in [[claimVersionSlot]] is different: there the
    * slot is being contended NOW, and an uncommitted occupant must yield
    * — at worst a still-running legacy writer fails loudly and retries.)
    */
  private[graft] val GarbageGraceMs: Long = 60L * 60 * 1000

  /** Reclaim crashed-writer leftovers under a bundle base:
    * `.staging-*` directories and numbered directories that never
    * committed — both invisible to readers, both under
    * `max(minAgeMs, GarbageGraceMs)` so a live writer's staging is
    * never collected out from under it.
    */
  private def pruneGarbage(f: FileSystem, base: HPath, minAgeMs: Long): Unit =
    garbageVictims(f, base, minAgeMs).foreach(p => f.delete(p, true))

  /** The garbage paths a prune WOULD reclaim — shared by the prune and
    * [[bundleHealth]], same dry-run-equals-action contract as
    * [[bundleVictims]].
    */
  private def garbageVictims(f: FileSystem, base: HPath,
      minAgeMs: Long): Seq[HPath] =
    garbageUnder(f, base)
      .filter(graceFilter(f, base, math.max(minAgeMs, GarbageGraceMs)))

  /** Crashed-writer leftovers under a bundle base: top-level
    * `.staging-*` directories and uncommitted numbered directories, PLUS
    * `.staging-*` stranded one level INSIDE committed numbered
    * directories — a claim loser's rename nests its staging into the
    * winner's dir, and if that writer crashed before adopting it the
    * leftover is invisible to readers (dot-prefixed) but would otherwise
    * leak disk forever, unseen by the top-level scan.
    */
  private def garbageUnder(f: FileSystem, base: HPath): Seq[HPath] = {
    val top = f.listStatus(base).toSeq.filter(_.isDirectory).map(_.getPath)
    val direct = top.filter { p =>
      val n = p.getName
      n.startsWith(".staging-") || (n.forall(_.isDigit) && !isCommitted(f, p))
    }
    val nested = top
      .filter(p => p.getName.forall(_.isDigit) && isCommitted(f, p))
      .flatMap(p => f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith(".staging-")))
    direct ++ nested
  }

  /** Store-health report over a bundle root — the dry-run an operator
    * reads BEFORE reclaiming at 100 TB: one row per committed version and
    * per writer-garbage leftover, with age/size telemetry and, for the
    * given (keep, minAgeMs, pinned), whether the next
    * [[pruneBundleVersions]] call would reclaim it and why — including
    * versions that survive only because a kept manifest still references
    * their file sets (`referenced`). The would_reclaim decision comes
    * from the SAME functions the prune executes ([[bundleVictims]] /
    * [[garbageVictims]]), so the report can never disagree with the
    * action it predicts (CatalogSpec pins report ≡ subsequent prune on
    * the same fixture). Columns: kind (`bundle`; a caller unioning the
    * reports of several stores relabels it), name (base-relative),
    * version (−1 for garbage rows), committed, is_latest, age_ms, bytes,
    * would_reclaim, reason — age_ms/bytes are telemetry (wall-clock/
    * layout dependent); deterministic consumers select the rest.
    */
  def bundleHealth(spark: SparkSession, root: String, bundle: String,
      keep: Int, minAgeMs: Long = 0L,
      pinned: Set[Long] = Set.empty): DataFrame = {
    import spark.implicits._
    require(keep >= 1, s"bundleHealth: keep=$keep must be >= 1")
    val base = new HPath(bundleDir(root, bundle))
    val f = fsFor(spark, base)
    val cols = Seq("kind", "name", "version", "committed", "is_latest",
      "age_ms", "bytes", "would_reclaim", "reason")
    if (!f.exists(base))
      return Seq.empty[(String, String, Long, Boolean, Boolean, Long, Long,
        Boolean, String)].toDF(cols: _*)
    val latest = latestIn(f, base).getOrElse(-1L)
    val (victims, referenced) =
      bundleVictims(spark, f, root, bundle, base, keep, minAgeMs, pinned)
    val now = System.currentTimeMillis()
    // base-relative display name, robust to scheme/authority differences
    // between listStatus results and the caller-built base path
    def relName(p: HPath): String = {
      val b = HPath.getPathWithoutSchemeAndAuthority(base).toString
      val s = HPath.getPathWithoutSchemeAndAuthority(p).toString
      if (s.startsWith(b + "/")) s.substring(b.length + 1) else p.getName
    }
    // reasons are presentation; the reclaim DECISION is the victim sets
    // computed by the prune's own functions
    val victimNames = victims.map(_.getName).toSet
    val garbageNames = garbageVictims(f, base, minAgeMs).map(relName).toSet
    val committed = committedVersions(f, base)
    val keptWindow = committed.takeRight(keep).toSet
    val vRows = committed.map { v =>
      val p = new HPath(base, v.toString)
      val reclaim = victimNames.contains(v.toString)
      val reason =
        if (reclaim) "retention"
        else if (v == latest) "latest"
        else if (pinned.contains(v)) "pinned"
        else if (keptWindow.contains(v)) "keep-window"
        else if (referenced.contains(v)) "referenced"
        else "reader-grace"
      ("bundle", v.toString, v, true, v == latest,
        now - f.getFileStatus(p).getModificationTime,
        f.getContentSummary(p).getLength, reclaim, reason)
    }
    val gRows = garbageUnder(f, base).map { p =>
      val rel = relName(p)
      val reclaim = garbageNames.contains(rel)
      ("bundle", rel, -1L, false, false,
        now - f.getFileStatus(p).getModificationTime,
        f.getContentSummary(p).getLength, reclaim,
        if (reclaim) "garbage" else "writer-grace")
    }
    (vRows ++ gRows).toDF(cols: _*)
  }

  /** The bundle's newest committed version: the `_latest` pointer,
    * validated against the committed directories ([[latestIn]]).
    */
  def latestBundleVersion(spark: SparkSession, root: String,
      bundle: String): Option[Long] = {
    val base = new HPath(bundleDir(root, bundle))
    latestIn(fsFor(spark, base), base)
  }

  /** The bundle version `op` works on: `version` when given, else the
    * newest committed one, resolved ONCE so every member read of the
    * operation goes through the same version (resolving latest per member
    * would let a commit landing between the reads pair one version's
    * member with another's). Fails naming `op` when the bundle has no
    * committed version; whether a given version is committed is checked
    * by the read itself.
    */
  def resolveVersion(spark: SparkSession, root: String, bundle: String,
      version: Option[Long], op: String): Long =
    version.orElse(latestBundleVersion(spark, root, bundle)).getOrElse(
      sys.error(s"$op: no committed versions of '$bundle' under $root"))

  /** Read one member table at a committed bundle version (`None` =
    * latest): the union of the manifest's file sets for that member, read
    * with the member's recorded data schema (no footer is opened; the
    * partition columns come from the directory names). Refuses
    * uncommitted versions, non-member refs and a manifest that records no
    * schema for the member loudly.
    */
  def readBundleTable(spark: SparkSession, root: String, bundle: String,
      ref: String, version: Option[Long] = None): DataFrame = {
    val base = bundleDir(root, bundle)
    val v = resolveVersion(spark, root, bundle, version, "readBundleTable")
    // memoized per session: the file listing runs once per committed
    // version, not once per serve
    memoAtBundle(spark, root, bundle, v, s"member:$ref", perSession = true) {
      val m = bundleManifest(spark, root, bundle, Some(v))
      require(m.dirs.contains(ref),
        s"readBundleTable: '$ref' not in bundle (members: ${m.dirs.keys})")
      val paths = m.dirs(ref).map(d => s"$base/$d")
      val read = spark.read.schema(m.schema(ref))
      // A partitioned member's file sets are each a partition-discovery
      // root; one multi-path read would try to relate them through their
      // version directories and fail (CONFLICTING_DIRECTORY_STRUCTURES).
      // Union per-file-set reads instead — a partition predicate still
      // prunes every branch's directory listing.
      if (m.parts.get(ref).exists(_.nonEmpty) && paths.size > 1)
        paths.map(read.parquet(_)).reduce(_ unionByName _)
      else read.parquet(paths: _*)
    }
  }

  /** Replace `dst` with `staged` via rename-out → rename-in → rollback:
    * the destination is renamed aside before the staging directory moves
    * in, so a crash at any point leaves either the old table or the new
    * one on disk — never neither.
    *
    * Runs through the Hadoop `FileSystem` API, so the same code works on
    * local disk and HDFS, where a directory rename is an atomic namenode
    * metadata operation. CAVEAT — S3/GCS have NO atomic directory rename
    * (the connectors emulate it as copy-then-delete: O(data), and a reader
    * can observe the half-moved state). On object stores, swap-by-rename
    * is only safe for single-writer maintenance jobs with retry-on-crash;
    * concurrent readers need a table format (Iceberg/Delta/Hudi) whose
    * metadata commit replaces this swap — the merge/compact PLANS above
    * stay identical. See SCALE.md.
    */
  private[graft] def atomicSwap(f: FileSystem, staged: HPath, dst: HPath, op: String): Unit = {
    val old = new HPath(dst.getParent, s".${dst.getName}.old")
    if (f.exists(old)) f.delete(old, true) // leftover from a crashed earlier swap
    if (f.exists(dst) && !f.rename(dst, old)) sys.error(s"$op: cannot stage out $dst")
    if (!f.rename(staged, dst)) { f.rename(old, dst); sys.error(s"$op: swap failed for $dst") }
    if (f.exists(old)) { f.delete(old, true); () }
  }

  /** K1: CSV sink with header. */
  def writeCsv(df: DataFrame, p: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(p)

  /** ORC source/sink (built into Spark core — no extra dependency): the
    * columnar alternative when a consumer stack is ORC-native. Same
    * pushdown/pruning contract as parquet (predicate pushdown + column
    * pruning via the native ORC reader).
    */
  def orc(spark: SparkSession, p: String): DataFrame =
    spark.read.orc(p)

  def writeOrc(df: DataFrame, p: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(p)

  /** JSON-lines source with a declared schema (no inference job — an
    * inference pass over 100 TB of JSON is a full extra scan).
    */
  def json(spark: SparkSession, p: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(p)

  /** JSON-lines sink. */
  def writeJson(df: DataFrame, p: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(p)

  /** Hive-style partitioned parquet sink: one directory per distinct
    * partition-column tuple. The 100 TB ingest shape — a reader filtering
    * on the partition columns scans only the matching directories
    * (partition pruning happens at file listing, before any I/O), and
    * writers of disjoint partitions never contend.
    *
    * Keep partition columns low-cardinality (date, region, event type):
    * every distinct tuple is a directory, and millions of tiny directories
    * destroy listing performance.
    */
  def writePartitioned(df: DataFrame, root: String, ref: String,
      partitionCols: Seq[String], mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path(root, ref))

  /** Range-clustered parquet sink: rows range-partitioned on `cols` and
    * sorted within each partition before writing, so every output file
    * covers a DISJOINT range of the clustering key. Parquet stores per
    * file / per row-group min-max statistics; a pushed-down range or
    * equality predicate on the clustering key then skips whole files
    * instead of decoding them — the scan-pruning complement to
    * `writePartitioned` for HIGH-cardinality keys (timestamps, ids),
    * where a directory per value is impossible. The range exchange
    * samples the key distribution, so skew produces balanced files.
    */
  def writeClustered(df: DataFrame, root: String, ref: String,
      cols: Seq[String], nFiles: Int = 0,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val keys = cols.map(org.apache.spark.sql.functions.col)
    val ranged =
      if (nFiles > 0) df.repartitionByRange(nFiles, keys: _*)
      else df.repartitionByRange(keys: _*)
    ranged.sortWithinPartitions(keys: _*).write.mode(mode).parquet(path(root, ref))
  }

  /** Bit-interleaved Z-value over `coords`, each already normalized to a
    * `bits`-bit non-negative Long. Bit `i` (msb-first) of coordinate `j`
    * lands at output position `i*d + j` (msb-first), so rows close in
    * EVERY dimension get close Z-values — the multi-dimensional locality
    * that lexicographic sort only gives the leading column. Pure Column
    * arithmetic (shift/and/or), codegen'd; `d*bits ≤ 62` keeps the value
    * in a positive Long.
    */
  def zValue(coords: Seq[Column], bits: Int = 16): Column = {
    require(coords.nonEmpty && coords.size * bits <= 62,
      s"z-value needs d*bits <= 62, got ${coords.size} x $bits")
    import org.apache.spark.sql.functions._
    val d = coords.size
    val terms = for {
      i <- 0 until bits
      j <- 0 until d
    } yield shiftleft(
        shiftright(coords(j), bits - 1 - i).bitwiseAND(lit(1L)),
        d * bits - 1 - (i * d + j))
    terms.reduce(_.bitwiseOR(_))
  }

  /** Z-order clustered layout: rows range-partitioned and sorted by the
    * interleaved Z-value of `cols`, so every file's min/max footer stats
    * stay narrow on ALL clustering columns at once — a predicate box on
    * any subset of them row-group-prunes the scan. `writeClustered` is
    * the 1-D special case (leading-column locality only); Z-order is what
    * a 100 TB table wants when two or three columns share the filter
    * traffic. Coordinates are min/max-scaled to `bits`-bit codes (bounds
    * from one bounded aggregate — 2 doubles per column to the driver);
    * NULL and constant columns code to 0. The rewrite is one range
    * shuffle + local sort, no driver data path; rows are bit-identical to
    * the input (the Z-value is dropped before the write).
    */
  def writeZOrdered(df: DataFrame, root: String, ref: String,
      cols: Seq[String], bits: Int = 16, nFiles: Int = 0,
      saveMode: SaveMode = SaveMode.Overwrite): Unit = {
    // named saveMode: the wildcard functions import below carries the
    // `mode` aggregate, which would make a `mode` parameter ambiguous
    import org.apache.spark.sql.functions._
    val aggs = cols.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val b = df.agg(aggs.head, aggs.tail: _*).head()
    val maxCode = (1L << bits) - 1
    val coords = cols.zipWithIndex.map { case (c, i) =>
      if (b.isNullAt(2 * i)) lit(0L) // all-NULL column: no signal to cluster on
      else {
        val mn = b.getDouble(2 * i)
        val mx = b.getDouble(2 * i + 1)
        val span = math.max(mx - mn, java.lang.Double.MIN_NORMAL)
        least(greatest(
            (((coalesce(col(c).cast("double"), lit(mn)) - mn) / span) * maxCode)
              .cast("long"), lit(0L)), lit(maxCode))
      }
    }
    val withZ = df.withColumn("__z", zValue(coords, bits))
    val ranged =
      if (nFiles > 0) withZ.repartitionByRange(nFiles, col("__z"))
      else withZ.repartitionByRange(col("__z"))
    ranged.sortWithinPartitions(col("__z")).drop("__z")
      .write.mode(saveMode).parquet(path(root, ref))
  }

  /** Bucketed + sorted managed table: rows hash-partitioned into `buckets`
    * files per partition by `bucketCols`. Two tables bucketed the same way
    * join WITHOUT a shuffle (SortMergeJoin reads co-located buckets
    * directly) — the pre-shuffle pattern for a fact table joined on the
    * same key by many recurring queries. Requires `saveAsTable` (bucket
    * metadata lives in the session catalog / metastore). Pass `path` to
    * create the table EXTERNAL at an explicit location instead of under
    * the session warehouse dir — sessions without a configured warehouse
    * (e.g. a plain driver session) keep their cwd clean.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int, mode: SaveMode = SaveMode.Overwrite,
      path: Option[String] = None): Unit = {
    val w = df.write.mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
    path.fold(w)(p => w.option("path", p)).saveAsTable(table)
  }

  /** MERGE-style upsert into a parquet table: rows of `updates` replace
    * same-key rows of the target, new keys are inserted. Planned as
    * `updates ∪ (target ⟕anti updates-keys)` — one shuffle-free union over
    * an anti join (broadcast when updates are dim-sized, which is the
    * common CDC shape).
    *
    * Parquet cannot be read and overwritten in place (the scan would see
    * its own truncation), so the merge materializes into a staging
    * directory first and swaps it in — the classic non-transactional
    * warehouse pattern (a table-format layer would replace the swap with a
    * metadata commit; the merge plan is identical).
    */
  def upsert(spark: SparkSession, root: String, ref: String,
      updates: DataFrame, keys: Seq[String]): Unit = {
    val dst = new HPath(path(root, ref))
    val f = fsFor(spark, dst)
    // Fresh target: the first batch of a CDC/streaming upsert simply
    // creates the table — "new keys are inserted" includes all of them.
    if (!f.exists(dst)) {
      updates.write.mode(SaveMode.Overwrite).parquet(dst.toString)
      return
    }
    val target = table(spark, root, ref)
    val merged = updates.unionByName(
      target.join(updates.select(keys.map(org.apache.spark.sql.functions.col): _*),
        keys, "left_anti"))
    val staging = new HPath(dst.getParent, s".${dst.getName}.staging")
    merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    atomicSwap(f, staging, dst, "upsert")
  }

  /** K5: multi-sink fan-out — one source feeds several sinks without
    * re-scanning (reference `csv_to_bq_NYC.py:128-150` reads BigQuery once
    * and feeds two sinks). `cache()` mirrors Beam's single-read semantics;
    * at cluster scale prefer this over two scans only when the source scan
    * dominates (a cached 100 TB scan would spill — callers pass
    * `cache = false` to re-scan instead, which is the right default there).
    */
  def fanOut(src: DataFrame, cache: Boolean)(sinks: (DataFrame => Unit)*): Unit = {
    val s = if (cache) src.cache() else src
    try sinks.foreach(_(s))
    finally if (cache) { s.unpersist(); () }
  }

  /** Table profile from parquet FOOTERS alone — row count and a numeric
    * column's min/max without scanning a single data page: the same
    * metadata a pruning reader consults, surfaced as an operator (the
    * instant sanity check before launching anything against a 100 TB
    * table, and the production verifier for clustered layouts —
    * `writeClustered`'s per-file disjointness is exactly these stats).
    * Footers are read ON THE EXECUTORS (the file list parallelizes; the
    * driver holds paths, never metadata), one footer per file, each a
    * few KB regardless of file size. Min/max come from the row-group
    * column statistics and are null when any row group lacks them
    * (honest absence beats a silent partial answer).
    *
    * Output, one row: (n_files, n_row_groups, n_rows, min_value,
    * max_value) for `numCol` (an INT64/INT32 column).
    */
  /** All parquet data files under `dir`, RECURSING into partition
    * subdirectories (`shard=…`, `band=…`, date dirs …) so clustered /
    * partitioned layouts — the very stores the footer tools verify —
    * are covered, not just flat single-directory tables. Dot- and
    * underscore-prefixed entries (ledgers, `_SUCCESS`, checkpoints) are
    * skipped at every level.
    */
  private def listParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath): Seq[String] = {
    val entries = fs.listStatus(dir).toSeq
      .filterNot { e =>
        val n = e.getPath.getName
        n.startsWith(".") || n.startsWith("_")
      }
    entries.filter(_.isDirectory).flatMap(e => listParquetFiles(fs, e.getPath)) ++
      entries.filterNot(_.isDirectory).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
  }

  def footerStats(spark: SparkSession, root: String, ref: String,
      numCol: String): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = new HPath(path(root, ref))
    val fs = fsFor(spark, dir)
    val files: Seq[String] =
      if (fs.getFileStatus(dir).isDirectory) listParquetFiles(fs, dir)
      else Seq(dir.toString)
    require(files.nonEmpty, s"footerStats: no parquet files under $dir")
    val stats = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new HPath(f), conf))
        try {
          val blocks = r.getFooter.getBlocks
          import scala.jdk.CollectionConverters._
          val perBlock = blocks.asScala.toSeq.map { b =>
            val c = b.getColumns.asScala
              .find(_.getPath.toDotString == numCol)
            val s = c.map(_.getStatistics).orNull
            val ok = s != null && !s.isEmpty && s.hasNonNullValue
            (b.getRowCount,
              if (ok) Some(s.genericGetMin.asInstanceOf[Number].longValue) else None,
              if (ok) Some(s.genericGetMax.asInstanceOf[Number].longValue) else None)
          }
          (1L, perBlock.size.toLong, perBlock.map(_._1).sum,
            if (perBlock.forall(_._2.isDefined) && perBlock.nonEmpty)
              Some(perBlock.flatMap(_._2).min) else None,
            if (perBlock.forall(_._3.isDefined) && perBlock.nonEmpty)
              Some(perBlock.flatMap(_._3).max) else None)
        } finally r.close()
      }
    val (nf, ng, nr, mn, mx) = stats.reduce { (a, b) =>
      (a._1 + b._1, a._2 + b._2, a._3 + b._3,
        for (x <- a._4; y <- b._4) yield math.min(x, y),
        for (x <- a._5; y <- b._5) yield math.max(x, y))
    }
    import spark.implicits._
    Seq((nf, ng, nr, mn, mx))
      .toDF("n_files", "n_row_groups", "n_rows", "min_value", "max_value")
  }

  /** [[footerStats]] per FILE: one row (n_rows, min_value, max_value)
    * per parquet data file (recursing into partition subdirectories) for
    * `numCol` — the metadata view a min/max file-skipping scan prunes
    * by, exposed as data so a clustering layout's "narrow spans, few
    * files overlap a probe" claim is verifiable END TO END from footers
    * alone (x154). File paths are deliberately NOT in the output — part-
    * file names carry task uuids; callers order by `min_value`.
    */
  def footerFileStats(spark: SparkSession, root: String, ref: String,
      numCol: String): DataFrame = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = new HPath(path(root, ref))
    val fs = fsFor(spark, dir)
    val files: Seq[String] =
      if (fs.getFileStatus(dir).isDirectory) listParquetFiles(fs, dir)
      else Seq(dir.toString)
    require(files.nonEmpty, s"footerFileStats: no parquet files under $dir")
    val stats = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .map { f =>
        val conf = new org.apache.hadoop.conf.Configuration()
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new HPath(f), conf))
        try {
          val blocks = r.getFooter.getBlocks
          import scala.jdk.CollectionConverters._
          val perBlock = blocks.asScala.toSeq.map { b =>
            val c = b.getColumns.asScala
              .find(_.getPath.toDotString == numCol)
            val s = c.map(_.getStatistics).orNull
            val ok = s != null && !s.isEmpty && s.hasNonNullValue
            (b.getRowCount,
              if (ok) Some(s.genericGetMin.asInstanceOf[Number].longValue) else None,
              if (ok) Some(s.genericGetMax.asInstanceOf[Number].longValue) else None)
          }
          (perBlock.map(_._1).sum,
            if (perBlock.forall(_._2.isDefined) && perBlock.nonEmpty)
              Some(perBlock.flatMap(_._2).min) else None,
            if (perBlock.forall(_._3.isDefined) && perBlock.nonEmpty)
              Some(perBlock.flatMap(_._3).max) else None)
        } finally r.close()
      }.collect().toSeq // bounded: one tuple per FILE, not per row
    import spark.implicits._
    stats.toDF("n_rows", "min_value", "max_value")
  }
}
