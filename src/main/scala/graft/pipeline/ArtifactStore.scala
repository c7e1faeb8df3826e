package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** Hadoop-`FileSystem`-routed versioned storage: the ONE owner of the
  * commit protocol every persisted-state family uses —
  * [[graft.streaming.StateStore]]'s table sets and delta chains,
  * [[AnnIndexStore]]'s segment manifests, the p60 verdict table
  * ([[commitTable]]) and the p49/p58/p63/p71-p73 scratch trees
  * ([[withScratchVersion]]).
  *
  * Commit protocol — versioned directories with per-version commit
  * markers (and the reason a parquet `overwrite` alone is NOT a
  * checkpoint: it deletes the old state before the new one is fully
  * written, so a crash mid-save loses both):
  *
  *   1. [[claimVersion]]: claim a fresh version directory by
  *      CREATE-EXCLUSIVE on its `_ALLOC` marker — two writers that both
  *      observe current = N land on DISTINCT versions instead of racing
  *      file contents inside one directory (a misconfigured second writer
  *      degrades to highest-committed-version-wins between two
  *      internally-consistent versions, never to a torn state);
  *   2. the family writes its files under the claimed `v{N}/` directory;
  *   3. [[publish]]: CREATE-EXCLUSIVE on the version's `_COMMITTED`
  *      marker. Readers resolve the current version as MAX committed
  *      ([[currentVersion]]) — never a pointer file, never a rename
  *      (rename is copy+delete on object stores, and a rename-based
  *      pointer flip can be observed torn). On POSIX/HDFS
  *      create-exclusive is plain O_EXCL. On object stores its atomicity
  *      is a property of the CONNECTOR, not of the
  *      `FileSystem.create(overwrite=false)` call: S3A implements it as a
  *      conditional `If-None-Match` PUT only on Hadoop 3.4.1+
  *      (HADOOP-19256) with conditional create enabled — older or
  *      unconfigured connectors fall back to HEAD-then-PUT, which two
  *      racers can interleave; GCS precondition-creates (generation 0)
  *      unconditionally. [[publish]] probes `hasPathCapability` once per
  *      filesystem ([[probeAtomicCreate]]) and logs a degraded-mode
  *      warning on an S3-family store without the capability — the
  *      protocol still degrades SAFELY there, but the single-writer
  *      deployment rule becomes load-bearing. A version is visible if and
  *      only if every one of its files is.
  *   4. [[pruneBelow]] retires old versions; each family computes its
  *      own keep-from point (the previous committed version, or the start
  *      of the previous delta chain), so in-flight readers of the
  *      previous version survive one extra cycle.
  *
  * A crash between (2) and (3) leaves an orphaned version that later
  * claims skip (its `_ALLOC` marker loses the exclusivity race) and a
  * later prune removes; readers keep serving the previous version.
  *
  * Production shape: the artifacts are corpus-scale parquet relations
  * written by EXECUTOR tasks, so their roots must live on a filesystem
  * every executor can reach. A driver-local `java.io.tmpdir` works only
  * at local[n]; on a real cluster the root must be DFS. All paths here
  * resolve through the Hadoop `FileSystem` of the path itself — the same
  * resolution Spark's parquet writers use — so markers, version
  * directories, prunes, and the data files always land on the SAME
  * filesystem (the failure mode this object exists to prevent: driver
  * `java.io.File` markers on local disk coordinating parquet files on
  * HDFS).
  *
  * Root resolution for the build-once artifacts: [[indexDirOverride]]
  * (test seam), else the `GRAFT_INDEX_DIR` env var (the production knob —
  * point it at an HDFS/S3A/... scratch namespace), else local
  * `java.io.tmpdir`.
  *
  * Artifact roots are keyed by (dataset dir, corpus fingerprint, Spark
  * app id): the FINGERPRINT — FS metadata (name, length, mtime) of the
  * source parquet, a listing not a scan — means a dataset directory
  * rewritten mid-application hashes to a NEW root and rebuilds, instead
  * of serving a verdict/index computed over bytes that no longer exist.
  * The app id keeps two concurrent apps from racing overwrite-vs-read
  * on one tree. */
object ArtifactStore {

  /** Test seam mirror of GRAFT_INDEX_DIR (env vars can't be set from a
    * running JVM). None = env var, else tmpdir. */
  @volatile private[graft] var indexDirOverride: Option[String] = None

  private[graft] def artifactRoot: String =
    indexDirOverride
      .orElse(sys.env.get("GRAFT_INDEX_DIR"))
      .getOrElse(sys.props("java.io.tmpdir"))

  private[graft] def fsOf(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Content-version fingerprint of a source parquet path from FS
    * metadata only (recursive file statuses: name, length, mtime).
    * Cheap (a NameNode listing at HDFS scale), and any rewrite of the
    * source — overwrite, append, compaction — changes it. */
  private[graft] def fingerprint(spark: SparkSession, path: String): Long = {
    val fs = fsOf(spark, path)
    val p = new HPath(path)
    if (!fs.exists(p)) return 0L
    val it = fs.listFiles(p, true)
    var h = 1125899906842597L // large prime seed
    while (it.hasNext) {
      val st = it.next()
      val s = s"${st.getPath.getName}#${st.getLen}#${st.getModificationTime}"
      h += Hashing.md5Long(s, 12) // order-independent: listing order is FS-dependent
    }
    h
  }

  /** Root directory for one artifact family over one dataset dir. */
  private[graft] def artifactPath(
      spark: SparkSession, tag: String, dir: String, sourceFile: String): String = {
    val fp = fingerprint(spark, s"$dir/$sourceFile")
    val key = Hashing.md5Long(
      s"$dir#$fp#${spark.sparkContext.applicationId}", 12)
    s"${artifactRoot.stripSuffix("/")}/graft-$tag-${"%012x".format(key)}"
  }

  /** True if `path` exists on its own filesystem. */
  private[graft] def exists(spark: SparkSession, path: String): Boolean =
    fsOf(spark, path).exists(new HPath(path))

  /** Create an empty marker file; returns false if it already existed
    * (CREATE-EXCLUSIVE — the cross-process half of a double-checked
    * build lock). */
  private[graft] def createMarker(spark: SparkSession, path: String): Boolean = {
    val fs = fsOf(spark, path)
    val p = new HPath(path)
    fs.mkdirs(p.getParent)
    try { fs.create(p, false).close(); true }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.io.IOException if fs.exists(p) => false
    }
  }

  /** Recursive delete (no-op if absent). */
  private[graft] def delete(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val p = new HPath(path)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Version numbers already allocated under `root` (`v{N}` children),
    * committed or not — the allocation floor. */
  private[graft] def versions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    val p = new HPath(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.length > 1 && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toLong)
  }

  /** Claim a fresh exclusive `v{N}` directory under `root` via
    * CREATE-EXCLUSIVE on its `_ALLOC` marker: crash leftovers and
    * concurrent claimants advance past each other. Returns (version,
    * path). */
  private[graft] def claimVersion(spark: SparkSession, root: String): (Long, String) = {
    var n = versions(spark, root).foldLeft(0L)(math.max) + 1
    while (!createMarker(spark, s"$root/v$n/_ALLOC")) n += 1
    (n, s"$root/v$n")
  }

  /** True once version `v` under `root` carries its `_COMMITTED` marker. */
  private[graft] def isCommitted(spark: SparkSession, root: String, v: Long): Boolean =
    exists(spark, s"$root/v$v/_COMMITTED")

  /** The current version: MAX `v{N}` below `below` carrying a
    * `_COMMITTED` marker, probed newest-first — one listing plus one
    * marker probe per allocated-but-newer version (prune keeps the
    * version count small). `below` = a fresh commit's own version finds
    * the previous committed one. */
  private[graft] def currentVersion(
      spark: SparkSession, root: String, below: Long = Long.MaxValue): Option[Long] =
    versions(spark, root).filter(_ < below).sorted(Ordering[Long].reverse)
      .find(isCommitted(spark, root, _))

  /** The Hadoop capability key for conditional (If-None-Match) create —
    * `Options.CreateFileOptionKeys.FS_OPTION_CREATE_CONDITIONAL_OVERWRITE`,
    * inlined so the reference compiles against any 3.x client jar. */
  private val ConditionalCreateCapability = "fs.option.create.conditional.overwrite"

  private val probedFs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** One-time (per filesystem URI) probe of the commit protocol's
    * object-store assumption: on an S3-family store whose connector lacks
    * conditional create (pre-3.4.1/HADOOP-19256, or disabled),
    * CREATE-EXCLUSIVE is HEAD-then-PUT and two RACING writers have a
    * small window to claim the same version. The protocol degrades
    * safely (see the object doc) but the single-writer deployment rule
    * becomes load-bearing — say so once, loudly, at the first publish.
    * Returns whether THIS call fired the degraded-mode warning (false on
    * capable stores, non-S3 schemes, and every repeat probe of an
    * already-seen filesystem) — the observable a spec pins without
    * scraping log output. */
  private[graft] def probeAtomicCreate(fs: FileSystem, dir: String): Boolean = {
    if (probedFs.add(fs.getUri.toString)) {
      val scheme = Option(fs.getUri.getScheme).getOrElse("file").toLowerCase
      val s3Family = Set("s3a", "s3", "s3n").contains(scheme)
      val conditional =
        try fs.hasPathCapability(new HPath(dir), ConditionalCreateCapability)
        catch { case _: IllegalArgumentException | _: UnsupportedOperationException => false }
      if (s3Family && !conditional) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"Commit markers on ${fs.getUri} rely on create-exclusive, but this " +
          s"connector does not report '$ConditionalCreateCapability' (needs Hadoop " +
          "3.4.1+/HADOOP-19256 with conditional create enabled). Marker creation " +
          "degrades to HEAD-then-PUT: versions stay internally consistent and readers " +
          "can never observe a torn state, but two CONCURRENT writers racing the same " +
          "version number are no longer excluded — enforce one writer per state root.")
        true
      } else false
    } else false
  }

  /** Make the claimed version `vdir` under `root` visible: the
    * capability probe, then CREATE-EXCLUSIVE on its `_COMMITTED` marker.
    * Every file of the version must already be written. The claimant owns
    * `vdir`, so the create cannot lose a race; an existing marker means a
    * second publish of one claim and fails loudly. */
  private[graft] def publish(spark: SparkSession, root: String, vdir: String): Unit = {
    probeAtomicCreate(fsOf(spark, root), root)
    if (!createMarker(spark, s"$vdir/_COMMITTED"))
      throw new IllegalStateException(s"$vdir is already committed")
  }

  /** Delete every `v{N}` under `root` with N < `keepFrom` — committed,
    * orphaned, or abandoned. */
  private[graft] def pruneBelow(spark: SparkSession, root: String, keepFrom: Long): Unit =
    versions(spark, root).filter(_ < keepFrom).foreach(v => delete(spark, s"$root/v$v"))

  /** A small UTF-8 file's contents, None if absent (the `_DELTA` base
    * pointers, `_MANIFEST` segment lists and format stamps). */
  private[graft] def readText(spark: SparkSession, path: String): Option[String] = {
    val fs = fsOf(spark, path)
    val p = new HPath(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }
  }

  /** Write (overwrite) a small UTF-8 file. */
  private[graft] def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val out = fsOf(spark, path).create(new HPath(path), true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Run `use` in a fresh claimed scratch version under `root`, then
    * prune every version older than the one before it (in-flight readers
    * of the previous version survive one cycle). Scratch versions are
    * never published: each invocation reads exactly the version it
    * built. */
  private[graft] def withScratchVersion[A](spark: SparkSession, root: String)(
      use: String => A): A = {
    val (n, vdir) = claimVersion(spark, root)
    val out = use(vdir)
    pruneBelow(spark, root, n - 1)
    out
  }

  /** Commit `df` as the single table `name` of a fresh version under
    * `root`: claim → write → publish → prune versions older than the
    * previous committed one (in-flight readers of the previous version
    * survive one commit cycle). A crash before the marker leaves an
    * invisible orphan a later prune removes — readers keep serving the
    * previous version, never a torn table. */
  private[graft] def commitTable(
      spark: SparkSession, root: String, name: String,
      df: org.apache.spark.sql.DataFrame): Long = {
    val (n, vdir) = claimVersion(spark, root)
    df.write.mode("overwrite").parquet(s"$vdir/$name.parquet")
    publish(spark, root, vdir)
    pruneBelow(spark, root, currentVersion(spark, root, below = n).getOrElse(n))
    n
  }

  /** The committed table's parquet path under `root`, None before the
    * first commit. */
  private[graft] def committedTablePath(
      spark: SparkSession, root: String, name: String): Option[String] =
    currentVersion(spark, root).map(v => s"$root/v$v/$name.parquet")
}
