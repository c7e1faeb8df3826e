package graft.pipeline

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned, segmented persistence for the GROW-IN-PLACE ANN index tree
  * that [[graft.streaming.IngestBump]] maintains across ingest bumps — an
  * LSM/segment layout committed through [[ArtifactStore]]'s
  * versioned-directory protocol (claim, write, publish the `_COMMITTED`
  * marker, resolve max committed, prune; its doc carries the crash and
  * object-store contract), so appends stay O(delta):
  *
  *   - `ivf_cents.parquet` / `pq_cents.parquet` at the root: the FROZEN
  *     quantizer, written once at the first build and never touched (how
  *     production coarse quantizers version — with the deployment, not
  *     with any one snapshot).
  *   - `seg-{N}/{ivf_assign,pq_codes}.parquet`: IMMUTABLE segments. A
  *     bump's arrivals encode into a fresh segment; nothing ever appends
  *     to or overwrites an existing one, so readers never race a writer
  *     on file contents and no eager checkpoint is needed anywhere.
  *   - `v{N}/`: a version = `_MANIFEST` (the segment list, in commit
  *     order) + `tombstones.parquet` (the departed-id mask, possibly
  *     empty) + the protocol's claim and commit markers.
  *
  * Segment + tombstones + manifest become visible in ONE marker create,
  * so every interleaving resolves to a complete committed version: a
  * crashed bump leaves an orphaned (invisible) version + segment that a
  * later prune removes, a concurrent reader never sees a mixed index,
  * racing bumpers claim DISTINCT versions whose manifests each reference
  * their own arrival segment (max committed wins, the loser's segment
  * prunes as unreferenced), and a replayed bump sees its arrivals already
  * in the current manifest's physical set and appends nothing.
  *
  * Compaction rewrites the live rows as ONE merged segment referenced by
  * a fresh version (tombstones empty) — the dead-row reclaim is a new
  * segment plus a manifest swap, never an in-place overwrite.
  *
  * The flat single-directory layout is what the build-once lifecycles
  * (p49/p58/p63) write INSIDE their per-invocation scratch versions
  * ([[ArtifactStore.withScratchVersion]]) — those are single-writer by
  * construction and never grown after publication, so they don't need
  * per-bump commits. */
object AnnIndexStore {

  private def segName(v: Long) = s"seg-$v"

  /** Max committed version and its manifest (segment names in commit
    * order); None before the first committed build. */
  def current(spark: SparkSession, idx: String): Option[(Long, Seq[String])] =
    ArtifactStore.currentVersion(spark, idx).map(v => (v, manifest(spark, idx, v)))

  /** True once any version committed — the "does the bump tree exist"
    * probe. */
  def exists(spark: SparkSession, idx: String): Boolean =
    current(spark, idx).isDefined

  private def manifest(spark: SparkSession, idx: String, v: Long): Seq[String] =
    ArtifactStore.readText(spark, s"$idx/v$v/_MANIFEST").get
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq

  /** The physical assignment relation of a manifest: every row of every
    * segment, tombstoned or not — what arrival/departure reconciliation
    * is defined over. */
  def segAssigned(spark: SparkSession, idx: String, segs: Seq[String]): DataFrame =
    spark.read.parquet(segs.map(s => s"$idx/$s/ivf_assign.parquet"): _*)

  /** The code relation of a manifest (codes never need the tombstone
    * mask — the compose joins them through the masked assignment). */
  def segCodes(spark: SparkSession, idx: String, segs: Seq[String]): DataFrame =
    spark.read.parquet(segs.map(s => s"$idx/$s/pq_codes.parquet"): _*)

  /** The committed tombstone mask of version `v`. */
  def tombstones(spark: SparkSession, idx: String, v: Long): DataFrame =
    spark.read.parquet(s"$idx/v$v/tombstones.parquet")

  /** Live tombstone count of the current version (spec/monitoring
    * handle). */
  def tombstoneCount(spark: SparkSession, idx: String): Long =
    current(spark, idx).map { case (v, _) => tombstones(spark, idx, v).count() }
      .getOrElse(0L)

  /** Commit a new version: claim `v{N}` exclusively, write its tombstone
    * mask and manifest, then publish it.
    * `writeSeg` (if any) encodes this bump's arrival segment as
    * `seg-{N}` BEFORE the version becomes visible; `segs` is the
    * manifest to publish, already including `seg-{N}` when a segment is
    * written. Returns the committed version. */
  def commit(
      spark: SparkSession,
      idx: String,
      tomb: DataFrame,
      segsOf: Long => Seq[String],
      writeSeg: Option[(Long, String)  => Unit] = None): Long = {
    val (n, vdir) = ArtifactStore.claimVersion(spark, idx)
    writeSeg.foreach(w => w(n, s"$idx/${segName(n)}"))
    tomb.write.mode("overwrite").parquet(s"$vdir/tombstones.parquet")
    ArtifactStore.writeText(spark, s"$vdir/_MANIFEST", segsOf(n).mkString("\n"))
    ArtifactStore.publish(spark, idx, vdir)
    prune(spark, idx, n)
    n
  }

  def segNameOf(v: Long): String = segName(v)

  /** Retire history: keep the current and previous committed versions
    * (in-flight readers mid-plan over the previous survive one cycle),
    * delete older version dirs — committed, orphaned, or abandoned — and
    * delete segments that no kept manifest references, EXCEPT segments
    * numbered above the previous committed version (they may belong to a
    * concurrent claimant that has not committed yet). */
  private def prune(spark: SparkSession, idx: String, cur: Long): Unit = {
    val keepFrom = ArtifactStore.currentVersion(spark, idx, below = cur).getOrElse(cur)
    ArtifactStore.pruneBelow(spark, idx, keepFrom)
    val referenced = ArtifactStore.versions(spark, idx)
      .filter(v => ArtifactStore.isCommitted(spark, idx, v))
      .flatMap(manifest(spark, idx, _)).toSet
    val fs = ArtifactStore.fsOf(spark, idx)
    fs.listStatus(new HPath(idx)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("seg-") && !referenced.contains(n) &&
          n.drop(4).forall(_.isDigit) && n.drop(4).nonEmpty &&
          n.drop(4).toLong < keepFrom)
        fs.delete(st.getPath, true)
    }
  }
}
