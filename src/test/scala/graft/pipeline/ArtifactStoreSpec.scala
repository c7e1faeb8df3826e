package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.{Path => HPath}
import graft.SparkTestSession.{spark, SfDir, rowImage}

/** The FS-routed persisted-artifact seams (round-13 promotion): the p60
  * verdict table and the ANN index trees resolve their roots through
  * [[ArtifactStore]] — configurable `GRAFT_INDEX_DIR`-style root, Hadoop
  * `FileSystem` markers/allocation/prune on the SAME filesystem as the
  * parquet data, and a corpus fingerprint in the root key so a rewritten
  * dataset rebuilds instead of serving stale artifacts. */
class ArtifactStoreSpec extends AnyFunSuite {

  private def withIndexDir[A](f: String => A): A = {
    val d = java.nio.file.Files.createTempDirectory("graft-artifact-root")
    // explicit file: scheme so every operation must round-trip through
    // Hadoop Path/FileSystem resolution, not java.io fallback
    val uri = d.toUri.toString.stripSuffix("/")
    ArtifactStore.indexDirOverride = Some(uri)
    try f(uri) finally ArtifactStore.indexDirOverride = None
  }

  test("verdict table builds under the configured root via Hadoop FS, served ≡ recomputed") {
    withIndexDir { root =>
      val served = PipelineOps.dedupVerdictServed(spark, SfDir)
      val fresh = PipelineOps.dedupVerdictOf(
        spark.read.parquet(s"$SfDir/documents.parquet")).orderBy("doc_id")
      assert(rowImage(served) == rowImage(fresh))
      val vr = PipelineOps.verdictTablePath(spark, SfDir)
      assert(vr.startsWith(root), s"verdict root $vr not under configured $root")
      val fs = new HPath(vr).getFileSystem(spark.sparkContext.hadoopConfiguration)
      // round 14: the table commits as a marker-resolved version (the
      // object-store-safe protocol), never a flat file + ready marker
      val v = ArtifactStore.currentVersion(spark, vr)
        .getOrElse(fail("no committed verdict version on the routed FS"))
      assert(fs.exists(new HPath(s"$vr/v$v", "_COMMITTED")), "commit marker on the routed FS")
      assert(fs.exists(new HPath(s"$vr/v$v", "verdict.parquet")), "data on the routed FS")
    }
  }

  test("ANN index tree builds under the configured root; answers unchanged") {
    withIndexDir { root =>
      val got = PipelineOps.annIndexed(spark, SfDir)
      assert(got.count() > 0)
      val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val trees = fs.listStatus(new HPath(root)).map(_.getPath.getName)
        .filter(_.startsWith("graft-ann-index-"))
      assert(trees.length == 1, s"expected one ann-index tree under $root, got ${trees.mkString(",")}")
      val vdirs = fs.listStatus(new HPath(s"$root/${trees.head}")).map(_.getPath.getName)
      assert(vdirs.exists(_.startsWith("v")), "version directory allocated")
    }
  }

  test("claimVersion allocates exclusive, monotonically advancing versions") {
    withIndexDir { root =>
      val r = s"$root/claim-test"
      val (v1, p1) = ArtifactStore.claimVersion(spark, r)
      val (v2, p2) = ArtifactStore.claimVersion(spark, r)
      assert(v2 > v1 && p1 != p2)
      assert(ArtifactStore.exists(spark, s"$p2/_ALLOC"))
      // a crash leftover (pre-claimed marker) is skipped, not reused
      ArtifactStore.createMarker(spark, s"$r/v${v2 + 1}/_ALLOC")
      val (v3, _) = ArtifactStore.claimVersion(spark, r)
      assert(v3 == v2 + 2)
    }
  }

  test("re-publishing is crash-safe: an uncommitted republish stays invisible, a " +
       "committed one supersedes, and prune keeps current + previous") {
    withIndexDir { root =>
      import graft.SparkTestSession.spark.implicits._
      val r = s"$root/pub-test"
      def served(): Long = graft.SparkTestSession.spark.read
        .parquet(ArtifactStore.committedTablePath(spark, r, "t").get)
        .as[Long].head()
      ArtifactStore.commitTable(spark, r, "t", Seq(1L).toDF("id"))
      // crashed republish: version claimed, table written, marker never
      // created — the pre-round-14 overwrite would have torn the table
      val (_, vdir) = ArtifactStore.claimVersion(spark, r)
      Seq(2L).toDF("id").write.parquet(s"$vdir/t.parquet")
      assert(served() == 1L, "uncommitted republish must stay invisible")
      val v3 = ArtifactStore.commitTable(spark, r, "t", Seq(3L).toDF("id"))
      assert(served() == 3L)
      val v4 = ArtifactStore.commitTable(spark, r, "t", Seq(4L).toDF("id"))
      assert(served() == 4L)
      // prune keeps current + previous committed; v1 and the orphan retired
      assert(ArtifactStore.versions(spark, r).sorted == Seq(v3, v4))
    }
  }

  test("corpus fingerprint keys the verdict root: rewriting the dataset changes the root") {
    withIndexDir { _ =>
      val ds = java.nio.file.Files.createTempDirectory("graft-fp-ds").toString
      val docs = spark.read.parquet(s"$SfDir/documents.parquet").limit(50)
      docs.write.mode("overwrite").parquet(s"$ds/documents.parquet")
      val rootBefore = PipelineOps.verdictTablePath(spark, ds)
      val before = rowImage(PipelineOps.dedupVerdictServed(spark, ds))
      // rewrite the dataset in place (different rows, different file sizes)
      spark.read.parquet(s"$SfDir/documents.parquet").limit(20)
        .write.mode("overwrite").parquet(s"$ds/documents.parquet")
      val rootAfter = PipelineOps.verdictTablePath(spark, ds)
      assert(rootBefore != rootAfter,
        "rewritten corpus must hash to a new artifact root (no stale verdict)")
      val after = rowImage(PipelineOps.dedupVerdictServed(spark, ds))
      assert(after.length < before.length, "rebuilt verdict reflects the rewritten corpus")
    }
  }
}
