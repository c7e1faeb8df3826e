package graft.streaming

import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.{FSDataOutputStream, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark
import graft.pipeline.ArtifactStore

/** Pins BOTH branches of [[graft.pipeline.ArtifactStore.probeAtomicCreate]] against stub
  * filesystems — round-15 left the probe tested only on local fs, where
  * the capability call throws and the warning can't fire at all. A
  * [[RawLocalFileSystem]] masquerading as an S3A bucket (the scheme and
  * authority come from `getUri`; the bucket-relative path doubles as the
  * local absolute path, so no path translation is needed) exercises:
  *
  *   - DEGRADED (capability=false on an s3 scheme): the warning fires on
  *     the FIRST probe of the filesystem and never again (once per URI,
  *     not per commit), and a full save/save/load cycle through the
  *     degraded store still resolves max-committed — degraded means
  *     "racing writers not excluded", never "torn reads".
  *   - CAPABLE (capability=true): no warning.
  *   - non-S3 schemes: no warning regardless of capability.
  *
  * Plus the claim's catch set on a connector that reports an existing
  * marker as a plain `IOException` rather than `FileAlreadyExistsException`.
  */
class StateStoreCapabilitySpec extends AnyFunSuite {

  private val CondCreate = "fs.option.create.conditional.overwrite"

  test("degraded s3 store warns once per filesystem; capable and non-s3 stay silent") {
    val degraded = new StubS3Fs("s3a://graft-probe-degraded", capable = false)
    val capable  = new StubS3Fs("s3a://graft-probe-capable", capable = true)
    val dir = new HPath("/state")

    assert(ArtifactStore.probeAtomicCreate(degraded, dir.toString),
      "first probe of a degraded s3 store must fire the warning")
    assert(!ArtifactStore.probeAtomicCreate(degraded, dir.toString),
      "repeat probe of the same filesystem must not re-warn")
    assert(!ArtifactStore.probeAtomicCreate(capable, dir.toString),
      "a store reporting conditional-create must not warn")

    // same degraded capability under a non-s3 scheme: create-exclusive is
    // plain O_EXCL there, nothing to warn about
    val posixish = new StubS3Fs("hdfs://graft-probe-hdfs", capable = false)
    assert(!ArtifactStore.probeAtomicCreate(posixish, dir.toString))
  }

  test("commits through a degraded store still resolve max-committed") {
    val local = Files.createTempDirectory("graft-s3stub").toString
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[DegradedS3StubFs].getName)
    conf.set("fs.s3a.impl.disable.cache", "true")
    try {
      val dir = s"s3a://graft-stub$local/state"
      val t1 = spark.range(5).select(col("id"), lit("v1").as("tag"))
      val t2 = spark.range(7).select(col("id"), lit("v2").as("tag"))
      val v1 = StateStore.save(dir, Map("t" -> t1))
      val v2 = StateStore.save(dir, Map("t" -> t2))
      assert(v2 > v1)
      val loaded = StateStore.load(spark, dir, Seq("t"))
      assert(loaded.isDefined, "load must resolve a committed version")
      val rows = loaded.get("t").collect()
      assert(rows.length == 7 && rows.forall(_.getString(1) == "v2"),
        "max-committed resolution must serve the LATEST committed version")
    } finally {
      conf.unset("fs.s3a.impl")
      conf.unset("fs.s3a.impl.disable.cache")
    }
  }

  test("a claim advances past an existing _ALLOC reported as a plain IOException") {
    val local = Files.createTempDirectory("graft-ioe-stub").toString
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.s3a.impl", classOf[PlainIoeS3StubFs].getName)
    conf.set("fs.s3a.impl.disable.cache", "true")
    try {
      val dir = s"s3a://graft-ioe$local/state"
      val t = spark.range(3).toDF("id")
      assert(StateStore.save(dir, Map("t" -> t)) == 1L)
      // a crashed writer's claim on v2: the marker exists, v2 never commits
      val fs = ArtifactStore.fsOf(spark, dir)
      fs.create(new HPath(s"$dir/v2/_ALLOC"), false).close()
      assert(!ArtifactStore.createMarker(spark, s"$dir/v2/_ALLOC"),
        "an existing marker is a lost claim, not an error")
      assert(StateStore.save(dir, Map("t" -> t)) == 3L)
      assert(StateStore.load(spark, dir, Seq("t")).get("t").count() == 3)
    } finally {
      conf.unset("fs.s3a.impl")
      conf.unset("fs.s3a.impl.disable.cache")
    }
  }
}

/** The degraded stub whose create-exclusive on an existing path throws a
  * plain `IOException` — what some object-store connectors raise where
  * POSIX and HDFS raise `FileAlreadyExistsException`. */
class PlainIoeS3StubFs extends StubS3Fs("s3a://graft-ioe", capable = false) {
  override def create(f: HPath, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    if (!overwrite && exists(f)) throw new java.io.IOException(s"$f exists")
    else super.create(f, overwrite, bufferSize, replication, blockSize, progress)
}

/** Local filesystem wearing an arbitrary scheme/authority: the URI's
  * path component maps 1:1 onto the local absolute path, which is what
  * [[RawLocalFileSystem.pathToFile]] already does once `getUri` matches
  * the incoming paths. `capable` drives the conditional-create answer. */
class StubS3Fs(uri: String, capable: Boolean) extends RawLocalFileSystem {
  override def getUri: URI = URI.create(uri)
  override def hasPathCapability(p: HPath, cap: String): Boolean =
    capable && cap == "fs.option.create.conditional.overwrite"
}

/** No-arg variant Hadoop can instantiate from `fs.s3a.impl`. */
class DegradedS3StubFs extends StubS3Fs("s3a://graft-stub", capable = false)
