package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{spark, SfDir}

/** Restart-mid-catchup durability of the incremental-dedup carried state:
  * the in-memory state is DISCARDED between refreshes and reloaded from
  * the [[StateStore]] parquet checkpoint, and the final verdict must still
  * equal the one-shot batch operator — the p38/p47 equivalence contracts,
  * now across a process boundary. Also pins the commit protocol itself:
  * a crash before the pointer flip must leave the previous version
  * readable, and committed versions must prune. */
class StreamStateSpec extends AnyFunSuite {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft-$tag").toString

  // ---- pair-state (p38 contract) fixtures: same corpus augmentation as
  // DedupIncrementalFuzzSpec so near-dup clusters straddle batches
  private lazy val corpus = {
    val base = spark.read.parquet(s"$SfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    base.unionByName(
      base.where(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + lit(100000L)))
  }
  private lazy val survivors = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id").asc)
    corpus.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
      .withColumn("content_hash", md5(col("text")))
      .localCheckpoint(false)
  }
  private def img(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq

  test("pair state survives a restart between refreshes: verdict equals batch p36") {
    val dir = tmpDir("pairstate")
    val arrivals = DedupStream.arrivalLog(corpus)
    val cuts = Seq(0L, 150L, 350L, Long.MaxValue)
    var verdict: org.apache.spark.sql.DataFrame = null
    cuts.sliding(2).foreach { case Seq(lo, hi) =>
      // every refresh begins from DISK ONLY — the previous iteration's
      // in-memory PairState is gone (restart simulation)
      val loaded = StateStore.loadPairState(spark, dir)
      assert(loaded.isDefined == (lo > 0L), "state exists iff a refresh committed")
      val batch = survivors.where(col("doc_id") >= lo && col("doc_id") < hi)
      val seen = survivors.where(col("doc_id") < hi)
      val (v, s) = DedupStream.refreshVerdictIncremental(seen, batch, arrivals, loaded)
      StateStore.savePairState(dir, s)
      verdict = v
    }
    assert(img(verdict) == img(graft.pipeline.PipelineOps.dedupVerdictOf(corpus)))
  }

  test("sem state survives a restart at a cap-crossing geometry: verdict equals one-shot p44") {
    import graft.pipeline.PipelineOps
    val dir = tmpDir("semstate")
    // cap 30 sits between half-corpus and full-corpus cell sizes at k=45,
    // so cells cross the cap BETWEEN the two refreshes — the carried-edge
    // retirement path must survive the parquet round-trip too
    val (k, cap, thr) = (45L, 30, 0.40)
    val q = PipelineOps.quantized(spark, SfDir)
      .select(col("vec_id"), col("q"), col("nrm")).localCheckpoint(false)
    val cents = PipelineOps.semCents(q, k).localCheckpoint(false)
    Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
      c => c <= 1000, c => c > 1000).foreach { pred =>
      val loaded = StateStore.loadSemState(spark, dir)
      val st = SemDedupStream.refreshIncremental(
        cents, q.where(pred(col("vec_id"))), loaded, cap, thr)
      StateStore.saveSemState(dir, st)
    }
    val allIds = spark.read.parquet(s"$SfDir/embeddings.parquet").select("vec_id")
    val got = SemDedupStream
      .verdict(allIds, StateStore.loadSemState(spark, dir).get, cap)
      .collect().toSeq
    val want = PipelineOps.semDedupParam(spark, SfDir, k, cap, thr).collect().toSeq
    assert(got == want)
  }

  test("live stream + restart + at-least-once replay: disk-backed state converges to one-shot p44") {
    // the full production wiring in one scenario: embeddings arrive through
    // a REAL streaming query; every micro-batch loads the carried state
    // from the StateStore parquet checkpoint (nothing held in memory
    // across batches), refreshes, and commits back; midway the query is
    // STOPPED and a brand-new query continues from a fresh MemoryStream (a
    // process restart); one already-processed chunk is re-delivered on the
    // second query (foreachBatch's at-least-once contract) and must be a
    // no-op thanks to the refresh's vec_id anti-join. The verdict served
    // from the final on-disk state must equal the one-shot p44.
    import spark.implicits._
    import graft.pipeline.PipelineOps
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val dir = tmpDir("semlive")
    val emb = spark.read.parquet(s"$SfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val qAll = PipelineOps.quantizedOf(emb).select(col("vec_id"), col("q"), col("nrm"))
    val cents = PipelineOps.semCents(qAll, PipelineOps.semCells(rows.length.toLong))
      .localCheckpoint(false)

    val fold: (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, _) =>
      if (!batch.isEmpty) {
        val prev = StateStore.loadSemState(spark, dir) // from DISK, every batch
        val st = SemDedupStream.refreshIncremental(
          cents,
          PipelineOps.quantizedOf(batch).select(col("vec_id"), col("q"), col("nrm")),
          prev, PipelineOps.SemMaxCell, PipelineOps.SemDupThreshold)
        StateStore.saveSemState(dir, st)
      }
    val chunks = rows.grouped(400).toSeq

    // phase 1: first two chunks, then the process "dies"
    val in1 = MemoryStream[(Long, Seq[Float])]
    val q1 = in1.toDF().toDF("vec_id", "embedding")
      .writeStream.foreachBatch(fold).start()
    try {
      chunks.take(2).foreach { c => in1.addData(c.toSeq); q1.processAllAvailable() }
    } finally q1.stop()

    // phase 2: a NEW query (fresh stream, no shared driver state) REPLAYS
    // chunk 1 (at-least-once redelivery), then delivers the rest
    val in2 = MemoryStream[(Long, Seq[Float])]
    val q2 = in2.toDF().toDF("vec_id", "embedding")
      .writeStream.foreachBatch(fold).start()
    try {
      (chunks(1) +: chunks.drop(2)).foreach { c => in2.addData(c.toSeq); q2.processAllAvailable() }
    } finally q2.stop()

    def img(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getLong(3))).toSeq
    val finalState = StateStore.loadSemState(spark, dir).get
    val got = img(SemDedupStream.verdict(
      emb.select("vec_id"), finalState, PipelineOps.SemMaxCell))
    val want = img(PipelineOps.semDedup(spark, SfDir))
    assert(got == want, "disk-backed, restarted, replayed stream != one-shot p44")
    // the replayed chunk must not have inflated the census
    assert(finalState.members.count() ==
      qAll.where(col("nrm") > 0).count(), "one member row per nonzero-norm vector")
  }

  test("a crash before the commit marker leaves the previous version readable") {
    import spark.implicits._
    val dir = tmpDir("crash")
    StateStore.save(dir, Map("t" -> Seq((1L, "a")).toDF("id", "v")))
    // simulate a crash mid-save of version 2: tables written, _COMMITTED
    // marker never created — exactly what the protocol promises to survive
    // (max-committed resolution never sees an uncommitted version)
    Seq((2L, "b")).toDF("id", "v").write.parquet(s"$dir/v2/t.parquet")
    val loaded = StateStore.load(spark, dir, Seq("t")).get
    assert(loaded("t").collect().map(_.getLong(0)).toSeq == Seq(1L),
      "reader must still see v1")
    // the next successful save claims version 2 by overwriting the orphan
    // (it was never marker-claimed, so the directory is up for grabs)
    StateStore.save(dir, Map("t" -> Seq((3L, "c")).toDF("id", "v")))
    assert(StateStore.load(spark, dir, Seq("t")).get("t")
      .collect().map(_.getLong(0)).toSeq == Seq(3L))
    // a crashed save that HAD claimed its version (marker present, pointer
    // never flipped) is skipped by allocation, never overwritten in place
    new java.io.File(s"$dir/v3").mkdirs()
    new java.io.File(s"$dir/v3/_ALLOC").createNewFile()
    val v = StateStore.save(dir, Map("t" -> Seq((4L, "d")).toDF("id", "v")))
    assert(v == 4L, "allocation must skip a claimed orphan")
    assert(StateStore.load(spark, dir, Seq("t")).get("t")
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("two concurrent writers land on distinct versions; the store is never torn") {
    import spark.implicits._
    val dir = tmpDir("race")
    // both writers observe the same starting state (no committed version)
    // and race the full save protocol; the _ALLOC create-exclusive must
    // serialize them onto DISTINCT version directories, so whichever
    // commit resolves as max, the served version is one writer's complete
    // table — the pre-guard failure mode was both writing v1 and
    // interleaving files
    val results = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val threads = Seq("a" -> 11L, "b" -> 22L).map { case (tag, v) =>
      new Thread(() => {
        val ver = StateStore.save(dir, Map("t" -> Seq((v, tag)).toDF("id", "v")))
        results.put(tag, ver)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val (va, vb) = (results.get("a"), results.get("b"))
    assert(va != vb, "concurrent saves must claim distinct versions")
    assert(Set(va, vb) == Set(1L, 2L), s"expected versions 1 and 2, got $va/$vb")
    // the committed pointer names one of the two versions, and the row it
    // serves is exactly that writer's — internally consistent either way
    val row = StateStore.load(spark, dir, Seq("t")).get("t").head()
    assert((row.getLong(0), row.getString(1)) == (11L, "a") ||
      (row.getLong(0), row.getString(1)) == (22L, "b"),
      s"torn or mixed state: $row")
  }

  test("repeated save cycles do not grow the process fd table") {
    import spark.implicits._
    val dir = tmpDir("fd")
    def fds(): Int = new java.io.File("/proc/self/fd").list().length
    // warm up: first saves pay one-time classloading/committer setup
    (1 to 5).foreach(i => StateStore.save(dir, Map("t" -> Seq(i.toLong).toDF("id"))))
    val before = fds()
    (6 to 45).foreach(i => StateStore.save(dir, Map("t" -> Seq(i.toLong).toDF("id"))))
    val after = fds()
    // the pre-fix leak was ~2 fds per save (unclosed directory streams in
    // save + prune) — 40 cycles would show +80; allow slack for the JVM's
    // own unrelated churn
    assert(after - before < 25, s"fd table grew $before -> $after over 40 saves")
  }

  test("committed versions prune down to current + previous") {
    import spark.implicits._
    val dir = tmpDir("prune")
    (1 to 4).foreach(i => StateStore.save(dir, Map("t" -> Seq(i.toLong).toDF("id"))))
    val vdirs = new java.io.File(dir).list().filter(_.startsWith("v")).sorted.toSeq
    assert(vdirs == Seq("v3", "v4"), s"expected prune to v3/v4, got $vdirs")
    assert(StateStore.load(spark, dir, Seq("t")).get("t").head().getLong(0) == 4L)
    // object-store-safe protocol: no pointer file anywhere — resolution is
    // max committed version, each version carrying its own marker
    assert(!new java.io.File(dir).list().exists(_.startsWith("_CURRENT")),
      "no _CURRENT pointer may exist under the marker protocol")
    vdirs.foreach(v => assert(new java.io.File(s"$dir/$v/_COMMITTED").exists,
      s"$v must carry a _COMMITTED marker"))
  }

  test("a gbucket-partitioned gram state partition-prunes the CDC probe's history scan " +
       "to the batch's buckets") {
    import graft.pipeline.PipelineOps
    val dir = tmpDir("bucketed")
    val survivors2 = survivors.select("doc_id", "text", "lang", "source", "n_chars")
    val hist = PipelineOps.ngramGrams(survivors2)
    StateStore.save(dir, Map("grams" -> hist), Map("grams" -> Seq("gbucket")))
    val loaded = StateStore.load(spark, dir, Seq("grams")).get("grams")
    val nPartsAll = new java.io.File(s"$dir/v1/grams.parquet")
      .list().count(_.startsWith("gbucket="))
    assert(nPartsAll > 1, s"fixture must span multiple buckets, got $nPartsAll")
    // a single-doc batch touches exactly one block-key bucket — the pruned
    // probe must read exactly one partition directory
    val batch = PipelineOps.ngramGrams(survivors2.where(col("doc_id") === 7))
    val probe = PipelineOps.pruneGramHistory(loaded, batch)
    val scan = probe.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.exists(_.toString.contains("gbucket")),
      s"bucket filter must reach the scan as a partition filter: ${scan.partitionFilters}")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"one-bucket probe must read one partition, read ${scan.selectedPartitions.partitionCount} of $nPartsAll")
    // and the pruning is lossless for pair discovery: every history row
    // sharing the batch's block key survives
    val key = batch.select("lang", "source", "block").distinct()
    assert(probe.join(key, Seq("lang", "source", "block"), "left_semi").count() ==
      hist.join(key, Seq("lang", "source", "block"), "left_semi").count())
  }

  test("delta chain: saveDelta stacks O(delta) versions, loadChain returns them in " +
       "commit order, load fails fast on a delta head, and a snapshot commit prunes " +
       "the retired chain (keeping it whole for one cycle)") {
    import spark.implicits._
    val dir = tmpDir("chain")
    def vdirs() = new java.io.File(dir).list().filter(_.startsWith("v")).sorted.toSeq
    // a delta commit needs a base
    intercept[IllegalArgumentException] {
      StateStore.saveDelta(dir, Map("d" -> Seq(0L).toDF("id")))
    }
    StateStore.save(dir, Map("t" -> Seq(1L, 2L).toDF("id")))        // v1 snapshot
    StateStore.saveDelta(dir, Map("d" -> Seq(3L).toDF("id")))       // v2 delta
    StateStore.saveDelta(dir, Map("d" -> Seq(4L).toDF("id")))       // v3 delta
    assert(StateStore.chainLength(spark, dir) == 2)
    // deltas prune nothing — the chain IS the state
    assert(vdirs() == Seq("v1", "v2", "v3"), s"got ${vdirs()}")
    val (snap, deltas) = StateStore.loadChain(spark, dir, Seq("t"), Seq("d")).get
    assert(snap("t").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(deltas.map(_("d").as[Long].head()) == Seq(3L, 4L))
    // a generic load against a delta head is a misread — fail fast
    intercept[IllegalStateException] {
      StateStore.load(spark, dir, Seq("d"))
    }
    // snapshot commit: chain collapses; the PREVIOUS chain survives one
    // cycle for in-flight readers mid-walk
    StateStore.save(dir, Map("t" -> Seq(1L, 2L, 3L, 4L).toDF("id"))) // v4 snapshot
    assert(StateStore.chainLength(spark, dir) == 0)
    assert(vdirs() == Seq("v1", "v2", "v3", "v4"), s"got ${vdirs()}")
    StateStore.save(dir, Map("t" -> Seq(9L).toDF("id")))             // v5 snapshot
    assert(vdirs() == Seq("v4", "v5"), s"got ${vdirs()}")
  }

  test("a failed table write drains its sibling writes before the commit throws, " +
       "and the version never commits") {
    import spark.implicits._
    val dir = tmpDir("drain")
    // one table whose evaluation throws on the executor next to one whose
    // task sleeps: the commit must surface the failure only AFTER the
    // sibling write finished — an abandoned in-flight write job racing
    // SparkContext teardown is the round-18 task-rejected flake
    val boom = udf((x: Long) => {
      if (x >= 0) throw new RuntimeException("boom"); x
    })
    val slowly = udf((x: Long) => { Thread.sleep(2000); x })
    val failing = Seq(1L).toDF("id").withColumn("v", boom(col("id")))
    val slow = Seq(2L).toDF("id").withColumn("v", slowly(col("id")))
    val ex = intercept[Exception] {
      StateStore.save(dir, Map("failing" -> failing, "slow" -> slow))
    }
    assert(ex.getMessage.contains("failing"), s"failure must name the table: $ex")
    // drain contract: by the time the commit throws, the slow sibling's
    // write has COMPLETED (its _SUCCESS exists) — it was not left running
    assert(new java.io.File(s"$dir/v1/slow.parquet/_SUCCESS").exists(),
      "sibling write must be drained to completion before the commit throws")
    // and the torn version is invisible: no _COMMITTED, nothing to load
    assert(!new java.io.File(s"$dir/v1/_COMMITTED").exists())
    assert(StateStore.load(spark, dir, Seq("slow")).isEmpty)
  }

  test("an empty hive-partitioned table falls back to a plain file and reads " +
       "back with its schema") {
    import spark.implicits._
    val dir = tmpDir("emptypart")
    val empty = Seq.empty[(Long, String)].toDF("id", "g")
    StateStore.save(dir, Map("t" -> empty), partitions = Map("t" -> Seq("g")))
    val t = StateStore.load(spark, dir, Seq("t")).get("t")
    assert(t.columns.sorted.toSeq == Seq("g", "id"))
    assert(t.count() == 0)
    // and a non-empty partitioned save on the same store still lays out
    // hive-style (the partition column becomes a directory)
    StateStore.save(dir, Map("t" -> Seq((1L, "a"), (2L, "b")).toDF("id", "g")),
      partitions = Map("t" -> Seq("g")))
    val v2 = new java.io.File(s"$dir/v2/t.parquet")
    assert(v2.listFiles().exists(f => f.isDirectory && f.getName.startsWith("g=")),
      s"expected hive layout under $v2")
    assert(StateStore.load(spark, dir, Seq("t")).get("t").count() == 2)
  }

  test("a delta chain of depth 3 loads with its recorded schemas: no Spark job") {
    import spark.implicits._
    val dir = tmpDir("schemachain")
    StateStore.save(dir,
      Map("t" -> Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "p"),
        "u" -> Seq(1.5).toDF("x")),
      partitions = Map("t" -> Seq("p")))
    (3L to 5L).foreach(i => StateStore.saveDelta(dir, Map("d" -> Seq((i, s"r$i")).toDF("id", "v"))))
    assert(StateStore.chainLength(spark, dir) == 3)
    val (loaded, census) = graft.JobCensus.of(spark)(
      StateStore.loadChain(spark, dir, Seq("t", "u"), Seq("d")).get)
    assert(census.total == 0, s"chain load ran jobs:\n${census.report}")
    val (snap, deltas) = loaded
    assert(snap("t").as[(Long, String, Int)].collect().sorted.toSeq ==
      Seq((1L, "a", 0), (2L, "b", 1)))
    assert(deltas.map(_("d").as[(Long, String)].head()) == Seq(3L, 4L, 5L).map(i => (i, s"r$i")))
  }

  test("a committed version without its _SCHEMA record is refused with the typed error") {
    import spark.implicits._
    val dir = tmpDir("noschema")
    StateStore.save(dir, Map("t" -> Seq(1L).toDF("id")))
    StateStore.saveDelta(dir, Map("d" -> Seq(2L).toDF("id")))
    new java.io.File(s"$dir/v2/_SCHEMA").delete()
    val e = intercept[StateStore.MissingSchemaException](
      StateStore.loadChain(spark, dir, Seq("t"), Seq("d")))
    assert(e.dir == dir && e.version == 2L && e.getMessage.contains("_SCHEMA"))
    StateStore.save(dir, Map("t" -> Seq(3L).toDF("id")))
    new java.io.File(s"$dir/v3/_SCHEMA").delete()
    assert(intercept[StateStore.MissingSchemaException](
      StateStore.load(spark, dir, Seq("t"))).version == 3L)
  }

  test("the recorded schema round trip keeps nullability and the partition column's type") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val dir = tmpDir("schemaround")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true),
      StructField("xs", ArrayType(LongType, containsNull = false), nullable = false),
      StructField("p", LongType, nullable = false)))
    val df = spark.createDataFrame(
      java.util.List.of(Row(1L, "a", Seq(1L), 0L), Row(2L, null, Seq.empty[Long], 7L)), schema)
    StateStore.save(dir, Map("t" -> df), partitions = Map("t" -> Seq("p")))
    val loaded = StateStore.load(spark, dir, Seq("t")).get("t")
    val inferred = spark.read.parquet(s"$dir/v1/t.parquet")
    // the partition column reads back as written; inference narrows it
    assert(loaded.schema("p").dataType == LongType)
    assert(inferred.schema("p").dataType == IntegerType)
    // every data column: the same type and nullability an inferred read gives
    assert(loaded.schema.fields.init.toSeq == inferred.schema.fields.init.toSeq)
    assert(loaded.schema.fieldNames.toSeq == Seq("id", "v", "xs", "p"))
    assert(loaded.schema("p").nullable == inferred.schema("p").nullable)
    assert(loaded.orderBy("id").collect().toSeq.map(_.toSeq) ==
      Seq(Seq(1L, "a", Seq(1L), 0L), Seq(2L, null, Seq.empty[Long], 7L)))
  }
}
