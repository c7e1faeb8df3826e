package graft.streaming

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{ArtifactStore, PipelineOps}
import graft.SparkTestSession.{spark, rowImage, SfDir}

/** The composed ingest-version-bump driver ([[IngestBump]]): one
  * orchestrated `bump` per ingest advances EVERY maintained artifact —
  * text dedup state, the materialized p60 verdict table, semantic-dedup
  * state, and the persistent ANN index — and each family must track its
  * from-scratch oracle across a three-snapshot chain (S0 → S1 → S2 with
  * adds, removes, and in-place revisions at every step). The chain runs
  * through [[StateStore]]'s on-disk checkpoints only (IngestBump holds no
  * memory between calls), so snapshot-to-snapshot convergence here IS the
  * restart-safety proof: every bump begins from the persisted parquet
  * state a crashed-and-restarted driver would load. */
class IngestBumpSpec extends AnyFunSuite {

  private val d = spark.read.parquet(s"$SfDir/documents.parquet")

  private def rev(df: DataFrame, m: Int, r: Int, tag: String) = df.withColumn("text",
    when(col("doc_id") % m === r, concat(col("text"), lit(tag))).otherwise(col("text")))
  private def snap(df: DataFrame) =
    df.withColumn("n_chars", length(col("text")).cast("long"))

  private val s0 = snap(d.where(col("doc_id") % 10 =!= 9))
  private val s1 = snap(rev(d.where(col("doc_id") % 10 =!= 0), 7, 3, " rev2"))
  private val s2 = snap(rev(rev(d.where(col("doc_id") % 10 =!= 1), 7, 3, " rev2"), 13, 4, " rev3"))
  private val chain = Seq(s0, s1, s2)

  // the feed the ingest log would carry from `prev` to `next` (the spec
  // pays the full-snapshot diff so the code under test doesn't have to)
  private def feedBetween(prev: DataFrame, next: DataFrame) = {
    val pk = prev.select(col("doc_id"), md5(col("text")).as("h0"))
    val nk = next.select(col("doc_id"), md5(col("text")).as("h1"))
    IngestBump.CorpusDelta(
      removedIds = pk.join(nk, Seq("doc_id"), "left_anti").select("doc_id"),
      changed = next.join(
        pk.join(nk, "doc_id").where(col("h0") =!= col("h1")).select("doc_id"),
        Seq("doc_id"), "left_semi"),
      added = next.join(pk, Seq("doc_id"), "left_anti"))
  }

  test("text chain: every bump's verdict equals the from-scratch p36 of its snapshot, " +
       "and the carried state stays canonical (exactly the snapshot's survivor grams)") {
    val root = Files.createTempDirectory("graft_bump_text").toString
    for (si <- chain) {
      val a = IngestBump.bump(spark, root, si)
      assert(rowImage(a.verdict) == rowImage(PipelineOps.dedupVerdictOf(si)))
      // format 3 layout: every version's grams are flat — no gbucket
      // directory, no gbucket column — and a delta version's grams are one
      // parquet file
      val text = new java.io.File(s"$root/text")
      text.listFiles().filter(v => new java.io.File(v, "_COMMITTED").exists).foreach { v =>
        val grams = new java.io.File(v, "grams.parquet")
        assert(!grams.list().exists(_.startsWith("gbucket=")), s"$grams")
        assert(!spark.read.parquet(grams.toString).columns.contains("gbucket"), s"$grams")
        if (new java.io.File(v, "_DELTA").exists)
          assert(grams.list().count(_.endsWith(".parquet")) == 1, s"$grams")
      }
      // and reading the text state back runs no Spark job (no inference,
      // no parallel listing of a partitioned snapshot)
      val (_, census) = graft.JobCensus.of(spark)(IngestBump.textState(spark, root))
      assert(census.total == 0, s"textState ran jobs:\n${census.report}")
      // state canonicality: after retire + batch, the FOLDED gram state
      // (the delta chain collapsed) must be row-identical to gramming the
      // snapshot's survivors from scratch — no stale grams (a revised
      // doc's old text), no duplicates (a replayed batch), no leaks (a
      // departed doc)
      val folded = IngestBump.textState(spark, root).get("grams")
      assert(rowImage(folded.select("doc_id", "grams")) ==
        rowImage(PipelineOps.ngramGrams(PipelineOps.survivorsOf(si)
          .select("doc_id", "text", "lang", "source", "n_chars")).select("doc_id", "grams")))
      val st = IngestBump.textState(spark, root).get
      // the live log the next bump derives its feed from, and the
      // incrementally maintained labels, after every bump
      assert(rowImage(st("livelog")) == rowImage(DedupStream.arrivalLog(si)))
      assert(rowImage(st("labels")) == rowImage(PipelineOps.connectedComponents(
        st("pairs").select(col("doc_a"), col("doc_b")))))
    }
  }

  test("CDC-fed text bumps: a (removed, changed, added) delta feed converges to each " +
       "snapshot's from-scratch verdict — including survivor promotion — with only " +
       "delta text ever hashed, and the folded state stays canonical") {
    val root = Files.createTempDirectory("graft_bump_cdc").toString
    IngestBump.bump(spark, root, s0)
    for ((prev, next) <- chain.zip(chain.tail)) {
      val v = IngestBump.bumpTextCdc(spark, root, feedBetween(prev, next), next)
      assert(rowImage(v) == rowImage(PipelineOps.dedupVerdictOf(next)))
    }
    val st = IngestBump.textState(spark, root).get
    assert(rowImage(st("grams").select("doc_id", "grams")) ==
      rowImage(PipelineOps.ngramGrams(PipelineOps.survivorsOf(s2)
        .select("doc_id", "text", "lang", "source", "n_chars")).select("doc_id", "grams")))
    // the live log is the corpus hash projection — verdict assembly's input
    assert(rowImage(st("livelog")) == rowImage(DedupStream.arrivalLog(s2)))
    // incremental-CC canonicality: the maintained labels must equal a
    // global connected-components pass over the folded edge set — the
    // touched-components-only rebuild leaves no stale, split, or
    // unmerged label anywhere
    assert(rowImage(st("labels")) == rowImage(PipelineOps.connectedComponents(
      st("pairs").select(col("doc_a"), col("doc_b")))))
  }

  test("a CDC feed past the driver bound re-founds the text state from the snapshot " +
       "(a fresh snapshot version, verdict from-scratch), and later bumps build on it") {
    val root = Files.createTempDirectory("graft_bump_bound").toString
    val text = s"$root/text"
    IngestBump.bump(spark, root, s0)
    IngestBump.bumpTextCdc(spark, root, feedBetween(s0, s1), s1)
    assert(StateStore.chainLength(spark, text) == 1)
    val v1 = IngestBump.bumpTextCdc(spark, root, feedBetween(s0, s1), s1, None, 64L, 1)
    assert(rowImage(v1) == rowImage(PipelineOps.dedupVerdictOf(s1)))
    assert(StateStore.chainLength(spark, text) == 0)
    assert(rowImage(IngestBump.textState(spark, root).get("livelog")) ==
      rowImage(DedupStream.arrivalLog(s1)))
    val v2 = IngestBump.bumpTextCdc(spark, root, feedBetween(s1, s2), s2)
    assert(rowImage(v2) == rowImage(PipelineOps.dedupVerdictOf(s2)))
    assert(StateStore.chainLength(spark, text) == 1)
  }

  test("a hot hash past the driver bound re-founds the text state: the feed and the " +
       "departing rows fit the bound, the touched hash's members do not") {
    val root = Files.createTempDirectory("graft_bump_hot").toString
    val text = s"$root/text"
    val hot = lit("boilerplate footer shared by every fourth document")
    val base = d.withColumn("text", when(col("doc_id") % 4 === 1, hot).otherwise(col("text")))
    val h0 = snap(base)
    val hA = snap(rev(base, 7, 3, " rev2"))
    // one doc outside the hot hash joins it: a one-row feed
    val joiner = hA.where(col("doc_id") % 4 === 2 && col("doc_id") % 7 =!= 3)
      .agg(min("doc_id")).first().getLong(0)
    val h1 = snap(hA.withColumn("text", when(col("doc_id") === joiner, hot).otherwise(col("text"))))
    val bound = 4
    val feed = feedBetween(hA, h1)
    assert(feed.removedIds.count() == 0 && feed.changed.count() == 1 && feed.added.count() == 0)
    assert(h1.where(col("text") === hot).count() > 2 * bound)
    IngestBump.bump(spark, root, h0)
    IngestBump.bumpTextCdc(spark, root, feedBetween(h0, hA), hA)
    assert(StateStore.chainLength(spark, text) == 1)
    val v1 = IngestBump.bumpTextCdc(spark, root, feed, h1, None, 64L, bound)
    assert(rowImage(v1) == rowImage(PipelineOps.dedupVerdictOf(h1)))
    assert(StateStore.chainLength(spark, text) == 0)
    assert(rowImage(IngestBump.textState(spark, root).get("livelog")) ==
      rowImage(DedupStream.arrivalLog(h1)))
  }

  test("CDC replay idempotency: re-running an already-committed bump (the crash " +
       "contract's at-least-once case) duplicates nothing — livelog, verdict, and the " +
       "published p60 table all stay single-row per doc") {
    val root = Files.createTempDirectory("graft_bump_replay").toString
    val facade = Files.createTempDirectory("graft_bump_replay_pub").toString
    IngestBump.bump(spark, root, s0)
    s1.write.mode("overwrite").parquet(s"$facade/documents.parquet")
    val delta = feedBetween(s0, s1)
    IngestBump.bumpTextCdc(spark, root, delta, s1, publishDir = Some(facade))
    // the replay: same delta, same corpus — a crashed-after-commit driver
    // re-delivering the bump
    val v2 = IngestBump.bumpTextCdc(spark, root, delta, s1, publishDir = Some(facade))
    assert(rowImage(v2) == rowImage(PipelineOps.dedupVerdictOf(s1)))
    val st = IngestBump.textState(spark, root).get
    // the pre-fix defect: added docs re-unioned into the livelog on every
    // replay, one duplicate (doc_id, content_hash) row per replay
    assert(st("livelog").groupBy("doc_id").count().where(col("count") > 1).count() == 0,
      "replay must not duplicate livelog rows")
    assert(rowImage(st("livelog")) == rowImage(DedupStream.arrivalLog(s1)))
    val served = PipelineOps.dedupVerdictServed(spark, facade)
    assert(served.groupBy("doc_id").count().where(col("count") > 1).count() == 0,
      "replayed publish must not duplicate the p60 table")
    assert(rowImage(served) == rowImage(PipelineOps.dedupVerdictOf(s1)))
    // and a snapshot bump of the same snapshot: its derived feed is empty
    IngestBump.bump(spark, root, s1, publishDir = Some(facade))
    val st2 = IngestBump.textState(spark, root).get
    assert(st2("livelog").groupBy("doc_id").count().where(col("count") > 1).count() == 0,
      "a snapshot bump after the replay must not duplicate livelog rows")
    assert(rowImage(st2("livelog")) == rowImage(DedupStream.arrivalLog(s1)))
    val served2 = PipelineOps.dedupVerdictServed(spark, facade)
    assert(served2.groupBy("doc_id").count().where(col("count") > 1).count() == 0,
      "a snapshot bump after the replay must not duplicate the p60 table")
    assert(rowImage(served2) == rowImage(PipelineOps.dedupVerdictOf(s1)))
  }

  test("CDC trust-but-verify: a lying feed — missed removal, changed-as-added, missed " +
       "add — fails the bump loudly BEFORE any state commits; honest feeds pass") {
    val root = Files.createTempDirectory("graft_bump_audit").toString
    IngestBump.bump(spark, root, s0)
    def chainLen = StateStore.chainLength(spark, s"$root/text")
    assert(chainLen == 0)
    val empty = s0.limit(0)
    // missed removal: a doc left the corpus but the feed never said so
    val nextRm = snap(s0.where(col("doc_id") =!= 4))
    val exRm = intercept[IllegalStateException] {
      IngestBump.bumpTextCdc(spark, root,
        IngestBump.CorpusDelta(empty.select("doc_id"), empty, empty),
        nextRm, auditSampleMod = 1)
    }
    assert(exRm.getMessage.contains("divergence"))
    assert(chainLen == 0, "a failed audit must not have committed state")
    // changed doc delivered as ADDED: the old-hash livelog row never departs
    val nextChg = snap(rev(s0, 500, 2, " lied"))
    val lied = nextChg.where(col("doc_id") % 500 === 2)
    intercept[IllegalStateException] {
      IngestBump.bumpTextCdc(spark, root,
        IngestBump.CorpusDelta(empty.select("doc_id"), empty, lied),
        nextChg, auditSampleMod = 1)
    }
    assert(chainLen == 0)
    // missed add: the corpus gained a doc the feed never delivered
    val extra = s0.where(col("doc_id") === 2).withColumn("doc_id", lit(777777L))
    intercept[IllegalStateException] {
      IngestBump.bumpTextCdc(spark, root,
        IngestBump.CorpusDelta(empty.select("doc_id"), empty, empty),
        snap(s0.unionByName(extra)), auditSampleMod = 1)
    }
    assert(chainLen == 0)
    // an honest feed over the same state still passes the full audit and
    // converges to the from-scratch verdict
    val honest = IngestBump.CorpusDelta(
      removedIds = s0.select("doc_id").join(nextRm.select("doc_id"), Seq("doc_id"), "left_anti"),
      changed = empty, added = empty)
    val v = IngestBump.bumpTextCdc(spark, root, honest, nextRm, auditSampleMod = 1)
    assert(rowImage(v) == rowImage(PipelineOps.dedupVerdictOf(nextRm)))
  }

  test("stratified CDC audit: a missed add confined to a tiny source is caught by the " +
       "per-(source, doc_id) corpus sample even where a uniform doc-id sample skips it") {
    val root = Files.createTempDirectory("graft_bump_strat").toString
    IngestBump.bump(spark, root, s0)
    val mod = 8L
    // pick an id the STRATIFIED key selects but the uniform doc-id key
    // skips — the doc the pre-stratification audit provably never sampled
    val cand = spark.range(1000000, 1001000)
      .where(pmod(hash(lit("rare"), col("id"), lit(0x5EED)), lit(mod)) === 0 &&
             pmod(hash(col("id"), lit(0x5EED)), lit(mod)) =!= 0)
      .limit(1).collect()(0)
    val extra = snap(s0.limit(1)
      .withColumn("doc_id", lit(cand))
      .withColumn("source", lit("rare"))
      .withColumn("text", lit("a rare-source doc the feed never delivered")))
    val empty = s0.limit(0)
    val ex = intercept[IllegalStateException] {
      IngestBump.bumpTextCdc(spark, root,
        IngestBump.CorpusDelta(empty.select("doc_id"), empty, empty),
        snap(s0.unionByName(extra)), auditSampleMod = mod)
    }
    assert(ex.getMessage.contains("missed add"))
    assert(StateStore.chainLength(spark, s"$root/text") == 0,
      "a failed audit must not have committed state")
    // the honest no-op feed over the same state still passes at the same mod
    val v = IngestBump.bumpTextCdc(spark, root,
      IngestBump.CorpusDelta(empty.select("doc_id"), empty, empty),
      s0, auditSampleMod = mod)
    assert(rowImage(v) == rowImage(PipelineOps.dedupVerdictOf(s0)))
  }

  test("format stamp: an empty root is founded with the current stamp; a root holding " +
       "state under no stamp or another stamp fails every entry with the typed error") {
    val fact = spark.range(1).toDF("id")
    val ts = IngestBump.TrainedSnapshot(fact, fact)
    val feed = IngestBump.CorpusDelta(fact, fact, fact)
    def refusedEverywhere(root: String, found: Option[String]): Unit = {
      val entries: Seq[(String, () => Any)] = Seq(
        "bump" -> (() => IngestBump.bump(spark, root, s0)),
        "bumpTextCdc" -> (() => IngestBump.bumpTextCdc(spark, root, feed, s0)),
        "bumpTrained" -> (() => IngestBump.bumpTrained(spark, root, ts)),
        "bumpSummaries" -> (() => IngestBump.bumpSummaries(spark, root, fact, Nil)),
        "textState" -> (() => IngestBump.textState(spark, root)))
      entries.foreach { case (name, call) =>
        val e = intercept[IngestBump.StateFormatException](call())
        assert(e.root == root && e.found == found, name)
        assert(e.getMessage.contains(root) && e.getMessage.contains("IngestBump.bump"), name)
      }
    }
    val stamp = (r: String) => ArtifactStore.readText(spark, s"$r/_FORMAT")

    // founding: a read leaves an empty root alone; a write entry stamps it,
    // also when the root is a claimed scratch version holding only _ALLOC
    val (_, fresh) = ArtifactStore.claimVersion(spark,
      Files.createTempDirectory("graft_bump_fmt").toString)
    assert(IngestBump.textState(spark, fresh).isEmpty && stamp(fresh).isEmpty)
    IngestBump.bumpSummaries(spark, fresh, fact, Nil)
    assert(stamp(fresh).contains(IngestBump.FormatVersion.toString))

    // another stamp, older formats included
    Seq("0", "1", "2").foreach { f =>
      ArtifactStore.writeText(spark, s"$fresh/_FORMAT", f)
      refusedEverywhere(fresh, Some(f))
    }

    // state under no stamp
    val unstamped = Files.createTempDirectory("graft_bump_fmt_none").toString
    Files.createDirectories(java.nio.file.Paths.get(unstamped, "summary", "s", "v1"))
    refusedEverywhere(unstamped, None)
    assert(stamp(unstamped).isEmpty, "a refused root must not be stamped")
  }

  test("survivor promotion under a CDC feed: removing an exact-dup's keeper promotes " +
       "the copy, whose body the feed never carried (fetched from the corpus)") {
    val root = Files.createTempDirectory("graft_bump_promo").toString
    // doc B is a byte-exact copy of doc A; A departs in the delta
    val a = s0.where(col("doc_id") === 2)
    val copyB = a.withColumn("doc_id", lit(900001L))
    val base = snap(s0.unionByName(copyB))
    IngestBump.bump(spark, root, base)
    val next = snap(base.where(col("doc_id") =!= 2))
    val delta = IngestBump.CorpusDelta(
      removedIds = a.select("doc_id"),
      changed = next.limit(0),
      added = next.limit(0))
    val v = IngestBump.bumpTextCdc(spark, root, delta, next)
    assert(rowImage(v) == rowImage(PipelineOps.dedupVerdictOf(next)))
    // the promoted copy must now be grammed under its own id
    val grams = IngestBump.textState(spark, root).get("grams")
    assert(grams.where(col("doc_id") === 900001L).count() == 1)
  }

  test("giant-component worst case: a near-dup clique spanning the corpus — removing " +
       "its canonical relabels the WHOLE component (the incremental rebuild's " +
       "documented degenerate), and every verdict still tracks from-scratch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_bump_giant").toString
    val base = ("the quick brown fox jumps over the lazy dog and keeps on " +
      "running through the long open field without ever stopping ") * 3
    def corpus(ids: Seq[Long]) = ids.toDF("doc_id").select(
      col("doc_id"),
      concat(lit(base), col("doc_id").cast("string")).as("text"),
      lit("en").as("lang"), lit("synth").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val s0 = corpus(0L until 60L)
    // bump 2 removes the canonical (doc 0) and a band; bump 3 adds docs
    // back below everything (a NEW canonical for the same giant cluster)
    val s1 = corpus((1L until 40L) ++ (45L until 60L))
    val s2 = corpus(0L until 40L) // doc 0 returns: the old canonical re-claims
    for (si <- Seq(s0, s1, s2)) {
      val a = IngestBump.bump(spark, root, si)
      assert(rowImage(a.verdict) == rowImage(PipelineOps.dedupVerdictOf(si)))
    }
    // one component, relabeled twice, still canonical vs a global CC
    val st = IngestBump.textState(spark, root).get
    assert(rowImage(st("labels")) == rowImage(PipelineOps.connectedComponents(
      st("pairs").select(col("doc_a"), col("doc_b")))))
    assert(st("labels").select("label").distinct().count() == 1,
      "fixture must actually form one giant component")
  }

  test("the LSM cadence: a long bump chain stacks deltas, snapshots at SnapshotEvery " +
       "(pruning the chain), and every verdict along the way tracks from-scratch") {
    val root = Files.createTempDirectory("graft_bump_lsm").toString
    val small = snap(d.where(col("doc_id") < 300))
    IngestBump.bump(spark, root, small)
    var maxLen = 0
    for (i <- 1 to IngestBump.SnapshotEvery + 1) {
      val si = snap(rev(small.where(col("doc_id") % 17 =!= i % 17), 11, i % 11, s" r$i"))
      val a = IngestBump.bump(spark, root, si)
      maxLen = math.max(maxLen, StateStore.chainLength(spark, s"$root/text"))
      assert(rowImage(a.verdict) == rowImage(PipelineOps.dedupVerdictOf(si)), s"bump $i")
    }
    // the chain crossed the cadence exactly once and collapsed
    assert(maxLen == IngestBump.SnapshotEvery - 1, s"max chain length $maxLen")
    assert(StateStore.chainLength(spark, s"$root/text") <= 1)
  }

  test("publishDir refreshes the materialized p60 verdict table from the delta-maintained " +
       "state; the served relation is a bare scan and composers route through it") {
    val root = Files.createTempDirectory("graft_bump_pub").toString
    val facade = Files.createTempDirectory("graft_bump_facade").toString
    IngestBump.bump(spark, root, s0)
    s1.write.mode("overwrite").parquet(s"$facade/documents.parquet")
    IngestBump.bump(spark, root, spark.read.parquet(s"$facade/documents.parquet"),
      publishDir = Some(facade))
    val served = PipelineOps.dedupVerdictServed(spark, facade)
    assert(rowImage(served) == rowImage(PipelineOps.dedupVerdictOf(s1)))
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      "published verdict table must serve as a scan, not a rebuild:\n" + plan.take(600))
    // a downstream composer (the p68 dataset card) over the facade dir now
    // serves the ingest's O(delta)-maintained verdict — and must agree with
    // composing the card directly over the from-scratch verdict
    val card = PipelineOps.datasetCard(spark, facade)
    assert(rowImage(card) == rowImage(PipelineOps.datasetCardOf(
      spark.read.parquet(s"$facade/documents.parquet"),
      PipelineOps.dedupVerdictOf(s1).select(col("doc_id"), col("reason")))))
  }

  test("cap-crossing bumps: a removal that shrinks over-cap cells back under the cap " +
       "reopens them, and the delta-persisted rebuilt pair sets keep every verdict " +
       "at one-shot semantics") {
    val root = Files.createTempDirectory("graft_bump_reopen").toString
    // cap 30 sits between the full-corpus (~44/cell at k=45) and the
    // post-removal cell sizes, so bump 2 retires INTO reopened cells —
    // the one exactness hole delta persistence must carry (its rebuilt
    // sets ride the chain as cellsOut + replacement edges)
    val (k, cap, thr) = (45L, 30, 0.40)
    val full = PipelineOps.quantized(spark, SfDir)
      .select(col("vec_id"), col("q"), col("nrm")).localCheckpoint(false)
    val cents = PipelineOps.semCents(full, k).localCheckpoint(false)
    val seedBound = Seq(k, PipelineOps.IvfCentroids.toLong,
      PipelineOps.PqCentroids.toLong, 10L).max
    val v1 = full.where(col("vec_id") < seedBound || col("vec_id") % 10 < 4)
    for ((vi, di) <- Seq(full, v1).zip(chain)) {
      val a = IngestBump.bump(spark, root, di,
        Some(IngestBump.VectorSnapshot(vi, cents, cap, thr)))
      val oneShot = SemDedupStream.refreshIncremental(cents, vi, None, cap, thr)
      assert(rowImage(a.semVerdict.get) == rowImage(SemDedupStream.verdict(
        vi.select("vec_id"), oneShot, cap)))
    }
  }

  test("trained-quantizer bumps: probe-membership state rides the same LSM chain — " +
       "removal reopens over-cap cells, a returning band re-assigns identically, " +
       "and every verdict tracks the one-shot p52 semantics") {
    val root = Files.createTempDirectory("graft_bump_trained").toString
    val (k, cap, thr) = (45L, 30, 0.40)
    val full = PipelineOps.quantized(spark, SfDir)
      .select(col("vec_id"), col("q"), col("nrm")).localCheckpoint(false)
    val trained = PipelineOps.trainCentroids(full, k)
    // band 9 departs then returns; band 7 departs for good — the probe
    // census (2 rows/vector) crosses cap 30 in both directions
    val v0 = full.where(col("vec_id") % 10 =!= 9)
    val v1 = full
    val v2 = full.where(col("vec_id") % 10 =!= 7)
    for (vi <- Seq(v0, v1, v2)) {
      val got = IngestBump.bumpTrained(spark, root,
        IngestBump.TrainedSnapshot(vi, trained, cap, thr))
      val oneShot = SemDedupStream.refreshTrained(trained, vi, None, cap, thr)
      assert(rowImage(got) == rowImage(SemDedupStream.trainedVerdict(
        vi.select("vec_id"), oneShot, cap)))
    }
  }

  test("vector families ride the same bumps: sem verdict and ANN answers track " +
       "from-scratch builds; mass removal trips the compaction threshold") {
    val root = Files.createTempDirectory("graft_bump_vec").toString
    val full = PipelineOps.quantized(spark, SfDir)
      .select(col("vec_id"), col("q"), col("nrm")).localCheckpoint(false)
    val nEmb = spark.read.parquet(s"$SfDir/embeddings.parquet").count()
    val k = PipelineOps.semCells(nEmb)
    val cents = PipelineOps.semCents(full, k).localCheckpoint(false)
    // seeds (sem + IVF + PQ + the query set) survive every carving, the
    // way production versions its quantizers independently of snapshots
    val seedBound = Seq(k, PipelineOps.IvfCentroids.toLong,
      PipelineOps.PqCentroids.toLong, 10L).max
    val keep = col("vec_id") < seedBound
    val v0 = full.where(keep || col("vec_id") % 10 =!= 9)
    val v1 = full.where(keep || col("vec_id") % 10 =!= 0)
    // v2 removes 60% of the non-seed tail: tombstones/live crosses the
    // CompactTombstoneRatio trigger, so THIS bump must also compact
    val v2 = full.where(keep || col("vec_id") % 10 < 4)
    val idx = IngestBump.indexDir(root)

    for ((vi, di) <- Seq(v0, v1, v2).zip(chain)) {
      val a = IngestBump.bump(spark, root, di,
        Some(IngestBump.VectorSnapshot(vi, cents)))
      // sem one-shot oracle: the whole snapshot as a single first batch
      val oneShot = SemDedupStream.refreshIncremental(
        cents, vi, None, PipelineOps.SemMaxCell, PipelineOps.SemDupThreshold)
      assert(rowImage(a.semVerdict.get) == rowImage(SemDedupStream.verdict(
        vi.select("vec_id"), oneShot, PipelineOps.SemMaxCell)))
      // ANN oracle: a from-scratch index over the same snapshot
      val scratch = Files.createTempDirectory("graft_bump_scratch").toString
      PipelineOps.buildAnnIndexOf(vi.localCheckpoint(false), scratch)
      assert(rowImage(PipelineOps.queryAnnIndex(spark, SfDir, idx)) ==
        rowImage(PipelineOps.queryAnnIndex(spark, SfDir, scratch)))
    }
    // the 60%-removal bump crossed the threshold: tombstones were folded
    // into a merged segment (and the post-compaction answers matched,
    // above) — the committed version's mask is empty and its manifest
    // references exactly the one merged segment
    assert(graft.pipeline.AnnIndexStore.tombstoneCount(spark, idx) == 0,
      "compaction should have fired at a tombstone ratio far above the trigger")
    val (_, segsAfter) = graft.pipeline.AnnIndexStore.current(spark, idx).get
    assert(segsAfter.size == 1,
      s"compaction must collapse the manifest to one merged segment, got $segsAfter")
    // replay: re-delivering the last bump (at-least-once) appends NOTHING —
    // arrivals reconcile against the committed manifest's physical set —
    // and the served answers are unchanged
    val before = rowImage(PipelineOps.queryAnnIndex(spark, SfDir, idx))
    IngestBump.bump(spark, root, chain.last,
      Some(IngestBump.VectorSnapshot(v2, cents)))
    val (_, segsReplay) = graft.pipeline.AnnIndexStore.current(spark, idx).get
    assert(segsReplay == segsAfter, "replayed bump must not write a new segment")
    assert(rowImage(PipelineOps.queryAnnIndex(spark, SfDir, idx)) == before)
  }
}
