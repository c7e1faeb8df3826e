package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.{ArtifactStore, PipelineOps}
import graft.pipeline.PipelineOps.PinnedFrame

/** The ingest-version-bump driver: ONE orchestrated pass that takes the
  * corpus from snapshot N to snapshot N+1 across every maintained
  * artifact — the composition the CDC trilogy (p61 text / p62 vector /
  * p63 ANN-index deltas) exists for. Where p61/p62/p63 each prove one
  * family's delta path against a from-scratch oracle by re-ingesting the
  * old snapshot in-query, this driver is the PRODUCTION shape: carried
  * state lives in [[StateStore]] (marker-committed versioned parquet,
  * DFS via Hadoop-FS routing), the ANN index is a persistent
  * grow-in-place segment tree ([[graft.pipeline.AnnIndexStore]]), and
  * each `bump(newSnapshot)` call pays only the delta:
  *
  *   1. text dedup — derive the exact CDC feed from the carried live
  *      log against the snapshot, then run [[bumpTextCdc]]'s body on it:
  *      retire departed/changed survivors from the carried gram/edge
  *      state, re-gram the delta as one incremental batch, emit the new
  *      snapshot's p36 verdict;
  *   2. p60 refresh — optionally PUBLISH that verdict as the
  *      materialized verdict table of the new snapshot's dataset dir, so
  *      every downstream composer (budget, splits, scrub closure,
  *      dataset card) serves the ingest in O(scan) without the
  *      build-once seam ever re-running corpus-scale dedup;
  *   3. semantic dedup — retire departed vectors (with reopened-cell
  *      rebuild, [[SemDedupStream.retain]]) and refresh arrivals against
  *      the frozen seed quantizer;
  *   4. ANN index — append arrivals through the frozen persisted
  *      quantizer, tombstone departures, and COMPACT when the tombstone
  *      ratio crosses [[PipelineOps.CompactTombstoneRatio]] (the
  *      LSM-style reclaim economics, measured in SCALING.md).
  *
  * Cost per bump is O(delta + state) for pair discovery and O(snapshot
  * hash projections) for verdict assembly — never a corpus re-gram, a
  * corpus re-pair, or an index rebuild. The p71 entry gates the chained
  * driver (two consecutive bumps) under p36's own oracle on the final
  * snapshot; IngestBumpSpec drives all four artifact families across a
  * three-snapshot chain against from-scratch oracles, through a
  * state-on-disk restart.
  *
  * Crash contract: each family's state commits through
  * [[graft.pipeline.ArtifactStore]]'s versioned-directory protocol (one
  * marker create publishes a version; its doc carries the object-store
  * caveat), so a crash mid-bump leaves every
  * family at EITHER snapshot N or N+1, and re-running the bump converges:
  * the text/sem refreshes are idempotent (valid-id retirement and
  * membership anti-joins make a replayed delta a no-op), the index
  * bump derives arrivals/departures from the index's OWN live set rather
  * than the state tables, so a replay appends nothing and re-tombstones
  * nothing, and summary folds stamp the bump identity so a replayed fold
  * is a no-op instead of a double-count ([[bumpSummaries]]). Single concurrent bumper per root (the ingest pipeline's
  * natural shape); two racing bumpers degrade to
  * highest-committed-version-wins between internally-consistent versions,
  * never a torn state.
  *
  * On-disk format: a root is stamped with [[FormatVersion]] (the
  * `_FORMAT` file at the root; format 2 = `_SCHEMA`-recorded versions and
  * flat delta grams) when its first family state is founded,
  * and every public entry refuses a root that holds family state under
  * another stamp, or under none, with a [[StateFormatException]] — such
  * a root is founded again from a snapshot with [[bump]].
  *
  * Reference: the reference engine has no ingest maintenance at all (a
  * schema reload is a full flush, tesseract-server `handlers/flush.rs`);
  * this driver is the beyond-parity lifecycle a 100 TB training-data
  * pipeline needs. */
object IngestBump {

  /** The per-snapshot outputs: the text verdict (p36 shape: doc_id,
    * reason, canonical_id) and, when vectors ride the bump, the semantic
    * verdict (p44 shape) and/or the trained-quantizer verdict (p52
    * shape). All carry a LAZY local checkpoint: an intermediate bump's
    * unread verdict costs nothing (the chain entry evaluates only the
    * final one), and the first evaluation pins the result off the state
    * files. Evaluate within one further bump — StateStore keeps each
    * state version alive for exactly one more save cycle. */
  final case class Artifacts(
      verdict: DataFrame,
      semVerdict: Option[DataFrame],
      trainedVerdict: Option[DataFrame] = None)

  /** The vector half of a snapshot: quantized vectors (vec_id, q, nrm)
    * plus the FROZEN seed quantizer (trained once, versioned with the
    * deployment — exactly how production coarse quantizers ship). */
  final case class VectorSnapshot(
      vecs: DataFrame,
      cents: DataFrame,
      maxCell: Int = PipelineOps.SemMaxCell,
      threshold: Double = PipelineOps.SemDupThreshold)

  /** The TRAINED-quantizer half of a snapshot (the p52/p55 lifecycle):
    * quantized vectors plus the frozen trained centroids
    * ([[PipelineOps.trainCentroids]]'s (cid, qb, nrm_b) shape) —
    * membership is top-2 probe cells against the broadcast quantizer. */
  final case class TrainedSnapshot(
      vecs: DataFrame,
      trained: DataFrame,
      maxCell: Int = PipelineOps.SemMaxCell,
      threshold: Double = PipelineOps.SemDupThreshold)

  private def textDir(root: String) = s"$root/text"
  private def semDir(root: String) = s"$root/sem"
  private def trainedStateDir(root: String) = s"$root/trained"

  /** The persistent ANN index tree under a bump root (query it with the
    * p49 query half). */
  def indexDir(root: String): String = s"$root/ann"

  /** The on-disk format every state family under a root is written in;
    * bump it with any change a reader of older state cannot fold. Format
    * 2: every state version records its tables' schemas (`_SCHEMA`, see
    * [[StateStore]]), and text delta versions write their grams flat —
    * only the gram snapshot is `gbucket`-partitioned. */
  val FormatVersion = 2

  /** A root whose family state was written in another (or no stamped)
    * format — refused rather than misread. */
  final class StateFormatException(val root: String, val found: Option[String])
      extends IllegalStateException(
        s"ingest state root $root has format ${found.fold("(no _FORMAT stamp)")(f => s"'$f'")}, " +
        s"this build reads format $FormatVersion only — found the root again from a " +
        "snapshot with IngestBump.bump on an empty root")

  private def stampPath(root: String) = s"$root/_FORMAT"
  private val FamilyDirs = Seq("text", "sem", "trained", "ann", "summary")

  /** Require `root`'s format stamp to be [[FormatVersion]]; a root with
    * no family state yet is founded (stamped) when `found`, else left
    * alone. Hadoop-FS metadata reads only — no Spark job. */
  private def requireFormat(spark: SparkSession, root: String, found: Boolean): Unit =
    ArtifactStore.readText(spark, stampPath(root)).map(_.trim) match {
      case Some(f) if f == FormatVersion.toString => ()
      case Some(f) => throw new StateFormatException(root, Some(f))
      case None =>
        if (FamilyDirs.exists(d => ArtifactStore.exists(spark, s"$root/$d")))
          throw new StateFormatException(root, None)
        if (found) ArtifactStore.writeText(spark, stampPath(root), FormatVersion.toString)
    }

  /** A registered OLAP summary riding the bump: the Preagg store of one
    * grain, maintained per fact delta through the same StateStore commit
    * protocol the dedup families use. `partialsOf` computes a fact
    * DELTA's store-schema partial summary ([[graft.plan.Preagg]]'s
    * `summaryFrame` over a planner whose fact slot is the delta);
    * `combine` is the cube's re-agg merge (`Preagg.mergeSummaries` —
    * sums/counts add, min/min, max/max, KMV sketches union losslessly).
    * Per bump the store pays O(delta + summary), never a fact rescan,
    * and [[summaryPath]] hands the committed store to the SAME
    * PreaggPlanner / LogicLayer routing a batch-materialized summary
    * uses. */
  final case class SummarySpec(
      name: String,
      partialsOf: DataFrame => DataFrame,
      combine: (DataFrame, DataFrame) => DataFrame)

  private def summaryDir(root: String, name: String) = s"$root/summary/$name"

  /** Deterministic identity of a fact delta's content: an
    * order-insensitive xxhash64 fold over every column of every row plus
    * the row count — one O(delta) aggregate, the default replay stamp
    * when the caller has no external bump id. */
  private def contentId(delta: DataFrame): String = {
    // sum in decimal(38,0): ANSI mode makes a long sum of hashes overflow
    val r = delta
      .select(xxhash64(struct(delta.columns.map(col): _*))
        .cast("decimal(38,0)").as("h"))
      .agg(sum(col("h")), count(lit(1))).collect()(0)
    s"${r.get(0)}_${r.getLong(1)}"
  }

  /** The bump identity a summary store's `applied` stamp table holds. */
  private def appliedId(applied: DataFrame): Option[String] =
    applied.select("bump_id").collect().headOption.map(_.getString(0))

  /** Fold one fact delta into every registered summary store under
    * `root` — the OLAP half of an ingest bump. Each store commits as its
    * own StateStore version (crash leaves it at N or N+1; the previous
    * version survives one cycle for in-flight readers, so the merge's
    * lazy read of version N while writing N+1 is safe).
    *
    * Replay idempotency (the same crash contract as the other four
    * maintained families): every commit stamps the bump's identity —
    * `bumpId` when the ingest provides one, else the delta's content
    * hash — alongside the summary, and a fold whose identity matches the
    * committed stamp is a no-op, so re-running an already-completed
    * `bump()` (at-least-once recovery) cannot double-count. The content
    * default makes recovery safe with no caller wiring; a feed that can
    * legitimately deliver byte-identical CONSECUTIVE fact deltas must
    * pass its own `bumpId` (an offset/epoch), since content alone cannot
    * tell that apart from a replay. Stamps are compared per store, so a
    * crash between two specs' commits recovers each store independently.
    *
    * Write economics (measured in SCALING.md): the store is
    * READ-optimized — one parquet path the Preagg router scans with no
    * fold — so each bump rewrites the merged summary, O(summary rows)
    * per bump. That is the right trade while summaries are grain-sized
    * (queries ≫ bumps, and a grain is dim-cardinality, orders below the
    * fact); a grain whose cardinality approaches the fact's would pay
    * real write amplification here AND would defeat the summary's
    * purpose (scan ≈ fact scan), so the bound is structural: register
    * grains, not near-fact keys. */
  def bumpSummaries(
      spark: SparkSession,
      root: String,
      factDelta: DataFrame,
      specs: Seq[SummarySpec],
      bumpId: Option[String] = None): Unit = {
    requireFormat(spark, root, found = true)
    foldSummaries(spark, root, factDelta, specs, bumpId)
  }

  private def foldSummaries(
      spark: SparkSession,
      root: String,
      factDelta: DataFrame,
      specs: Seq[SummarySpec],
      bumpId: Option[String]): Unit = {
    if (specs.isEmpty) return
    lazy val id = bumpId.getOrElse(contentId(factDelta))
    specs.foreach { s =>
      val dir = summaryDir(root, s.name)
      val stamp = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(id)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bump_id",
            org.apache.spark.sql.types.StringType, nullable = false))))
      StateStore.load(spark, dir, Seq("summary", "applied")) match {
        case Some(m) if appliedId(m("applied")).contains(id) => () // replay: no-op
        case Some(m) =>
          val merged = s.combine(m("summary"), s.partialsOf(factDelta))
          StateStore.save(dir, Map("summary" -> merged, "applied" -> stamp))
        case None =>
          StateStore.save(dir,
            Map("summary" -> s.partialsOf(factDelta), "applied" -> stamp))
      }
    }
  }

  /** The committed summary store's parquet path under a bump root — what
    * a serving layer points its summary TableDef at (re-resolve after
    * each bump; the previous version's path stays readable for one save
    * cycle). None before the first fold. */
  def summaryPath(spark: SparkSession, root: String, name: String): Option[String] =
    StateStore.currentTablePath(spark, summaryDir(root, name), "summary")

  /** Advance every artifact under `root` to `newDocs` (+ optional vector
    * snapshot); returns the new snapshot's verdicts. `publishDir`: the
    * dataset directory whose materialized p60 verdict table this verdict
    * IS — the ingest updates the table in O(delta + state), where the
    * build-once seam would pay a full corpus dedup. `factDelta` +
    * `summaries`: the OLAP fact rows that arrived with this ingest and
    * the registered Preagg stores they fold into ([[bumpSummaries]]) —
    * the fifth maintained family. */
  def bump(
      spark: SparkSession,
      root: String,
      newDocs: DataFrame,
      vectors: Option[VectorSnapshot] = None,
      publishDir: Option[String] = None,
      trainedVectors: Option[TrainedSnapshot] = None,
      factDelta: Option[DataFrame] = None,
      summaries: Seq[SummarySpec] = Nil,
      bumpId: Option[String] = None): Artifacts = {
    requireFormat(spark, root, found = true)
    val dir = textDir(root)
    val verdict = loadTextState(spark, dir) match {
      case None => initialText(spark, dir,
        PipelineOps.survivorsOf(newDocs).pinned(false),
        DedupStream.arrivalLog(newDocs).pinned(false))
      // the feed is derived here, not trusted, so there is nothing to audit
      case Some(m) =>
        applyFeed(spark, dir, m, feedOf(m("livelog"), newDocs), newDocs,
          auditSampleMod = 0L, IncrementalCc.DriverBound)
    }
    publishDir.foreach(d => PipelineOps.publishVerdictTable(spark, d, verdict))
    val sem = vectors.map { vs =>
      val sv = bumpSem(spark, semDir(root), vs)
      bumpIndex(spark, indexDir(root), vs.vecs)
      sv
    }
    val tv = trainedVectors.map(ts => bumpTrainedAt(spark, trainedStateDir(root), ts))
    factDelta.foreach(fd => foldSummaries(spark, root, fd, summaries, bumpId))
    Artifacts(verdict, sem, tv)
  }

  /** Trained-quantizer family: same LSM cadence and retire-then-refresh
    * shape as [[bumpSem]], against the frozen TRAINED multi-probe
    * quantizer — the p52/p55 production lifecycle (train once over the
    * backlog, catch-up/serve through maintained state) now rides the
    * composed ingest driver with O(delta) persistence. Public as its own
    * entry point too: a vector-only deployment bumps this family without
    * carrying a document corpus (the p73 chain does exactly that). */
  def bumpTrained(
      spark: SparkSession, root: String, ts: TrainedSnapshot): DataFrame = {
    requireFormat(spark, root, found = true)
    bumpTrainedAt(spark, trainedStateDir(root), ts)
  }

  private def bumpTrainedAt(
      spark: SparkSession, dir: String, ts: TrainedSnapshot): DataFrame = {
    import SemDedupStream.{SemState, TrainedState}
    def trained(st: SemState) = TrainedState(st.members, st.edges)
    bumpVectors(spark, dir, ts.vecs, ts.maxCell, ts.threshold, probeRows = true,
      refresh = prior => {
        val (st, sd) = SemDedupStream.refreshTrainedDelta(
          ts.trained, ts.vecs, prior.map(trained), ts.maxCell, ts.threshold)
        (SemState(st.members, st.edges), sd)
      },
      verdict = st => SemDedupStream.trainedVerdict(
        ts.vecs.select("vec_id").distinct(), trained(st), ts.maxCell))
  }

  /** A CDC delta feed — the shape an ingest log provides: ids whose docs
    * left the corpus, changed docs (full new bodies, live ids), added
    * docs (fresh ids). The three are disjoint by doc_id. */
  final case class CorpusDelta(
      removedIds: DataFrame, changed: DataFrame, added: DataFrame)

  private val DocCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** Text-family bump fed by a CDC DELTA instead of a full snapshot.
    * [[bump]] must re-hash the whole snapshot to discover what changed —
    * an O(corpus text) scan per ingest; this path trusts the feed, so
    * the only text that is ever hashed or grammed is the delta's
    * (changed ∪ added ∪ promoted). Per bump it pays O(delta text) +
    * corpus-HASH-projection shuffles (the 40-byte-row live log that
    * survivor selection and verdict assembly are defined over) +
    * state-projection anti-joins — never a corpus text scan, never a
    * state rewrite (delta persistence via [[StateStore.saveDelta]]).
    *
    * `corpus` is the NEW snapshot's documents frame, consulted ONLY to
    * fetch the bodies of PROMOTED survivors — an old non-survivor whose
    * exact-duplicate survivor just departed, the one body the feed
    * cannot carry. That lookup is a delta-sized id semi-join (with an
    * id-partitioned corpus layout it partition-prunes; promotions only
    * happen when an exact-dup's keeper leaves, so the matched set is
    * tiny). [[bump]] is this same body over a feed it derives from the
    * snapshot ([[feedOf]]); the verdict is spec-gated and entry-gated
    * (p72) under p36's own oracle.
    *
    * TRUST-BUT-VERIFY: the path trusts the feed for the delta's
    * membership, but a feed bug (a missed removal, a missed add, a
    * changed doc delivered as added) would silently corrupt the
    * maintained verdict until the next full [[bump]]. Every bump
    * therefore audits a deterministic 1-in-`auditSampleMod` sample in
    * each direction — corpus rows (sampled per (source, doc_id), so a
    * bug confined to a SMALL source gets its own 1/mod per-doc trial
    * density rather than inheriting whole-corpus luck) must appear
    * verbatim in the post-bump live log, and live-log rows (uniform
    * doc-id sample) must appear in the corpus under the same hash — and
    * FAILS the bump loudly on any divergence, BEFORE any state commits.
    * The audit hashes ~2/mod of the corpus text per bump; a single
    * corrupt doc is caught with probability 1/mod per bump, so after b
    * bumps a standing feed bug survives with probability (1−1/mod)^b —
    * at the default 64, under 21% after 100 bumps, under 0.05% after
    * 500 — while every MASS feed bug (a dropped partition, a stuck
    * topic) is caught on the next bump with near-certainty.
    * `auditSampleMod = 1` audits the full corpus (what the spec's
    * lying-feed injections use); `auditSampleMod = 0` disables. */
  def bumpTextCdc(
      spark: SparkSession,
      root: String,
      delta: CorpusDelta,
      corpus: DataFrame,
      publishDir: Option[String] = None,
      auditSampleMod: Long = 64L): DataFrame =
    bumpTextCdc(spark, root, delta, corpus, publishDir, auditSampleMod, IncrementalCc.DriverBound)

  /** [[bumpTextCdc]] under a given `driverBound`: the cap on the rows the
    * survivor step collects to the driver (passed on to
    * [[IncrementalCc.refresh]]); a feed past it re-founds the text state
    * from `corpus` (see [[applyFeed]]). Tests force that route here. */
  private[graft] def bumpTextCdc(
      spark: SparkSession,
      root: String,
      delta: CorpusDelta,
      corpus: DataFrame,
      publishDir: Option[String],
      auditSampleMod: Long,
      driverBound: Int): DataFrame = {
    requireFormat(spark, root, found = false)
    val dir = textDir(root)
    val m = loadTextState(spark, dir).getOrElse(throw new IllegalStateException(
      "bumpTextCdc needs an ingested base — run bump() on the first snapshot"))
    val verdict = applyFeed(spark, dir, m, delta, corpus, auditSampleMod, driverBound)
    publishDir.foreach(d => PipelineOps.publishVerdictTable(spark, d, verdict))
    verdict
  }

  /** The exact CDC feed that takes the carried live log to the snapshot
    * `newDocs`: one comparison of the live log with the snapshot's
    * arrival log, both hash-sized (doc_id, content_hash) rows, then the
    * changed and added bodies read back from the snapshot by id. The
    * three parts are disjoint by doc_id, as [[CorpusDelta]] needs. */
  private def feedOf(livelog: DataFrame, newDocs: DataFrame): CorpusDelta = {
    val cmp = DedupStream.arrivalLog(newDocs).withColumnRenamed("content_hash", "h1")
      .join(livelog, Seq("doc_id"), "full_outer")
      .pinned(false)
    def bodies(ids: DataFrame) =
      newDocs.join(ids.select("doc_id"), Seq("doc_id"), "left_semi")
    CorpusDelta(
      removedIds = cmp.where(col("h1").isNull).select("doc_id"),
      changed = bodies(cmp.where(col("h1") =!= col("content_hash"))),
      added = bodies(cmp.where(col("content_hash").isNull)))
  }

  /** The one body that advances maintained text state by a CDC feed —
    * [[bumpTextCdc]] with the feed it was given, [[bump]] with the feed
    * [[feedOf]] derives. The exact stage (touched-hash survivor
    * re-selection) is hash-sized, so it composes on the driver: three
    * bounded collects — the feed's ids and arrival hashes, the carried
    * live-log rows of those ids, and the live-log and survivor rows of the
    * touched hashes — then plain Scala, with the results handed on as
    * local frames. Then one incremental pair-discovery batch + an
    * [[IncrementalCc]] rebuild of exactly the touched components,
    * committed as one atomic state version — a DELTA version on most
    * bumps, a folded snapshot every [[SnapshotEvery]]th (the LSM cadence;
    * the corpus-sized state rewrite lands on 1 bump in 8, every other
    * write is O(delta + touched components)). The verdict assembles from
    * the maintained labels — never a global CC.
    *
    * A feed whose collects exceed `driverBound` rows (or
    * state whose doc ids are not int64) re-founds the text state from the
    * new snapshot with [[initialText]], as [[IncrementalCc.refresh]]
    * rebuilds past the same bound; that route reads the corpus itself, so
    * it neither trusts nor audits the feed. Feed doc ids must be non-null. */
  private def applyFeed(
      spark: SparkSession,
      dir: String,
      m: Map[String, DataFrame],
      delta: CorpusDelta,
      corpus: DataFrame,
      auditSampleMod: Long,
      driverBound: Int): DataFrame = {
    import spark.implicits._
    import IncrementalCc.{collectBounded, inSet}
    def refound() = initialText(spark, dir,
      PipelineOps.survivorsOf(corpus).pinned(false),
      DedupStream.arrivalLog(corpus).pinned(false))
    def hashOf(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getString(1))
    def without(df: DataFrame, c: String, vs: Iterable[Any]) =
      if (vs.isEmpty) df else df.where(col(c).isNull || !inSet(col(c), vs))

    val deltaDocs = delta.changed.select(DocCols.map(col): _*).withColumn("__changed", lit(true))
      .unionByName(delta.added.select(DocCols.map(col): _*).withColumn("__changed", lit(false)))
      .pinned(false)
    def feedLog(changed: Boolean) =
      DedupStream.arrivalLog(deltaDocs.where(col("__changed") === changed))
        .select(col("doc_id").cast("long"), col("content_hash"), lit(changed).as("changed"))
    // ---- the feed: removed ids, and each delta doc's id + arrival hash
    val feed =
      if (m("livelog").schema("doc_id").dataType != org.apache.spark.sql.types.LongType) None
      else collectBounded(delta.removedIds.select(col("doc_id").cast("long"),
          lit(null).cast("string").as("content_hash"), lit(null).cast("boolean").as("changed"))
        .unionByName(feedLog(changed = true)).unionByName(feedLog(changed = false)), driverBound)
    if (feed.isEmpty) return refound()
    require(!feed.get.exists(_.isNullAt(0)), "CDC feed contract violated: NULL doc_id")
    // a changed doc departs the log under its old hash and re-enters via
    // the delta log under its new one
    val departedIds = feed.get.iterator
      .filter(r => r.isNullAt(2) || r.getBoolean(2)).map(_.getLong(0)).toSet
    val arrivals = feed.get.toSeq.filterNot(_.isNullAt(2)).map(hashOf)
    val deltaIds = arrivals.map(_._1).toSet

    // ---- the carried live-log rows of every id the feed names
    val logOfIds = collectBounded(m("livelog").where(inSet(col("doc_id"), departedIds ++ deltaIds))
      .select("doc_id", "content_hash"), driverBound)
    if (logOfIds.isEmpty) return refound()
    val (departedRows, keptRows) = logOfIds.get.toSeq.map(hashOf)
      .partition { case (id, _) => departedIds(id) }
    // replay idempotency: on a re-run of an already-committed bump the
    // feed's added docs are ALREADY in the carried livelog (and not
    // departed), so they must not re-enter — the duplicate would persist
    // in the chain and duplicate every later verdict. A NULL hash never
    // matches, as in a join.
    val kept = keptRows.filter(_._2 != null).toSet
    val deltaLog = arrivals.filterNot(kept)

    // touched-hash survivor re-selection: survivor(h) can only change
    // when h's MEMBERSHIP changed — h lost a row (a departed doc's old
    // hash) or gained one (a delta arrival). The min-per-hash runs over
    // only the touched slice of the live log, and every untouched hash
    // keeps its carried survivor row.
    val touched = (departedRows.iterator ++ deltaLog.iterator)
      .map(_._2).filter(_ != null).toSet
    val touchedRows = collectBounded(
      m("livelog").where(inSet(col("content_hash"), touched))
        .select(col("doc_id"), col("content_hash"), lit(false).as("surv"))
        .unionByName(m("survhash").where(inSet(col("content_hash"), touched))
          .select(col("doc_id"), col("content_hash"), lit(true).as("surv"))), driverBound)
    if (touchedRows.isEmpty) return refound()
    val (survTouched, logTouched) = touchedRows.get.toSeq
      .partition(_.getBoolean(2)) match { case (s, l) => (s.map(hashOf), l.map(hashOf)) }
    val reselected: Map[String, Long] =
      (logTouched.filterNot { case (id, _) => departedIds(id) } ++
        deltaLog.filter(_._2 != null))
        .groupBy(_._2).map { case (h, rows) => h -> rows.map(_._1).min }
    // old survivors whose hash went untouched are still survivors AND
    // still byte-valid; a reselected (touched-hash) winner is valid iff
    // it was already a survivor under the same hash
    val validIds = survTouched.collect {
      case (id, h) if reselected.get(h).contains(id) => id
    }.toSet
    val retired = survTouched.map(_._1).filterNot(validIds).distinct
    val batchSurvhash = reselected.toSeq.map(_.swap).filterNot { case (id, _) => validIds(id) }
    // batch bodies: from the feed where present; promoted ids fetch from
    // the corpus
    val promoted = batchSurvhash.map(_._1).filterNot(deltaIds)
    val fromFeed = deltaDocs.where(inSet(col("doc_id").cast("long"), batchSurvhash.map(_._1)))
      .select(DocCols.map(col): _*)
    val batchDocs =
      if (promoted.isEmpty) fromFeed
      else fromFeed.unionByName(corpus.select(DocCols.map(col): _*)
        .where(inSet(col("doc_id").cast("long"), promoted)))

    val livelog = without(m("livelog"), "doc_id", departedIds)
      .unionByName(deltaLog.toDF("doc_id", "content_hash"))
    // trust-but-verify stays SEQUENTIAL: overlapping it from a future
    // races the first materialization of the bump's lazy pins against the
    // main derivation — measured 2.5× slower end-to-end, not faster (same
    // lesson as the refresh probes; see IncrementalCc.refresh)
    if (auditSampleMod > 0) auditFeed(livelog, corpus, auditSampleMod)
    val newSurvIds = without(m("survhash"), "content_hash", touched)
      .unionByName(reselected.toSeq.map(_.swap).toDF("doc_id", "content_hash"))
    val retiredDf = retired.toDF("doc_id")
    val pd = DedupStream.discoverPairs(batchDocs, Some(without(m("grams"), "doc_id", retired)))
    val ld = IncrementalCc.refresh(m("labels"), m("pairs"), retiredDf, pd.newPairs,
      driverBound = driverBound)
    val stateDelta = Map(
      "retired" -> retiredDf, "departed" -> departedIds.toSeq.toDF("doc_id"),
      "labelsOut" -> ld.labelsOut, "pairsOut" -> ld.pairsOut,
      "labelsIn" -> ld.labelsIn,
      "grams" -> pd.newGrams, "pairs" -> ld.pairsIn,
      "survhash" -> batchSurvhash.toDF("doc_id", "content_hash"),
      "livelog" -> deltaLog.toDF("doc_id", "content_hash"))
    // the state this bump leaves: the chain fold applied to one more delta
    val folded = DedupStream.foldPairChain(m, Seq(stateDelta))
    if (StateStore.chainLength(spark, dir) + 1 >= SnapshotEvery)
      StateStore.save(dir,
        folded ++ Map("survhash" -> newSurvIds, "livelog" -> livelog), TextPartitions)
    else StateStore.saveDelta(dir, stateDelta)
    DedupStream.verdictFromLabels(newSurvIds, livelog, folded("labels"))
      .pinned(false)
  }

  /** The CDC audit ([[bumpTextCdc]]'s trust-but-verify), two directions,
    * each anti-joining a deterministic 1-in-`mod` SAMPLE against the FULL
    * other side (so the two samples need not agree, and total text hashed
    * per bump stays ~2/mod of the corpus):
    *
    *   1. corpus → log (missed add, changed doc never delivered): a
    *      sample of the corpus keyed on (source, doc_id) must appear
    *      verbatim — same (doc_id, content_hash) — in the post-bump live
    *      log. STRATIFYING the sample key by source gives a bug confined
    *      to a small source (one dropped topic-partition of a 1% feed)
    *      ~n_source/mod trials per bump — the same per-doc detection
    *      density a mass bug gets — where a uniform doc-id sample gave
    *      the whole corpus's 1/mod to every source alike but far fewer
    *      absolute trials to the small one's standing bug.
    *   2. log → corpus (missed removal, stale hash): a uniform doc-id
    *      sample of the live log must appear in the corpus under the
    *      same hash; corpus hashing is restricted to the sampled ids
    *      (a sample-sized semi-join), never the whole corpus text.
    */
  private def auditFeed(livelog: DataFrame, corpus: DataFrame, mod: Long): Unit = {
    val corpusSide =
      if (mod <= 1) corpus
      else corpus.where(
        pmod(hash(col("source"), col("doc_id"), lit(0x5EED)), lit(mod)) === 0)
    val corpusOnly = DedupStream.arrivalLog(corpusSide)
      .join(livelog, Seq("doc_id", "content_hash"), "left_anti")
      .select(col("doc_id"), lit(1L).as("s"))
    val logSide =
      if (mod <= 1) livelog
      else livelog.where(pmod(hash(col("doc_id"), lit(0x5EED)), lit(mod)) === 0)
    val logOnly = logSide
      .join(DedupStream.arrivalLog(
          corpus.join(logSide.select("doc_id"), Seq("doc_id"), "left_semi")),
        Seq("doc_id", "content_hash"), "left_anti")
      .select(col("doc_id"), lit(2L).as("s"))
    val examples = corpusOnly.unionByName(logOnly).limit(5).collect()
    if (examples.nonEmpty) {
      val desc = examples.map(r => s"doc ${r.get(0)} (${
        if (r.getLong(1) == 1L) "in corpus, not in maintained log — missed add/change"
        else "in maintained log, not in corpus — missed removal/stale hash"})")
        .mkString("; ")
      throw new IllegalStateException(
        s"CDC feed/corpus divergence detected by the 1-in-$mod audit — refusing to " +
        s"commit a corrupt bump (run a full bump() to resync): $desc")
    }
  }

  /** Snapshot the folded text state every this many delta commits — the
    * LSM compaction cadence: the read-side fold depth stays ≤ this while
    * the other bumps write O(delta). 8 balances fold depth (8 broadcast
    * anti-join layers under the consuming plan) against amortized write
    * amplification (the corpus-sized gram rewrite lands on 1 bump in 8). */
  private[streaming] val SnapshotEvery = 8

  /** The gram SNAPSHOT persists hive-partitioned on its block-key bucket
    * so the next bump's probe partition-prunes the corpus-sized history
    * scan to the delta's buckets
    * ([[graft.pipeline.PipelineOps.pruneGramHistory]]). Delta grams are
    * written flat: they are delta-sized, the 64-bucket write was the
    * slowest write of a delta commit and most of its files, and on their
    * rows the `gbucket` filter is still correct as a plain row filter.
    * (The labeled EDGE state deliberately does not get the layout at all:
    * its per-bump filter key is the touched components' membership, which
    * in a dup-dense corpus spans the whole bucket space — measured, the
    * partition overhead cost more than the never-firing prune saved.) */
  private val TextPartitions = Map("grams" -> Seq("gbucket"))

  private val TextSnapTables =
    Seq("grams", "pairs", "labels", "survhash", "livelog")
  private val TextDeltaTables = Seq(
    "retired", "departed", "labelsOut", "pairsOut", "labelsIn",
    "grams", "pairs", "survhash", "livelog")

  /** The folded text state under a bump root — the delta chain's
    * snapshot with every retirement + new-row layer applied, lazily.
    * What a restarted driver (and the canonicality spec) reads. */
  def textState(spark: SparkSession, root: String): Option[Map[String, DataFrame]] = {
    requireFormat(spark, root, found = false)
    loadTextState(spark, textDir(root))
  }

  /** The folded text state: the chain's snapshot with every delta's
    * retirement + new rows applied, lazily. None before the first bump. */
  private def loadTextState(
      spark: SparkSession, dir: String): Option[Map[String, DataFrame]] =
    StateStore.loadChain(spark, dir, TextSnapTables, TextDeltaTables)
      .map { case (snap, deltas) => DedupStream.foldPairChain(snap, deltas) }

  /** First-bump text state: one batch ingest, global CC, every edge
    * epoch-stamped; committed as the chain's founding snapshot. */
  private def initialText(
      spark: SparkSession, dir: String,
      newSurv: DataFrame, arrivals: DataFrame): DataFrame = {
    val pd = DedupStream.discoverPairs(newSurv, None)
    val (labels, labeled) = IncrementalCc.initial(pd.newPairs)
    StateStore.save(dir, Map(
      "grams" -> pd.newGrams, "pairs" -> labeled, "labels" -> labels,
      "survhash" -> newSurv.select("doc_id", "content_hash"),
      "livelog" -> arrivals), TextPartitions)
    DedupStream.verdictFromLabels(newSurv, arrivals, labels).pinned(false)
  }

  private def bumpSem(spark: SparkSession, dir: String, vs: VectorSnapshot): DataFrame =
    bumpVectors(spark, dir, vs.vecs, vs.maxCell, vs.threshold, probeRows = false,
      refresh = SemDedupStream.refreshDelta(vs.cents, vs.vecs, _, vs.maxCell, vs.threshold),
      verdict = SemDedupStream.verdict(vs.vecs.select("vec_id"), _, vs.maxCell))

  /** Both vector families' bump: retire departures (reopened-cell rebuild
    * included), then `refresh` arrivals against the family's frozen
    * quantizer — the refresh's membership anti-join makes passing the
    * whole snapshot as the batch both correct and replay-idempotent.
    * Persists the same LSM cadence as the text family: the corpus-sized
    * (vec_id, cid, q, nrm) membership — quantized vectors and all —
    * rewrites on 1 bump in [[SnapshotEvery]]; every other commit writes
    * the delta alone (departures, reopened cells + their rebuilt pair
    * sets, the batch's assignments and new edges). The trained family's
    * state has the sem family's shape plus a probe `rank` column, so one
    * fold and one retirement serve both; `probeRows` marks its up to
    * [[PipelineOps.IvfProbes]] membership rows per vector. */
  private def bumpVectors(
      spark: SparkSession,
      dir: String,
      vecs: DataFrame,
      maxCell: Int,
      threshold: Double,
      probeRows: Boolean,
      refresh: Option[SemDedupStream.SemState] =>
        (SemDedupStream.SemState, SemDedupStream.SemDelta),
      verdict: SemDedupStream.SemState => DataFrame): DataFrame = {
    val st = StateStore.loadChain(spark, dir,
        Seq("members", "edges"), Seq("retired", "cellsOut", "members", "edges"))
      .map { case (snap, ds) => SemDedupStream.foldSemChain(snap, ds) } match {
      case None =>
        val (st, _) = refresh(None)
        StateStore.save(dir, Map("members" -> st.members, "edges" -> st.edges))
        st
      case Some(m) =>
        val ids = m.members.select("vec_id")
        val retired = (if (probeRows) ids.distinct() else ids)
          .join(vecs.select("vec_id"), Seq("vec_id"), "left_anti")
          .pinned(false)
        val (prior, reopened, rebuilt) =
          SemDedupStream.retire(m, retired, maxCell, threshold)
        val (st, sd) = refresh(Some(prior))
        if (StateStore.chainLength(spark, dir) + 1 >= SnapshotEvery)
          StateStore.save(dir, Map("members" -> st.members, "edges" -> st.edges))
        else
          StateStore.saveDelta(dir, Map(
            "retired" -> retired, "cellsOut" -> reopened,
            "members" -> sd.membersIn,
            "edges" -> rebuilt.unionByName(sd.edgesIn)))
        st
    }
    verdict(st).pinned(false)
  }

  /** Index family: first bump builds; later bumps reconcile the index's
    * PHYSICAL id set (every assignment row, tombstoned or not) against
    * the snapshot: ids never indexed encode through the frozen quantizer
    * into a fresh immutable segment, and the tombstone relation is
    * REDERIVED as physical-minus-snapshot. Deriving tombstones from
    * (physical, snapshot) alone — rather than folding deltas into the
    * previous tombstone set — is what makes a departed-then-restored
    * vector resurrect for free (embeddings are immutable per vec_id, so
    * its existing rows are still valid; it simply drops out of the
    * tombstone set) instead of being re-appended into a duplicate row
    * while its tombstone still masks both; it is also what makes a
    * replayed bump a no-op (the arrivals anti-join sees the committed
    * manifest's physical set and comes back empty).
    *
    * The bump commits through [[AnnIndexStore]]'s versioned segment
    * manifest — segment + tombstones + manifest become visible in ONE
    * marker create, so a crash mid-bump can never expose a mixed index,
    * concurrent readers only ever see complete committed versions, and
    * two racing bumpers claim distinct versions instead of
    * double-appending into a shared file. Compaction (tombstone ratio
    * over [[PipelineOps.CompactTombstoneRatio]]) folds the live rows +
    * this bump's arrivals into ONE merged segment referenced by the new
    * version — a segment write and a manifest swap, never an in-place
    * rewrite. No eager checkpoints anywhere: every read below is against
    * immutable segment files. */
  private def bumpIndex(spark: SparkSession, idx: String, vecs: DataFrame): Unit = {
    import graft.pipeline.AnnIndexStore
    def writeSegFrom(assigned: DataFrame, codes: DataFrame)(v: Long, segDir: String): Unit = {
      assigned.write.mode("overwrite").parquet(s"$segDir/ivf_assign.parquet")
      codes.write.mode("overwrite").parquet(s"$segDir/pq_codes.parquet")
    }
    AnnIndexStore.current(spark, idx) match {
      case None =>
        val n = vecs.pinned(false)
        PipelineOps.writeAnnQuantizer(n, idx)
        val (assigned, codes) = PipelineOps.encodeAnnBatch(spark, n, idx)
        AnnIndexStore.commit(spark, idx, n.select("vec_id").limit(0),
          segsOf = v => Seq(AnnIndexStore.segNameOf(v)),
          writeSeg = Some(writeSegFrom(assigned, codes)))
      case Some((_, segs)) =>
        val physical = AnnIndexStore.segAssigned(spark, idx, segs)
          .select(col("nbr_id").as("vec_id")).pinned(false)
        val arrivals = vecs.join(physical, Seq("vec_id"), "left_anti")
          .pinned(false)
        val tomb = physical.join(vecs.select("vec_id"), Seq("vec_id"), "left_anti")
          .pinned(false)
        val (nTomb, nArrivals, nPhysical) =
          (tomb.count(), arrivals.count(), physical.count())
        val nLive = nPhysical - nTomb + nArrivals
        if (nTomb.toDouble >= PipelineOps.CompactTombstoneRatio * nLive) {
          val tombN = tomb.select(col("vec_id").as("nbr_id"))
          val (aEnc, cEnc) = PipelineOps.encodeAnnBatch(spark, arrivals, idx)
          val mergedA = AnnIndexStore.segAssigned(spark, idx, segs)
            .join(tombN, Seq("nbr_id"), "left_anti").unionByName(aEnc)
          val mergedC = AnnIndexStore.segCodes(spark, idx, segs)
            .join(tombN, Seq("nbr_id"), "left_anti").unionByName(cEnc)
          AnnIndexStore.commit(spark, idx, tomb.limit(0),
            segsOf = v => Seq(AnnIndexStore.segNameOf(v)),
            writeSeg = Some(writeSegFrom(mergedA, mergedC)))
        } else if (nArrivals > 0) {
          val (aEnc, cEnc) = PipelineOps.encodeAnnBatch(spark, arrivals, idx)
          AnnIndexStore.commit(spark, idx, tomb,
            segsOf = v => segs :+ AnnIndexStore.segNameOf(v),
            writeSeg = Some(writeSegFrom(aEnc, cEnc)))
        } else
          AnnIndexStore.commit(spark, idx, tomb, segsOf = _ => segs)
    }
  }
}
