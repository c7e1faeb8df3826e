package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.PipelineOps
import graft.pipeline.PipelineOps.PinnedFrame

/** Streaming twin of the batch dedup verdict (PipelineOps.dedupVerdict /
  * p36) — the shape a real ingest pipeline runs: documents arrive as a
  * stream, the EXACT stage dedups incrementally inline (cheap, per-row
  * state: one content hash), and the NEAR stage — inherently a global
  * computation (pair graph + connected components cannot hold bounded
  * per-key state) — refreshes periodically as a micro-batch job: either a
  * full recompute over the accumulated exact survivors ([[refreshVerdict]],
  * O(history) per refresh) or, for long-lived streams, the incremental
  * form ([[refreshVerdictIncremental]]) that grams and pairs ONLY the
  * new batch against carried state — O(batch) per refresh, identical
  * verdicts (spec-asserted; measured at sf0.1 × 5 batches: full refresh
  * cost grows 1.34→1.64 s with history, incremental stays flat ~1.2 s).
  *
  * Production wiring: `exactStage(stream)` writes the survivor table (with
  * text) and `arrivalLog(stream)` the (doc_id, content_hash) projection —
  * the log is hash-sized, never text-sized; then each refresh interval
  * [[refreshVerdict]] recomputes the verdict table from those two. The
  * division of labor matches the batch operator exactly: identical copies
  * never reach the expensive near-dup pairing, and every dropped doc's
  * canonical resolves transitively to a kept doc.
  *
  * Replay equivalence (spec-asserted in EventStreamSpec): feeding the corpus
  * through the stream in doc_id order and refreshing once yields the exact
  * rows of the batch `dedupVerdict` — the streaming survivor per hash is
  * the first arrival, which under ordered replay is the batch stage's
  * min(doc_id). */
object DedupStream {

  /** Exact stage: first arrival per content hash survives; replayed or
    * duplicated bodies are dropped inline with state bounded by the
    * watermark horizon (the dedup is only as wide as the horizon — the
    * periodic refresh, which sees the full survivor table, is the total
    * backstop, same two-tier contract as a production ingest). Input must
    * carry an event-time `ts` column plus the documents shape
    * (doc_id, text, lang, source, n_chars). */
  def exactStage(docs: DataFrame): DataFrame =
    docs
      .withColumn("content_hash", md5(col("text")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("content_hash")

  /** Arrival log: every arrival's (doc_id, content_hash) — the projection
    * the verdict join needs for exact-dropped docs. Hash-sized (40 bytes a
    * row), so logging EVERY arrival costs nothing next to the text the
    * exact stage already refused to forward. */
  def arrivalLog(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("content_hash"))

  /** Periodic near-stage refresh: the full verdict table recomputed from
    * the accumulated exact `survivors` (doc_id, text, lang, source,
    * n_chars, content_hash) and the `arrivals` log (doc_id, content_hash).
    * Same machinery as the batch p36 — trigram-jaccard pairs over survivors
    * only, connected components, transitive canonical resolution — so each
    * refresh is one batch job over survivor-sized data, not arrival-sized.
    *
    *   - exact: the arrival's hash survives under a different doc_id
    *   - near: a surviving doc whose cluster canonical is another doc
    *   - kept: everything else; canonical_id always lands on a kept doc */
  def refreshVerdict(survivors: DataFrame, arrivals: DataFrame): DataFrame = {
    val pairs = PipelineOps.ngramJaccardOf(
        survivors.select("doc_id", "text", "lang", "source", "n_chars"))
      .select(col("doc_a"), col("doc_b"))
    verdictFrom(survivors, arrivals, pairs)
  }

  /** Carried pair-discovery state for [[refreshVerdictIncremental]]:
    * per-survivor trigram gram arrays + every near-dup edge found so far.
    * Both are survivor-population-sized projections (gram arrays ~ text
    * size, edges ~ dup density); [[StateStore.savePairState]] /
    * [[StateStore.loadPairState]] persist them between refreshes under the
    * versioned-directory + atomic-pointer commit protocol, and
    * StreamStateSpec proves a restart between refreshes (reload from
    * parquet, in-memory state discarded) still converges to the batch
    * verdict. */
  final case class PairState(grams: DataFrame, pairs: DataFrame)

  /** Incremental near-stage refresh: grams and pairs are computed for the
    * NEW survivors only — new docs pair against the full gram history via
    * the same blocked join, old×old pairs are never re-verified — and the
    * new edges merge into the carried edge set before relabeling. Per
    * refresh this costs O(new grams + new × block collisions + total
    * edges), vs [[refreshVerdict]]'s O(history) regram + repair; the
    * verdicts are identical (spec-asserted), because the union of
    * pairs-touching-each-batch over all batches IS the full pair set.
    * Connected components still rerun over the accumulated edges — edges
    * are hash-pair-sized, orders of magnitude below the text, and cluster
    * merges across old batches (A~B discovered now joining B~C from then)
    * fall out of the relabel for free. [[IngestBump]]'s production bumps
    * maintain labels incrementally instead ([[IncrementalCc]]) and never
    * pay a full CC per bump. */
  def refreshVerdictIncremental(
      survivors: DataFrame,
      newSurvivors: DataFrame,
      arrivals: DataFrame,
      prev: Option[PairState]): (DataFrame, PairState) = {
    val pd = discoverPairs(newSurvivors, prev.map(_.grams))
    val grams = prev.map(_.grams.unionByName(pd.newGrams)).getOrElse(pd.newGrams)
    val pairs = prev.map(_.pairs.unionByName(pd.newPairs)).getOrElse(pd.newPairs)
    // the state is carried IN MEMORY across refreshes (the multi-batch
    // loops) — pin it so lineage doesn't deepen per batch
    (verdictFrom(survivors, arrivals, pairs), PairState(grams.pinned(false), pairs.pinned(false)))
  }

  /** The delta payload of one incremental refresh — exactly the rows the
    * refresh ADDED to the carried state: the batch's gram arrays and the
    * new edges. Persisting these (plus the retirement keys) via
    * [[StateStore.saveDelta]] makes the per-bump state WRITE O(delta),
    * where re-saving the folded [[PairState]] rewrites the corpus-sized
    * gram history on every ingest (the write-amplification term of the
    * round-13 CDC decomposition). New pairs are disjoint
    * from every retained pair by construction — a retained edge has both
    * endpoints in the valid-old set, a new edge has ≥1 endpoint in the
    * batch, and the batch is anti-joined against valid ids — so the fold
    * needs no distinct. */
  final case class PairDelta(newGrams: DataFrame, newPairs: DataFrame)

  /** Fold a [[StateStore.loadChain]] text-state chain back into the live
    * state: each delta retires its `retired` survivor ids from
    * grams/survhash AND from the labeled edge set (per-endpoint
    * anti-joins — how a SAFE deletion's dead edges leave without the
    * component ever rewriting; see [[IncrementalCc]]'s forest
    * certificate), drops the `labelsOut` nodes from the labels table and
    * the `pairsOut` epochs from the edge set (two DIFFERENT keys: a
    * merge relabels memberships without rewriting edges, so its members
    * are in labelsOut but not pairsOut), drops its `departed` corpus ids
    * from the live arrival
    * log, then unions its new rows. Lazy — the fold is parquet scans +
    * broadcast anti-joins under the consuming query's plan, cost
    * O(state projections), no rewrite. Chain tables: snapshot (grams,
    * pairs(doc_a, doc_b, elabel, in_forest), labels(node, label),
    * survhash, livelog); each delta (retired, departed, labelsOut,
    * pairsOut, labelsIn, grams, pairs, survhash, livelog) where the
    * delta's survhash/livelog rows are the BATCH survivors' / the delta
    * arrivals' (doc_id, content_hash). */
  def foldPairChain(
      snap: Map[String, DataFrame],
      deltas: Seq[Map[String, DataFrame]]): Map[String, DataFrame] = {
    var grams = snap("grams")
    var pairs = snap("pairs")
    var labels = snap("labels")
    var survhash = snap("survhash")
    var livelog = snap("livelog")
    deltas.foreach { d =>
      val r = d("retired").select(col("doc_id"))
      val out = d("labelsOut").select(col("node"))
      val pOut = d("pairsOut").select(col("node"))
      grams = grams.join(r, Seq("doc_id"), "left_anti").unionByName(d("grams"))
      pairs = pairs
        .join(r.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
        .join(r.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
        .join(pOut.select(col("node").as("elabel")), Seq("elabel"), "left_anti")
        .unionByName(d("pairs"))
      labels = labels.join(out, Seq("node"), "left_anti").unionByName(d("labelsIn"))
      survhash = survhash.join(r, Seq("doc_id"), "left_anti").unionByName(d("survhash"))
      livelog = livelog
        .join(d("departed").select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(d("livelog"))
    }
    Map("grams" -> grams, "pairs" -> pairs, "labels" -> labels,
      "survhash" -> survhash, "livelog" -> livelog)
  }

  /** CDC retirement (p61): restrict the carried state to the doc ids that
    * remain VALID after an ingest delta — survivors of the new snapshot
    * whose content is byte-unchanged. Grams of removed/changed/demoted
    * docs must stop generating candidates, and carried edges with a dead
    * endpoint must leave the cluster graph (a changed doc's new text
    * re-grams as part of the next batch and re-discovers its edges
    * against the retained history). Two semi-joins — O(state), no text. */
  def retain(state: PairState, validIds: DataFrame): PairState = {
    val v = validIds.select(col("doc_id"))
    PairState(
      state.grams.join(v, Seq("doc_id"), "left_semi"),
      state.pairs
        .join(v.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
        .join(v.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi"))
  }

  /** Pair discovery alone — the incremental refresh's first half: gram
    * the batch, pair it against the full gram history (prior ∪ batch),
    * canonicalized + deduped. The returned newGrams/newPairs are the
    * DELTA payload; callers that maintain labels incrementally
    * ([[IngestBump]]) take it from here, callers that rebuild labels
    * globally go through [[refreshVerdictIncremental]]. */
  def discoverPairs(
      newSurvivors: DataFrame, prevGrams: Option[DataFrame]): PairDelta = {
    val newGrams = PipelineOps.ngramGrams(
        newSurvivors.select("doc_id", "text", "lang", "source", "n_chars"))
      .pinned(false)
    val allGrams = prevGrams.map(_.unionByName(newGrams)).getOrElse(newGrams)
    val newPairs = PipelineOps.ngramPairsAgainst(allGrams, newGrams)
      .select(col("doc_a"), col("doc_b")).distinct().pinned(false)
    PairDelta(newGrams, newPairs)
  }

  /** Verdict assembly from a precomputed (node, label) component table —
    * label MUST be each cluster's min node (what both the global CC and
    * the incremental rebuild emit):
    *   - exact: the arrival's hash survives under a different doc_id
    *   - near: a surviving doc whose cluster canonical is another doc
    *   - kept: everything else; canonical_id always lands on a kept doc */
  /** [[verdictFromLabels]] with the labels rebuilt globally from the edge
    * set — one connected-components pass. */
  private def verdictFrom(
      survivors: DataFrame, arrivals: DataFrame, pairs: DataFrame): DataFrame =
    verdictFromLabels(survivors, arrivals, PipelineOps.connectedComponents(pairs))

  def verdictFromLabels(
      survivors: DataFrame, arrivals: DataFrame, labels: DataFrame): DataFrame = {
    // each survivor's final canonical: its near-cluster min, or itself
    val survCanon = survivors
      .join(labels, survivors("doc_id") === labels("node"), "left")
      .select(col("content_hash").as("surv_hash"), col("doc_id").as("surv_id"),
        coalesce(col("label"), col("doc_id")).as("surv_canon"))
    arrivals
      .join(survCanon, arrivals("content_hash") === col("surv_hash"))
      .join(labels, arrivals("doc_id") === labels("node"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("surv_id"), lit("exact"))
          .when(col("label").isNotNull && col("label") =!= col("doc_id"), lit("near"))
          .otherwise(lit("kept")).as("reason"),
        when(col("doc_id") =!= col("surv_id"), col("surv_canon"))
          .when(col("label").isNotNull, col("label"))
          .otherwise(col("doc_id")).as("canonical_id"))
      .orderBy("doc_id")
  }
}
