package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.PipelineOps
import graft.pipeline.PipelineOps.PinnedFrame

/** Incremental refresh of the p44 semantic-dedup verdict — the vector-side
  * twin of [[DedupStream.refreshVerdictIncremental]], for the production
  * ingest where embeddings arrive in batches (a restarted deployment's
  * backlog, a daily drop) and re-pairing the whole corpus per refresh would
  * be O(history).
  *
  * The seed set is FIXED across refreshes (trained once, like a production
  * coarse quantizer; re-training is a separate job that rebuilds state from
  * scratch), so assignment is per-vector independent and each batch assigns
  * against the same broadcast seeds the one-shot p44 uses. Pair discovery
  * per refresh is new×(all-so-far) within each cell — old×old pairs are
  * never re-verified — and the union of new-batch pair sets over all
  * batches IS the one-shot intra-cell pair set.
  *
  * The hot-cell cap needs one extra piece of state to stay exact: cell
  * sizes only GROW, so a cell over [[PipelineOps.SemMaxCell]] now can never
  * return under it — skipping enumeration there loses nothing — but a cell
  * that crosses the cap mid-stream carries edges from when it was small,
  * and the one-shot semantics (no pairs at all from an over-cap cell) says
  * those must be RETIRED. Edges therefore carry their cell id, and the
  * verdict filters them through the cell's CURRENT size; crossing cells
  * drop their history at exactly the refresh where they overflow.
  * SemDedupFuzzSpec carves the corpus into random batches at a
  * cap-crossing geometry and asserts the refreshed verdict equals the
  * one-shot row-for-row; the p47 entry drives this path under p44's own
  * DuckDB oracle. */
object SemDedupStream {

  /** Carried state: cell membership of every (nonzero-norm) vector seen —
    * quantized vectors included, since future batches pair against them —
    * and every intra-cell dup edge found so far, keyed by cell so
    * cap-crossing cells can retire their edges. Survivor-population-sized;
    * [[StateStore.saveSemState]] / [[StateStore.loadSemState]] persist both
    * between refreshes (versioned parquet + atomic pointer), and
    * StreamStateSpec proves a restart at a cap-crossing geometry still
    * matches the one-shot p44. */
  final case class SemState(members: DataFrame, edges: DataFrame)

  /** One refresh over a quantized batch (vec_id, q, nrm).
    *
    * Idempotent under at-least-once delivery: vec_ids already in the carried
    * membership are dropped before assignment (left_anti on vec_id — batch
    * side is small, state side is the shuffle), so a retried or overlapping
    * micro-batch changes neither the cell census nor the edge set. Without
    * this, foreachBatch's replay-on-failure contract would double-count
    * members, push cells past the cap, and retire edges that the one-shot
    * keeps. */
  def refreshIncremental(
      cents: DataFrame, batch: DataFrame, prev: Option[SemState],
      maxCell: Int, threshold: Double): SemState = {
    val (st, _) = refreshDelta(cents, batch, prev, maxCell, threshold)
    // this entry point carries state IN MEMORY across refreshes (the
    // multi-batch loops) — pin it; the delta path leaves state lazy
    // over the chain files
    SemState(st.members.pinned(false), st.edges.pinned(false))
  }

  /** The per-refresh DELTA payload: the batch's assigned membership rows
    * and the new edges — exactly what a [[StateStore.saveDelta]] commit
    * writes, where re-saving the folded [[SemState]] rewrites the
    * corpus-sized (vec_id, cid, q, nrm) membership (quantized vectors
    * and all) on every bump. Disjoint from every carried row by the
    * anti-join on vec_id. */
  final case class SemDelta(membersIn: DataFrame, edgesIn: DataFrame)

  /** [[refreshIncremental]], also returning the delta payload and
    * leaving the folded state lazy. */
  def refreshDelta(
      cents: DataFrame, batch: DataFrame, prev: Option[SemState],
      maxCell: Int, threshold: Double): (SemState, SemDelta) = {
    val fresh = prev match {
      case Some(p) => batch.join(p.members.select("vec_id"), Seq("vec_id"), "left_anti")
      case None    => batch
    }
    val assignedNew = PipelineOps.semAssign(fresh, cents)
      .join(fresh, "vec_id")
      .select(col("vec_id"), col("cid"), col("q"), col("nrm"))
      .pinned(false)
    val members = prev.map(_.members.unionByName(assignedNew)).getOrElse(assignedNew)

    // cells currently within the cap; the cell census is catalog-sized
    // (one row per cell), so it broadcasts
    val open = members.groupBy("cid").agg(count(lit(1)).as("csz"))
      .where(col("csz") <= maxCell).select("cid")
    val all = members.join(broadcast(open), "cid")
      .select(col("cid"), col("vec_id").as("va"), col("q").as("qa"), col("nrm").as("nrm_a"))
    val nw = assignedNew.join(broadcast(open), "cid")
      .select(col("cid"), col("vec_id").as("vb"), col("q").as("qb"), col("nrm").as("nrm_b"))
    // new×all within the cell: an old×new pair appears once from the new
    // side, a new×new pair twice (both orientations) — the canonical
    // (least, greatest) + distinct collapses them
    val newEdges = all.join(nw, "cid").where(col("va") =!= col("vb"))
      .withColumn("dot", graft.functions.QuantizedDot(col("qa"), col("qb")))
      .withColumn("cosine",
        try_divide(col("dot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .where(col("cosine") >= threshold)
      .select(col("cid"),
        least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"))
      .distinct().pinned(false)
    // new edges are disjoint from carried ones (every new edge has a
    // batch endpoint; the batch is anti-joined against the membership),
    // so the union needs no re-distinct
    val edges = prev.map(_.edges.unionByName(newEdges)).getOrElse(newEdges)
    (SemState(members, edges), SemDelta(assignedNew, newEdges))
  }

  /** CDC retirement for the vector side (p62): restrict the carried state
    * to `validIds` (the new snapshot's vectors — embeddings are immutable
    * per vec_id, so validity is pure membership). Members and edges
    * semi-join as on the text side, with one cap subtlety the text path
    * doesn't have: [[refreshIncremental]]'s exactness leans on cell sizes
    * only GROWING (an over-cap cell never returns, so skipping its
    * enumeration loses nothing). A removal breaks that — a cell shrunk
    * back under the cap RE-OPENS, and its carried edges are INCOMPLETE
    * (pairs involving members that arrived after the cap crossing were
    * never enumerated). Those cells' pair sets are rebuilt in full from
    * the surviving members: bounded by (reopened cells × ≤cap members)²
    * per cell — a delta-sized cost, never corpus-sized. */
  def retain(
      state: SemState, validIds: DataFrame,
      maxCell: Int, threshold: Double): SemState = {
    val v = validIds.select(col("vec_id"))
    val members = state.members.join(v, Seq("vec_id"), "left_semi")
      .pinned(false)
    val kept = state.edges
      .join(v.select(col("vec_id").as("vec_a")), Seq("vec_a"), "left_semi")
      .join(v.select(col("vec_id").as("vec_b")), Seq("vec_b"), "left_semi")
    val reopened = state.members.groupBy("cid").agg(count(lit(1)).as("szb"))
      .join(members.groupBy("cid").agg(count(lit(1)).as("sza")), "cid")
      .where(col("szb") > maxCell && col("sza") <= maxCell)
      .select("cid")
    val cellM = members.join(broadcast(reopened), "cid")
    val rebuilt = cellM
      .select(col("cid"), col("vec_id").as("va"), col("q").as("qa"), col("nrm").as("nrm_a"))
      .join(cellM.select(col("cid"), col("vec_id").as("vb"), col("q").as("qb"),
        col("nrm").as("nrm_b")), "cid")
      .where(col("va") < col("vb"))
      .withColumn("dot", graft.functions.QuantizedDot(col("qa"), col("qb")))
      .withColumn("cosine",
        try_divide(col("dot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .where(col("cosine") >= threshold)
      .select(col("cid"), col("va").as("vec_a"), col("vb").as("vec_b"))
    // a reopened cell's surviving carried edges are a SUBSET of its
    // rebuilt set — replace rather than union so the state stays canonical
    val edges = kept.join(broadcast(reopened), Seq("cid"), "left_anti")
      .unionByName(rebuilt).distinct().pinned(false)
    SemState(members, edges)
  }

  /** [[retain]]'s anti-join twin for when the DEPARTED vec ids are at
    * hand (the [[IngestBump]] delta-persistence path): the build sides
    * are delta-sized so the restriction broadcasts, and the reopened
    * cells + their rebuilt pair sets come back separately — they ARE the
    * edge delta a [[StateStore.saveDelta]] commit persists. Lazy: no
    * O(state) localCheckpoint — the restricted state is parquet scans +
    * broadcast anti-joins under whatever consumes it. */
  def retire(
      state: SemState, retiredIds: DataFrame,
      maxCell: Int, threshold: Double): (SemState, DataFrame, DataFrame) = {
    val r = retiredIds.select(col("vec_id"))
    val members = state.members.join(r, Seq("vec_id"), "left_anti")
    val kept = state.edges
      .join(r.select(col("vec_id").as("vec_a")), Seq("vec_a"), "left_anti")
      .join(r.select(col("vec_id").as("vec_b")), Seq("vec_b"), "left_anti")
    // only cells that LOST a member can reopen — the census diff runs on
    // the retired rows alone (delta-sized), not a full double census
    val lost = state.members.join(r, Seq("vec_id"), "left_semi")
      .groupBy("cid").agg(count(lit(1)).as("nlost"))
    val reopened = state.members.groupBy("cid").agg(count(lit(1)).as("szb"))
      .join(lost, "cid")
      .where(col("szb") > maxCell && col("szb") - col("nlost") <= maxCell)
      .select("cid").pinned(false)
    val cellM = members.join(broadcast(reopened), "cid")
    val rebuilt = cellM
      .select(col("cid"), col("vec_id").as("va"), col("q").as("qa"), col("nrm").as("nrm_a"))
      .join(cellM.select(col("cid"), col("vec_id").as("vb"), col("q").as("qb"),
        col("nrm").as("nrm_b")), "cid")
      .where(col("va") < col("vb"))
      .withColumn("dot", graft.functions.QuantizedDot(col("qa"), col("qb")))
      .withColumn("cosine",
        try_divide(col("dot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .where(col("cosine") >= threshold)
      .select(col("cid"), col("va").as("vec_a"), col("vb").as("vec_b"))
      .pinned(false)
    val edges = kept.join(broadcast(reopened), Seq("cid"), "left_anti")
      .unionByName(rebuilt)
    (SemState(members, edges), reopened, rebuilt)
  }

  /** Fold a [[StateStore.loadChain]] sem-state chain back into the live
    * state: each delta retires its departed vec ids from members/edges,
    * REPLACES the reopened cells' edge sets (cellsOut drops every
    * accumulated row of those cells; the delta's edges carry their
    * rebuilt sets), then unions its new rows. Lazy — parquet scans +
    * broadcast anti-joins under the consuming query. Chain tables:
    * snapshot (members, edges); each delta (retired, cellsOut, members,
    * edges). */
  def foldSemChain(
      snap: Map[String, DataFrame],
      deltas: Seq[Map[String, DataFrame]]): SemState = {
    var members = snap("members")
    var edges = snap("edges")
    deltas.foreach { d =>
      val r = d("retired").select(col("vec_id"))
      members = members.join(r, Seq("vec_id"), "left_anti").unionByName(d("members"))
      edges = edges
        .join(r.select(col("vec_id").as("vec_a")), Seq("vec_a"), "left_anti")
        .join(r.select(col("vec_id").as("vec_b")), Seq("vec_b"), "left_anti")
        .join(d("cellsOut").select(col("cid")), Seq("cid"), "left_anti")
        .unionByName(d("edges"))
    }
    SemState(members, edges)
  }

  /** Carried state for the TRAINED-quantizer refresh (p55): probe
    * MEMBERSHIP rows — (vec_id, cid, rank, q, nrm), up to
    * [[PipelineOps.IvfProbes]] rows per vector — plus the cell-keyed edge
    * set. Same retirement/census logic as [[SemState]], with the census
    * counting membership rows (p52's cap is on probe-membership, so the
    * incremental and one-shot caps bite at identical sizes). Persisted as
    * an LSM chain by [[IngestBump.bumpTrained]]. */
  final case class TrainedState(members: DataFrame, edges: DataFrame)

  /** One refresh of the p55 trained-quantizer dedup over a quantized batch
    * — the production catch-up step after the quantizer trained on the
    * backlog: assign the batch's top-2 probe cells against the FIXED
    * broadcast trained centroids, union membership, pair new×all within
    * currently-open cells. Idempotent under at-least-once delivery (same
    * vec_id anti-join as [[refreshIncremental]]); cap-crossing cells
    * retire their carried edges at verdict time, and because membership
    * per vector is fixed at assignment (the quantizer never moves), the
    * union of new×all-so-far pairs over any batch carving equals the
    * one-shot p52 pair set cell-for-cell. */
  def refreshTrained(
      trained: DataFrame, batch: DataFrame, prev: Option[TrainedState],
      maxCell: Int, threshold: Double): TrainedState = {
    val (st, _) = refreshTrainedDelta(trained, batch, prev, maxCell, threshold)
    TrainedState(st.members.pinned(false), st.edges.pinned(false))
  }

  /** [[refreshTrained]], also returning the delta payload (the batch's
    * probe-membership rows + new edges) and leaving the folded state
    * lazy — the [[IngestBump]] delta-persistence contract on the
    * trained-quantizer path. */
  def refreshTrainedDelta(
      trained: DataFrame, batch: DataFrame, prev: Option[TrainedState],
      maxCell: Int, threshold: Double): (TrainedState, SemDelta) = {
    val fresh = prev match {
      case Some(p) => batch.join(
        p.members.select("vec_id").distinct(), Seq("vec_id"), "left_anti")
      case None => batch
    }
    val newMembers = PipelineOps.probeAssign(fresh, trained)
      .join(fresh, "vec_id")
      .select(col("vec_id"), col("cid"), col("rank"), col("q"), col("nrm"))
      .pinned(false)
    val members = prev.map(_.members.unionByName(newMembers)).getOrElse(newMembers)

    val open = members.groupBy("cid").agg(count(lit(1)).as("csz"))
      .where(col("csz") <= maxCell).select("cid")
    val all = members.join(broadcast(open), "cid")
      .select(col("cid"), col("vec_id").as("va"), col("q").as("qa"), col("nrm").as("nrm_a"))
    val nw = newMembers.join(broadcast(open), "cid")
      .select(col("cid"), col("vec_id").as("vb"), col("q").as("qb"), col("nrm").as("nrm_b"))
    val newEdges = all.join(nw, "cid").where(col("va") =!= col("vb"))
      .withColumn("dot", graft.functions.QuantizedDot(col("qa"), col("qb")))
      .withColumn("cosine",
        try_divide(col("dot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .where(col("cosine") >= threshold)
      .select(col("cid"),
        least(col("va"), col("vb")).as("vec_a"),
        greatest(col("va"), col("vb")).as("vec_b"))
      .distinct().pinned(false)
    // new edges have a batch endpoint and the batch is anti-joined against
    // the carried membership — disjoint from carried edges, no re-distinct
    val edges = prev.map(_.edges.unionByName(newEdges)).getOrElse(newEdges)
    (TrainedState(members, edges), SemDelta(newMembers, newEdges))
  }

  /** [[retire]] for the trained family (members carry the probe `rank`
    * column; the retirement is schema-agnostic over it). p52's cap counts
    * MEMBERSHIP rows (a vector occupies up to [[PipelineOps.IvfProbes]]
    * cells), and retire's census counts the same rows, so incremental and
    * one-shot caps bite at identical sizes. */
  def retireTrained(
      state: TrainedState, retiredIds: DataFrame,
      maxCell: Int, threshold: Double): (TrainedState, DataFrame, DataFrame) = {
    val (st, reopened, rebuilt) =
      retire(SemState(state.members, state.edges), retiredIds, maxCell, threshold)
    (TrainedState(st.members, st.edges), reopened, rebuilt)
  }

  /** [[foldSemChain]] for the trained family (members carry the probe
    * `rank` column; the fold is schema-agnostic over it). */
  def foldTrainedChain(
      snap: Map[String, DataFrame],
      deltas: Seq[Map[String, DataFrame]]): TrainedState = {
    val folded = foldSemChain(snap, deltas)
    TrainedState(folded.members, folded.edges)
  }

  /** Verdict from the trained state — p52's shape: rank-1 cell, smallest
    * similar lower id over edges in currently-open cells. */
  def trainedVerdict(allVecIds: DataFrame, state: TrainedState, maxCell: Int): DataFrame = {
    val open = state.members.groupBy("cid").agg(count(lit(1)).as("csz"))
      .where(col("csz") <= maxCell).select("cid")
    val dups = state.edges.join(broadcast(open), "cid")
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"))
    allVecIds
      .join(state.members.where(col("rank") === 1).select("vec_id", "cid"), Seq("vec_id"), "left")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"))
      .orderBy("vec_id")
  }

  /** Verdict assembly from the carried state — identical shape to the
    * one-shot p44: per vector its cell, the smallest similar lower id
    * (`dup_of`), kept = none. Edges whose cell has grown past the cap are
    * retired here (the one-shot enumerates nothing in such cells). */
  def verdict(allVecIds: DataFrame, state: SemState, maxCell: Int): DataFrame = {
    val open = state.members.groupBy("cid").agg(count(lit(1)).as("csz"))
      .where(col("csz") <= maxCell).select("cid")
    val dups = state.edges.join(broadcast(open), "cid")
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"))
    allVecIds
      .join(state.members.select("vec_id", "cid"), Seq("vec_id"), "left")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"))
      .orderBy("vec_id")
  }
}
