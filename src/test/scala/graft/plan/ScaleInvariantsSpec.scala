package graft.plan

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.engine.TpchStar
import graft.SparkTestSession.{spark, SfDir}

/** Plan-shape regression guards for the properties that decide whether a
  * query survives 100 TB: filters reaching the scan, dims broadcasting,
  * columns pruned, no single-partition windows, no accidental cross joins.
  * These assert on the PHYSICAL plan, so an innocent-looking planner change
  * that silently trades one of them away fails CI, not the cluster. */
class ScaleInvariantsSpec extends AnyFunSuite {

  private def die(m: String): Nothing = throw PlanError(m)
  private def drill(s: String) = Drilldown.parse(s).fold(die, identity)
  private def mea(s: String) = MeasureName.parse(s).fold(die, identity)
  private def cut(s: String) = CutSpec.parse(s).fold(die, identity)
  private val planner = TpchStar.planner(SfDir)

  private def plan(q: CubeQuery): String =
    planner.plan(spark, q).queryExecution.executedPlan.toString

  test("year cut pushes a timestamp range into the parquet scan") {
    val p = plan(CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      cuts = Seq(cut("Ship Date.Year.1996,1997")),
      measures = Seq(mea("Quantity"))))
    // the derived year(l_shipdate) IN (...) is opaque to parquet; the
    // redundant range on the source column must reach PushedFilters
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_shipdate"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("snowflake dim join broadcasts (hinted build side)") {
    val p = plan(CubeQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      measures = Seq(mea("Quantity"))))
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("fact scan prunes to the columns the query touches") {
    val p = plan(CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Quantity"))))
    val read = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(read.contains("l_returnflag") && read.contains("l_quantity"))
    for (c <- Seq("l_extendedprice", "l_partkey", "l_shipdate", "l_tax"))
      assert(!read.contains(c), s"unpruned column $c in: $read")
  }

  test("RCA plan has no Window operator (re-agg/rollup shapes, no single-partition funnel)") {
    val p = plan(CubeQuery(
      measures = Seq(mea("Quantity")),
      rca = Some(RcaQuery.parse("Geography.Nation,Part.Brand,Quantity").fold(die, identity))))
    assert(!p.contains("Window"), "RCA must not use window sums")
  }

  test("rca (sum measure): one pinned a-grain, re-agg joins, no Expand, no raw re-scan") {
    // member path, drilled (ext nonempty): the re-aggregable form — the
    // visible plan consumes the checkpointed a grain (Scan ExistingRDD);
    // the fact scan lives once inside the checkpoint, so a second
    // lineitem scan in the consumer plan means the barrier regressed
    val pm = plan(CubeQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      measures = Seq(mea("Quantity")),
      rca = Some(RcaQuery.parse("Geography.Nation,Part.Brand,Quantity").fold(die, identity))))
    assert(!pm.contains("Expand"), "sum-measure rca must not grouping-set:\n" + pm.take(1200))
    assert(!pm.contains("lineitem"),
      "b/c/d must re-aggregate the pinned a grain, not re-scan the fact:\n" + pm.take(1600))
    assert(pm.contains("ExistingRDD"), "expected the pinned a-grain scans:\n" + pm.take(1200))
  }

  test("rca (avg measure): grouping-sets rollup, multi-scan shape") {
    // the non-re-aggregable branch: each grain aggregates from raw rows
    // via ONE grouping-sets rollup, unpinned, so the gid frames push their
    // filters below the exchange and scan the fact per grain (the 4x scan
    // WORK is latency-invisible while the fact is RAM-resident)
    val avgRca = CubeQuery(
      measures = Seq(mea("Quantity")),
      rca = Some(RcaQuery.parse("Geography.Nation,Part.Brand,Avg Discount").fold(die, identity)))
    val pa = plan(avgRca)
    assert(pa.contains("Expand") && pa.contains("lineitem"),
      "avg rca must keep the multi-scan rollup shape:\n" + pa.take(1200))
  }

  test("rca (max measure): re-agg branch — pinned a-grain, max-of-max joins, no Expand") {
    // round 18: max/min re-aggregate losslessly (max of per-grain maxes),
    // so a max-measure rca takes the ONE-scan form, not the multi-scan
    // grouping-sets rollup it paid before
    val pm = plan(CubeQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      measures = Seq(mea("Quantity")),
      rca = Some(RcaQuery.parse("Geography.Nation,Part.Brand,Max Price").fold(die, identity))))
    assert(!pm.contains("Expand"), "max-measure rca must not grouping-set:\n" + pm.take(1200))
    assert(!pm.contains("lineitem"),
      "b/c/d must re-aggregate the pinned a grain, not re-scan the fact:\n" + pm.take(1600))
    assert(pm.contains("ExistingRDD"), "expected the pinned a-grain scans:\n" + pm.take(1200))
  }

  test("fused rca fan-out: single tagged plan — no Union, no Expand, no raw re-scan") {
    val q = LogicLayerQuery(
      drilldowns = Nil,
      cuts = Seq(cut("Ship Date.Year.1996,1997"), cut("Ship Date.Month.3,4")),
      measures = Seq(mea("Quantity")),
      rca = Some(RcaQuery.parse("Geography.Nation,Part.Brand,Quantity").fold(die, identity)))
    val p = new LogicLayer(planner).plan(spark, q)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Union"), "fused rca must be a single plan:\n" + p.take(1200))
    assert(!p.contains("Expand"), "fused rca must not grouping-set:\n" + p.take(1200))
    assert(!p.contains("lineitem"),
      "members must share the one pinned a grain:\n" + p.take(1600))
  }

  test("minhash candidate generation never degenerates to a cross join") {
    val p = graft.pipeline.PipelineOps.minhashPairs(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("cut-only dim stays a semi join (no row widening)") {
    val p = plan(CubeQuery(
      cuts = Seq(cut("Geography.Region.3")),
      measures = Seq(mea("Quantity"))))
    assert(p.contains("LeftSemi"), p.take(800))
  }

  test("tfidf: corpus-wide df never cross-joins; corpus count broadcasts") {
    val p = graft.pipeline.PipelineOps.tfidf(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the one-row n_corpus aggregate must broadcast, never shuffle the
    // scored side to meet it
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "n_corpus should broadcast")
  }

  test("stratified sample: windows partition by the stratum key, never empty") {
    val df = graft.pipeline.PipelineOps.stratifiedSample(spark, SfDir)
    val windows = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Window")).mkString("\n")
    // an empty partitionBy would funnel the corpus through one task
    assert(!windows.contains("windowspecdefinition()"), windows)
  }

  test("funnel: three stage aggregations, no Window over the event stream") {
    val p = graft.pipeline.PipelineOps.funnel(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), "stages are groupBys, not stream-wide windows")
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("lm score: gram-keyed joins only, map-side-combined counts, no window") {
    val p = graft.pipeline.PipelineOps.lmScore(spark, SfDir)
      .queryExecution.executedPlan.toString
    // count tables join the gram stream on their keys; nothing may widen
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // per-doc and per-source sums are groupBys, never a corpus-wide window
    assert(!p.contains("Window"), "scoring must not window the gram stream")
    // the bigram/unigram count shuffles must carry partial counts, not rows
    assert(p.contains("partial_count"), "count aggregates should partial-aggregate map-side")
  }

  test("quantiles: refine window keyed by bucket, candidate bins semi-joined, targets broadcast") {
    // (the counting pass runs eagerly at plan build — driver counter fold —
    // so the returned plan IS the refine pass; pin its shape)
    val p = graft.pipeline.PipelineOps.quantiles(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the only window is the candidate-bucket refine, keyed by (source, bin)
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n")
    assert(windows.nonEmpty && !windows.contains("windowspecdefinition()"), windows)
    // corpus prunes to candidate buckets BEFORE ranking (no full-group sort)
    assert(p.contains("LeftSemi"), "candidate-bin semi-join must precede the window")
    assert(p.contains("BroadcastHashJoin"), "targets/extents must broadcast")
  }

  test("hot aggregation path stays inside whole-stage codegen") {
    val df = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Quantity"), mea("Revenue"))))
    // under AQE the codegen annotation only exists on the FINAL plan —
    // execute first, then read the adaptive plan's string
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // scan → project → partial agg must be fused; a non-codegen Expression
    // in a measure would break the span and run row-at-a-time. In the
    // simple plan format a whole-stage-codegen span prints as a `*(n)`
    // prefix on its operators.
    assert(p.contains("isFinalPlan=true") && p.contains("*(1)"), p.take(1200))
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("HashAggregate")),
      "aggregation must sit inside a codegen span:\n" + p.take(1200))
    // the native dedup/ANN kernels must also stay codegen'd
    val pqDf = graft.pipeline.PipelineOps.annPq(spark, SfDir)
    pqDf.collect()
    val pq = pqDf.queryExecution.executedPlan.toString
    assert(pq.contains("*(1)"), pq.take(1200))
  }

  test("emb dedup: bucket key space grows with the corpus; hot buckets capped") {
    import graft.pipeline.PipelineOps
    // bits-per-band scale with corpus size — the fixed-cardinality-bucket
    // failure mode (max parallelism 2^k, O(n²/2^k) pairs) cannot recur
    assert(PipelineOps.dedupBits(500) < PipelineOps.dedupBits(2000))
    assert(PipelineOps.dedupBits(1L << 20) < PipelineOps.dedupBits(1L << 30))
    // observed join-key cardinality grows between fixture scales
    val small = PipelineOps.embDedupBuckets(spark, "/root/testdata/sf0.01")
      .select("band", "bkey").distinct().count()
    val large = PipelineOps.embDedupBuckets(spark, "/root/testdata/sf0.1")
      .select("band", "bkey").distinct().count()
    assert(large > small, s"bucket key cardinality must grow with the corpus: $small -> $large")
    // the corpus self-join is guarded by the hot-bucket cap (window count
    // filter) and never degenerates to a cross join
    val p = PipelineOps.embDedup(spark, SfDir).queryExecution.executedPlan.toString
    assert(p.contains("Window"), "hot-bucket cap window missing:\n" + p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("pq ann: encode is a partial-agg groupBy; no cross join anywhere") {
    val p = graft.pipeline.PipelineOps.annPq(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    // struct-min encode must run as hash aggregate with map-side partials,
    // not a row_number window per (vector, subspace)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
  }

  test("simhash pairs: banded bucket join with the hot-bucket cap, never a cross join") {
    val p = graft.pipeline.PipelineOps.simhashPairs(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("Window"), "hot-bucket cap window missing:\n" + p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("dup spans: count shuffles int64 span hashes; text joins back broadcast") {
    val p = graft.pipeline.PipelineOps.dupSpans(spark, SfDir)
      .queryExecution.executedPlan.toString
    // the corpus-wide count must key on the 48-bit md5 span hash (the
    // cross-engine hex12 int64), never shuffle text
    assert(p.contains("md5(") || p.contains("conv("), "span count must key on the int64 hash:\n" + p.take(800))
    // the ~K candidates broadcast so span text is filtered map-side
    assert(p.contains("BroadcastHashJoin"), "candidate join-back must broadcast:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("ivf→pq compose: centroid-id routing + broadcast ADC lookup, no corpus cross join") {
    val df = graft.pipeline.PipelineOps.annIvfPq(spark, SfDir)
    val p = df.queryExecution.executedPlan.toString
    // the corpus never self-crosses: routing is a probes⋈assigned equi-join
    // on the coarse cell id, scoring a broadcast ADC-table lookup. The only
    // nested-loop joins allowed are the broadcast corpus×16-centroid scoring
    // passes (bounded by the constant centroid set) — count them.
    assert(!p.contains("CartesianProduct"), p.take(800))
    // query-side relations (probes, ADC tables) broadcast into the corpus
    assert(p.contains("BroadcastHashJoin"), "probe/ADC joins must broadcast:\n" + p.take(800))
    // windows only on the query side (probe top-k + final rank), never on
    // the corpus-sized assignment or encode
    val windows = p.linesIterator.count(_.contains("windowspecdefinition"))
    assert(windows <= 2, s"ivfpq should window only the query side ($windows):\n" + p.take(800))
  }

  test("ivf/k-means: corpus assignment is a partial-min groupBy, not a window") {
    // k-means has NO window at all — both assignment passes are min-struct
    // aggregates; a row_number assignment would hold corpus×K rows in
    // window state
    val km = graft.pipeline.PipelineOps.kmeansStep(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!km.contains("Window"), "k-means assignment must not use a window:\n" + km.take(800))
    // ivf keeps windows only for the tiny query-side top-k (probes + final
    // rank): exactly two, never one per corpus vector assignment
    val ivf = graft.pipeline.PipelineOps.annIvf(spark, SfDir)
      .queryExecution.executedPlan.toString
    val windows = ivf.linesIterator.count(_.contains("windowspecdefinition"))
    assert(windows <= 2, s"ivf should window only the query side ($windows):\n" + ivf.take(800))
  }

  test("semdedup: broadcast seed assignment, cid-keyed pair join, no corpus cross join") {
    val p = graft.pipeline.PipelineOps.semDedup(spark, SfDir)
      .queryExecution.executedPlan.toString
    // the only nested-loop join allowed is the broadcast seed-set
    // assignment; the intra-cell pair stage must be a keyed join — a
    // corpus-side CartesianProduct would be the O(n²) SemDeDup avoids
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("BroadcastNestedLoopJoin"), "seed assignment should broadcast")
    // the assignment collapses map-side (partial-min groupBy, see kmeans);
    // the one window is the cell-size cap count, keyed by cid
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n")
    assert(!windows.contains("windowspecdefinition()"),
      "cell cap window must partition by cid:\n" + windows)
  }

  test("ann index query phase never scans corpus embeddings (pushed query filter only)") {
    val idx = new java.io.File(sys.props("java.io.tmpdir"), "graft-test-ann-idx").toString
    graft.pipeline.PipelineOps.buildAnnIndex(spark, SfDir, idx)
    val p = graft.pipeline.PipelineOps.queryAnnIndex(spark, SfDir, idx)
      .queryExecution.executedPlan.toString
    // every scan of the raw embeddings parquet must be query-side: the
    // vec_id < 10 filter pushed to the scan. An unfiltered embeddings scan
    // means corpus vectors re-entered the query path and the index bought
    // nothing at 100 TB.
    val embScans = p.linesIterator
      .filter(l => l.contains("embeddings.parquet") && l.contains("PushedFilters")).toSeq
    assert(embScans.nonEmpty, "query vectors come from the embeddings table")
    assert(embScans.forall(_.contains("LessThan(vec_id,10)")),
      "all embeddings scans must push the query-set filter:\n" + embScans.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("scrub: pure projection into one source-keyed aggregate, no joins") {
    val p = graft.pipeline.PipelineOps.scrub(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "scrub is per-doc work + one rollup:\n" + p.take(800))
    assert(!p.contains("Window"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "rollup should partial-aggregate map-side")
  }

  test("trained semdedup: broadcast centroids, Bottom2 probe agg, no corpus window for assignment") {
    val p = graft.pipeline.PipelineOps.semDedupTrained(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the only Window is the capped cell census (partitioned by cid);
    // assignment/probing must never appear as a row_number window
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.forall(_.contains("cid")),
      "only the cid-partitioned census may use a window:\n" + windows.mkString("\n"))
    // the probe stage itself hides behind a localCheckpoint in the full
    // operator; assert its plan shape directly — the bottom2 aggregate
    // must run as partial_bottom2 + merge (map-side combinable), with the
    // centroid side broadcast, never a per-vector window
    import org.apache.spark.sql.functions._
    val q = graft.pipeline.PipelineOps.quantized(spark, SfDir)
      .select(col("vec_id"), col("q").as("qa"), col("nrm").as("nrm_a"))
    val cents = graft.pipeline.PipelineOps.semCents(
      graft.pipeline.PipelineOps.quantized(spark, SfDir), 45L)
    val probe = q.crossJoin(broadcast(cents))
      .withColumn("ccos", lit(0.5)) // scoring shape irrelevant to the agg plan
      .groupBy("vec_id")
      .agg(graft.functions.Bottom2(-col("ccos"), col("cid")).as("cids"))
      .queryExecution.executedPlan.toString
    assert(probe.contains("partial_bottom2"),
      "probe selection must partial-aggregate map-side:\n" + probe.take(1200))
    assert(probe.contains("BroadcastNestedLoopJoin") || probe.contains("BroadcastHashJoin"),
      "centroids must broadcast")
    assert(!probe.contains("Window"))
  }

  test("safe split and mixture plan stay on their parents' machinery plus bounded additions") {
    val p53 = graft.pipeline.PipelineOps.safeSplit(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!p53.contains("CartesianProduct") && !p53.contains("BroadcastNestedLoopJoin"), p53.take(800))
    val p54 = graft.pipeline.PipelineOps.mixturePlan(spark, SfDir)
      .queryExecution.executedPlan.toString
    // the single-row totals join is the only nested-loop shape allowed
    assert(!p54.contains("CartesianProduct"), p54.take(800))
    assert(p54.contains("BroadcastNestedLoopJoin") || p54.contains("BroadcastHashJoin"),
      "totals must broadcast")
  }

  test("materialized verdict: served plan reads the stored parquet, composers skip the dedup machinery") {
    // the p60 read path must be a parquet scan of the persisted relation —
    // zero gram explosion, zero pair join, zero star-contraction rounds.
    // If any of those shapes reappear, the materialization seam regressed
    // to recomputing five corpus-scale dedup passes at 100 TB.
    val served = graft.pipeline.PipelineOps.dedupVerdictServed(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(served.contains("verdict.parquet"),
      "served verdict must scan the materialized table:\n" + served.take(800))
    assert(!served.contains("Generate") && !served.contains("Join") &&
      !served.contains("Window"),
      "served verdict is a bare scan + sort:\n" + served.take(800))
    // every composer routes through the table: the stored relation appears
    // in the plan and the gram explosion (Generate) does not
    for ((nm, df) <- Seq(
        "p48" -> graft.pipeline.PipelineOps.keepBestVerdict(spark, SfDir),
        "p51" -> graft.pipeline.PipelineOps.dedupBudget(spark, SfDir),
        "p53" -> graft.pipeline.PipelineOps.safeSplit(spark, SfDir),
        "p56" -> graft.pipeline.PipelineOps.scrubClosure(spark, SfDir))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("verdict.parquet"),
        s"$nm must read the stored verdict:\n" + p.take(800))
      assert(!p.contains("Generate"),
        s"$nm must not re-run the gram machinery:\n" + p.take(800))
    }
  }

  test("span scrub: keyed windows only (h freq, doc_id islands), one explode, no cartesian") {
    val df = graft.pipeline.PipelineOps.spanScrub(spark, SfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    // every window must be KEYED — the freq count partitions by the span
    // hash, the islands merge by doc_id; an empty-partition window would
    // funnel the corpus-wide set through one task
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty &&
      windows.forall(w => w.contains("doc_id") || w.contains("h#")),
      "p64 windows must partition by doc_id or the span hash:\n" + windows.mkString("\n"))
    // round 18: the dup marking is a count window over h, not a join-back
    // — the text explode (Generate) must appear exactly ONCE in the plan
    assert("Generate".r.findAllIn(p).length == 1,
      "p64 must explode spans exactly once:\n" + p.take(1200))
  }

  test("tombstoned ann index: the query phase masks via anti-join and stays corpus-scan-free") {
    import org.apache.spark.sql.functions._
    val ops = graft.pipeline.PipelineOps
    val seedBound = math.max(ops.IvfCentroids, ops.PqCentroids).max(10).toLong
    val q = ops.quantized(spark, SfDir)
      .select(col("vec_id"), col("q"), col("nrm")).localCheckpoint(false)
    val oldQ = q.where(col("vec_id") < seedBound || col("vec_id") % 10 =!= 9)
    val newQ = q.where(col("vec_id") < seedBound || col("vec_id") % 10 =!= 0)
    val idx = new java.io.File(sys.props("java.io.tmpdir"), "graft-test-ann-tomb").toString
    ops.buildAnnIndexOf(oldQ, idx)
    oldQ.select("vec_id").join(newQ.select("vec_id"), Seq("vec_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$idx/tombstones.parquet")
    val p = ops.queryAnnIndex(spark, SfDir, idx)
      .queryExecution.executedPlan.toString
    // deletes must be an anti-join against the delta-sized tombstone
    // relation, never a rewrite of (or full scan over) the corpus index
    assert(p.contains("LeftAnti"), "tombstones must mask via anti-join:\n" + p.take(800))
    assert(p.contains("tombstones.parquet"), p.take(800))
    // the p49 invariant survives tombstoning: raw embeddings scans stay
    // query-side (pushed vec_id < 10 filter)
    val embScans = p.linesIterator
      .filter(l => l.contains("embeddings.parquet") && l.contains("PushedFilters")).toSeq
    assert(embScans.nonEmpty && embScans.forall(_.contains("LessThan(vec_id,10)")),
      embScans.mkString("\n"))
  }

  test("source overlap: one hash-keyed set aggregate, in-row pair expansion, no self-join") {
    val p = graft.pipeline.PipelineOps.sourceOverlap(spark, SfDir)
      .queryExecution.executedPlan.toString
    // the full source-pair grid is a deliberate broadcast NLJ over two
    // CATALOG-sized frames (one row per source) — bounded at any corpus
    // size; what must never appear is an unbroadcast cartesian, which is
    // what a corpus-keyed cross join would plan as
    assert(!p.contains("CartesianProduct"),
      "grid must broadcast, pair discovery must stay in-row:\n" + p.take(800))
    // pair discovery collapses to ONE corpus-scale shuffle (the per-hash
    // collect_set aggregate, truncated behind the localCheckpoint here) —
    // downstream the pairs come from an IN-ROW expansion of each hash's
    // source set (Generate over the hash-cardinality frame), and the
    // exploded corpus must never hit an h-keyed self-join (round-12's
    // shape paid two extra exploded-corpus shuffles for the same multiset)
    assert(p.contains("Generate explode"),
      "pairs must expand in-row from the per-hash source sets:\n" + p.take(800))
    assert(!p.linesIterator.exists(l =>
        (l.contains("BroadcastHashJoin [h#") || l.contains("SortMergeJoin [h#"))),
      "no h-keyed self-join should remain:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("training order: shard-partitioned windows, no joins, no corpus funnel") {
    val p = graft.pipeline.PipelineOps.trainingOrder(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), "a pure projection + windows:\n" + p.take(800))
    // rank and token-offset windows must both partition by the shard key —
    // an empty partitionBy would range-sort the whole corpus into one task
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("shard")),
      "order windows must partition by shard:\n" + windows.mkString("\n"))
  }

  test("calibrated filter: histogram agg + tiny source window, threshold table broadcasts back") {
    val p = graft.pipeline.PipelineOps.calibratedFilter(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    // the corpus-side classification join must build on the broadcast
    // threshold table, never shuffle the corpus to meet source-cardinality
    assert(p.contains("BroadcastHashJoin"),
      "threshold join should broadcast:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // the cumsum window runs on the HISTOGRAM (source, score) — keyed by
    // source, bounded by the score domain, never the corpus
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("source")),
      "cumsum windows must partition by source:\n" + windows.mkString("\n"))
  }

  test("embedding drift: broadcast centroid assignment, no corpus window, single-row totals broadcast") {
    val p = graft.pipeline.PipelineOps.embeddingDrift(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    // assignment is the partial-min groupBy against broadcast centroids —
    // a corpus×K window would materialize every scored row into state
    assert(!p.contains("windowspecdefinition"), "assignment must not use a window")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "centroids and totals must broadcast:\n" +
        p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("dataset card: reads the materialized verdict, never re-runs the dedup machinery") {
    val p = graft.pipeline.PipelineOps.datasetCard(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("verdict.parquet"),
      "card must read the stored verdict:\n" + p.take(800))
    assert(!p.contains("Generate"),
      "card must not re-gram the corpus:\n" + p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("media dedup: decode stays map-side projection work, the dedup is one " +
       "fingerprint-keyed window, and the scan reads only the three source columns") {
    val df = graft.pipeline.PipelineOps.mediaDedup(spark, SfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin") &&
           !p.contains("BroadcastHashJoin"),
      "content dedup must be join-free (one window, no pair join):\n" + p.take(800))
    assert(p.contains("Window"), p.take(400))
    val scans = p.linesIterator.filter(l =>
      l.contains("documents.parquet") && l.contains("ReadSchema")).toSeq
    assert(scans.nonEmpty && scans.forall(l =>
      l.contains("doc_id") && l.contains("text") && !l.contains("lang")),
      "scan must prune to (doc_id, text, n_chars):\n" + scans.mkString("\n"))
  }

  test("LSM chain fold: delta retirement is BROADCAST anti-joins over the chain " +
       "scans (never a state-by-state shuffle join), and verdict assembly reads " +
       "the maintained labels table instead of rebuilding the cluster graph") {
    import org.apache.spark.sql.functions._
    import graft.streaming.{DedupStream, IngestBump}
    val d = spark.read.parquet(s"$SfDir/documents.parquet")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("n_chars", length(col("text")).cast("long"))
    val root = java.nio.file.Files.createTempDirectory("graft_plan_chain").toString
    IngestBump.bump(spark, root, snap(d))
    IngestBump.bump(spark, root, snap(d.where(col("doc_id") % 10 =!= 3)))
    val st = IngestBump.textState(spark, root).get
    for (t <- Seq("grams", "pairs", "labels")) {
      val p = st(t).queryExecution.executedPlan.toString
      assert(p.contains("LeftAnti"), s"$t fold must retire via anti-join:\n" + p.take(600))
      assert(!p.contains("SortMergeJoin"),
        s"$t fold retirement must broadcast (delta-sized build side):\n" + p.take(800))
    }
    // the verdict consumes the maintained labels table — the physical plan
    // scans labels.parquet and carries NO gram machinery (a global CC
    // rebuild would drag the edge discovery pipeline in with it)
    val v = DedupStream.verdictFromLabels(st("survhash"), st("livelog"), st("labels"))
      .queryExecution.executedPlan.toString
    assert(v.contains("labels.parquet"),
      "verdict must read the maintained labels:\n" + v.take(800))
    assert(!v.contains("grams.parquet") && !v.contains("Generate"),
      "verdict assembly must not touch gram state:\n" + v.take(800))
  }
}
