package graft.plan

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._
import graft.pipeline.PipelineOps.PinnedFrame

/** Resolves a schema table to a DataFrame (parquet path, registered view,
  * or anything else the engine knows how to read). */
trait TableResolver {
  def resolve(spark: SparkSession, table: TableDef): DataFrame
}

/** Resolves each table through `inner` at most once per session and hands
  * every later call the same frame, so a planner's requests skip the file
  * listing, footer reads and dim joins a resolve costs. The frame reads the
  * table's files as of its first resolve: a holder that wants newer files
  * starts a new memo (the server does on every `/flush`).
  *
  * Concurrent first calls for one table resolve once (the slot's lazy val
  * serializes them). A failed resolve stores nothing, so the next call
  * retries. A call under another session than the slot's resolves afresh
  * and the slot moves to that session. */
final class MemoizedResolver(inner: TableResolver) extends TableResolver {
  private final class Slot(val spark: SparkSession, table: TableDef) {
    lazy val frame: DataFrame = inner.resolve(spark, table)
  }
  private val slots = new java.util.concurrent.ConcurrentHashMap[TableDef, Slot]()

  def resolve(spark: SparkSession, table: TableDef): DataFrame =
    slots.compute(table, (_, s) => if (s != null && (s.spark eq spark)) s else new Slot(spark, table)).frame
}

final case class PlanError(message: String) extends RuntimeException(message)

/** Compiles a resolved [[CubeQuery]] into one declarative DataFrame plan.
  *
  * Replaces the reference's SQL-string generator stack
  * (tesseract-clickhouse/src/sql/) with a Catalyst logical plan:
  * cuts become dim-side filters (pushed to the parquet scans), dim joins are
  * plain equi-joins Catalyst can broadcast, the two-pass aggregation
  * collapses into one `groupBy` (partial/final aggregation is physical), and
  * growth/RCA/top-k become window functions.
  *
  * Scale notes (designed for a multi-executor cluster, tested on local[N]):
  *   - every filter/projection is declarative, so predicate pushdown, column
  *     pruning, partition pruning, and runtime (DPP/bloom) filters all apply;
  *   - dim tables join via equi-join on the fk — small dims broadcast
  *     automatically (AQE), large dims shuffle on the join key only;
  *   - cut-only dims join `left_semi`, which never widens rows;
  *   - aggregation shuffles once, on the drilldown grain.
  */
final class CubePlanner(
    val cube: Cube, resolver: TableResolver,
    /** Geoservice sidecar for `neighbors` on Geo-typed dims (reference
      * TESSERACT_GEOSERVICE_URL); None → hierarchy ±2 fallback. */
    geoService: Option[GeoService] = None) {
  import CubePlanner._

  /** Same resolver, different cube view (Preagg plans storage variants). */
  def withCube(c: Cube): CubePlanner = new CubePlanner(c, resolver, geoService)

  /** Same cube over a fresh [[MemoizedResolver]] of this planner's resolver. */
  def memoized: CubePlanner = new CubePlanner(cube, new MemoizedResolver(resolver), geoService)

  // ---------------------------------------------------------------- public

  def plan(spark: SparkSession, q: CubeQuery): DataFrame = {
    validate(q)
    if (q.rca.isDefined) planRca(spark, q)
    else if (q.rate.isDefined) planRate(spark, q)
    else planStandard(spark, q)
  }

  /** Distinct members of one level (reference lib.rs:211-322). */
  def members(spark: SparkSession, ln: LevelName, locale: Option[String] = None): DataFrame = {
    val (dim, hier, idx) = resolveLevel(ln)
    val level = hier.levels(idx)
    val src = dimSource(spark, dim, hier)
    val nameCol = captionColumn(level, locale).orElse(level.nameColumn)
    val cols = (Seq(level.keyColumn) ++ nameCol).distinct.map(cq)
    src.select(cols: _*).distinct().orderBy(cq(level.keyColumn).asc)
  }

  /** Members related to `member` through the hierarchy: `children` (next
    * level's keys under it), `parents` (previous level's key above it),
    * `neighbors` (±2 in sorted member order, excluding the member itself —
    * reference logic_layer/cache.rs:279-539, 863-904). Returns the level the
    * members belong to plus the members. The collect is bounded by dimension
    * cardinality (never the fact table). */
  def relatedMembers(spark: SparkSession, ln: LevelName, member: String, op: String)
      : (LevelName, Seq[String]) = {
    val (dim, hier, idx) = resolveLevel(ln)
    val src = dimSource(spark, dim, hier)
    val key = hier.levels(idx).keyColumn
    val dt = src.schema(key).dataType
    def lvlName(i: Int) = LevelName(dim.name, hier.name, hier.levels(i).name)
    def keysOf(df: DataFrame, columnName: String): Seq[Any] =
      df.select(cq(columnName)).distinct().collect().map(_.get(0)).toSeq
    def sorted(vs: Seq[Any]): Seq[Any] =
      if (vs.forall(_.isInstanceOf[Number]))
        vs.sortBy(_.asInstanceOf[Number].doubleValue)
      else vs.sortBy(String.valueOf(_))
    op match {
      case "children" =>
        if (idx + 1 >= hier.levels.length) fail(s"level '$ln' has no child level")
        val ks = keysOf(src.where(cq(key) === lit(typedMember(dt, member))),
          hier.levels(idx + 1).keyColumn)
        (lvlName(idx + 1), sorted(ks).map(String.valueOf(_)))
      case "parents" =>
        if (idx == 0) fail(s"level '$ln' has no parent level")
        val ks = keysOf(src.where(cq(key) === lit(typedMember(dt, member))),
          hier.levels(idx - 1).keyColumn)
        (lvlName(idx - 1), sorted(ks).map(String.valueOf(_)))
      case "neighbors" if dim.dimType == DimensionType.Geo && geoService.isDefined =>
        // spatial adjacency from the geoservice sidecar, exactly the
        // reference's Geo-dim branch (aggregate.rs:1204-1222). Without a
        // configured service the reference errors; we fall through to the
        // hierarchy ±2 fallback instead (zero-egress default) — documented
        // deviation, SURVEY §8.7.
        (ln, geoService.get.neighbors(member))
      case "neighbors" =>
        val all = sorted(keysOf(src, key))
        val target = typedMember(dt, member)
        val i = all.indexWhere(v => String.valueOf(v) == String.valueOf(target))
        if (i < 0) fail(s"member '$member' not found on level '$ln'")
        val picked = ((i - 2) to (i + 2)).filter(j => j >= 0 && j < all.length && j != i)
        (ln, picked.map(j => String.valueOf(all(j))))
      case other => fail(s"unknown cut operation '$other' (children|parents|neighbors)")
    }
  }

  // ------------------------------------------------------------ validation

  private def validate(q: CubeQuery): Unit = {
    if (q.measures.isEmpty) fail("must have at least one measure")
    if (q.drilldowns.isEmpty && q.cuts.isEmpty && q.rca.isEmpty && q.rate.isEmpty)
      fail("must have at least one drilldown or cut")
    q.measures.foreach(m => cube.measure(m.name).getOrElse(fail(s"measure '${m.name}' not found")))
    (q.drilldowns.map(_.levelName) ++ q.cuts.map(_.levelName)).foreach(resolveLevel)
    q.properties.foreach { p =>
      val (_, hier, idx) = resolveLevel(p.levelName)
      val lvl = hier.levels(idx)
      if (!lvl.properties.exists(_.name == p.property))
        fail(s"property '${p.property}' not found on level '${p.levelName}'")
      if (!q.drilldowns.exists(_.levelName == p.levelName))
        fail(s"property '${p}' must match a drilldown in the query")
    }
    q.growth.foreach { g =>
      if (!q.drilldowns.contains(g.timeDrill)) fail("growth time drilldown must be in drilldowns")
      if (!q.measures.exists(_.name == g.mea.name)) fail("growth measure must be in measures")
    }
    q.rca.foreach { r =>
      // only cuts on drill_2's own level are invalid (lib.rs:486-498 rejects
      // by column); other levels of that dimension cut the fact normally
      val (d2d, d2h, d2i) = resolveLevel(r.drill2.levelName)
      val d2lvl = d2h.levels(d2i).name
      q.cuts.foreach { c =>
        val (cd, ch, ci) = resolveLevel(c.levelName)
        if (cd.name == d2d.name && ch.name == d2h.name && ch.levels(ci).name == d2lvl)
          fail("cuts on the second RCA drilldown level are not allowed")
      }
    }
    q.rate.foreach { _ =>
      if (q.measures.length != 1) fail("rate requires exactly one measure")
      val agg = cube.measure(q.measures.head.name).get.aggregator
      if (agg != Aggregator.Sum && agg != Aggregator.Count)
        fail("rate requires a sum or count measure")
    }
    // sort/filter/top/top_where measure references must name a measure IN
    // the query (only those are output columns) or a calc present in the
    // query — the reference's mea_or_calc! macro enforces the same rule
    // (lib.rs:52-71, "measure {} must be in measures or if sorting on RCA
    // column use \"rca\""); without the check a bad name surfaces as an
    // unclassified analysis error (HTTP 500) instead of a query error
    // (400). One deliberate extension: the rate's derived "Rate" column is
    // also accepted, so rate results can be sorted/filtered by the share.
    def checkMeaRef(mc: MeaOrCalc, what: String): Unit = mc match {
      case MeaOrCalc.Mea(m) =>
        val ok = q.measures.exists(_.name == m.name) ||
          (q.rate.isDefined && m.name == "Rate")
        if (!ok) fail(s"$what measure '${m.name}' must be a measure in the query")
      case MeaOrCalc.RcaCalc =>
        if (q.rca.isEmpty) fail(s"$what references the rca calculation but the query has no rca")
      case MeaOrCalc.GrowthCalc =>
        if (q.growth.isEmpty) fail(s"$what references the growth calculation but the query has no growth")
    }
    q.sort.foreach(s => checkMeaRef(s.measure, "sort"))
    q.filters.foreach(f => checkMeaRef(f.byMeaOrCalc, "filter"))
    q.top.foreach(t => t.sortMeaOrCalc.foreach(checkMeaRef(_, "top")))
    q.topWhere.foreach(tw => checkMeaRef(tw.byMeaOrCalc, "top_where"))
  }

  // -------------------------------------------------------------- standard

  private def planStandard(spark: SparkSession, q: CubeQuery): DataFrame = {
    val outs    = outLevels(q.drilldowns, q.parents, q.properties, q.captions)
    val headers = drillHeaders(outs)
    val meas    = q.measures.map(m => cube.measure(m.name).get -> m.name)

    val src = buildSource(spark, outs, q.cuts, q, hiddenFor(meas.map(_._1)))
    var df  = aggregate(src, groupHeaders(outs), meas, hiddenFor(meas.map(_._1)).map(_.keyHeader))

    val meaNames = meas.map(_._2)
    q.growth match {
      case Some(g) =>
        val (gdf, order) = applyGrowth(df, q, g, outs, meaNames)
        df = applyOptions(gdf, q, outs, order._1, order._2, calcCols(q))
        df.select(order._3.map(cq): _*)
      case None =>
        df = applyOptions(df, q, outs, headers, meaNames, calcCols(q))
        df.select((headers ++ meaNames).map(cq): _*)
    }
  }

  /** Single-plan fusion of a logic-layer cut fan-out. The fan-out's N
    * member queries share everything except (a) which cut of each
    * multi-cut dimension they carry and (b) that cut's level auto-added as
    * a drilldown — so N near-identical plans each scan and shuffle the
    * fact table. This fuses them into ONE plan:
    *
    *   1. cuts common to every combo (the single-cut dimensions) push
    *      into one shared [[buildSource]] — full scan pushdown preserved;
    *   2. the union of all combos' drill levels joins once, so every
    *      varying cut's key is a column of the wide frame;
    *   3. [[fusedSource]] tags each row with every combo whose varying
    *      cuts it satisfies and null-pads each grouping column outside
    *      the combos that group by it, so ONE aggregate keyed by
    *      (combo id, union grain) replaces N — one shuffle instead of N;
    *   4. [[fusedOptions]] projects each position through its combo's own
    *      column, consolidating disagreeing types to string — exactly the
    *      positional union-by-first-combo's-headers contract of the
    *      fan-out path (aggregate.rs:333-534), minus the N-way Union.
    *
    * Semantics are proven equal to the fan-out path on the q31 family and
    * the logic-layer fuzz corpus (LogicLayerFusedSpec). rca routes to
    * [[planFanOutFusedRca]] (a different aggregate shape); growth fuses as
    * a combo-partitioned lag, rate as the fused conditional aggregate
    * itself, and top/top_where/HAVING/sparse/limit as [[fusedOptions]]'
    * combo-partitioned stages. A `sort` without a limit selects no rows
    * and the fan-out path re-sorts the union deterministically anyway, so
    * it fuses as a no-op. None = declined: the caller falls back to the
    * per-member fan-out. */
  private[plan] def planFanOutFused(
      spark: SparkSession, queries: Seq[CubeQuery]): Option[DataFrame] = {
    require(queries.length > 1, "fusion needs a real fan-out")
    queries.foreach(validate)
    val q0 = queries.head
    // same precedence as plan(): rca before rate
    if (q0.rca.isDefined) return planFanOutFusedRca(spark, queries)
    val rate = q0.rate // identical across members (fanOut replicates it)

    // rate: the member path (planRate) excludes the rate level from the
    // OUTPUT grain and joins it only as a source column for the
    // conditional member-share aggregate — mirror both here
    def origDrills(q: CubeQuery): Seq[Drilldown] = rate match {
      case Some(r) => q.drilldowns.filterNot(_.levelName == r.levelName)
      case None    => q.drilldowns
    }
    val comboOuts = queries.map(q => outLevels(origDrills(q), q.parents, q.properties, q.captions))
    val unionDrills = queries.flatMap(origDrills).distinct
    val unionCaptions = queries.flatMap(_.captions).distinct
    val unionOuts = outLevels(unionDrills, q0.parents, q0.properties, unionCaptions)
    // the SOURCE carries the rate level too (planRate's baseDrills shape:
    // output drills + the rate level, one joint outLevels call so duplicate
    // headers disambiguate identically)
    val sourceOuts = rate match {
      case Some(r) => outLevels(unionDrills :+ Drilldown(r.levelName),
        q0.parents, q0.properties, unionCaptions)
      case None => unionOuts
    }
    // a rate level named like a drill level makes the joint outLevels call
    // disambiguate headers the union grain alone doesn't — every
    // union-grain reference below (padding, groupBy, consolidation) would
    // miss the wide frame's prefixed names. Decline; the unfused fan-out's
    // planRate handles the collision per member via rename.
    if (rate.isDefined && unionOuts.exists { u =>
      sourceOuts.find(_.id == u.id)
        .exists(s => s.keyHeader != u.keyHeader || s.nameHeader != u.nameHeader)
    }) return None
    val unionCols = comboUnionCols(comboOuts, unionOuts).getOrElse(return None)
    val width = unionCols.head.length
    val meas = q0.measures.map(m => cube.measure(m.name).get -> m.name)
    val meaNames = meas.map(_._2)
    val hidden = hiddenFor(meas.map(_._1))

    val unionGroupHeaders = groupHeaders(unionOuts)
    val padded = fusedSource(spark, sourceOuts, queries.map(_.cuts), unionGroupHeaders,
      unionCols, q0, hidden)

    // rate replicates planRate's ONE conditional-aggregate pass keyed by
    // (combo, union grain): the per-combo varying cut only changes WHICH
    // rows feed each combo's groups, never the aggregate's shape
    var agg = rate match {
      case Some(r) =>
        val rateHeader = levelKeyHeader(sourceOuts, r.levelName)
        rateAggregate(padded, Combo +: unionGroupHeaders, rateHeader, r, meas.head)
          .drop("__part")
      case None =>
        aggregate(padded, Combo +: unionGroupHeaders, meas, hidden.map(_.keyHeader))
    }

    // growth fuses as a __combo-partitioned lag: the member path's window
    // partitions by the combo's non-time drill keys; in the fused frame a
    // combo's out-of-combo columns are null-padded CONSTANTS, so
    // partitioning by (__combo, every non-time union key) is the same
    // per-combo partition. Valid only while the time columns sit at the
    // SAME positions in every combo (the positional-consolidation premise
    // applied to the growth reorder) — a varying cut on the time dimension
    // itself breaks that, so it declines to the fan-out path. planRate
    // ignores growth on a rate query — mirror that precedence.
    val fusedGrowth = q0.growth.filter(_ => rate.isEmpty)
    // position order for tiebreaks and the output projection: the member
    // path's growth reorder moves time drills to the back (stable within
    // each group); without growth it is the natural order
    val ordIdx: Seq[Int] = fusedGrowth match {
      case None => 0 until width
      case Some(g) =>
        val (tDim, tHier, _) = resolveLevel(g.timeDrill.levelName)
        def isTime(o: OutLevel) = o.dim.name == tDim.name && o.hier.name == tHier.name
        val flags = comboOuts.map(_.flatMap(o => Seq.fill(drillHeaders(Seq(o)).length)(isTime(o))))
        if (flags.distinct.length > 1) return None
        // KEY headers only, like the member path's applyGrowth window
        val w = Window
          .partitionBy(cq(Combo) +: unionOuts.filterNot(isTime).map(o => cq(o.keyHeader)): _*)
          .orderBy(unionOuts.filter(isTime).map(o => cq(o.keyHeader).asc): _*)
        agg = withGrowth(agg, w, g.mea.name)
        (0 until width).filterNot(flags.head) ++ (0 until width).filter(flags.head)
    }

    // the member path's output measures: rate emits (measure, Rate) —
    // also its sparse-checked columns; growth moves the growth measure to
    // the back of the measures, then the two growth columns
    val outMeas = (rate, fusedGrowth) match {
      case (Some(_), _) => Seq(meaNames.head, "Rate")
      case (None, Some(g)) => meaNames.filterNot(_ == g.mea.name) ++
        Seq(g.mea.name, s"${g.mea.name} Growth", s"${g.mea.name} Growth Value")
      case (None, None) => meaNames
    }
    val sparseCols = if (rate.isDefined) outMeas else meaNames
    fusedOptions(agg, q0, unionCols, drillHeaders(comboOuts.head), unionOuts, ordIdx,
      calcCols(q0), sparseCols, outMeas)
  }

  /** Fused fan-out for RCA queries: N fan-out members each ran [[planRca]]
    * over near-identical sources; here ONE plan runs:
    *
    *   1. the shared source carries the UNION of the members' ext levels
    *      plus drill1/drill2; cuts split per member into EXTERNAL
    *      (not on a drill1 level — the common ones push into the source,
    *      the varying ones tag the combos, exactly the generic path) and
    *      INTERNAL (on a drill1 level — applied POST-aggregation so they
    *      never distort the b/d totals, planRca's a-and-c-only rule,
    *      rca.rs:100-127 semantics);
    *   2. out-of-combo ext columns null-pad per combo; grouping over a
    *      null CONSTANT partitions identically to not grouping at all,
    *      and every group/window is additionally keyed by `__combo`, so
    *      a padded null never meets a genuine null key across combos;
    *   3. planRca's one-scan re-aggregable form ([[rcaReaggregated]])
    *      keyed by `__combo` as well — one fact scan; internal cuts
    *      filter per combo on the d1 key headers (shared across combos by
    *      construction), and [[fusedOptions]] replicates the option
    *      stages with the rca calc exposed.
    *
    * Declines (None → per-member fan-out) when the rca measure is not
    * re-aggregable ([[rcaReaggregable]] — the members then run the
    * raw-row grouping-sets form), when a member's ext levels intersect
    * drill1/drill2's (duplicate headers — the member path has the same
    * collision), when member caption resolution disagrees on the rca
    * drills, and on [[fusedOptions]]' declines. Growth and rate are
    * ignored under rca, the plan() precedence. */
  private def planFanOutFusedRca(
      spark: SparkSession, queries: Seq[CubeQuery]): Option[DataFrame] = {
    val q0 = queries.head
    val r = q0.rca.get
    // rca drill outs must resolve identically for every member (captions
    // ride the member's locale resolution; drill1/drill2 are shared)
    val d1PerCombo = queries.map(q => outLevels(Seq(r.drill1), q.parents, Nil, q.captions))
    val d2PerCombo = queries.map(q => outLevels(Seq(r.drill2), q.parents, Nil, q.captions))
    if (d1PerCombo.distinct.length > 1 || d2PerCombo.distinct.length > 1) return None
    val d1Outs = d1PerCombo.head
    val d2Outs = d2PerCombo.head
    val rcaLevels = (d1Outs ++ d2Outs).map(_.id).toSet

    val comboExtOuts = queries.map(q =>
      outLevels(q.drilldowns, q.parents, q.properties, q.captions))
    // a member ext level duplicating an rca drill level would collide on
    // headers in the member path too — decline, identical failure either way
    if (comboExtOuts.exists(_.exists(o => rcaLevels.contains(o.id)))) return None
    val comboAllOuts = comboExtOuts.map(_ ++ d1Outs ++ d2Outs)

    val unionDrills = queries.flatMap(_.drilldowns).distinct
    val unionCaptions = queries.flatMap(_.captions).distinct
    val unionExtOuts = outLevels(unionDrills, q0.parents, q0.properties, unionCaptions)
    if (unionExtOuts.exists(o => rcaLevels.contains(o.id))) return None
    val unionAllOuts = unionExtOuts ++ d1Outs ++ d2Outs
    // the three outLevels calls disambiguate independently (the member
    // path's shape); a residual duplicate across the concatenation would
    // alias two source columns — decline
    val unionAllCols = groupHeaders(unionAllOuts)
    if (unionAllCols.distinct.length != unionAllCols.length) return None
    val unionCols = comboUnionCols(comboAllOuts, unionAllOuts).getOrElse(return None)

    val rcaMea = cube.measure(r.mea.name).getOrElse(fail(s"rca measure '${r.mea.name}' not found"))
    // a non-re-aggregable rca measure needs the raw-row grouping-sets
    // form — decline to the per-member fan-out rather than replicate it
    if (!rcaReaggregable(rcaMea.aggregator)) return None
    val meas = (rcaMea -> RcaA) +: q0.measures.map(m => cube.measure(m.name).get -> m.name)
    if (meas.exists(_._1.aggregator.isInstanceOf[Aggregator.BasicGroupedMedian]))
      fail("grouped-median measures cannot combine with RCA (no single-pass form)")

    // internal/external cut split, per member (d1 levels are shared)
    val d1Levels = d1Outs.map(_.id).toSet
    def isInternal(c: CutSpec): Boolean = {
      val (d, h, i) = resolveLevel(c.levelName)
      d1Levels.contains((d.name, h.name, h.levels(i).name))
    }
    val padded = fusedSource(spark, unionAllOuts, queries.map(_.cuts.filterNot(isInternal)),
      unionAllCols, unionCols, q0, Nil)
    var agg = rcaReaggregated(padded, Seq(Combo), unionAllCols,
      unionExtOuts.map(_.keyHeader), d1Outs.map(_.keyHeader), d2Outs.map(_.keyHeader),
      meas, rcaMea.aggregator, identity)

    // internal cuts: a-grain row predicates per combo, applied after the
    // joins — the d1 key headers are join keys of the c-join, so filtering
    // the joined frame equals planRca's filter-both-sides-then-join
    queries.zipWithIndex.foreach { case (q, i) =>
      q.cuts.filter(isInternal).foreach { cut =>
        val header = levelKeyHeader(unionAllOuts, cut.levelName)
        agg = agg.where(cq(Combo) =!= i || cutPredicate(agg, header, cut))
      }
    }

    val rcaName = s"${r.mea.name} RCA"
    agg = withRca(agg, rcaName)
    val meaNames = rcaName +: q0.measures.map(_.name)
    val debugCols = if (q0.debug) Seq(RcaA, RcaB, RcaC, RcaD) else Nil
    fusedOptions(agg, q0, unionCols, drillHeaders(comboAllOuts.head), unionAllOuts,
      unionCols.head.indices, Map("rca" -> rcaName), meaNames, debugCols ++ meaNames)
  }

  // ------------------------------------------------- fused fan-out stages

  /** Each combo's output columns named in the union frame's namespace,
    * positionally aligned with the combo's own headers (identity = (dim,
    * hier, level); the header NAMES may differ between the combo-local
    * and union-wide duplicate disambiguation, the column structure
    * cannot). None when the combos' widths differ — the per-member
    * fan-out then reports the mismatch. */
  private def comboUnionCols(
      comboOuts: Seq[Seq[OutLevel]], unionOuts: Seq[OutLevel]): Option[Seq[Seq[String]]] = {
    def unionOf(o: OutLevel): OutLevel = unionOuts.find(_.id == o.id)
      .getOrElse(fail(s"fan-out fusion lost level '${o.level.name}'"))
    val cols = comboOuts.map(outs => drillHeaders(outs.map(unionOf)))
    if (cols.map(_.length).distinct.length > 1) None else Some(cols)
  }

  /** The fused fan-out's source: cuts present in EVERY combo push into one
    * shared [[buildSource]] over `outs`; each row is tagged (`__combo`)
    * with EVERY combo whose remaining cuts it satisfies (a row can satisfy
    * several — cuts on different levels of one dimension overlap) via an
    * explode over the matching combo ids, after an OR-of-all-combos row
    * filter. Then each of `groupCols` is null-padded outside the combos
    * whose `unionCols` contain it — the manual grouping-sets expansion:
    * a column groups only in the combos whose grouping set contains it. */
  private def fusedSource(
      spark: SparkSession, outs: Seq[OutLevel], comboCuts: Seq[Seq[CutSpec]],
      groupCols: Seq[String], unionCols: Seq[Seq[String]],
      q0: CubeQuery, hidden: Seq[OutLevel]): DataFrame = {
    val common = comboCuts.map(_.toSet).reduce(_ intersect _)
    val wide = buildSource(spark, outs, common.toSeq, q0, hidden)
    val comboPreds = comboCuts.map(_.filterNot(common.contains)
      .map(c => cutPredicate(wide, levelKeyHeader(outs, c.levelName), c))
      .reduceOption(_ && _).getOrElse(lit(true)))
    val tagArr = array(comboPreds.zipWithIndex.map { case (p, i) =>
      when(p, lit(i)).otherwise(lit(null).cast("int"))
    }: _*)
    val tagged = wide
      .where(comboPreds.reduce(_ || _))
      .withColumn(Combo, explode(filter(tagArr, x => x.isNotNull)))
    groupCols.foldLeft(tagged) { (d, h) =>
      val in = unionCols.zipWithIndex.collect { case (cols, i) if cols.contains(h) => i }
      if (in.length == unionCols.length) d
      else d.withColumn(h, when(cq(Combo).isin(in: _*), cq(h)))
    }
  }

  /** The fused fan-outs' shared tail: positional consolidation under
    * combo 0's headers (types disagreeing across combos collapse to
    * string, LogicLayer's consolidate() rule), then applyOptions' stages
    * in its order — top_where → top → HAVING+sparse → limit — each per
    * combo as a `__combo`-partitioned operation, then the output
    * projection (positions in `ordIdx` order, then `outMeas`). HAVING
    * filters and `sparse` are identical in every combo's CubeQuery, so
    * they apply once. A per-combo `limit` becomes a row_number window
    * partitioned by the combo tag over the combo's own deterministic
    * total order (the applyOptions no-top rule: explicit sort measure
    * first, then drill columns asc).
    *
    * Declines (None) when a row slice (top/limit) meets a string
    * consolidation, which would reorder numerics, and on top+limit
    * without a sort: the fan-out slices the limit over the top-derived
    * order (by-level asc, measure desc), which is NOT a total order — ties
    * make the member queries' own slices tie-arbitrary, and a fused
    * replica could legitimately pick different ties. */
  private def fusedOptions(
      agg0: DataFrame, q0: CubeQuery, unionCols: Seq[Seq[String]],
      headers: Seq[String], outs: Seq[OutLevel], ordIdx: Seq[Int],
      calcs: Map[String, String], sparseCols: Seq[String],
      outMeas: Seq[String]): Option[DataFrame] = {
    val width = unionCols.head.length
    val posTypes = (0 until width).map { j =>
      unionCols.map(c => agg0.schema(c(j)).dataType).distinct
    }
    if ((q0.limit.isDefined || q0.top.isDefined) && posTypes.exists(_.length > 1))
      return None
    if (q0.top.isDefined && q0.limit.isDefined && q0.sort.isEmpty) return None
    def pickCol(j: Int, cast: Boolean): Column = {
      val srcCols = unionCols.map(_(j))
      val t = if (posTypes(j).length == 1) posTypes(j).head else StringType
      def c(name: String) = if (cast) cq(name).cast(t) else cq(name)
      if (srcCols.distinct.length == 1) c(srcCols.head)
      else srcCols.zipWithIndex.tail.foldLeft(
        when(cq(Combo) === 0, c(srcCols.head))) {
          case (acc, (s, i)) => acc.when(cq(Combo) === i, c(s))
        }
    }

    var agg = agg0
    q0.top.foreach { top =>
      q0.topWhere.foreach { tw =>
        agg = agg.where(constraintPred(meaOrCalcCol(tw.byMeaOrCalc, calcs), tw.constraint))
      }
      // the by-level must be a drilldown of EVERY member query (the
      // fan-out path resolves it per combo), so it is a shared base
      // drill and maps to one union column for all combos
      val byHeader = levelKeyHeader(outs, top.byDimension)
      val tiebreak = ordIdx
        .filterNot(j => unionCols.forall(_(j) == byHeader))
        .map(j => pickCol(j, cast = false).asc)
      val w = Window.partitionBy(cq(Combo), cq(byHeader))
        .orderBy(top.sortMeaOrCalc.map(c => ordered(meaOrCalcCol(c, calcs), top.sortDirection)) ++
          tiebreak: _*)
      agg = agg.withColumn("__rn", row_number().over(w))
        .where(cq("__rn") <= top.n).drop("__rn")
    }

    havingPred(q0, calcs, sparseCols).foreach(p => agg = agg.where(p))

    q0.limit.foreach { l =>
      val tiebreak = ordIdx.map(j => pickCol(j, cast = false).asc)
      // top+limit without sort declined above
      val sortHead = q0.sort.map(s => ordered(meaOrCalcCol(s.measure, calcs), s.direction))
      val w = Window.partitionBy(cq(Combo)).orderBy(sortHead.toSeq ++ tiebreak: _*)
      val off = l.offset.getOrElse(0L)
      agg = agg.withColumn("__rn", row_number().over(w))
        .where(cq("__rn") > off && cq("__rn") <= off + l.n).drop("__rn")
    }

    val outCols = ordIdx.map(j => pickCol(j, cast = true).as(headers(j)))
    Some(agg.select(outCols ++ outMeas.map(cq): _*))
  }

  // ---------------------------------------------------------------- growth

  /** Period-over-period growth via `lag` over a window partitioned by the
    * non-time drills (replaces the reference's groupArray/arrayMap/ARRAY JOIN
    * pivot — tesseract-clickhouse/src/sql/growth.rs:14-157).
    * growth = m_diff / (m - m_diff) with NULL for the first period; the
    * reference emits `m_diff/0` when the previous value is <= 0, which this
    * engine maps to NULL (emitted directly, session-ANSI-independent). */
  private def applyGrowth(
      df: DataFrame, q: CubeQuery, g: GrowthQuery,
      outs: Seq[OutLevel], meaNames: Seq[String])
    : (DataFrame, (Seq[String], Seq[String], Seq[String])) = {

    val (tDim, tHier, tIdx) = resolveLevel(g.timeDrill.levelName)
    val timeOuts  = outs.filter(o => o.dim.name == tDim.name && o.hier.name == tHier.name)
    val otherOuts = outs.filterNot(o => o.dim.name == tDim.name && o.hier.name == tHier.name)
    val timeKeyCols  = timeOuts.map(_.keyHeader)
    val timeHeaders  = drillHeaders(timeOuts)
    val otherHeaders = drillHeaders(otherOuts)

    // With only the time drilldown this window has no partition keys and runs
    // in one task — acceptable by construction: the input here is already
    // aggregated to the time grain, so its cardinality is bounded by the
    // number of periods (years/months), not by the fact row count.
    val w = Window
      .partitionBy(otherOuts.map(o => cq(o.keyHeader)): _*)
      .orderBy(timeKeyCols.map(c => cq(c).asc): _*)
    val gdf = withGrowth(df, w, g.mea.name)

    // header reordering (lib.rs:731-766): time drills move to the back;
    // growth measure moves to the back of the measures, then Growth cols.
    val otherMeas = meaNames.filterNot(_ == g.mea.name)
    val finalCols = otherHeaders ++ timeHeaders ++ otherMeas ++
      Seq(g.mea.name, s"${g.mea.name} Growth", s"${g.mea.name} Growth Value")
    (gdf, (otherHeaders ++ timeHeaders, otherMeas :+ g.mea.name, finalCols))
  }

  /** `{mea} Growth` and `{mea} Growth Value` over window `w` (time order
    * within each partition). The reference emits `m_diff/0` when the
    * previous value is <= 0 — NULL in its engines; when() without
    * otherwise yields that NULL directly, independent of the session ANSI
    * mode (prev > 0 guards the real division, so it can never divide by
    * zero). */
  private def withGrowth(df: DataFrame, w: WindowSpec, mea: String): DataFrame = {
    val m     = cq(mea)
    val prev  = lag(m, 1).over(w)
    val mDiff = m - prev
    df.withColumn(s"$mea Growth", when(prev > lit(0), mDiff / prev))
      .withColumn(s"$mea Growth Value", mDiff)
  }

  // ------------------------------------------------------------------- rca

  /** RCA = (a/b)/(c/d) over the four aggregation grains — a=(ext,d1,d2),
    * b=(ext,d2), c=(ext,d1), d=(ext) — (replaces tesseract-clickhouse/
    * src/sql/rca.rs:50-283's groupArray pivot).
    *
    * Two physical forms, chosen by the rca measure's aggregator:
    *
    *   - RE-AGGREGABLE (sum/count/weighted-sum/max/min,
    *     [[rcaReaggregable]] — the overwhelmingly common case): ONE
    *     a-grain aggregate off the fact; b/c/d re-aggregate the a column
    *     with the measure's own lossless combiner ([[rcaReagg]]:
    *     partial-agg groupBys — map-side combining, never a window's
    *     low-key-partition funnel over the a grain) and equi-join back
    *     null-safely ([[rcaReaggregated]]: the pinned a grain makes it
    *     ONE fact scan).
    *   - otherwise (avg/moe-class …): each grain must aggregate from
    *     RAW rows — grouping sets of one `groupingSets` aggregate, the
    *     per-grain frames gid-filtered and joined back. Catalyst pushes
    *     each gid filter below the rollup's exchange, so this form runs
    *     four partial-aggregated fact scans in parallel — a legitimate
    *     trade for the corner (more I/O, zero pinned memory, no
    *     shared-stage barrier). No executor memory is pinned across
    *     queries in either form.
    *
    * Cuts whose level is drill_1 itself apply only to a and c (rca.rs:
    * 100-127): since those cuts filter on d1 *group keys*, they apply
    * post-rollup as row filters on the a/c frames while b/d keep full
    * denominators. All other cuts — including cuts on *other levels* of
    * drill_1's dimension — are ordinary external cuts pushed to the scan. */
  private def planRca(spark: SparkSession, q: CubeQuery): DataFrame = {
    val r = q.rca.get
    val extOuts = outLevels(q.drilldowns, q.parents, q.properties, q.captions)
    val d1Outs  = outLevels(Seq(r.drill1), q.parents, Nil, q.captions)
    val d2Outs  = outLevels(Seq(r.drill2), q.parents, Nil, q.captions)
    // a drilldown on an rca drill level would emit that level's headers
    // TWICE (the three outLevels calls disambiguate independently) and
    // every downstream reference would be ambiguous — fail as a plan
    // error, not an analyzer artifact (reachable via a logic-layer cut
    // fan-out on drill_1's level, which auto-drills the cut level)
    val rcaIds = (d1Outs ++ d2Outs).map(_.id).toSet
    extOuts.find(o => rcaIds.contains(o.id))
      .foreach(o => fail(s"drilldown '${o.level.name}' duplicates an rca drilldown level"))
    val allOuts = extOuts ++ d1Outs ++ d2Outs

    // internal = the cut level is one of drill_1's output levels (by resolved
    // level, not by dimension name — rca.rs:100-127 classifies by column)
    val d1Levels = d1Outs.map(_.id).toSet
    val (internalCuts, externalCuts) = q.cuts.partition { c =>
      val (d, h, i) = resolveLevel(c.levelName)
      d1Levels.contains((d.name, h.name, h.levels(i).name))
    }

    val rcaMea  = cube.measure(r.mea.name).getOrElse(fail(s"rca measure '${r.mea.name}' not found"))
    val meas    = (rcaMea -> RcaA) +: q.measures.map(m => cube.measure(m.name).get -> m.name)
    if (meas.exists(_._1.aggregator.isInstanceOf[Aggregator.BasicGroupedMedian]))
      fail("grouped-median measures cannot combine with RCA (no single-pass form)")

    val src = buildSource(spark, allOuts, externalCuts, q, Nil)

    val allCols = groupHeaders(allOuts) // keys + names + props: the a-grain
    val extKeys = extOuts.map(_.keyHeader)
    val d1Keys  = d1Outs.map(_.keyHeader)
    val d2Keys  = d2Outs.map(_.keyHeader)
    // internal cuts filter the a side and the c frame; b/d aggregate the
    // unfiltered a grain
    def cutAC(df: DataFrame): DataFrame = internalCuts.foldLeft(df) { (d, cut) =>
      d.where(cutPredicate(d, levelKeyHeader(allOuts, cut.levelName), cut))
    }

    var df = if (rcaReaggregable(rcaMea.aggregator))
      rcaReaggregated(src, Nil, allCols, extKeys, d1Keys, d2Keys, meas, rcaMea.aggregator, cutAC)
    else {
      // non-re-aggregable rca measure (avg / moe-class …): each grain
      // must aggregate from RAW rows, which is exactly what the
      // grouping-sets rollup does (the reference's semantics,
      // rca.rs:50-283). The rollup LOOKS like one pass, but each gid
      // filter pushes below the rollup's exchange, so the plan runs the
      // Expand and the fact scan once per grain frame. A pinned rollup
      // (one scan + one Expand) was measured slower on RAM-resident facts
      // (SCALING.md round 17: the pin loses the scans' overlap with the
      // join stages).
      val aggs = meas.map { case (m, out) => AggExprs.single(m).as(out) } :+
        grouping_id().as("__gid")
      // grouping_id bit i (MSB-first over allCols) = 1 when the column is
      // aggregated away in that grouping set
      def gid(set: Seq[String]): Long =
        allCols.zipWithIndex.collect {
          case (c, i) if !set.contains(c) => 1L << (allCols.length - 1 - i)
        }.sum
      val grainSets = Seq(allCols, extKeys ++ d2Keys, extKeys ++ d1Keys, extKeys)
      val rolled = src
        .groupingSets(grainSets.map(_.map(cq)), allCols.map(cq): _*)
        .agg(aggs.head, aggs.tail: _*)
      def frame(set: Seq[String], out: String): DataFrame =
        rolled.where(cq("__gid") === gid(set))
          .select((set.map(cq) :+ cq(RcaA).as(out)): _*)
      val aFrame = rolled.where(cq("__gid") === gid(allCols)).drop("__gid")
      rcaJoinGrains(aFrame, Nil, extKeys, d1Keys, d2Keys, frame, cutAC)
    }

    val rcaName = s"${r.mea.name} RCA"
    df = withRca(df, rcaName)

    val drillHeads = drillHeaders(extOuts) ++ drillHeaders(d1Outs) ++ drillHeaders(d2Outs)
    val debugCols  = if (q.debug) Seq(RcaA, RcaB, RcaC, RcaD) else Nil
    val meaNames   = rcaName +: q.measures.map(_.name)

    df = applyOptions(df, q, allOuts, drillHeads, meaNames, Map("rca" -> rcaName))
    df.select((drillHeads ++ debugCols ++ meaNames).map(cq): _*)
  }

  /** The one-scan RCA form for a re-aggregable rca measure: ONE a-grain
    * aggregate over `src` (grouped by `tag ++ aCols`), b/c/d re-aggregated
    * from its rca column with the measure's own lossless combiner
    * ([[rcaReagg]]) and joined back ([[rcaJoinGrains]]). The a frame is
    * PINNED (lazy localCheckpoint): exchange reuse alone cannot share it —
    * column pruning specializes each branch's copy of the aggregate, so
    * the exchanges never canonicalize equal (measured: 4 fact scans, zero
    * ReusedExchange) — while the checkpoint is a hard barrier that
    * guarantees ONE fact scan, with the re-aggregations reading the
    * RESULT-sized pinned rows. Every re-aggregation is a partial-agg
    * groupBy (map-side combining, never a window's low-key-partition
    * funnel over the a grain). */
  private def rcaReaggregated(
      src: DataFrame, tag: Seq[String], aCols: Seq[String],
      extKeys: Seq[String], d1Keys: Seq[String], d2Keys: Seq[String],
      meas: Seq[(Measure, String)], rcaAgg: Aggregator,
      cutAC: DataFrame => DataFrame): DataFrame = {
    // the rca measure's a-grain column keeps its native type (the b/c/d
    // re-aggregations sum it exactly; double casts come after, per grain)
    val aggs = meas.map { case (m, out) =>
      (if (out == RcaA) rcaAGrainAgg(m) else AggExprs.single(m)).as(out)
    }
    val aFrame = src.groupBy((tag ++ aCols).map(cq): _*).agg(aggs.head, aggs.tail: _*)
      .pinned(false)
    def reagg(set: Seq[String], out: String): DataFrame =
      aFrame.groupBy((tag ++ set).map(cq): _*).agg(rcaReagg(rcaAgg, cq(RcaA)).as(out))
    rcaCastGrains(rcaJoinGrains(aFrame, tag, extKeys, d1Keys, d2Keys, reagg, cutAC), rcaAgg)
  }

  /** Joins the b=(ext,d2), d=(ext) and c=(ext,d1) grain frames (`grain`
    * builds each as its keys plus the named rca column) back onto the a
    * frame, null-safely on `tag ++` the grain's keys (<=> groups NULL keys
    * together, matching aggregate grouping semantics). `cutAC` filters
    * the a side and the c frame before the c join, so b/d keep their full
    * denominators. */
  private def rcaJoinGrains(
      aFrame: DataFrame, tag: Seq[String],
      extKeys: Seq[String], d1Keys: Seq[String], d2Keys: Seq[String],
      grain: (Seq[String], String) => DataFrame,
      cutAC: DataFrame => DataFrame): DataFrame = {
    def joinBack(l: DataFrame, r: DataFrame, set: Seq[String]): DataFrame = {
      val keys = tag ++ set
      if (keys.isEmpty) l.crossJoin(broadcast(r))
      else {
        val rr = keys.foldLeft(r)((d, k) => d.withColumnRenamed(k, s"__rj $k"))
        val cond = keys.map(k => l(k) <=> rr(s"__rj $k")).reduce(_ && _)
        l.join(rr, cond, "inner").drop(keys.map(k => s"__rj $k"): _*)
      }
    }
    val setB = extKeys ++ d2Keys
    val setC = extKeys ++ d1Keys
    val bd = joinBack(joinBack(aFrame, grain(setB, RcaB), setB), grain(extKeys, RcaD), extKeys)
    joinBack(cutAC(bd), cutAC(grain(setC, RcaC)), setC)
  }

  /** RCA = (a/b)/(c/d). try_divide: a zero denominator (possible for
    * avg/max/min-class rca measures) yields NULL — the DuckDB oracle's
    * division semantics — independent of the session's
    * spark.sql.ansi.enabled; on nonzero denominators it is bit-identical
    * to Divide. */
  private def withRca(df: DataFrame, rcaName: String): DataFrame =
    df.withColumn(rcaName,
      try_divide(try_divide(cq(RcaA), cq(RcaB)), try_divide(cq(RcaC), cq(RcaD))))

  // ------------------------------------------------------------------ rate

  /** Rate = share of the measure attributable to the listed members of one
    * level, fused into ONE aggregation pass: the rate level's key joins in
    * as a source column and the member share is a conditional aggregate at
    * the original drill grain — one shuffle, versus the reference's
    * aggregate-then-pivot (rate.rs:16-94) and a naive two-stage re-group.
    * Only sum/count measures are valid (validated), both of which fuse
    * exactly. Groups with no member rows drop out, as in the reference. */
  private def planRate(spark: SparkSession, q: CubeQuery): DataFrame = {
    val r = q.rate.get
    val baseDrills = q.drilldowns.filterNot(_.levelName == r.levelName) :+ Drilldown(r.levelName)
    val outsAll  = outLevels(baseDrills, q.parents, q.properties, q.captions)
    val outsOrig = outLevels(q.drilldowns.filterNot(_.levelName == r.levelName), q.parents, q.properties, q.captions)
    val rateOut  = outsAll.last

    val meaName = q.measures.head.name
    val src = buildSource(spark, outsAll, q.cuts, q, Nil)

    // The joint outLevels call (output drills + the rate level) may
    // disambiguate a header collision the output grain alone doesn't have
    // (a rate level named like a drill level — both would emit "Year", so
    // the SOURCE frame carries dimension-prefixed names while the output
    // grain keeps the bare one). Group by the source frame's own headers,
    // then rename back to the output grain's — the grain is identical,
    // only the names differ.
    val twins = outsOrig.map(o => o -> outsAll.find(_.id == o.id)
      .getOrElse(fail(s"rate lost level '${o.level.name}'")))
    val headers = drillHeaders(outsOrig)
    var df = rateAggregate(src, drillHeaders(twins.map(_._2)), rateOut.keyHeader, r,
      cube.measure(meaName).get -> meaName)
    twins.foreach { case (o, a) =>
      if (a.keyHeader != o.keyHeader) df = df.withColumnRenamed(a.keyHeader, o.keyHeader)
      for (n <- o.nameHeader; an <- a.nameHeader; if n != an)
        df = df.withColumnRenamed(an, n)
    }

    df = applyOptions(df, q, outsOrig, headers, Seq(meaName, "Rate"), calcCols(q))
    df.select((headers ++ Seq(meaName, "Rate")).map(cq): _*)
  }

  /** Rate's one conditional-aggregate pass over `src`, grouped by
    * `groupCols`: the measure's total, the member part (`__part`) and
    * Rate = part/total; groups with no member rows drop. Member-part
    * aggregates ignore non-member rows via when(...): for sum that is
    * sum(when(m, v)); for count, sum(when(m, 1)) — both NULL (not 0) when
    * a group has no member rows. */
  private def rateAggregate(
      src: DataFrame, groupCols: Seq[String], rateHeader: String, r: RateQuery,
      mea: (Measure, String)): DataFrame = {
    val (m, meaName) = mea
    val keyDt = src.schema(rateHeader).dataType
    val isMember = cq(rateHeader).isin(r.values.map(v => lit(typedMember(keyDt, v))): _*)
    val v = cq(m.column)
    val (totalAgg, partAgg) = m.aggregator match {
      case Aggregator.Sum   => (sum(v), sum(when(isMember, v)))
      case Aggregator.Count => (count(v).cast("long"), sum(when(isMember.and(v.isNotNull), lit(1L))))
      case other => fail(s"rate requires a sum or count measure, got $other")
    }
    src.groupBy(groupCols.map(cq): _*)
      .agg(totalAgg.as(meaName), partAgg.as("__part"))
      .where(cq("__part").isNotNull)
      .withColumn("Rate", try_divide(cq("__part"), cq(meaName)))
  }

  // ---------------------------------------------------------- output model

  /** One level to project: its dim/hier, the output header names for the key
    * and (optional) name columns, and property (header, source column). */
  private case class OutLevel(
      dim: Dimension, hier: Hierarchy, level: Level,
      keyHeader: String, nameHeader: Option[String],
      nameSourceColumn: Option[String],
      props: Seq[(String, String)]) { // header -> source column
    /** Level identity, independent of header disambiguation. */
    def id: (String, String, String) = (dim.name, hier.name, level.name)
  }

  private def resolveLevel(ln: LevelName): (Dimension, Hierarchy, Int) =
    cube.findLevel(ln).getOrElse(fail(s"level '$ln' not found in cube '${cube.name}'"))

  private def captionColumn(level: Level, locale: Option[String]): Option[String] =
    locale.flatMap(loc => level.properties.find(_.captionSet.contains(loc)).map(_.column))

  /** Header naming rules (reference lib.rs:1046-1184): a level with a name
    * column emits "{Level} ID" (key) + "{Level}" (name); otherwise just
    * "{Level}". parents=true expands all ancestor levels. Duplicate headers
    * are disambiguated with the dimension name. */
  private def outLevels(
      drills: Seq[Drilldown], parents: Boolean,
      props: Seq[PropertyName], captions: Seq[PropertyName]): Seq[OutLevel] = {

    val raw: Seq[OutLevel] = drills.flatMap { d =>
      val (dim, hier, idx) = resolveLevel(d.levelName)
      val levelIdxs = if (parents) 0 to idx else Seq(idx)
      levelIdxs.map { i =>
        val lvl = hier.levels(i)
        val myProps = props.filter(p => p.levelName == d.levelName && hier.levels(idx).name == lvl.name)
          .map { p =>
            val pd = lvl.properties.find(_.name == p.property)
              .getOrElse(fail(s"property '${p.property}' not on level '${lvl.name}'"))
            pd.name -> pd.column
          }
        val capCol = captions.find(c => c.levelName == d.levelName && hier.levels(idx).name == lvl.name)
          .flatMap(c => lvl.properties.find(_.name == c.property).map(_.column))
        val nameSource = capCol.orElse(lvl.nameColumn)
        OutLevel(dim, hier, lvl,
          keyHeader  = if (nameSource.isDefined) s"${lvl.name} ID" else lvl.name,
          nameHeader = nameSource.map(_ => lvl.name),
          nameSourceColumn = nameSource,
          props = myProps)
      }
    }.distinct

    // disambiguate duplicate headers with the dimension name
    val all = raw.flatMap(o => o.keyHeader +: o.nameHeader.toSeq)
    val dupes = all.groupBy(identity).collect { case (h, hs) if hs.size > 1 => h }.toSet
    if (dupes.isEmpty) raw
    else raw.map { o =>
      val k = if (dupes.contains(o.keyHeader)) s"${o.dim.name} ${o.keyHeader}" else o.keyHeader
      val n = o.nameHeader.map(n => if (dupes.contains(n)) s"${o.dim.name} $n" else n)
      o.copy(keyHeader = k, nameHeader = n)
    }
  }

  /** Output column order: per level, key header then name header then props. */
  private def drillHeaders(outs: Seq[OutLevel]): Seq[String] =
    outs.flatMap(o => (o.keyHeader +: o.nameHeader.toSeq) ++ o.props.map(_._1))

  /** Grouping columns = all projected drill columns. */
  private def groupHeaders(outs: Seq[OutLevel]): Seq[String] = drillHeaders(outs)

  /** Hidden drilldowns for BasicGroupedMedian measures
    * (reference lib.rs:533-554). */
  private def hiddenFor(meas: Seq[Measure]): Seq[OutLevel] =
    meas.collect { case Measure(_, _, Aggregator.BasicGroupedMedian(_, groupDim), _, _) =>
      val ln = LevelName.parse(groupDim).fold(m => fail(m), identity)
      outLevels(Seq(Drilldown(ln)), parents = false, Nil, Nil)
    }.flatten.distinct

  // ---------------------------------------------------------------- source

  private def dimSource(spark: SparkSession, dim: Dimension, hier: Hierarchy): DataFrame =
    hier.inlineTable match {
      case Some(it) => broadcast(inlineTableDF(spark, it))
      case None =>
        hier.table match {
          case Some(t) => resolver.resolve(spark, t)
          case None    => resolver.resolve(spark, cube.table) // degenerate: level cols on fact
        }
    }

  private def isDegenerate(hier: Hierarchy): Boolean =
    hier.table.isEmpty && hier.inlineTable.isEmpty

  /** Builds the joined+filtered pre-aggregation frame with all drill columns
    * aliased to their final header names plus the raw measure input columns.
    *
    * Join strategy: dims contributing output columns are inner-joined on
    * fk == pk (Catalyst broadcasts small sides; at scale this also enables
    * DPP/bloom runtime filters on the fact scan). Cut-only dims join
    * left_semi, which neither widens rows nor adds columns. */
  private def buildSource(
      spark: SparkSession,
      outs: Seq[OutLevel],
      cuts: Seq[CutSpec],
      q: CubeQuery,
      hidden: Seq[OutLevel]): DataFrame = {

    var fact = resolver.resolve(spark, cube.table)
    val factColumns = fact.columns.toSet
    val allOuts = outs ++ hidden

    // effective cuts: query cuts + default-member cuts of unmentioned dims
    val mentioned: Set[String] =
      (allOuts.map(_.dim.name) ++ cuts.map(_.levelName.dimension) ++
        q.rca.toSeq.flatMap(r => Seq(r.drill1, r.drill2).map(_.levelName.dimension)) ++
        q.rate.map(_.levelName.dimension).toSeq).toSet

    val defaultCuts: Seq[CutSpec] =
      if (q.excludeDefaultMembers) Nil
      else cube.dimensions.filterNot(d => mentioned.contains(d.name)).flatMap { dim =>
        val hier = dim.hierarchies.find(h => dim.defaultHierarchy.forall(_ == h.name))
          .getOrElse(dim.hierarchies.head)
        hier.defaultMember.flatMap { dm =>
          CutSpec.parse(dm).toOption.orElse {
            // "Level.member" shorthand relative to this dim/hier
            val i = dm.lastIndexOf('.')
            if (i < 0) None
            else Some(CutSpec(LevelName(dim.name, hier.name, dm.take(i)), Seq(dm.drop(i + 1))))
          }
        }
      }

    val allCuts = cuts ++ defaultCuts
    val byDim: Map[(String, String), Seq[CutSpec]] =
      allCuts.groupBy { c => val (d, h, _) = resolveLevel(c.levelName); (d.name, h.name) }

    val outByDim: Map[(String, String), Seq[OutLevel]] =
      allOuts.groupBy(o => (o.dim.name, o.hier.name))

    val touched = (byDim.keySet ++ outByDim.keySet).toSeq.sortBy(_.toString)

    var pkIdx = 0
    touched.foreach { case key @ (dimName, hierName) =>
      val dim  = cube.dimension(dimName).get
      val hier = dim.hierarchies.find(_.name == hierName).get
      val dimOuts = outByDim.getOrElse(key, Nil)
      val dimCuts = byDim.getOrElse(key, Nil)

      if (isDegenerate(hier)) {
        // level columns live on the fact table: filter + alias in place
        dimCuts.foreach { cut =>
          val lvl = hier.levels((resolveLevel(cut.levelName)._3))
          fact = fact.where(cutPredicate(fact, lvl.keyColumn, cut))
          // redundant scan-pushable range on the declared source column
          derivedRangePredicate(fact, lvl, cut).foreach(p => fact = fact.where(p))
        }
        dimOuts.foreach { o =>
          fact = fact.withColumn(o.keyHeader, cq(o.level.keyColumn))
          o.nameSourceColumn.foreach(nc => fact = fact.withColumn(o.nameHeader.get, cq(nc)))
          o.props.foreach { case (h, src) => fact = fact.withColumn(h, cq(src)) }
        }
      } else {
        var dimDF = dimSource(spark, dim, hier)
        dimCuts.foreach { cut =>
          val lvl = hier.levels(resolveLevel(cut.levelName)._3)
          dimDF = dimDF.where(cutPredicate(dimDF, lvl.keyColumn, cut))
        }
        val fk = dim.foreignKey.getOrElse(fail(s"dimension '${dim.name}' has no foreign key"))
        val pkAlias = s"__pk_$pkIdx"; pkIdx += 1
        if (dimOuts.isEmpty) {
          val sel = dimDF.select(cq(hier.primaryKey).as(pkAlias))
          fact = fact.join(sel, fact(fk) === sel(pkAlias), "left_semi")
        } else {
          val aliases =
            cq(hier.primaryKey).as(pkAlias) +:
              dimOuts.flatMap { o =>
                Seq(cq(o.level.keyColumn).as(o.keyHeader)) ++
                  o.nameSourceColumn.map(nc => cq(nc).as(o.nameHeader.get)) ++
                  o.props.map { case (h, src) => cq(src).as(h) }
              }
          val sel = dimDF.select(aliases: _*)
          fact = fact.join(sel, fact(fk) === sel(pkAlias), "inner").drop(pkAlias)
        }
      }
    }

    // multi-hierarchy dims absent from the query: semijoin on the default
    // hierarchy's pk keeps the fact grain consistent with the reference's
    // empty-member cut (primary_agg.rs:139-146)
    cube.dimensions
      .filterNot(d => mentioned.contains(d.name))
      .filter(_.hierarchies.length > 1)
      .foreach { dim =>
        val hier = dim.hierarchies.find(h => dim.defaultHierarchy.contains(h.name))
          .getOrElse(dim.hierarchies.head)
        if (!isDegenerate(hier)) {
          val fk = dim.foreignKey.getOrElse(fail(s"dimension '${dim.name}' has no foreign key"))
          val sel = dimSource(spark, dim, hier).select(cq(hier.primaryKey).as("__dh_pk"))
          fact = fact.join(sel, fact(fk) === sel("__dh_pk"), "left_semi")
        }
      }

    // project only what aggregation needs: drill headers + measure inputs
    val measureCols: Seq[String] = {
      val qMeas = q.measures.map(m => cube.measure(m.name).get) ++
        q.rca.map(r => cube.measure(r.mea.name).get).toSeq
      qMeas.flatMap(AggExprs.inputColumns(_, factColumns)).distinct
    }
    val headerCols = drillHeaders(allOuts)
    fact.select((headerCols ++ measureCols.filterNot(headerCols.contains)).map(cq): _*)
  }

  // ------------------------------------------------------------- aggregate

  private def aggregate(
      src: DataFrame,
      groupCols: Seq[String],
      meas: Seq[(Measure, String)],
      hiddenCols: Seq[String]): DataFrame = {

    val needsTwoPass = meas.exists(_._1.aggregator.isInstanceOf[Aggregator.BasicGroupedMedian])
    if (!needsTwoPass) {
      val aggs = meas.map { case (m, out) => AggExprs.single(m).as(out) }
      src.groupBy(groupCols.map(cq): _*).agg(aggs.head, aggs.tail: _*)
    } else {
      // Custom templates can't ride the two-pass scheme (re-applying the
      // template to partial sums is wrong, and pass-1 output drops the
      // template's auxiliary columns — the reference's pass-2 Custom is
      // admittedly half-implemented, aggregator.rs:200-212). Compute them in
      // a parallel single-pass aggregate at the same drill grain and join
      // back: both sides are post-aggregation (drill-cardinality) frames, so
      // the join is dim-sized at any fact scale.
      val (customMeas, tpMeas) = meas.partition(_._1.aggregator.isInstanceOf[Aggregator.Custom])

      // reference two-pass: pass 1 at (drills + hidden group_dimension)
      // grain, pass 2 re-aggregates at drill grain (aggregator.rs:28-223)
      val p1 = tpMeas.zipWithIndex.flatMap { case ((m, _), i) =>
        AggExprs.pass1(m, i).map { case (n, e) => e.as(n) }
      }
      val s1 = src.groupBy((groupCols ++ hiddenCols).distinct.map(cq): _*).agg(p1.head, p1.tail: _*)
      val p2 = tpMeas.zipWithIndex.map { case ((m, out), i) => AggExprs.pass2(m, i).as(out) }
      val tp = s1.groupBy(groupCols.map(cq): _*).agg(p2.head, p2.tail: _*)

      val joined =
        if (customMeas.isEmpty) tp
        else {
          val cAggs = customMeas.map { case (m, out) => AggExprs.single(m).as(out) }
          val cdf = src.groupBy(groupCols.map(cq): _*).agg(cAggs.head, cAggs.tail: _*)
          if (groupCols.isEmpty) tp.crossJoin(cdf)
          else {
            // null-safe equality: a drill member can legitimately be null
            val renamed = groupCols.foldLeft(cdf)((d, c) => d.withColumnRenamed(c, s"__ck_$c"))
            val cond = groupCols.map(c => cq(c) <=> cq(s"__ck_$c")).reduce(_ && _)
            tp.join(renamed, cond, "inner").drop(groupCols.map(c => s"__ck_$c"): _*)
          }
        }
      // restore the caller's measure order
      joined.select((groupCols ++ meas.map(_._2)).map(cq): _*)
    }
  }

  // --------------------------------------------------------------- options

  private def calcCols(q: CubeQuery): Map[String, String] =
    q.growth.map(g => "growth" -> s"${g.mea.name} Growth").toMap ++
      q.rca.map(r => "rca" -> s"${r.mea.name} RCA").toMap

  private def meaOrCalcCol(mc: MeaOrCalc, calcs: Map[String, String]): Column = mc match {
    case MeaOrCalc.Mea(m)     => cq(m.name)
    case MeaOrCalc.RcaCalc    => cq(calcs.getOrElse("rca", fail("no rca calculation in query")))
    case MeaOrCalc.GrowthCalc => cq(calcs.getOrElse("growth", fail("no growth calculation in query")))
  }

  private def constraintPred(c: Column, k: Constraint): Column = k.comparison match {
    case Comparison.Eq  => c === lit(k.n)
    case Comparison.Neq => c =!= lit(k.n)
    case Comparison.Lt  => c < lit(k.n)
    case Comparison.Lte => c <= lit(k.n)
    case Comparison.Gt  => c > lit(k.n)
    case Comparison.Gte => c >= lit(k.n)
  }

  private def ordered(c: Column, d: SortDirection): Column = d match {
    case SortDirection.Asc  => c.asc
    case SortDirection.Desc => c.desc
  }

  /** HAVING-style measure filters plus `sparse` (every one of
    * `sparseCols` non-null), ANDed; None when the query has neither. */
  private def havingPred(
      q: CubeQuery, calcs: Map[String, String], sparseCols: Seq[String]): Option[Column] = {
    val filterPreds = q.filters.map { f =>
      val c  = meaOrCalcCol(f.byMeaOrCalc, calcs)
      val p1 = constraintPred(c, f.constraint)
      (f.operator, f.constraint2) match {
        case (Some(FilterOp.And), Some(c2)) => p1 && constraintPred(c, c2)
        case (Some(FilterOp.Or), Some(c2))  => p1 || constraintPred(c, c2)
        case _                              => p1
      }
    }
    val sparsePreds = if (q.sparse) sparseCols.map(cq(_).isNotNull) else Nil
    (filterPreds ++ sparsePreds).reduceOption(_ && _)
  }

  /** Resolves a level reference to its output key header via the OutLevel
    * list (robust to duplicate-header disambiguation prefixes). */
  private def levelKeyHeader(outs: Seq[OutLevel], ln: LevelName): String = {
    val (d, h, i) = resolveLevel(ln)
    outs.find(_.id == (d.name, h.name, h.levels(i).name))
      .map(_.keyHeader)
      .getOrElse(fail(s"level '$ln' must be a drilldown of the query"))
  }

  /** Wrapping options applied after aggregation/calculation, in the
    * reference's order (options.rs): top_where → top (windowed row_number
    * replaces ClickHouse `LIMIT n BY`) → HAVING filters + sparse → sort →
    * limit/offset. */
  private def applyOptions(
      df0: DataFrame, q: CubeQuery, outs: Seq[OutLevel],
      drillHeaderCols: Seq[String], meaNames: Seq[String],
      calcs: Map[String, String]): DataFrame = {

    var df = df0

    q.top.foreach { top =>
      q.topWhere.foreach { tw =>
        df = df.where(constraintPred(meaOrCalcCol(tw.byMeaOrCalc, calcs), tw.constraint))
      }
      val byHeader = levelKeyHeader(outs, top.byDimension)
      val sortCols = top.sortMeaOrCalc.map(c => ordered(meaOrCalcCol(c, calcs), top.sortDirection))
      // extra drill-col tiebreakers make top-k deterministic (the reference
      // inherits ClickHouse's arbitrary tie order)
      val tiebreak = drillHeaderCols.filterNot(_ == byHeader).map(cq(_).asc)
      val w = Window.partitionBy(cq(byHeader)).orderBy(sortCols ++ tiebreak: _*)
      df = df.withColumn("__rn", row_number().over(w)).where(cq("__rn") <= top.n).drop("__rn")
    }

    havingPred(q, calcs, meaNames).foreach(p => df = df.where(p))

    // final ordering: explicit sort > top's by-col > drill columns asc
    val sortCols: Seq[Column] = q.sort match {
      case Some(s) =>
        ordered(meaOrCalcCol(s.measure, calcs), s.direction) +: drillHeaderCols.map(cq(_).asc)
      case None =>
        q.top match {
          case Some(top) =>
            cq(levelKeyHeader(outs, top.byDimension)).asc +:
              top.sortMeaOrCalc.map(meaOrCalcCol(_, calcs).desc)
          case None => drillHeaderCols.map(cq(_).asc)
        }
    }
    if (sortCols.nonEmpty) df = df.orderBy(sortCols: _*)

    q.limit.foreach { l =>
      l.offset.foreach(o => df = df.offset(o.toInt))
      df = df.limit(l.n.toInt)
    }
    df
  }

  // ------------------------------------------------------------------ cuts

  /** For an include-cut on a level whose key derives from a date column
    * (e.g. Year = year(l_shipdate)): the equivalent OR-of-ranges on the
    * SOURCE column. `year(col) IN (...)` is opaque to the parquet reader;
    * `col >= d1 AND col < d2` prunes row groups / date partitions. Returns
    * None for exclude/LIKE cuts and unparseable members (the primary
    * predicate alone is still correct — this one is purely additive). */
  private def derivedRangePredicate(df: DataFrame, lvl: Level, cut: CutSpec): Option[Column] =
    lvl.derivedFrom.filter(d => cut.mask == Mask.Include && !cut.forMatch &&
        df.columns.contains(d.column)).flatMap { d =>
      val years = cut.members.map(m => scala.util.Try(m.trim.toInt).toOption)
      if (years.exists(_.isEmpty)) None
      else Some(years.flatten.map { y =>
        // SQL timestamp literals resolve in the SESSION timezone — the same
        // zone year(col) evaluates under, so the range is exactly the year
        expr(s"`${d.column}` >= timestamp'$y-01-01 00:00:00' AND " +
          s"`${d.column}` < timestamp'${y + 1}-01-01 00:00:00'")
      }.reduce(_ || _))
    }

  private def cutPredicate(df: DataFrame, colName: String, cut: CutSpec): Column = {
    val kc = cq(colName)
    if (cut.forMatch) {
      // LIKE-mode cuts (query_ir.rs:193-216): include ORs `like %m%`,
      // exclude ANDs `not like %m%`
      val likes = cut.members.map(m => kc.cast(StringType).contains(m))
      cut.mask match {
        case Mask.Include => likes.reduce(_ || _)
        case Mask.Exclude => likes.map(!_).reduce(_ && _)
      }
    } else {
      val dt = df.schema.find(_.name == colName)
        .getOrElse(fail(s"cut column '$colName' not found")).dataType
      val vals = cut.members.map(m => lit(typedMember(dt, m)))
      cut.mask match {
        case Mask.Include => kc.isin(vals: _*)
        case Mask.Exclude => !kc.isin(vals: _*)
      }
    }
  }
}

object CubePlanner {
  /** rca measures whose coarser grains (b/c/d) re-aggregate EXACTLY from
    * the a-grain values — the precondition for the one-scan form of
    * [[rcaReaggregated]]. count re-aggregates as a sum of
    * partial counts; weighted sum is a sum of products; max/min are
    * idempotent-associative (max of per-grain maxes IS the raw max). */
  private def rcaReaggregable(a: Aggregator): Boolean = a match {
    case Aggregator.Sum | Aggregator.Count => true
    case Aggregator.WeightedSum(_)         => true
    case Aggregator.Max | Aggregator.Min   => true
    case _                                 => false
  }

  /** The lossless combiner that rolls the a-grain rca column up to a
    * coarser grain (the [[rcaReaggregable]] contract): sums re-sum,
    * max/min take their own aggregator again. */
  private def rcaReagg(a: Aggregator, c: Column): Column = a match {
    case Aggregator.Max => max(c)
    case Aggregator.Min => min(c)
    case _              => sum(c)
  }

  /** a-grain aggregate for the rca measure in the re-aggregable form:
    * [[AggExprs.single]] except a weighted sum stays in its NATIVE type —
    * single() casts to double, and re-summing doubles for b/c/d would
    * break the exact-decimal, partition-order-independent sum invariant
    * over DECIMAL measure/weight columns. The double cast happens once
    * per grain AFTER the re-aggregations ([[rcaCastGrains]]), matching
    * the legacy grouping-sets branch's per-grain single() output type
    * (exact sum, then one correctly-rounded conversion). Over double
    * columns both are no-ops. */
  private def rcaAGrainAgg(m: Measure): Column = m.aggregator match {
    case Aggregator.WeightedSum(w) => sum(cq(m.column) * cq(w))
    case _                         => AggExprs.single(m)
  }

  private def rcaCastGrains(df: DataFrame, a: Aggregator): DataFrame = a match {
    case Aggregator.WeightedSum(_) =>
      Seq(RcaA, RcaB, RcaC, RcaD).foldLeft(df)((d, n) => d.withColumn(n, cq(n).cast("double")))
    case _ => df
  }

  private val RcaA = "__rca_a"
  private val RcaB = "__rca_b"
  private val RcaC = "__rca_c"
  private val RcaD = "__rca_d"
  /** The fused fan-out's combo id column. */
  private val Combo = "__combo"

  private[plan] def fail(msg: String): Nothing = throw PlanError(msg)

  /** Backtick-quoted column ref — headers contain spaces ("Year ID"). */
  private[plan] def cq(name: String): Column = col(s"`$name`")

  /** Cut members become typed literals matching the key column's type —
    * no string splicing, so the reference's member-cache injection defense
    * (handlers/util.rs:133-146) is unnecessary. A member that does not
    * parse as that type is a query error (PlanError), not a server fault. */
  private[plan] def typedMember(dt: DataType, s: String): Any =
    try dt match {
      case ByteType | ShortType | IntegerType | LongType => s.trim.toLong
      case FloatType | DoubleType                        => s.trim.toDouble
      case _: DecimalType                                => BigDecimal(s.trim)
      case BooleanType                                   => s.trim.toBoolean
      case DateType                                      => java.sql.Date.valueOf(s.trim)
      case _                                             => s
    } catch {
      // NumberFormatException included
      case _: IllegalArgumentException =>
        fail(s"member '$s' is not a valid ${dt.simpleString} level key")
    }

  /** Inline schema tables become true LocalRelations
    * (reference compiles them to `select … union all …`, schema.rs:448-486).
    * A LocalRelation (unlike an RDD-backed frame) carries exact stats, so the
    * 3-row dim always auto-broadcasts instead of risking a sort-merge join
    * that would shuffle the whole fact on a low-cardinality skewed key. */
  def inlineTableDF(spark: SparkSession, it: InlineTable): DataFrame = {
    import scala.jdk.CollectionConverters._
    val stringSchema = StructType(it.columns.map(c => StructField(c.name, StringType)))
    val raw = spark.createDataFrame(
      it.rows.map(r => Row.fromSeq(r)).asJava, stringSchema)
    val casted = it.columns.map { c =>
      val target: Option[DataType] = c.castType.map {
        case "Int8" | "Int16" | "Int32"            => IntegerType
        case "Int64" | "UInt64"                    => LongType
        case "UInt8" | "UInt16" | "UInt32"         => LongType
        case "Float32"                             => FloatType
        case "Float64"                             => DoubleType
        case other                                 => fail(s"unsupported inline cast type '$other'")
      }
      target match {
        case Some(t) => col(c.name).cast(t).as(c.name)
        case None if c.columnType == MemberType.NonText => col(c.name).cast(LongType).as(c.name)
        case None => col(c.name)
      }
    }
    raw.select(casted: _*)
  }
}
