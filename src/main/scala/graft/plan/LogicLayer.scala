package graft.plan

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.core._

/** The friendlier "/data" query surface (reference
  * tesseract-server/src/handlers/logic_layer/aggregate.rs:54-920).
  *
  * Covers the semantics the core planner doesn't: named-set substitution,
  * cut operations (`id:children|parents|neighbors`), `time=Level.latest`,
  * multi-level-cut cartesian fan-out with column-wise union, and the
  * `exclude=` post-filter.
  */
final case class LogicLayerQuery(
    drilldowns: Seq[Drilldown] = Nil,
    cuts: Seq[CutSpec] = Nil,
    measures: Seq[MeasureName] = Nil,
    /** `exclude=Level:id1,id2` — rows dropped from the *result* by ID. */
    exclude: Seq[CutSpec] = Nil,
    /** `time=Level.latest` / `time=Level.oldest`. */
    time: Option[(LevelName, String)] = None,
    properties: Seq[PropertyName] = Nil,
    filters: Seq[FilterQuery] = Nil,
    parents: Boolean = false,
    top: Option[TopQuery] = None,
    sort: Option[SortQuery] = None,
    limit: Option[LimitQuery] = None,
    growth: Option[GrowthQuery] = None,
    rca: Option[RcaQuery] = None,
    rate: Option[RateQuery] = None,
    topWhere: Option[TopWhereQuery] = None,
    /** `locale=xx` — drilldown name columns switch to the caption property
      * whose caption_set matches (reference aggregate.rs:268-311 resolves
      * locale against the schema's caption sets). */
    locale: Option[String] = None,
    debug: Boolean = false,
    sparse: Boolean = false,
    excludeDefaultMembers: Boolean = false)

/** Named sets: an alias usable in cut position, expanding to members of a
  * level (reference logic_layer/config.rs:221-268). */
final case class NamedSet(name: String, level: LevelName, members: Seq[String])

final class LogicLayer(
    planner: CubePlanner,
    namedSets: Seq[NamedSet] = Nil,
    /** Level → unique display name: output headers rename from
      * "{Level} ID"/"{Level}" to "{unique} ID"/"{unique}" (reference
      * logic_layer/config.rs:163-193, applied aggregate.rs:268-311). */
    uniqueNames: Map[LevelName, String] = Map.empty,
    /** Property → unique display name (config.rs:108-127): the property
      * header (= the property's name) renames to the unique name. */
    uniquePropNames: Map[PropertyName, String] = Map.empty,
    /** Summary-cube planners tried before the base planner, in order —
      * [[PreaggPlanner]]'s routing applied to the /data surface (round
      * 12): a member query a summary can answer (drills at/above the
      * grain, pre-aggregable measures) scans the dim-cardinality summary
      * parquet instead of the fact; anything it can't falls through per
      * query. Member resolution (cut ops, time, members cache) always
      * uses the BASE planner — summaries may carry only a level subset. */
    summaries: Seq[CubePlanner] = Nil) {
  import CubePlanner.{cq, fail}

  /** The [[PreaggPlanner]] routing rule, per member query. */
  private def route(spark: SparkSession, q: CubeQuery): DataFrame = {
    for (s <- summaries)
      try return s.plan(spark, q)
      catch { case _: PlanError => () }
    planner.plan(spark, q)
  }

  /** Fused fan-out with summary routing: fuse on the first summary that
    * covers EVERY member query, else fuse on the base fact. (A summary
    * covering only some members would force the per-query fan-out; the
    * all-or-nothing rule keeps the single-plan property, and results are
    * identical either way by the routed ≡ direct invariant.) */
  private def routeFused(spark: SparkSession, queries: Seq[CubeQuery]): Option[DataFrame] = {
    for (s <- summaries) {
      try {
        val f = s.planFanOutFused(spark, queries)
        if (f.isDefined) return f
      } catch { case _: PlanError => () }
    }
    planner.planFanOutFused(spark, queries)
  }

  /** Member cache (reference logic_layer/cache.rs:168-904 builds these maps
    * at startup): cut-op and time-member resolutions are dim-bounded scans,
    * memoized per LogicLayer instance. Cleared via /flush re-creating the
    * layer. */
  private val memberCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
  private def cached[A <: AnyRef](key: String)(f: => A): A =
    memberCache.computeIfAbsent(key, _ => f).asInstanceOf[A]

  // ------------------------------------------------------------ resolution

  /** Substitutes named sets: a cut whose single member matches a set name on
    * the set's level expands to the set's member list. */
  private def substituteSets(cuts: Seq[CutSpec]): Seq[CutSpec] = cuts.map { c =>
    namedSets.find(s => s.level == c.levelName &&
        c.members.length == 1 && c.members.head == s.name) match {
      case Some(s) => c.copy(members = s.members)
      case None    => c
    }
  }

  /** Resolves `member:children|parents|neighbors` cut operations through the
    * dimension tables (reference logic_layer/cache.rs:279-539, 863-904 —
    * there served from a startup cache; the dim scans here are
    * dim-cardinality-bounded). */
  private def resolveCutOps(spark: SparkSession, cuts: Seq[CutSpec]): Seq[CutSpec] =
    cuts.map { c =>
      c.members match {
        case Seq(single) if single.contains(':') =>
          val Array(member, op) = single.split(":", 2)
          val (ln, members) = cached(s"op:${c.levelName}:$member:$op") {
            planner.relatedMembers(spark, c.levelName, member, op)
          }
          if (members.isEmpty) fail(s"cut op '$single' on '${c.levelName}' matched no members")
          CutSpec(ln, members, c.mask, c.forMatch)
        case _ => c
      }
    }

  /** `time=Level.latest|oldest` becomes a cut on the min/max member
    * (reference logic_layer/aggregate.rs:969-994). */
  private def resolveTime(spark: SparkSession, t: (LevelName, String)): CutSpec = {
    val (ln, which) = t
    val member = cached(s"time:$ln:$which") {
      val members = planner.members(spark, ln)
      val keyCol = members.columns.head
      val agg = which match {
        case "latest" => max(cq(keyCol))
        case "oldest" => min(cq(keyCol))
        case other    => fail(s"unknown time spec '$other' (latest|oldest)")
      }
      // a single scalar from a dim-bounded frame — not a fact-table collect
      String.valueOf(members.agg(agg).head().get(0))
    }
    CutSpec(ln, Seq(member))
  }

  // --------------------------------------------------------------- fan-out

  /** Cartesian fan-out (aggregate.rs:810-916): cuts group by dimension; each
    * combination picks one cut per dimension; a dimension with cuts on
    * multiple levels gets the cut level auto-added as a drilldown. */
  def fanOut(q: LogicLayerQuery, resolvedCuts: Seq[CutSpec]): Seq[CubeQuery] = {
    val dims = resolvedCuts.map(_.levelName.dimension).distinct
    val byDim: Seq[Seq[CutSpec]] = dims.map(d => resolvedCuts.filter(_.levelName.dimension == d))
    val multiLevel: Set[LevelName] =
      byDim.filter(_.length > 1).flatten.map(_.levelName).toSet

    val combos: Seq[Seq[CutSpec]] =
      byDim.foldLeft(Seq(Seq.empty[CutSpec])) { (acc, cs) =>
        acc.flatMap(partial => cs.map(partial :+ _))
      }

    combos.map { combo =>
      val added = combo.collect {
        case c if multiLevel.contains(c.levelName) => Drilldown(c.levelName)
      }
      val drills = q.drilldowns ++ added.filterNot(q.drilldowns.contains)
      CubeQuery(
        drilldowns = drills,
        cuts = combo,
        measures = q.measures,
        properties = q.properties,
        filters = q.filters,
        captions = localeCaptions(drills, q.locale),
        parents = q.parents,
        top = q.top,
        topWhere = q.topWhere,
        sort = q.sort,
        limit = q.limit,
        growth = q.growth,
        rca = q.rca,
        rate = q.rate,
        debug = q.debug,
        sparse = q.sparse,
        excludeDefaultMembers = q.excludeDefaultMembers)
    }
  }

  /** `locale=` resolution: each drilldown whose level declares a property
    * with a matching caption_set gets that property as its caption, swapping
    * the display column (levels without one keep their default name column —
    * same fallback as the reference). */
  private def localeCaptions(drills: Seq[Drilldown], locale: Option[String]): Seq[PropertyName] =
    locale match {
      case None => Nil
      case Some(loc) =>
        drills.flatMap { d =>
          planner.cube.findLevel(d.levelName).toSeq.flatMap { case (_, hier, idx) =>
            hier.levels(idx).properties.filter(_.captionSet.contains(loc))
              .map(p => PropertyName(d.levelName, p.name))
          }
        }
    }

  /** Column-wise union by position under the first result's headers;
    * positions whose types disagree consolidate to string (reference
    * aggregate.rs:333-534). */
  private def consolidate(dfs: Seq[DataFrame]): DataFrame = dfs match {
    case Seq(one) => one
    case first +: _ =>
      val headers = first.columns
      dfs.foreach { d =>
        if (d.columns.length != headers.length)
          fail(s"fan-out result width mismatch: ${d.columns.length} vs ${headers.length}")
      }
      val types = headers.indices.map { i =>
        val ts = dfs.map(_.schema.fields(i).dataType).distinct
        if (ts.length == 1) ts.head else StringType
      }
      dfs.map { d =>
        d.select(headers.indices.map(i =>
          d.col(s"`${d.columns(i)}`").cast(types(i)).as(headers(i))): _*)
      }.reduce(_ union _)
  }

  /** Post-aggregation row exclusion by ID column
    * (reference aggregate.rs:131-166, 341-416). */
  private def applyExclude(df: DataFrame, excludes: Seq[CutSpec]): DataFrame =
    excludes.foldLeft(df) { (d, ex) =>
      val lvl = ex.levelName.level
      val header = Seq(s"$lvl ID", lvl).find(d.columns.contains)
        .getOrElse(fail(s"exclude level '$lvl' is not a result column"))
      val dt = d.schema(header).dataType
      val vals = ex.members.map(m => lit(CubePlanner.typedMember(dt, m)))
      d.where(!cq(header).isin(vals: _*))
    }

  // ---------------------------------------------------------------- public

  /** Unique-name header substitution, applied last so exclude/sort work on
    * canonical headers. */
  private def applyUniqueNames(df: DataFrame): DataFrame = {
    val leveled = uniqueNames.foldLeft(df) { case (d, (ln, unique)) =>
      Seq(s"${ln.level} ID" -> s"$unique ID", ln.level -> unique)
        .foldLeft(d) { case (dd, (from, to)) =>
          if (dd.columns.contains(from)) dd.withColumnRenamed(from, to) else dd
        }
    }
    uniquePropNames.foldLeft(leveled) { case (d, (pn, unique)) =>
      if (d.columns.contains(pn.property)) d.withColumnRenamed(pn.property, unique) else d
    }
  }

  /** A cut fan-out of N member queries plans as ONE fused scan + tagged
    * aggregate ([[CubePlanner.planFanOutFused]]) instead of an N-way union
    * of near-identical plans (2.2× throughput / p95 −62% at 16-way load,
    * SCALING.md); a declined fusion (None) falls back to the per-member
    * union. */
  def plan(spark: SparkSession, q: LogicLayerQuery): DataFrame = planWith(spark, q, fuse = true)

  /** [[plan]] through the per-member union only: the fallback a declined
    * fusion takes, and the oracle the fused plan is proven against
    * (LogicLayerFusedSpec). */
  private[plan] def planUnfused(spark: SparkSession, q: LogicLayerQuery): DataFrame =
    planWith(spark, q, fuse = false)

  private def planWith(spark: SparkSession, q: LogicLayerQuery, fuse: Boolean): DataFrame = {
    val timeCut = q.time.map(resolveTime(spark, _)).toSeq
    val cuts = resolveCutOps(spark, substituteSets(q.cuts)) ++ timeCut
    val queries = fanOut(q, cuts)
    val fused = if (fuse && queries.length > 1) routeFused(spark, queries) else None
    val merged = fused.getOrElse(consolidate(queries.map(route(spark, _))))
    val out = applyExclude(merged, q.exclude)
    // the union (or fused equivalent) of independently-ordered sub-results
    // is unordered; re-sort on all columns for a deterministic response
    applyUniqueNames(
      if (queries.length > 1) out.orderBy(out.columns.map(c => cq(c).asc): _*) else out)
  }
}
