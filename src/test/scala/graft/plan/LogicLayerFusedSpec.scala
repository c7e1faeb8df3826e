package graft.plan

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.engine.TpchStar
import graft.fuzz.QueryFuzzer
import graft.SparkTestSession.{spark, SfDir}

/** The single-plan fan-out: eligible logic-layer cut fan-outs fuse into
  * one scan + one tagged aggregate instead of an N-way union of
  * near-identical plans. This spec proves [[LogicLayer.plan]] (fused)
  * result-identical to the per-member union ([[LogicLayer.planUnfused]],
  * the fallback a declined fusion takes) on the q31 family and the SAME
  * 60-case fuzz corpus FuzzSpec gates against its SQL oracle — and that
  * fusion actually engages (no Union in the physical plan) where
  * eligible. */
class LogicLayerFusedSpec extends AnyFunSuite {

  private def die(m: String): Nothing = throw PlanError(m)
  private def drill(s: String) = Drilldown.parse(s).fold(die, identity)
  private def mea(s: String) = MeasureName.parse(s).fold(die, identity)
  private def cut(s: String) = CutSpec.parse(s).fold(die, identity)
  private def image(df: org.apache.spark.sql.DataFrame) = graft.SparkTestSession.rowImage(df)

  private val planner = TpchStar.planner(SfDir)
  private val ll = new LogicLayer(planner)

  private def bothAgree(q: LogicLayerQuery, mustFuse: Boolean): Unit = {
    val f = ll.plan(spark, q)
    assert(image(f) == image(ll.planUnfused(spark, q)), s"fused != fan-out for $q")
    if (mustFuse) {
      val p = f.queryExecution.executedPlan.toString
      assert(!p.contains("Union"),
        "eligible fan-out must fuse to a single plan:\n" + p.take(1200))
      if (q.rca.isEmpty)
        assert(p.contains("Expand") || p.contains("Generate"),
          "fused plan should carry the combo-tagging explode:\n" + p.take(1200))
      else
        // fused rca pins the tagged a grain (round 16): the explode lives
        // inside the checkpoint; the visible plan consumes the pinned rows
        // and must never re-scan the fact per member
        assert(p.contains("ExistingRDD") && !p.contains("lineitem"),
          "fused rca should consume the one pinned a grain:\n" + p.take(1200))
    }
  }

  test("q31: two-level cut fan-out fuses to one plan with identical results") {
    bothAgree(LogicLayerQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Nation.1,2,3")),
      measures = Seq(mea("Quantity"))), mustFuse = true)
  }

  test("q31 variants: filters, exclude, two measures, 4-way double-dim fan-out") {
    // HAVING filter applies once on the fused aggregate
    bothAgree(LogicLayerQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Nation.1,2,3")),
      measures = Seq(mea("Quantity")),
      filters = Seq(FilterQuery.parse("Quantity.gt.1000").fold(die, identity))),
      mustFuse = true)
    // exclude= post-filter on the consolidated headers
    bothAgree(LogicLayerQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Nation.1,2,3")),
      measures = Seq(mea("Quantity"), mea("Revenue")),
      exclude = Seq(cut("Ship Date.Year.1996"))), mustFuse = true)
    // two multi-cut dimensions -> 2x2 = 4 combos in one plan
    bothAgree(LogicLayerQuery(
      drilldowns = Nil,
      cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Nation.1,2,3"),
        cut("Ship Date.Year.1996,1997"), cut("Ship Date.Month.3,4,5")),
      measures = Seq(mea("Quantity"))), mustFuse = true)
  }

  test("per-combo limit/offset, sort, and sparse fuse via the combo-partitioned window") {
    val base = LogicLayerQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Nation.1,2,3")),
      measures = Seq(mea("Quantity")))
    // limit slices EACH combo's frame under its own deterministic order
    bothAgree(base.copy(limit = Some(LimitQuery.parse("3").fold(die, identity))),
      mustFuse = true)
    // offset + limit
    bothAgree(base.copy(limit = Some(LimitQuery.parse("2,4").fold(die, identity))),
      mustFuse = true)
    // explicit sort changes WHICH rows the limit keeps
    bothAgree(base.copy(
      sort = Some(SortQuery.parse("Quantity.desc").fold(die, identity)),
      limit = Some(LimitQuery.parse("3").fold(die, identity))), mustFuse = true)
    // sort alone: no row selection (the union is re-sorted either way)
    bothAgree(base.copy(
      sort = Some(SortQuery.parse("Quantity.asc").fold(die, identity))), mustFuse = true)
    // sparse applies identically per combo
    bothAgree(base.copy(sparse = true), mustFuse = true)
  }

  test("per-combo top and top_where fuse via the (combo, by-level) window") {
    val base = LogicLayerQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Nation.1,2,3")),
      measures = Seq(mea("Quantity")),
      top = Some(TopQuery.parse("2,Ship Date.Year,Quantity,desc").fold(die, identity)))
    bothAgree(base, mustFuse = true)
    bothAgree(base.copy(
      topWhere = Some(TopWhereQuery.parse("Quantity,gt.100").fold(die, identity))),
      mustFuse = true)
  }

  test("tie-arbitrary top+limit (no sort) falls back to the fan-out with identical rows") {
    // the fan-out slices the limit over (by-level asc, measure desc),
    // which is not a total order — the fused path declines rather than
    // risk picking different ties
    val q = LogicLayerQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Nation.1,2,3")),
      measures = Seq(mea("Quantity")),
      top = Some(TopQuery.parse("2,Ship Date.Year,Quantity,desc").fold(die, identity)),
      limit = Some(LimitQuery.parse("3").fold(die, identity)))
    val f = ll.plan(spark, q)
    assert(image(f) == image(ll.planUnfused(spark, q)))
    assert(f.queryExecution.executedPlan.toString.contains("Union"),
      "tie-arbitrary top+limit must keep the union fan-out")
  }

  test("growth fuses as a combo-partitioned lag (round 13), including the " +
       "reordered headers, calc-referencing options, and the time-dim decline") {
    val g = GrowthQuery.parse("Ship Date.Year,Quantity").fold(die, identity)
    val base = LogicLayerQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Nation.1,2,3")),
      measures = Seq(mea("Quantity")),
      growth = Some(g))
    // combo-partitioned lag over each combo's own (auto-added cut level)
    // partition, null-padded in the union frame
    bothAgree(base, mustFuse = true)
    // two measures: the growth measure reorders to the back per the member
    // path, and the non-growth measure stays in front
    bothAgree(base.copy(measures = Seq(mea("Quantity"), mea("Revenue"))),
      mustFuse = true)
    // limit under growth slices on the REORDERED (other ++ time) tiebreaks
    bothAgree(base.copy(limit = Some(LimitQuery.parse("3").fold(die, identity))),
      mustFuse = true)
    // sort + filter referencing the growth CALC column
    bothAgree(base.copy(
      sort = Some(SortQuery(SortDirection.Desc, MeaOrCalc.GrowthCalc)),
      limit = Some(LimitQuery.parse("2").fold(die, identity))), mustFuse = true)
    bothAgree(base.copy(
      filters = Seq(FilterQuery(MeaOrCalc.GrowthCalc,
        Constraint(Comparison.Gt, 0.0), None, None))), mustFuse = true)
    // a deeper non-time drill alongside the fan-out
    bothAgree(base.copy(
      drilldowns = Seq(drill("Ship Date.Year"), drill("Customer.Segment"))),
      mustFuse = true)
    // a varying cut on the TIME dimension breaks the positional identity of
    // the time columns — the fused path must decline, results identical
    val timeFan = LogicLayerQuery(
      drilldowns = Seq(drill("Geography.Region")),
      cuts = Seq(cut("Ship Date.Year.1996,1997"), cut("Ship Date.Month.3,4,5")),
      measures = Seq(mea("Quantity")),
      growth = Some(GrowthQuery.parse("Geography.Region,Quantity").fold(die, identity)))
    val f = ll.plan(spark, timeFan)
    assert(image(f) == image(ll.planUnfused(spark, timeFan)))
  }

  test("growth-augmented LL fuzz slice: fused == fan-out wherever a time level is drilled") {
    // the LL fuzz corpus doesn't generate growth; bolt it onto every case
    // that drills a time level (growth's precondition) and differentially
    // gate the fused path against the fan-out — which is itself
    // oracle-gated through q48/q50 and the single-query fuzz corpus
    var exercised = 0
    val failures = QueryFuzzer.llCases(60).flatMap { fc =>
      val q0 = graft.server.QueryParams.toLogicLayerQuery(fc.params, TpchStar.salesCube)
      q0.drilldowns.find(_.levelName.dimension == "Ship Date").toSeq.flatMap { td =>
        val q = q0.copy(growth = Some(GrowthQuery(td, q0.measures.head)),
          // the fan-out threads top per combo over the GROWN frame; the
          // corpus' tops are rare and already covered — drop only rca/rate
          rca = None, rate = None)
        val a = try Right(ll.planUnfused(spark, q)) catch { case e: PlanError => Left(e) }
        val b = try Right(ll.plan(spark, q)) catch { case e: PlanError => Left(e) }
        (a, b) match {
          case (Right(x), Right(y)) =>
            exercised += 1
            if (image(x) == image(y)) None
            else Some(s"${fc.name}: growth fused != fan-out\n  params=${fc.params}")
          case (Left(_), Left(_)) => None // both reject identically-shaped queries
          case _ => Some(s"${fc.name}: one path rejected, the other planned")
        }
      }
    }
    assert(failures.isEmpty, s"${failures.length} mismatches:\n${failures.mkString("\n")}")
    assert(exercised >= 5, s"only $exercised corpus cases carried growth")
  }

  test("rate fuses as the fused conditional-aggregate pass (round 14), including " +
       "Rate-referencing options and a varying cut on the rate level itself") {
    val r = RateQuery.parse("Geography.Region.0,2").fold(die, identity)
    val base = LogicLayerQuery(
      drilldowns = Seq(drill("Customer.Segment")),
      cuts = Seq(cut("Ship Date.Year.1996,1997"), cut("Ship Date.Month.3,4,5")),
      measures = Seq(mea("Quantity")),
      rate = Some(r))
    // one conditional-aggregate pass keyed by (combo, grain)
    bothAgree(base, mustFuse = true)
    // sort/filter/limit referencing the derived Rate column, per combo
    bothAgree(base.copy(
      sort = Some(SortQuery.parse("Rate.desc").fold(die, identity)),
      limit = Some(LimitQuery.parse("3").fold(die, identity))), mustFuse = true)
    bothAgree(base.copy(
      filters = Seq(FilterQuery.parse("Rate.gt.0.1").fold(die, identity))),
      mustFuse = true)
    bothAgree(base.copy(sparse = true), mustFuse = true)
    // varying cuts ON the rate level itself: each combo rates within its
    // own member slice through the shared source (the rate level rides the
    // source but is excluded from every member's output grain, so the
    // widths stay aligned)
    bothAgree(LogicLayerQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Region.1,3")),
      measures = Seq(mea("Quantity")),
      rate = Some(r)), mustFuse = true)
    // count-aggregator measure takes the sum(when(member, 1)) shape
    bothAgree(base.copy(measures = Seq(mea("Row Count"))), mustFuse = true)
  }

  test("rate-augmented LL fuzz slice: fused == fan-out with a rate bolted onto " +
       "every single-sum/count-measure corpus case") {
    val r = RateQuery.parse("Geography.Region.0,2").fold(die, identity)
    var exercised = 0
    val failures = QueryFuzzer.llCases(60).flatMap { fc =>
      val q0 = graft.server.QueryParams.toLogicLayerQuery(fc.params, TpchStar.salesCube)
      // rate preconditions: exactly one measure, sum/count aggregator
      val okMea = q0.measures.length == 1 &&
        Seq("Quantity", "Row Count").contains(q0.measures.head.name)
      if (!okMea) None
      else {
        val q = q0.copy(rate = Some(r), rca = None, growth = None)
        val a = try Right(ll.planUnfused(spark, q)) catch { case e: PlanError => Left(e) }
        val b = try Right(ll.plan(spark, q)) catch { case e: PlanError => Left(e) }
        (a, b) match {
          case (Right(x), Right(y)) =>
            exercised += 1
            if (image(x) == image(y)) None
            else Some(s"${fc.name}: rate fused != fan-out\n  params=${fc.params}")
          case (Left(_), Left(_)) => None
          case _ => Some(s"${fc.name}: one path rejected, the other planned")
        }
      }
    }
    assert(failures.isEmpty, s"${failures.length} mismatches:\n${failures.mkString("\n")}")
    assert(exercised >= 5, s"only $exercised corpus cases carried rate")
  }

  test("rca fuses as one __combo-keyed pinned a-grain re-aggregation (round 16)") {
    val r = RcaQuery.parse("Geography.Nation,Part.Brand,Quantity").fold(die, identity)
    // the fan-out dim (Ship Date: Year + Month cuts) is disjoint from both
    // rca drills, and each combo gains a DIFFERENT added drilldown — the
    // null-padding path under the rollup
    val base = LogicLayerQuery(
      drilldowns = Nil,
      cuts = Seq(cut("Ship Date.Year.1996,1997"), cut("Ship Date.Month.3,4,5")),
      measures = Seq(mea("Quantity")),
      rca = Some(r))
    bothAgree(base, mustFuse = true)
    // internal cut (drill1's own level): post-rollup a/c-only semantics
    bothAgree(base.copy(
      cuts = base.cuts :+ cut("Geography.Nation.1,2,3,10,11")), mustFuse = true)
    // external cut on another level of drill1's dimension: cuts the fact
    bothAgree(base.copy(cuts = base.cuts :+ cut("Geography.Region.0,1,2")),
      mustFuse = true)
    // debug emits the four frame columns between drills and measures
    bothAgree(base.copy(debug = true), mustFuse = true)
    // extra measure rides the a-frame only
    bothAgree(base.copy(measures = Seq(mea("Quantity"), mea("Revenue"))),
      mustFuse = true)
    // an extra shared drilldown widens every combo's ext grain
    bothAgree(base.copy(drilldowns = Seq(drill("Customer.Segment"))),
      mustFuse = true)
    // applyOptions stages with the rca calc: filter, sort+limit, sparse, top
    bothAgree(base.copy(
      filters = Seq(FilterQuery(MeaOrCalc.RcaCalc,
        Constraint(Comparison.Gt, 1.0), None, None))), mustFuse = true)
    bothAgree(base.copy(
      sort = Some(SortQuery(SortDirection.Desc, MeaOrCalc.RcaCalc)),
      limit = Some(LimitQuery.parse("3").fold(die, identity))), mustFuse = true)
    bothAgree(base.copy(sparse = true), mustFuse = true)
    bothAgree(base.copy(
      top = Some(TopQuery.parse("2,Geography.Nation,Quantity,desc").fold(die, identity))),
      mustFuse = true)
    // a fan-out cut ON drill1's level auto-drills it, duplicating the rca
    // drill's headers — the fused path declines and BOTH paths reject the
    // member with the same PlanError (planRca's duplicate-level check)
    val collide = LogicLayerQuery(
      drilldowns = Nil,
      cuts = Seq(cut("Geography.Nation.1,2,3"), cut("Geography.Region.0,2")),
      measures = Seq(mea("Quantity")),
      rca = Some(RcaQuery.parse("Geography.Nation,Part.Brand,Quantity").fold(die, identity)))
    val ef = intercept[PlanError](ll.plan(spark, collide))
    val eu = intercept[PlanError](ll.planUnfused(spark, collide))
    assert(ef.getMessage == eu.getMessage &&
      ef.getMessage.contains("duplicates an rca drilldown level"))
  }

  test("rca-augmented LL fuzz slice: fused == fan-out with rca bolted onto " +
       "every corpus case off the rca dims") {
    val r = RcaQuery.parse("Geography.Nation,Part.Brand,Quantity").fold(die, identity)
    var exercised = 0
    val failures = QueryFuzzer.llCases(60).flatMap { fc =>
      val q0 = graft.server.QueryParams.toLogicLayerQuery(fc.params, TpchStar.salesCube)
      val q = q0.copy(rca = Some(r), rate = None, growth = None)
      val a = try Right(ll.planUnfused(spark, q)) catch { case e: PlanError => Left(e) }
      val b = try Right(ll.plan(spark, q)) catch { case e: PlanError => Left(e) }
      (a, b) match {
        case (Right(x), Right(y)) =>
          exercised += 1
          if (image(x) == image(y)) None
          else Some(s"${fc.name}: rca fused != fan-out\n  params=${fc.params}")
        case (Left(_), Left(_)) => None
        case _ => Some(s"${fc.name}: one path rejected, the other planned\n  params=${fc.params}")
      }
    }
    assert(failures.isEmpty, s"${failures.length} mismatches:\n${failures.mkString("\n")}")
    assert(exercised >= 5, s"only $exercised corpus cases carried rca")
  }

  test("60-case LL fuzz corpus: the fused flag is result-invariant, and fusion engages") {
    var fusedCount = 0
    val failures = QueryFuzzer.llCases(60).flatMap { fc =>
      val q = graft.server.QueryParams.toLogicLayerQuery(fc.params, TpchStar.salesCube)
      val a = ll.planUnfused(spark, q)
      val b = ll.plan(spark, q)
      val (ia, ib) = (image(a), image(b))
      val pa = a.queryExecution.executedPlan.toString
      val pb = b.queryExecution.executedPlan.toString
      if (pa.contains("Union") && !pb.contains("Union")) fusedCount += 1
      if (ia == ib) None
      else Some(s"${fc.name}: fan=${ia.take(3)}... fused=${ib.take(3)}...\n  params=${fc.params}")
    }
    assert(failures.isEmpty, s"${failures.length} mismatches:\n${failures.mkString("\n")}")
    assert(fusedCount >= 3, s"only $fusedCount corpus cases exercised the fused path")
  }
}
