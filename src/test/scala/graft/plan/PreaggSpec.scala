package graft.plan

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.engine.TpchStar
import graft.SparkTestSession.{spark, SfDir}

class PreaggSpec extends AnyFunSuite {

  private def die(m: String): Nothing = throw PlanError(m)
  private def drill(s: String) = Drilldown.parse(s).fold(die, identity)
  private def mea(s: String) = MeasureName.parse(s).fold(die, identity)
  private def cut(s: String) = CutSpec.parse(s).fold(die, identity)

  private val base = TpchStar.planner(SfDir)
  private val grain = Seq(
    LevelName("Geography", "Geography", "Nation"),
    LevelName("Ship Date", "Ship Date", "Year"))

  private lazy val (summaryPlanner, summaryPath): (CubePlanner, String) = {
    val path = Files.createTempDirectory("graft_preagg").toString + "/sales_nation_year"
    Preagg.materialize(spark, base, TpchStar.salesCube, grain, path)
    val derived = Preagg.derivedCube(TpchStar.salesCube, grain, TableDef("__summary"))
    val resolver = new graft.sources.FormatResolver(Map("__summary" -> graft.sources.SourceSpec(path)))
    (new CubePlanner(derived, resolver), path)
  }
  private lazy val pp = new PreaggPlanner(base, summaryPlanner)

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("summary is dim-cardinality, carries ancestors, and answers the grain query exactly") {
    val nFact = spark.read.parquet(s"$SfDir/lineitem.parquet").count()
    val nSummary = spark.read.parquet(summaryPath).count()
    assert(nSummary < nFact / 10, s"summary ($nSummary) must be far below fact grain ($nFact)")
    val q = CubeQuery(
      drilldowns = Seq(drill("Geography.Nation"), drill("Ship Date.Year")),
      measures = Seq(mea("Quantity"), mea("Row Count")))
    assert(rows(pp.plan(spark, q)) == rows(base.plan(spark, q)))
  }

  test("rollup above the grain (Region) and cuts route to the summary and match the base fact") {
    val q = CubeQuery(
      drilldowns = Seq(drill("Geography.Region")),
      cuts = Seq(cut("Ship Date.Year.1996,1997")),
      measures = Seq(mea("Quantity"), mea("Max Price")))
    val viaSummary = pp.plan(spark, q)
    assert(rows(viaSummary) == rows(base.plan(spark, q)))
    // prove it actually read the summary, not the fact
    val scan = viaSummary.queryExecution.executedPlan.toString
    assert(scan.contains("sales_nation_year"), "plan must scan the summary parquet")
    assert(!scan.contains("lineitem.parquet"), "plan must not scan the fact")
  }

  test("ApproxDistinct rides the summary: stored sketches merge to the exact fact-side estimate") {
    val q = CubeQuery(
      drilldowns = Seq(drill("Geography.Region")),
      measures = Seq(mea("Unique Parts"), mea("Quantity")))
    val viaSummary = pp.plan(spark, q)
    // identical values — sketch union is lossless, so rolling the per-
    // (nation, year) sketches up to Region equals sketching the fact
    assert(rows(viaSummary) == rows(base.plan(spark, q)))
    val scan = viaSummary.queryExecution.executedPlan.toString
    assert(scan.contains("sales_nation_year") && !scan.contains("lineitem.parquet"),
      "distinct estimate must come from stored sketches, not a fact scan")
  }

  test("below-grain drills and non-reaggregable measures fall back to the base fact") {
    val below = CubeQuery(
      drilldowns = Seq(drill("Geography.Supplier")),
      measures = Seq(mea("Quantity")))
    assert(rows(pp.plan(spark, below)) == rows(base.plan(spark, below)))

    val median = CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Median Order Quantity")))
    val viaPp = pp.plan(spark, median)
    assert(rows(viaPp) == rows(base.plan(spark, median)))
    assert(viaPp.queryExecution.executedPlan.toString.contains("lineitem.parquet"))
  }

  test("top-k and filters work unchanged through the summary") {
    val q = CubeQuery(
      drilldowns = Seq(drill("Geography.Region"), drill("Geography.Nation")),
      measures = Seq(mea("Quantity")),
      top = Some(TopQuery.parse("2,Geography.Region,Quantity,desc").fold(die, identity)))
    assert(rows(pp.plan(spark, q)) == rows(base.plan(spark, q)))
  }

  test("multi-summary routing picks the first eligible summary, smallest first") {
    val tmp = Files.createTempDirectory("graft_preagg2").toString
    // a coarser summary: Region only (cannot serve Nation drills)
    val regionGrain = Seq(LevelName("Geography", "Geography", "Region"))
    Preagg.materialize(spark, base, TpchStar.salesCube, regionGrain, s"$tmp/by_region")
    val regionCube = Preagg.derivedCube(TpchStar.salesCube, regionGrain, TableDef("__r"))
    val regionPlanner = new CubePlanner(regionCube,
      new graft.sources.FormatResolver(Map("__r" -> graft.sources.SourceSpec(s"$tmp/by_region"))))
    val routed = new PreaggPlanner(base, Seq(regionPlanner, summaryPlanner))

    val regionQ = CubeQuery(drilldowns = Seq(drill("Geography.Region")), measures = Seq(mea("Quantity")))
    val viaRegion = routed.plan(spark, regionQ)
    assert(viaRegion.queryExecution.executedPlan.toString.contains("by_region"))
    assert(rows(viaRegion) == rows(base.plan(spark, regionQ)))

    val nationQ = CubeQuery(drilldowns = Seq(drill("Geography.Nation")), measures = Seq(mea("Quantity")))
    val viaNation = routed.plan(spark, nationQ)
    assert(viaNation.queryExecution.executedPlan.toString.contains("sales_nation_year"),
      "Nation drill must skip the Region summary and hit the finer one")
    assert(rows(viaNation) == rows(base.plan(spark, nationQ)))
  }

  test("fuzz differential: routed results equal base-fact results across the corpus") {
    // Every summary-carried measure re-aggregates losslessly (sum/count of
    // integer-valued partials, min/max, KMV sketch union), so routed and
    // base results must match EXACTLY — not approximately — on any query
    // the summary serves; queries it can't serve must fall through
    // untouched. Covered = all referenced levels are at/above the
    // (Nation, Year) grain and all measures ride the summary.
    val all = graft.fuzz.QueryFuzzer.cases(300) ++
      graft.fuzz.QueryFuzzer.rcaCases(60) ++ graft.fuzz.QueryFuzzer.rateCases(60)
    val okLevels = Set(("Geography", "Region"), ("Geography", "Nation"), ("Ship Date", "Year"))
    val okMeas = Set("Quantity", "Row Count", "Max Price", "Min Price")
    def covered(q: CubeQuery): Boolean = {
      val lvls = q.drilldowns.map(_.levelName) ++ q.cuts.map(_.levelName) ++
        q.rca.toSeq.flatMap(r => Seq(r.drill1.levelName, r.drill2.levelName)) ++
        q.rate.map(_.levelName)
      lvls.forall(ln => okLevels((ln.dimension, ln.level))) &&
        q.properties.isEmpty && q.measures.forall(m => okMeas(m.name)) &&
        q.rca.forall(r => okMeas(r.mea.name)) // the rca measure must ride the summary too
    }
    val (summaryQs, factQs) = all.map(_.query).partition(covered)
    assert(summaryQs.length >= 10, s"only ${summaryQs.length} corpus cases are summary-covered")

    def image(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      graft.SparkTestSession.rowImage(df)
    var served = 0
    val failures = (summaryQs ++ factQs.take(60)).zipWithIndex.flatMap { case (q, i) =>
      val isServed = try { summaryPlanner.plan(spark, q); true } catch { case _: PlanError => false }
      if (isServed) served += 1
      val routed = image(pp.plan(spark, q))
      val direct = image(base.plan(spark, q))
      if (routed == direct) None
      else Some(s"case $i (served=$isServed): routed=${routed.take(2)} direct=${direct.take(2)}\n  q=$q")
    }
    assert(failures.isEmpty, s"${failures.length} routed/base mismatches:\n${failures.mkString("\n")}")
    // the covered predicate must agree with actual routing — every covered
    // case summary-served (fallthrough there would silently erode the
    // optimization), and nothing below-grain snuck into the summary
    assert(served == summaryQs.length,
      s"$served served but ${summaryQs.length} covered — router and predicate disagree")
  }

  test("fuzz the coverage decision across summary-grain variations: covered ⇔ summary-served") {
    // The router's eligibility test IS summary-cube plan resolution; this
    // pins it against an INDEPENDENT structural predicate, per grain: a
    // query is covered iff every referenced level (drills, cuts, rca
    // drills, rate level — growth's level is always drilled) sits in a
    // grain hierarchy's prefix, it asks no properties, and every measure
    // re-aggregates. A covered query that falls through silently erodes
    // the optimization; an uncovered one that summary-serves is a wrong
    // answer waiting to happen.
    val grains: Seq[Seq[LevelName]] = Seq(
      Seq(LevelName("Geography", "Geography", "Region")),
      Seq(LevelName("Ship Date", "Ship Date", "Month")),
      Seq(LevelName("Geography", "Geography", "Supplier"),
        LevelName("Ship Date", "Ship Date", "Year")),
      Seq(LevelName("Customer", "Customer", "Segment"),
        LevelName("Part", "Part", "Brand")))
    val corpus = (graft.fuzz.QueryFuzzer.cases(300) ++
      graft.fuzz.QueryFuzzer.rcaCases(60) ++ graft.fuzz.QueryFuzzer.rateCases(60)).map(_.query)
    val okMeas = Preagg.eligibleMeasures(TpchStar.salesCube).map(_.name).toSet

    for (grain <- grains) {
      val okLevels: Set[(String, String, String)] = grain.flatMap { ln =>
        val (dim, hier, idx) = TpchStar.salesCube.findLevel(ln).getOrElse(die(s"bad grain $ln"))
        hier.levels.take(idx + 1).map(l => (dim.name, hier.name, l.name))
      }.toSet
      def covered(q: CubeQuery): Boolean = {
        val lvls = q.drilldowns.map(_.levelName) ++ q.cuts.map(_.levelName) ++
          q.rca.toSeq.flatMap(r => Seq(r.drill1.levelName, r.drill2.levelName)) ++
          q.rate.map(_.levelName)
        lvls.forall(ln => okLevels((ln.dimension, ln.hierarchy, ln.level))) &&
          q.properties.isEmpty && q.measures.forall(m => okMeas(m.name)) &&
          q.rca.forall(r => okMeas(r.mea.name)) // the rca measure must ride the summary too
      }

      val tmp = Files.createTempDirectory("graft_preagg_fz").toString
      Preagg.materialize(spark, base, TpchStar.salesCube, grain, s"$tmp/s")
      val derived = Preagg.derivedCube(TpchStar.salesCube, grain, TableDef("__fz"))
      val sp = new CubePlanner(derived,
        new graft.sources.FormatResolver(Map("__fz" -> graft.sources.SourceSpec(s"$tmp/s"))))
      val pp2 = new PreaggPlanner(base, sp)

      var nCovered = 0
      val disagreements = corpus.zipWithIndex.flatMap { case (q, i) =>
        val want = covered(q)
        if (want) nCovered += 1
        val served = try { sp.plan(spark, q); true } catch { case _: PlanError => false }
        if (served == want) None
        else Some(s"grain=${grain.map(_.level).mkString("+")} case $i covered=$want served=$served\n  q=$q")
      }
      assert(disagreements.isEmpty,
        s"${disagreements.length} router/predicate disagreements:\n${disagreements.take(5).mkString("\n")}")
      assert(nCovered > 0, s"grain ${grain.map(_.level)} covered nothing — predicate too strict?")

      // spot-check execution equality on a handful of covered cases per
      // grain (full-corpus execution equality is the previous test's job)
      corpus.filter(covered).take(5).foreach { q =>
        assert(graft.SparkTestSession.rowImage(pp2.plan(spark, q)) ==
          graft.SparkTestSession.rowImage(base.plan(spark, q)), s"grain=$grain q=$q")
      }
    }
  }

  test("logic layer rides the summary: fan-out, fused fan-out, and fallback all match the base") {
    def llq(meas: String*) = LogicLayerQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Nation.1,2,3")),
      measures = meas.map(mea))
    def img(df: org.apache.spark.sql.DataFrame) = graft.SparkTestSession.rowImage(df)
    val plain = new LogicLayer(base)
    // fan-out path: both member queries route to the summary
    val routed = new LogicLayer(base, summaries = Seq(summaryPlanner))
    val r = routed.planUnfused(spark, llq("Quantity"))
    assert(img(r) == img(plain.plan(spark, llq("Quantity"))))
    val p = r.queryExecution.executedPlan.toString
    assert(p.contains("sales_nation_year") && !p.contains("lineitem.parquet"),
      "fan-out members must scan the summary, never the fact:\n" + p.take(800))
    // fused fan-out path: the single plan fuses ON the summary cube
    val f = routed.plan(spark, llq("Quantity"))
    assert(img(f) == img(plain.plan(spark, llq("Quantity"))))
    val fp = f.queryExecution.executedPlan.toString
    assert(!fp.contains("Union") && fp.contains("sales_nation_year") &&
      !fp.contains("lineitem.parquet"),
      "fused fan-out must be one summary-backed plan:\n" + fp.take(800))
    // a non-reaggregable measure falls through to the base fact per query
    val fb = routed.plan(spark, llq("Quantity", "Revenue"))
    assert(img(fb) == img(plain.plan(spark, llq("Quantity", "Revenue"))))
    assert(fb.queryExecution.executedPlan.toString.contains("lineitem.parquet"),
      "Revenue cannot ride the summary — must fall back to the fact")
  }

  test("non-reaggregable aggregators are excluded from the derived cube") {
    val derived = Preagg.derivedCube(TpchStar.salesCube, grain, TableDef("s"))
    val aggs = derived.measures.map(_.aggregator).toSet
    assert(aggs.subsetOf(Set[Aggregator](Aggregator.Sum, Aggregator.Min, Aggregator.Max,
      Aggregator.KmvSketchMerge(64))))
    assert(derived.measure("Median Order Quantity").isEmpty)
    assert(derived.measure("Revenue").isEmpty)
    assert(derived.measure("Quantity").isDefined)
  }
}
