package graft.plan

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.engine.TpchStar
import graft.SparkTestSession.{spark, SfDir}

/** Planner golden tests on the sf0.001 fixture: each expectation is computed
  * independently with raw Spark SQL over the same parquet (never through the
  * planner), so a planner bug can't certify itself. */
class PlannerSpec extends AnyFunSuite {

  private def planner = TpchStar.planner(SfDir)
  private def die(m: String): Nothing = throw PlanError(m)
  private def drill(s: String) = Drilldown.parse(s).fold(die, identity)
  private def mea(s: String) = MeasureName.parse(s).fold(die, identity)
  private def cut(s: String) = CutSpec.parse(s).fold(die, identity)

  private lazy val li = spark.read.parquet(s"$SfDir/lineitem.parquet")

  /** Key columns inherit the parquet's int32, so read numerically. */
  private def lnum(r: Row, i: Int): Long = r.get(i).asInstanceOf[Number].longValue

  test("q: plain aggregation matches raw groupBy") {
    val df = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Quantity"), mea("Row Count"))))
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    val want = li.groupBy("l_returnflag")
      .agg(sum("l_quantity"), count("l_orderkey"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == want)
    assert(df.columns.toSeq == Seq("Return Flag", "Quantity", "Row Count"))
  }

  test("headers: name column produces '{Level} ID' + '{Level}'") {
    val df = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      measures = Seq(mea("Quantity"))))
    assert(df.columns.toSeq == Seq("Nation ID", "Nation", "Quantity"))
  }

  test("parents expands ancestor levels in order") {
    val df = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      measures = Seq(mea("Quantity")),
      parents = true))
    assert(df.columns.toSeq == Seq("Region ID", "Region", "Nation ID", "Nation", "Quantity"))
  }

  test("cut include restricts members; exclude complements it") {
    val all = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Geography.Region")),
      measures = Seq(mea("Quantity")))).collect()
    val in = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Geography.Region")),
      cuts = Seq(cut("Geography.Region.0,2")),
      measures = Seq(mea("Quantity")))).collect()
    val ex = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Geography.Region")),
      cuts = Seq(cut("~Geography.Region.0,2")),
      measures = Seq(mea("Quantity")))).collect()
    assert(in.map(lnum(_, 0)).toSet == Set(0L, 2L))
    assert(ex.map(lnum(_, 0)).toSet == all.map(lnum(_, 0)).toSet -- Set(0L, 2L))
    // a cut never changes the kept groups' aggregates
    val byKey = all.map(r => lnum(r, 0) -> r.getDouble(2)).toMap
    in.foreach(r => assert(r.getDouble(2) == byKey(lnum(r, 0))))
  }

  test("top-k keeps n rows per group, ordered by the measure") {
    val df = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Geography.Region"), drill("Geography.Nation")),
      measures = Seq(mea("Quantity")),
      top = Some(TopQuery.parse("2,Geography.Region,Quantity,desc").fold(die, identity))))
    val rows = df.collect()
    val perRegion = rows.groupBy(lnum(_, 0))
    assert(perRegion.values.forall(_.length <= 2))
    // within a region the kept quantities are the region's two largest
    val full = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Geography.Region"), drill("Geography.Nation")),
      measures = Seq(mea("Quantity")))).collect()
    full.groupBy(lnum(_, 0)).foreach { case (region, frows) =>
      val top2 = frows.map(_.getDouble(4)).sorted(Ordering[Double].reverse).take(2).toSet
      val kept = perRegion(region).map(_.getDouble(4)).toSet
      assert(kept == top2, s"region $region")
    }
  }

  test("growth equals hand-computed lag difference") {
    val df = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      measures = Seq(mea("Quantity")),
      growth = Some(GrowthQuery.parse("Ship Date.Year,Quantity").fold(die, identity))))
    val rows = df.collect().sortBy(_.getLong(0))
    assert(df.columns.toSeq == Seq("Year", "Quantity", "Quantity Growth", "Quantity Growth Value"))
    rows.sliding(2).foreach {
      case Array(prev, curr) =>
        val diff = curr.getDouble(1) - prev.getDouble(1)
        assert(math.abs(curr.getDouble(3) - diff) < 1e-9)
        assert(math.abs(curr.getDouble(2) - diff / prev.getDouble(1)) < 1e-12)
      case _ =>
    }
    assert(rows.head.isNullAt(2) && rows.head.isNullAt(3), "first period has null growth")
  }

  test("rca of a single-member drill1 cut equals the uncut rca rows") {
    val rcaQ = RcaQuery.parse("Geography.Region,Return Flag.Return Flag,Quantity").fold(die, identity)
    val uncut = planner.plan(spark, CubeQuery(
      measures = Seq(mea("Quantity")), rca = Some(rcaQ))).collect()
    val cutDf = planner.plan(spark, CubeQuery(
      measures = Seq(mea("Quantity")),
      cuts = Seq(cut("Geography.Region.1")),
      rca = Some(rcaQ))).collect()
    // internal cuts filter a/c but keep b/d denominators: matching rows agree
    val uncutMap = uncut.map(r => (lnum(r, 0), r.getString(2)) -> r.getDouble(3)).toMap
    assert(cutDf.nonEmpty)
    cutDf.foreach { r =>
      assert(math.abs(r.getDouble(3) - uncutMap((lnum(r, 0), r.getString(2)))) < 1e-9)
    }
  }

  test("weighted-sum rca: b/c/d re-aggregate in exact decimal (no double drift)") {
    // the rca measure is a weighted sum over DECIMAL columns; the a grain
    // must stay decimal through the b/c/d re-aggregations — an exact driver
    // BigDecimal fold over the raw rows must equal the planner's debug
    // grain EXACTLY (==), not at epsilon. A double-summed b would drift.
    val rcaQ = RcaQuery.parse(
      "Return Flag.Return Flag,Line Status.Line Status,Weighted Discount").fold(die, identity)
    val df = planner.plan(spark, CubeQuery(
      measures = Seq(mea("Quantity")), rca = Some(rcaQ), debug = true))
    assert(df.schema("__rca_b").dataType.typeName == "double",
      "debug grains surface as double (the legacy branch's per-grain type)")
    val rows = df.collect()
    // exact oracle: per-linestatus Σ round(disc,6)*round(qty,6) in BigDecimal
    val want = li.select("l_linestatus", "l_discount", "l_quantity").collect()
      .groupBy(_.getString(0))
      .map { case (ls, rs) =>
        ls -> rs.map { r =>
          BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP) *
            BigDecimal(r.getDouble(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        }.sum.toDouble
      }
    // b = Σ over ext(∅)+d2(Line Status): one value per linestatus
    rows.foreach { r =>
      val ls = r.getString(r.fieldIndex("Line Status"))
      assert(r.getDouble(r.fieldIndex("__rca_b")) == want(ls),
        s"b grain drifted for linestatus $ls")
    }
  }

  test("rate: member share plus total") {
    val df = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Quantity")),
      rate = Some(RateQuery.parse("Geography.Region.0,2").fold(die, identity))))
    val want = li
      .join(spark.read.parquet(s"$SfDir/supplier.parquet"), col("l_suppkey") === col("s_suppkey"))
      .join(spark.read.parquet(s"$SfDir/nation.parquet"), col("s_nationkey") === col("n_nationkey"))
      .groupBy("l_returnflag")
      .agg(
        sum("l_quantity").as("total"),
        sum(when(col("n_regionkey").isin(0, 2), col("l_quantity"))).as("part"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2) / r.getDouble(1))).toSeq
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    got.zip(want).foreach { case ((gf, gq, gr), (wf, wq, wr)) =>
      assert(gf == wf); assert(math.abs(gq - wq) < 1e-9); assert(math.abs(gr - wr) < 1e-12)
    }
  }

  // two degenerate dims both exposing a level named "Year": the joint
  // source grain (drill + rate level) disambiguates to "Ship Date Year" /
  // "Ship Month Year" while the output grain alone keeps the bare "Year" —
  // pre-fix both rate paths crashed with an unresolved-column error
  private lazy val collideCube = Cube("Collide", TableDef("lineitem"), Seq(
    Dimension("Ship Date", foreignKey = None, dimType = DimensionType.Time,
      hierarchies = Seq(Hierarchy("Ship Date", primaryKey = "l_shipyear",
        levels = Seq(Level("Year", "l_shipyear", keyType = MemberType.NonText))))),
    Dimension("Ship Month", foreignKey = None,
      hierarchies = Seq(Hierarchy("Ship Month", primaryKey = "l_shipmonth",
        levels = Seq(Level("Year", "l_shipmonth", keyType = MemberType.NonText))))),
    Dimension("Return Flag", foreignKey = None,
      hierarchies = Seq(Hierarchy("Return Flag", primaryKey = "l_returnflag",
        levels = Seq(Level("Return Flag", "l_returnflag")))))),
    Seq(Measure("Quantity", "l_quantity", Aggregator.Sum)))

  test("rate: rate level colliding with a drill header plans via rename") {
    val cp = new CubePlanner(collideCube, new graft.engine.TpchStar.Resolver(SfDir))
    val df = cp.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Ship Date.Ship Date.Year")),
      measures = Seq(mea("Quantity")),
      rate = Some(RateQuery.parse("Ship Month.Ship Month.Year.1,2,3").fold(die, identity))))
    assert(df.columns.toSeq == Seq("Year", "Quantity", "Rate"))
    val want = li
      .withColumn("y", year(col("l_shipdate")).cast("long"))
      .withColumn("m", month(col("l_shipdate")).cast("long"))
      .groupBy("y")
      .agg(sum("l_quantity").as("total"),
        sum(when(col("m").isin(1, 2, 3), col("l_quantity"))).as("part"))
      .where(col("part").isNotNull)
      .orderBy("y")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2) / r.getDouble(1))).toSeq
    val got = df.collect().map(r => (lnum(r, 0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(got.map(_._1) == want.map(_._1))
    got.zip(want).foreach { case ((_, gq, gr), (_, wq, wr)) =>
      assert(math.abs(gq - wq) < 1e-9); assert(math.abs(gr - wr) < 1e-12)
    }
  }

  test("fused fan-out declines a colliding rate level (falls back to per-member planRate)") {
    val cp = new CubePlanner(collideCube, new graft.engine.TpchStar.Resolver(SfDir))
    def q(flag: String) = CubeQuery(
      drilldowns = Seq(drill("Ship Date.Ship Date.Year")),
      measures = Seq(mea("Quantity")),
      cuts = Seq(cut(s"Return Flag.Return Flag.$flag")),
      rate = Some(RateQuery.parse("Ship Month.Ship Month.Year.1,2,3").fold(die, identity)))
    assert(cp.planFanOutFused(spark, Seq(q("A"), q("N"))).isEmpty,
      "collision must decline the fused path, not crash it")
    // the member path each fused member would fall back to still answers
    assert(cp.plan(spark, q("A")).collect().nonEmpty)
  }

  test("grouped median: median of per-order quantity sums") {
    val df = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Line Status.Line Status")),
      measures = Seq(mea("Median Order Quantity"))))
    val want = li.groupBy("l_linestatus", "l_orderkey")
      .agg(sum("l_quantity").as("m"))
      .groupBy("l_linestatus").agg(expr("median(m)"))
      .orderBy("l_linestatus")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("grouped median + custom template in one query: columns in caller order, values match separate runs") {
    val df = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Median Order Quantity"), mea("Revenue"), mea("Quantity"))))
    assert(df.columns.toSeq == Seq("Return Flag", "Median Order Quantity", "Revenue", "Quantity"))
    def one(m: String) = planner.plan(spark, CubeQuery(
        drilldowns = Seq(drill("Return Flag.Return Flag")), measures = Seq(mea(m))))
      .collect().map(r => r.getString(0) -> r.get(1)).toMap
    val med = one("Median Order Quantity"); val rev = one("Revenue")
    df.collect().foreach { r =>
      assert(r.get(1) == med(r.getString(0)), "median matches solo run")
      assert(r.get(2) == rev(r.getString(0)), "custom Revenue matches solo run")
    }
    // degenerate grain: no drilldowns → cross join of two single-row frames
    val global = planner.plan(spark, CubeQuery(
      cuts = Seq(cut("Geography.Region.3")),
      measures = Seq(mea("Median Order Quantity"), mea("Revenue"))))
    assert(global.count() == 1)
  }

  test("validation errors surface as PlanError") {
    intercept[PlanError] { planner.plan(spark, CubeQuery(drilldowns = Seq(drill("Geography.Nation")))) }
    intercept[PlanError] { planner.plan(spark, CubeQuery(measures = Seq(mea("Quantity")))) }
    intercept[PlanError] {
      planner.plan(spark, CubeQuery(
        drilldowns = Seq(drill("Nope.Nope")), measures = Seq(mea("Quantity"))))
    }
    intercept[PlanError] {
      planner.plan(spark, CubeQuery(
        drilldowns = Seq(drill("Geography.Nation")), measures = Seq(mea("Nope"))))
    }
  }

  test("members enumeration is distinct and ordered") {
    val m = planner.members(spark, LevelName.parse("Geography.Region").fold(die, identity)).collect()
    val keys = m.map(lnum(_, 0)).toSeq
    assert(keys == keys.distinct.sorted)
  }

  test("multi-hierarchy dim: non-default hierarchy drills; absent dim semijoins on default hierarchy") {
    val multiPart = Dimension("Part", foreignKey = Some("l_partkey"),
      defaultHierarchy = Some("By Brand"),
      hierarchies = Seq(
        Hierarchy("By Brand", table = Some(TableDef("part", primaryKey = Some("p_partkey"))),
          primaryKey = "p_partkey",
          levels = Seq(Level("Brand", "p_brand"))),
        Hierarchy("By Size", table = Some(TableDef("part", primaryKey = Some("p_partkey"))),
          primaryKey = "p_partkey",
          levels = Seq(Level("Part Size", "p_size", keyType = MemberType.NonText)))))
    val cube = TpchStar.salesCube.copy(
      name = "SalesMH",
      dimensions = TpchStar.salesCube.dimensions.filterNot(_.name == "Part") :+ multiPart)
    val mh = new CubePlanner(cube, new graft.engine.TpchStar.Resolver(SfDir))

    // drilling the non-default hierarchy resolves through its own table
    val bySize = mh.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Part.By Size.Part Size")),
      measures = Seq(mea("Quantity"))))
    val wantSize = li.join(spark.read.parquet(s"$SfDir/part.parquet"),
        li("l_partkey") === col("p_partkey"))
      .groupBy("p_size").agg(sum("l_quantity"))
      .orderBy("p_size")
      .collect().map(r => (lnum(r, 0), r.getDouble(1))).toSeq
    assert(bySize.collect().map(r => (lnum(r, 0), r.getDouble(1))).toSeq == wantSize)

    // a query not touching the multi-hierarchy dim gets a default-hierarchy
    // left-semi join (reference primary_agg.rs:139-146) — grain preserved,
    // values unchanged when the dim is referentially complete
    val absent = mh.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Quantity"))))
    assert(absent.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "absent multi-hierarchy dim must semijoin on the default hierarchy pk")
    val single = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Quantity"))))
    assert(absent.collect().map(_.toSeq).toSeq == single.collect().map(_.toSeq).toSeq)
  }

  test("two dimensions over one table: memoized frames (one instance joined twice) give the raw reads' rows") {
    val geo = TpchStar.salesCube.dimension("Geography").get
    val shipGeo = geo.copy(name = "Ship Geography", dimType = DimensionType.Standard,
      hierarchies = geo.hierarchies.map(_.copy(name = "Ship Geography")))
    val cube = TpchStar.salesCube.copy(name = "SalesTwoGeo",
      dimensions = TpchStar.salesCube.dimensions :+ shipGeo)
    val memo = new MemoizedResolver(new TpchStar.Resolver(SfDir))
    val supplierGeo = geo.hierarchies.head.table.get
    assert(memo.resolve(spark, supplierGeo) eq memo.resolve(spark, supplierGeo))
    val raw = new CubePlanner(cube, new TpchStar.Resolver(SfDir))
    val memoized = new CubePlanner(cube, memo)
    val rca = RcaQuery.parse("Geography.Region,Ship Geography.Nation,Quantity").fold(die, identity)
    val queries = Seq(
      CubeQuery(
        drilldowns = Seq(drill("Geography.Region"), drill("Ship Geography.Nation")),
        cuts = Seq(cut("Ship Geography.Region.1,2")),
        measures = Seq(mea("Quantity"), mea("Row Count"))),
      CubeQuery(measures = Seq(mea("Quantity")), rca = Some(rca)),
      CubeQuery(
        drilldowns = Seq(drill("Ship Geography.Region")),
        cuts = Seq(cut("Geography.Nation.21")),
        measures = Seq(mea("Quantity"))))
    for (q <- queries) {
      def rows(p: CubePlanner) = p.plan(spark, q).collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val want = rows(raw)
      assert(want.nonEmpty, q.toString)
      assert(rows(memoized) == want, q.toString)
    }
  }

  test("ApproxDistinct is invariant to the two-pass path (sketch union is lossless)") {
    val single = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Unique Parts"))))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // adding a median measure forces the hidden-drilldown two-pass plan:
    // pass 1 builds per-(flag, order) sketches, pass 2 merges them
    val twoPass = planner.plan(spark, CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Median Order Quantity"), mea("Unique Parts"))))
      .select("Return Flag", "Unique Parts")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(single == twoPass)
    // sanity: estimates sit near the exact distinct counts
    val exact = li.groupBy("l_returnflag").agg(countDistinct("l_partkey"))
      .collect().map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    single.foreach { case (f, est) =>
      assert(math.abs(est - exact(f)) / exact(f) < 0.5, s"$f: est $est vs exact ${exact(f)}")
    }
  }

  test("relatedMembers: children, parents, neighbors") {
    val region = LevelName.parse("Geography.Region").fold(die, identity)
    val nation = LevelName.parse("Geography.Nation").fold(die, identity)
    // at sf0.001 only supplier-backed nations exist in the dim view;
    // region 1's only such nation is 21
    val (childLvl, children) = planner.relatedMembers(spark, region, "1", "children")
    assert(childLvl == nation)
    assert(children == Seq("21"))
    val (parentLvl, parents) = planner.relatedMembers(spark, nation, "21", "parents")
    assert(parentLvl == region)
    assert(parents == Seq("1"))
    val (nLvl, neighbors) = planner.relatedMembers(spark, region, "2", "neighbors")
    assert(nLvl == region)
    assert(neighbors == Seq("0", "1", "3", "4"))
    intercept[PlanError] { planner.relatedMembers(spark, region, "1", "siblings") }
  }
}
