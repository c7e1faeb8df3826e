package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.engine.TpchStar
import graft.plan.{CubePlanner, Diagnosis, LogicLayer, LogicLayerQuery, NamedSet, PlanError}

/** Driver contract — one entry per implemented operator from SURVEY.md §2,
  * each expressed through the engine's public layers (name grammars →
  * CubeQuery → CubePlanner → DataFrame) rather than ad-hoc DataFrame code,
  * so the correctness gate exercises the real engine path end-to-end.
  */
object SparkEntry {

  // ------------------------------------------------------- parse helpers
  private def die(m: String): Nothing = throw PlanError(m)
  private def drill(s: String): Drilldown = Drilldown.parse(s).fold(die, identity)
  private def cut(s: String): CutSpec = CutSpec.parse(s).fold(die, identity)
  private def mea(s: String): MeasureName = MeasureName.parse(s).fold(die, identity)
  private def prop(s: String): PropertyName = PropertyName.parse(s).fold(die, identity)
  private def filterQ(s: String): FilterQuery = FilterQuery.parse(s).fold(die, identity)
  private def topQ(s: String): TopQuery = TopQuery.parse(s).fold(die, identity)
  private def growthQ(s: String): GrowthQuery = GrowthQuery.parse(s).fold(die, identity)
  private def rcaQ(s: String): RcaQuery = RcaQuery.parse(s).fold(die, identity)
  private def rateQ(s: String): RateQuery = RateQuery.parse(s).fold(die, identity)

  /** Multi-hierarchy cube shared by q49/q50: Ship Time carries By Year
    * (default) and By Month hierarchies over degenerate fact columns. */
  private lazy val salesMH: Cube = Cube("SalesMH", TableDef("lineitem"), Seq(
    Dimension("Ship Time", foreignKey = None, dimType = DimensionType.Time,
      defaultHierarchy = Some("By Year"),
      hierarchies = Seq(
        Hierarchy("By Year", primaryKey = "l_shipyear",
          levels = Seq(Level("Year", "l_shipyear", keyType = MemberType.NonText))),
        Hierarchy("By Month", primaryKey = "l_shipmonth",
          levels = Seq(Level("Month", "l_shipmonth", keyType = MemberType.NonText))))),
    Dimension("Return Flag", foreignKey = None,
      hierarchies = Seq(Hierarchy("Return Flag", primaryKey = "l_returnflag",
        levels = Seq(Level("Return Flag", "l_returnflag")))))),
    Seq(Measure("Quantity", "l_quantity", Aggregator.Sum)))

  private def run(q: CubeQuery)(spark: SparkSession, sfDir: String): DataFrame =
    TpchStar.planner(sfDir).plan(spark, q)
  private def runDM(q: CubeQuery)(spark: SparkSession, sfDir: String): DataFrame =
    TpchStar.plannerDM(sfDir).plan(spark, q)

  private val namedSets = Seq(
    NamedSet("amer_asia", LevelName("Geography", "Geography", "Region"), Seq("1", "2")))
  private def runLL(q: LogicLayerQuery)(spark: SparkSession, sfDir: String): DataFrame =
    new LogicLayer(TpchStar.planner(sfDir), namedSets).plan(spark, q)

  /** Runtime-loaded JSON schema (reference schema/json.rs wire format) —
    * proves a user can declare a cube without touching Scala. */
  private val demoSchemaJson =
    """{
      |  "name": "Demo",
      |  "cubes": [{
      |    "name": "SalesJson",
      |    "table": {"name": "lineitem"},
      |    "dimensions": [{
      |      "name": "Geography",
      |      "foreign_key": "l_suppkey",
      |      "hierarchies": [{
      |        "name": "Geography",
      |        "table": {"name": "supplier_geo"},
      |        "primary_key": "s_suppkey",
      |        "levels": [
      |          {"name": "Region", "key_column": "r_regionkey", "name_column": "r_name", "key_type": "nontext"},
      |          {"name": "Nation", "key_column": "n_nationkey", "name_column": "n_name", "key_type": "nontext"}
      |        ]
      |      }]
      |    }],
      |    "measures": [
      |      {"name": "Quantity", "column": "l_quantity", "aggregator": "sum"},
      |      {"name": "Weighted Discount", "column": "l_disc_dec", "aggregator": {"weighted_sum": {"weight_column": "l_qty_dec"}}}
      |    ]
      |  }]
      |}""".stripMargin

  /** One conformed dimension declared once under `shared_dimensions` and
    * instantiated by TWO cubes via `dimension_usages`, each with its own
    * `foreign_key` override (reference schema.rs:72-126: the usage copies
    * the shared definition and rebinds the fact-side key). q51 drills both
    * cubes on the shared Region level and drill-across joins them — only
    * correct if both usages resolve the SAME definition. */
  private val sharedSchemaJson =
    """{
      |  "name": "SharedDemo",
      |  "shared_dimensions": [{
      |    "name": "Market",
      |    "hierarchies": [{
      |      "name": "Market",
      |      "table": {"name": "nation_geo"},
      |      "primary_key": "n_nationkey",
      |      "levels": [
      |        {"name": "Region", "key_column": "r_regionkey", "name_column": "r_name", "key_type": "nontext"},
      |        {"name": "Nation", "key_column": "n_nationkey", "name_column": "n_name", "key_type": "nontext"}
      |      ]
      |    }]
      |  }],
      |  "cubes": [{
      |    "name": "Suppliers",
      |    "table": {"name": "supplier"},
      |    "dimension_usages": [{"source": "Market", "foreign_key": "s_nationkey"}],
      |    "measures": [
      |      {"name": "Supplier Count", "column": "s_suppkey", "aggregator": "count"},
      |      {"name": "Supplier Balance", "column": "s_acctbal", "aggregator": {"custom": "cast(sum(cast({} as decimal(18,6))) as double)"}}
      |    ]
      |  }, {
      |    "name": "Customers",
      |    "table": {"name": "customer"},
      |    "dimension_usages": [{"source": "Market", "foreign_key": "c_nationkey"}],
      |    "measures": [
      |      {"name": "Customer Count", "column": "c_custkey", "aggregator": "count"},
      |      {"name": "Customer Balance", "column": "c_acctbal", "aggregator": {"custom": "cast(sum(cast({} as decimal(18,6))) as double)"}}
      |    ]
      |  }]
      |}""".stripMargin

  /** Runtime-loaded XML schema (reference schema/xml.rs Mondrian-style wire
    * format) — the XML twin of [[demoSchemaJson]], exercised end-to-end. */
  private val demoSchemaXml =
    """<Schema name="DemoXml">
      |  <Cube name="SalesXml">
      |    <Table name="lineitem"/>
      |    <Dimension name="Geography" foreign_key="l_suppkey">
      |      <Hierarchy name="Geography" primary_key="s_suppkey">
      |        <Table name="supplier_geo" primary_key="s_suppkey"/>
      |        <Level name="Region" key_column="r_regionkey" name_column="r_name" key_type="nontext"/>
      |        <Level name="Nation" key_column="n_nationkey" name_column="n_name" key_type="nontext"/>
      |      </Hierarchy>
      |    </Dimension>
      |    <Measure name="Quantity" column="l_quantity" aggregator="sum"/>
      |    <Measure name="Weighted Discount" column="l_disc_dec" aggregator="weighted_sum" weight_column="l_qty_dec"/>
      |  </Cube>
      |</Schema>""".stripMargin

  // oracle SQL join fragments (DuckDB, on the driver's parquet views)
  private val GEO =
    "lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey"
  private val CUST =
    "lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey"

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    run(CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag"), drill("Line Status.Line Status")),
      measures = Seq(mea("Quantity"), mea("Revenue"), mea("Row Count"))
    ))(spark, "/root/testdata/sf0.001")

  // --------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    olapQueries ++ graft.pipeline.PipelineOps.queries

  private lazy val olapQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // #1/#4/#9: fact scan + projection + one-shuffle aggregation
    "q01_agg" -> run(CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag"), drill("Line Status.Line Status")),
      measures = Seq(mea("Quantity"), mea("Extended Price"), mea("Revenue"), mea("Row Count")))),
    // #2/#8: dim subquery scan + dim join (snowflake supplier→nation→region)
    "q02_dim_join" -> run(CubeQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      measures = Seq(mea("Quantity"), mea("Revenue")))),
    "q03_multi_dim" -> run(CubeQuery(
      drilldowns = Seq(drill("Geography.Region"), drill("Ship Date.Year")),
      measures = Seq(mea("Quantity"), mea("Row Count")))),
    // #5: include cut (dim-side filter, pushes to scan / semi-join)
    "q04_cut_in" -> run(CubeQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      cuts = Seq(cut("Geography.Region.0,2")),
      measures = Seq(mea("Quantity")))),
    "q05_cut_exclude" -> run(CubeQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      cuts = Seq(cut("~Geography.Region.1")),
      measures = Seq(mea("Quantity")))),
    // #6: LIKE-mode cut
    "q06_cut_like" -> run(CubeQuery(
      drilldowns = Seq(drill("Customer.Segment")),
      cuts = Seq(cut("*Customer.Segment.IN")),
      measures = Seq(mea("Quantity")))),
    // #11: HAVING-style measure filter with .and. second constraint
    "q07_having" -> run(CubeQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      measures = Seq(mea("Quantity"), mea("Row Count")),
      filters = Seq(filterQ("Quantity.gt.60000.and.lt.100000000")))),
    // #12: top-k per group (window row_number over WindowGroupLimit)
    "q08_top" -> run(CubeQuery(
      drilldowns = Seq(drill("Geography.Region"), drill("Geography.Nation")),
      measures = Seq(mea("Quantity")),
      top = Some(topQ("2,Geography.Region,Quantity,desc")))),
    // #13: top_where pre-filter
    "q09_top_where" -> run(CubeQuery(
      drilldowns = Seq(drill("Geography.Region"), drill("Geography.Nation")),
      measures = Seq(mea("Quantity")),
      top = Some(topQ("3,Geography.Region,Quantity,desc")),
      topWhere = Some(TopWhereQuery.parse("Quantity,gt.50000").fold(die, identity)))),
    // #14/#15: sort + limit/offset
    "q10_sort_limit" -> run(CubeQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      measures = Seq(mea("Quantity")),
      sort = Some(SortQuery.parse("Quantity.desc").fold(die, identity)),
      limit = Some(LimitQuery.parse("5").fold(die, identity)))),
    "q11_limit_offset" -> run(CubeQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      measures = Seq(mea("Quantity")),
      limit = Some(LimitQuery.parse("3,7").fold(die, identity)))),
    // #20: parents expansion (ancestor level columns, same dim row)
    "q12_parents" -> run(CubeQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      measures = Seq(mea("Quantity")),
      parents = true)),
    // #21: properties (extra attribute columns per drilldown)
    "q13_props" -> run(CubeQuery(
      drilldowns = Seq(drill("Part.Part")),
      properties = Seq(prop("Part.Part.Part Type"), prop("Part.Part.Part Size")),
      measures = Seq(mea("Quantity")))),
    // #3: inline-table dim source (LocalRelation)
    "q14_inline" -> run(CubeQuery(
      drilldowns = Seq(drill("Return Class.Return Class")),
      measures = Seq(mea("Quantity"), mea("Revenue")))),
    // #17: growth (lag window replaces groupArray/arrayMap/ARRAY JOIN)
    "q15_growth" -> run(CubeQuery(
      drilldowns = Seq(drill("Ship Date.Year"), drill("Geography.Nation")),
      measures = Seq(mea("Quantity")),
      growth = Some(growthQ("Ship Date.Year,Quantity")))),
    // #18: RCA ((a/b)/(c/d) via three window sums over one aggregate)
    "q16_rca" -> run(CubeQuery(
      measures = Seq(mea("Quantity")),
      rca = Some(rcaQ("Geography.Nation,Part.Brand,Quantity")))),
    // #19: rate (share of measure attributable to listed members)
    "q17_rate" -> run(CubeQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      measures = Seq(mea("Quantity")),
      rate = Some(rateQ("Geography.Region.0,2")))),
    // §2.2: weighted aggregators
    "q18_weighted" -> run(CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Weighted Avg Price"), mea("Weighted Discount")))),
    // §2.2: MOE aggregator
    "q19_moe" -> run(CubeQuery(
      drilldowns = Seq(drill("Line Status.Line Status")),
      measures = Seq(mea("Quantity MOE")))),
    // §2.2 + #10: grouped median via hidden drilldown (two-pass)
    "q20_median" -> run(CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Median Order Quantity"), mea("Quantity")))),
    // #16: sparse + plain avg/min/max
    "q21_sparse_avg" -> run(CubeQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      measures = Seq(mea("Avg Discount"), mea("Max Price"), mea("Min Price")),
      sparse = true)),
    // #23: implicit default-member cut (SalesDM cube)
    "q22_default_member" -> runDM(CubeQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      measures = Seq(mea("Quantity")))),
    "q23_exclude_default" -> runDM(CubeQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      measures = Seq(mea("Quantity")),
      excludeDefaultMembers = true)),
    // degenerate (fact-table) time dim, two levels
    "q24_year_month" -> run(CubeQuery(
      drilldowns = Seq(drill("Ship Date.Year"), drill("Ship Date.Month")),
      measures = Seq(mea("Quantity"), mea("Row Count")))),
    // #22: members enumeration
    "q25_members" -> ((spark: SparkSession, sfDir: String) =>
      TpchStar.planner(sfDir).members(spark,
        LevelName.parse("Geography.Nation").fold(die, identity))),
    // #7: cut-only query (semi-join pushdown, global aggregate)
    "q26_cut_only" -> run(CubeQuery(
      cuts = Seq(cut("Geography.Region.3")),
      measures = Seq(mea("Quantity")))),
    // #5 on a degenerate dim: cut pushed straight into the fact scan
    "q27_degenerate_cut" -> run(CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      cuts = Seq(cut("Ship Date.Year.1996,1997")),
      measures = Seq(mea("Quantity")))),
    // §3.4 /diagnosis: referential-integrity data QA
    "q28_diagnosis" -> ((spark: SparkSession, sfDir: String) =>
      Diagnosis.run(spark, TpchStar.salesCube, new TpchStar.Resolver(sfDir))),
    // §2.2: replicate-weight MOE (reference moe.md derivation)
    "q29_rw_moe" -> run(CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Quantity RW MOE")))),
    // §2.2: weighted-average MOE (reference weighted_avg.md derivation)
    "q30_wavg_moe" -> run(CubeQuery(
      drilldowns = Seq(drill("Line Status.Line Status")),
      measures = Seq(mea("Price WAvg MOE")))),
    // ApproxDistinct: mergeable KMV-sketch distinct estimate as a cube
    // measure (deterministic md5 hash order → oracle-exact)
    "q47_approx_distinct" -> run(CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Unique Parts"), mea("Row Count")))),
    // logic-layer locale= → caption-set swap on the drilldown name column
    "q45_ll_locale" -> runLL(LogicLayerQuery(
      drilldowns = Seq(drill("Part.Part")),
      cuts = Seq(cut("Geography.Region.1")),
      locale = Some("alt"),
      measures = Seq(mea("Quantity")))),
    // logic-layer top= + top_where= passthrough (same semantics as q09 core)
    "q46_ll_topwhere" -> runLL(LogicLayerQuery(
      drilldowns = Seq(drill("Geography.Region"), drill("Geography.Nation")),
      measures = Seq(mea("Quantity")),
      top = Some(topQ("3,Geography.Region,Quantity,desc")),
      topWhere = Some(TopWhereQuery.parse("Quantity,gt.50000").fold(die, identity)))),
    // #24: logic-layer cartesian fan-out — cuts on two levels of one
    // dimension → two plans, cut levels auto-drilled, position-wise union
    "q31_cut_fanout" -> runLL(LogicLayerQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Nation.1,2,3")),
      measures = Seq(mea("Quantity")))),
    // round 12: the SAME fan-out, named for the single-plan fusion
    // (CubePlanner.planFanOutFused) that serves it — one scan + one tagged
    // aggregate instead of the N-way union; must hash-match q31's oracle
    // (the rebuild-consistency pattern applied to the plan strategy)
    "q52_ll_fused" -> ((spark: SparkSession, sfDir: String) =>
      new LogicLayer(TpchStar.planner(sfDir), namedSets)
        .plan(spark, LogicLayerQuery(
          drilldowns = Seq(drill("Ship Date.Year")),
          cuts = Seq(cut("Geography.Region.0,2"), cut("Geography.Nation.1,2,3")),
          measures = Seq(mea("Quantity"))))),
    // #25: exclude= post-filter drops result rows by ID
    "q32_exclude" -> runLL(LogicLayerQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      cuts = Seq(cut("Geography.Region.0,2")),
      exclude = Seq(cut("Geography.Nation.5,10")),
      measures = Seq(mea("Quantity")))),
    // #21: captions — locale caption property replaces the name column
    "q33_captions" -> run(CubeQuery(
      drilldowns = Seq(drill("Part.Part")),
      captions = Seq(prop("Part.Part.Part Caption Alt")),
      measures = Seq(mea("Quantity")))),
    // §1.2: runtime JSON schema → plan (reference schema/json.rs)
    "q34_json_schema" -> ((spark: SparkSession, sfDir: String) => {
      val cube = SchemaJson.parse(demoSchemaJson).cube("SalesJson")
        .getOrElse(die("SalesJson cube missing"))
      new CubePlanner(cube, new TpchStar.Resolver(sfDir)).plan(spark, CubeQuery(
        drilldowns = Seq(drill("Geography.Region")),
        measures = Seq(mea("Quantity"), mea("Weighted Discount"))))
    }),
    // logic layer: time=Level.latest resolves to a cut on the newest member
    "q35_time_latest" -> runLL(LogicLayerQuery(
      drilldowns = Seq(drill("Geography.Region")),
      measures = Seq(mea("Quantity")),
      time = Some((LevelName.parse("Ship Date.Year").fold(die, identity), "latest")))),
    // logic layer: member:children cut operation via the hierarchy
    "q36_cut_children" -> runLL(LogicLayerQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      cuts = Seq(CutSpec(LevelName.parse("Geography.Region").fold(die, identity), Seq("1:children"))),
      measures = Seq(mea("Quantity")))),
    // logic layer: named-set substitution in cut position
    "q37_named_set" -> runLL(LogicLayerQuery(
      drilldowns = Seq(drill("Geography.Nation")),
      cuts = Seq(CutSpec(LevelName.parse("Geography.Region").fold(die, identity), Seq("amer_asia"))),
      measures = Seq(mea("Quantity")))),
    // #18 debug=true exposes the a/b/c/d denominators (rca.rs:268-273)
    "q38_rca_debug" -> run(CubeQuery(
      measures = Seq(mea("Quantity")),
      rca = Some(rcaQ("Geography.Nation,Part.Brand,Quantity")),
      debug = true)),
    // #11/#14 on the growth calc: filter and sort by `growth`
    "q39_growth_filter" -> run(CubeQuery(
      drilldowns = Seq(drill("Ship Date.Year"), drill("Geography.Nation")),
      measures = Seq(mea("Quantity")),
      growth = Some(growthQ("Ship Date.Year,Quantity")),
      filters = Seq(filterQ("growth.lt.0")),
      sort = Some(SortQuery.parse("growth.asc").fold(die, identity)))),
    // #17 degenerate: ONLY the time drilldown — the growth window has no
    // partition keys and runs in one task, safe by construction because the
    // input is already aggregated to the time grain (periods, not facts)
    "q48_growth_timeonly" -> run(CubeQuery(
      drilldowns = Seq(drill("Ship Date.Year")),
      measures = Seq(mea("Quantity")),
      growth = Some(growthQ("Ship Date.Year,Quantity")))),
    // #17 with a two-level time hierarchy: lag runs over (Year, Month)
    "q40_growth_month" -> run(CubeQuery(
      drilldowns = Seq(drill("Ship Date.Year"), drill("Ship Date.Month"), drill("Return Flag.Return Flag")),
      measures = Seq(mea("Quantity")),
      growth = Some(growthQ("Ship Date.Month,Quantity")))),
    // §1.2: runtime XML schema → plan (reference schema/xml.rs); cut +
    // weighted measure through the XML-declared cube
    "q42_xml_schema" -> ((spark: SparkSession, sfDir: String) => {
      val cube = SchemaXml.parse(demoSchemaXml).cube("SalesXml")
        .getOrElse(die("SalesXml cube missing"))
      new CubePlanner(cube, new TpchStar.Resolver(sfDir)).plan(spark, CubeQuery(
        drilldowns = Seq(drill("Geography.Nation")),
        cuts = Seq(cut("Geography.Region.1,3")),
        measures = Seq(mea("Quantity"), mea("Weighted Discount"))))
    }),
    // #23: multi-hierarchy dimension — drilling and cutting the NON-default
    // hierarchy must select it by name (reference schema.rs:395-404 +
    // default-hierarchy resolution lib.rs:94-151); the default-hierarchy
    // semijoin for the absent-dim case is PlannerSpec's
    "q49_multi_hierarchy" -> ((spark: SparkSession, sfDir: String) => {
      new CubePlanner(salesMH, new TpchStar.Resolver(sfDir)).plan(spark, CubeQuery(
        drilldowns = Seq(drill("Ship Time.By Month.Month"), drill("Return Flag.Return Flag")),
        cuts = Seq(cut("Ship Time.By Month.Month.1,2,3")),
        measures = Seq(mea("Quantity"))))
    }),
    // #12+#13+#17+#23 composed: growth over a NON-DEFAULT hierarchy drill
    // (By Month), a top_where filter on the growth calc, and top-k per
    // group ranked by the same calc — the option chain flowing through one
    // plan (each passes alone in q48/q46/q49; this is the combined oracle)
    "q50_growth_top_mh" -> ((spark: SparkSession, sfDir: String) => {
      new CubePlanner(salesMH, new TpchStar.Resolver(sfDir)).plan(spark, CubeQuery(
        drilldowns = Seq(drill("Ship Time.By Month.Month"), drill("Return Flag.Return Flag")),
        measures = Seq(mea("Quantity")),
        growth = Some(growthQ("Ship Time.By Month.Month,Quantity")),
        topWhere = Some(TopWhereQuery.parse("growth,lt.0").fold(die, identity)),
        top = Some(topQ("3,Return Flag.Return Flag,growth,asc")),
        sort = Some(SortQuery.parse("growth.asc").fold(die, identity))))
    }),
    // §2.2: grouped median + custom-template measure in ONE query — the
    // two-pass frame joins a parallel single-pass custom aggregate at the
    // drill grain (the reference's pass-2 Custom is half-implemented and
    // can't do this, aggregator.rs:200-212)
    "q43_median_custom" -> run(CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      measures = Seq(mea("Median Order Quantity"), mea("Revenue"), mea("Quantity")))),
    // pre-aggregated summary routing: materialize (Nation, Year) once, then
    // answer a Region rollup + Year cut from the summary parquet (the plan
    // never touches the fact) — identical to the base-fact oracle
    "q44_preagg" -> ((spark: SparkSession, sfDir: String) => {
      val base = TpchStar.planner(sfDir)
      val grain = Seq(
        LevelName("Geography", "Geography", "Nation"),
        LevelName("Ship Date", "Ship Date", "Year"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_preagg_${sfDir.hashCode.toHexString}"
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS")))
        plan.Preagg.materialize(spark, base, TpchStar.salesCube, grain, path)
      val derived = plan.Preagg.derivedCube(TpchStar.salesCube, grain, TableDef("__summary"))
      val summary = new CubePlanner(derived,
        new sources.FormatResolver(Map("__summary" -> sources.SourceSpec(path))))
      new plan.PreaggPlanner(base, summary).plan(spark, CubeQuery(
        drilldowns = Seq(drill("Geography.Region")),
        cuts = Seq(cut("Ship Date.Year.1996,1997")),
        measures = Seq(mea("Quantity"), mea("Row Count"))))
    }),
    // #12 sorted by the rca calc: top nations per brand by RCA
    "q41_top_rca" -> run(CubeQuery(
      measures = Seq(mea("Quantity")),
      rca = Some(rcaQ("Geography.Nation,Part.Brand,Quantity")),
      top = Some(topQ("2,Part.Brand,rca,desc")))),
    // §1.2 shared dimensions: one conformed `Market` dim declared once,
    // instantiated by two cubes via dimension_usages with different
    // foreign keys (schema.rs:72-126); drill-across join on the shared
    // Region level proves both usages resolve the same definition
    "q51_shared_dim" -> ((spark: SparkSession, sfDir: String) => {
      val schema = SchemaJson.parse(sharedSchemaJson)
      val res = new TpchStar.Resolver(sfDir)
      def planOn(cubeName: String, ms: Seq[String]): DataFrame =
        new CubePlanner(schema.cube(cubeName).getOrElse(die(s"$cubeName missing")), res)
          .plan(spark, CubeQuery(
            drilldowns = Seq(drill("Market.Region")),
            measures = ms.map(mea)))
      planOn("Suppliers", Seq("Supplier Count", "Supplier Balance"))
        .join(planOn("Customers", Seq("Customer Count", "Customer Balance")),
          Seq("Region ID", "Region"))
    }),
    // round 16: the rca fan-out served by the fused single plan
    // (CubePlanner.planFanOutFusedRca) — ONE __combo-keyed a-grain
    // aggregate, pinned and re-aggregated for b/c/d (one fact scan,
    // no Expand; asserted by ScaleInvariantsSpec), replaces the N member
    // plans; each combo gains a DIFFERENT added drilldown (Year vs
    // Month), exercising the null-padded union grain under the shared
    // aggregate. Oracle = UNION ALL of the member rca computations (the
    // q31 consolidation contract applied to rca).
    "q53_rca_fanout" -> ((spark: SparkSession, sfDir: String) =>
      new LogicLayer(TpchStar.planner(sfDir), namedSets)
        .plan(spark, LogicLayerQuery(
          drilldowns = Nil,
          cuts = Seq(cut("Ship Date.Year.1996,1997"), cut("Ship Date.Month.3,4")),
          measures = Seq(mea("Quantity")),
          rca = Some(rcaQ("Geography.Nation,Part.Brand,Quantity"))))),
    // round 17: rca over a NON-re-aggregable (avg-class) measure — the
    // grouping-sets branch of planRca, where every grain must aggregate
    // from raw rows (round 16's one-scan split left this branch otherwise
    // ungated). Oracle = four grouped-from-raw subqueries joined on their
    // grains (rca.rs:50-283 semantics).
    "q54_rca_avg" -> run(CubeQuery(
      measures = Seq(mea("Quantity")),
      rca = Some(rcaQ("Geography.Nation,Part.Brand,Avg Discount")))),
    // round 17: rca over a DECIMAL weighted sum — the re-aggregable
    // one-scan branch with the a grain kept in its native decimal type
    // (b/c/d sums stay exact; doubles only at the grain boundary). The
    // oracle's per-grain decimal sums match EXACTLY only because of that.
    "q55_rca_wsum" -> run(CubeQuery(
      measures = Seq(mea("Quantity")),
      rca = Some(rcaQ("Geography.Nation,Part.Brand,Weighted Discount")))),
    // round 18: rca over a MAX measure — newly routed through the
    // one-scan re-aggregation branch (max of per-grain maxes is the raw
    // max, so b/c/d roll up losslessly from the pinned a grain; asserted
    // plan-shape in ScaleInvariantsSpec). Oracle = four grouped-from-raw
    // max subqueries joined on their grains, the q54 pattern.
    "q56_rca_max" -> run(CubeQuery(
      measures = Seq(mea("Quantity")),
      rca = Some(rcaQ("Geography.Nation,Part.Brand,Max Price"))))
  )

  // ------------------------------------------------------------ oracle SQL

  // decimal-exact oracle fragments: sums run in DECIMAL, the final cast to
  // DOUBLE goes through VARCHAR so DuckDB correctly-rounds exactly like
  // JVM BigDecimal.doubleValue
  private def d2d(e: String): String = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
  private val QD = "CAST(l_quantity AS DECIMAL(12,6))"
  // 24 digits (not 18): keeps DuckDB's decimal products in INT128 — it
  // refuses to auto-widen an INT64×INT64 product that might overflow
  private val PD = "CAST(l_extendedprice AS DECIMAL(24,6))"
  private val DD = "CAST(l_discount AS DECIMAL(8,6))"
  private val TD = "CAST(l_tax AS DECIMAL(8,6))"

  def oracleSql: Map[String, String] = graft.pipeline.PipelineOracles.oracleSql ++ Map(
    "q01_agg" ->
      s"""SELECT l_returnflag AS "Return Flag", l_linestatus AS "Line Status", sum(l_quantity) AS "Quantity", ${d2d(s"sum($PD)")} AS "Extended Price", CAST(CAST(sum($PD * (1 - $DD)) AS VARCHAR) AS DOUBLE) AS "Revenue", count(l_orderkey) AS "Row Count" FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q02_dim_join" ->
      s"""SELECT n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity", CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS VARCHAR) AS DOUBLE) AS "Revenue" FROM $GEO GROUP BY 1, 2 ORDER BY 1, 2""",
    "q03_multi_dim" ->
      s"""SELECT r_regionkey AS "Region ID", r_name AS "Region", year(l_shipdate) AS "Year", sum(l_quantity) AS "Quantity", count(l_orderkey) AS "Row Count" FROM $GEO GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q04_cut_in" ->
      s"""SELECT n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity" FROM $GEO WHERE r_regionkey IN (0, 2) GROUP BY 1, 2 ORDER BY 1, 2""",
    "q05_cut_exclude" ->
      s"""SELECT n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity" FROM $GEO WHERE r_regionkey NOT IN (1) GROUP BY 1, 2 ORDER BY 1, 2""",
    "q06_cut_like" ->
      s"""SELECT c_mktsegment AS "Segment", sum(l_quantity) AS "Quantity" FROM $CUST WHERE c_mktsegment LIKE '%IN%' GROUP BY 1 ORDER BY 1""",
    "q07_having" ->
      s"""SELECT n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity", count(l_orderkey) AS "Row Count" FROM $GEO GROUP BY 1, 2 HAVING sum(l_quantity) > 60000 AND sum(l_quantity) < 100000000 ORDER BY 1, 2""",
    "q08_top" ->
      s"""WITH a AS (SELECT r_regionkey AS "Region ID", r_name AS "Region", n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity" FROM $GEO GROUP BY 1, 2, 3, 4) SELECT * FROM a QUALIFY row_number() OVER (PARTITION BY "Region ID" ORDER BY "Quantity" DESC, "Region" ASC, "Nation ID" ASC, "Nation" ASC) <= 2 ORDER BY "Region ID" ASC, "Quantity" DESC""",
    "q09_top_where" ->
      s"""WITH a AS (SELECT r_regionkey AS "Region ID", r_name AS "Region", n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity" FROM $GEO GROUP BY 1, 2, 3, 4) SELECT * FROM a WHERE "Quantity" > 50000 QUALIFY row_number() OVER (PARTITION BY "Region ID" ORDER BY "Quantity" DESC, "Region" ASC, "Nation ID" ASC, "Nation" ASC) <= 3 ORDER BY "Region ID" ASC, "Quantity" DESC""",
    "q10_sort_limit" ->
      s"""SELECT n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity" FROM $GEO GROUP BY 1, 2 ORDER BY "Quantity" DESC, 1, 2 LIMIT 5""",
    "q11_limit_offset" ->
      s"""SELECT n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity" FROM $GEO GROUP BY 1, 2 ORDER BY 1, 2 LIMIT 7 OFFSET 3""",
    "q12_parents" ->
      s"""SELECT r_regionkey AS "Region ID", r_name AS "Region", n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity" FROM $GEO GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""",
    "q13_props" ->
      """SELECT p_partkey AS "Part ID", p_name AS "Part", p_type AS "Part Type", p_size AS "Part Size", sum(l_quantity) AS "Quantity" FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""",
    "q14_inline" ->
      """SELECT class_idx AS "Return Class ID", class_name AS "Return Class", sum(l_quantity) AS "Quantity", CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS VARCHAR) AS DOUBLE) AS "Revenue" FROM lineitem JOIN (VALUES ('A', 'Returned', 1), ('N', 'Kept', 2), ('R', 'Refused', 3)) AS rc(flag, class_name, class_idx) ON l_returnflag = rc.flag GROUP BY 1, 2 ORDER BY 1, 2""",
    "q15_growth" ->
      s"""WITH a AS (SELECT n_nationkey AS "Nation ID", n_name AS "Nation", year(l_shipdate) AS "Year", sum(l_quantity) AS "Quantity" FROM $GEO GROUP BY 1, 2, 3) SELECT "Nation ID", "Nation", "Year", "Quantity", ("Quantity" - lag("Quantity") OVER w) / lag("Quantity") OVER w AS "Quantity Growth", "Quantity" - lag("Quantity") OVER w AS "Quantity Growth Value" FROM a WINDOW w AS (PARTITION BY "Nation ID" ORDER BY "Year") ORDER BY "Nation ID", "Nation", "Year"""",
    "q16_rca" ->
      s"""WITH a AS (SELECT n_nationkey AS "Nation ID", n_name AS "Nation", p_brand AS "Brand", sum(l_quantity) AS a, sum(l_quantity) AS "Quantity" FROM $GEO JOIN part ON l_partkey = p_partkey GROUP BY 1, 2, 3) SELECT "Nation ID", "Nation", "Brand", (a / sum(a) OVER (PARTITION BY "Brand")) / (sum(a) OVER (PARTITION BY "Nation ID") / sum(a) OVER ()) AS "Quantity RCA", "Quantity" FROM a ORDER BY "Nation ID", "Nation", "Brand"""",
    "q17_rate" ->
      s"""SELECT year(l_shipdate) AS "Year", sum(l_quantity) AS "Quantity", sum(CASE WHEN r_regionkey IN (0, 2) THEN l_quantity END) / sum(l_quantity) AS "Rate" FROM $GEO GROUP BY 1 HAVING sum(CASE WHEN r_regionkey IN (0, 2) THEN l_quantity END) IS NOT NULL ORDER BY 1""",
    "q18_weighted" ->
      s"""SELECT l_returnflag AS "Return Flag", ${d2d(s"sum($PD * $QD)")} / ${d2d(s"sum($QD)")} AS "Weighted Avg Price", ${d2d(s"sum($DD * $QD)")} AS "Weighted Discount" FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q19_moe" ->
      """SELECT l_linestatus AS "Line Status", 1.645 * sqrt(sum(l_quantity * l_quantity) / (1.645 * 1.645)) AS "Quantity MOE" FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q20_median" ->
      """WITH p AS (SELECT l_returnflag AS f, l_orderkey AS o, sum(l_quantity) AS m FROM lineitem GROUP BY 1, 2) SELECT f AS "Return Flag", median(m) AS "Median Order Quantity", sum(m) AS "Quantity" FROM p GROUP BY 1 ORDER BY 1""",
    "q21_sparse_avg" ->
      s"""SELECT n_nationkey AS "Nation ID", n_name AS "Nation", ${d2d("sum(CAST(l_discount AS DECIMAL(18,9)))")} / count(l_discount) AS "Avg Discount", max(l_extendedprice) AS "Max Price", min(l_extendedprice) AS "Min Price" FROM $GEO GROUP BY 1, 2 HAVING ${d2d("sum(CAST(l_discount AS DECIMAL(18,9)))")} / count(l_discount) IS NOT NULL AND max(l_extendedprice) IS NOT NULL AND min(l_extendedprice) IS NOT NULL ORDER BY 1, 2""",
    "q22_default_member" ->
      """SELECT year(l_shipdate) AS "Year", sum(l_quantity) AS "Quantity" FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1 ORDER BY 1""",
    "q23_exclude_default" ->
      """SELECT year(l_shipdate) AS "Year", sum(l_quantity) AS "Quantity" FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q24_year_month" ->
      """SELECT year(l_shipdate) AS "Year", month(l_shipdate) AS "Month", sum(l_quantity) AS "Quantity", count(l_orderkey) AS "Row Count" FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q25_members" ->
      """SELECT DISTINCT n_nationkey, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey ORDER BY n_nationkey""",
    "q26_cut_only" ->
      s"""SELECT sum(l_quantity) AS "Quantity" FROM $GEO WHERE r_regionkey = 3""",
    "q27_degenerate_cut" ->
      """SELECT l_returnflag AS "Return Flag", sum(l_quantity) AS "Quantity" FROM lineitem WHERE year(l_shipdate) IN (1996, 1997) GROUP BY 1 ORDER BY 1""",
    "q45_ll_locale" ->
      """SELECT p_partkey AS "Part ID", p_brand AS "Part", sum(l_quantity) AS "Quantity" FROM lineitem JOIN part ON l_partkey = p_partkey WHERE l_suppkey IN (SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_regionkey = 1) GROUP BY 1, 2 ORDER BY 1, 2""",
    "q46_ll_topwhere" ->
      s"""WITH a AS (SELECT r_regionkey AS "Region ID", r_name AS "Region", n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity" FROM $GEO GROUP BY 1, 2, 3, 4) SELECT * FROM a WHERE "Quantity" > 50000 QUALIFY row_number() OVER (PARTITION BY "Region ID" ORDER BY "Quantity" DESC, "Region" ASC, "Nation ID" ASC, "Nation" ASC) <= 3 ORDER BY "Region ID" ASC, "Quantity" DESC""",
    "q31_cut_fanout" ->
      s"""WITH u AS (SELECT year(l_shipdate) AS "Year", r_regionkey AS "Region ID", r_name AS "Region", sum(l_quantity) AS "Quantity" FROM $GEO WHERE r_regionkey IN (0, 2) GROUP BY 1, 2, 3 UNION ALL SELECT year(l_shipdate), n_nationkey, n_name, sum(l_quantity) FROM $GEO WHERE n_nationkey IN (1, 2, 3) GROUP BY 1, 2, 3) SELECT * FROM u ORDER BY "Year", "Region ID", "Region", "Quantity"""",
    // the fused single-plan strategy must produce exactly the fan-out's
    // answer — q31's oracle IS q52's oracle
    "q52_ll_fused" ->
      s"""WITH u AS (SELECT year(l_shipdate) AS "Year", r_regionkey AS "Region ID", r_name AS "Region", sum(l_quantity) AS "Quantity" FROM $GEO WHERE r_regionkey IN (0, 2) GROUP BY 1, 2, 3 UNION ALL SELECT year(l_shipdate), n_nationkey, n_name, sum(l_quantity) FROM $GEO WHERE n_nationkey IN (1, 2, 3) GROUP BY 1, 2, 3) SELECT * FROM u ORDER BY "Year", "Region ID", "Region", "Quantity"""",
    "q32_exclude" ->
      s"""SELECT * FROM (SELECT n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity" FROM $GEO WHERE r_regionkey IN (0, 2) GROUP BY 1, 2) WHERE "Nation ID" NOT IN (5, 10) ORDER BY 1, 2""",
    "q33_captions" ->
      """SELECT p_partkey AS "Part ID", p_brand AS "Part", sum(l_quantity) AS "Quantity" FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2 ORDER BY 1, 2""",
    "q34_json_schema" ->
      s"""SELECT r_regionkey AS "Region ID", r_name AS "Region", sum(l_quantity) AS "Quantity", ${d2d(s"sum($DD * $QD)")} AS "Weighted Discount" FROM $GEO GROUP BY 1, 2 ORDER BY 1, 2""",
    "q35_time_latest" ->
      s"""SELECT r_regionkey AS "Region ID", r_name AS "Region", sum(l_quantity) AS "Quantity" FROM $GEO WHERE year(l_shipdate) = (SELECT max(year(l_shipdate)) FROM lineitem) GROUP BY 1, 2 ORDER BY 1, 2""",
    "q36_cut_children" ->
      s"""SELECT n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity" FROM $GEO WHERE n_nationkey IN (SELECT DISTINCT n_nationkey FROM supplier JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE r_regionkey = 1) GROUP BY 1, 2 ORDER BY 1, 2""",
    "q37_named_set" ->
      s"""SELECT n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity" FROM $GEO WHERE r_regionkey IN (1, 2) GROUP BY 1, 2 ORDER BY 1, 2""",
    "q38_rca_debug" ->
      s"""WITH a AS (SELECT n_nationkey AS "Nation ID", n_name AS "Nation", p_brand AS "Brand", sum(l_quantity) AS __rca_a, sum(l_quantity) AS "Quantity" FROM $GEO JOIN part ON l_partkey = p_partkey GROUP BY 1, 2, 3), g AS (SELECT "Nation ID", "Nation", "Brand", __rca_a, sum(__rca_a) OVER (PARTITION BY "Brand") AS __rca_b, sum(__rca_a) OVER (PARTITION BY "Nation ID") AS __rca_c, sum(__rca_a) OVER () AS __rca_d, "Quantity" FROM a) SELECT "Nation ID", "Nation", "Brand", __rca_a, __rca_b, __rca_c, __rca_d, (__rca_a / __rca_b) / (__rca_c / __rca_d) AS "Quantity RCA", "Quantity" FROM g ORDER BY "Nation ID", "Nation", "Brand"""",
    "q39_growth_filter" ->
      s"""WITH a AS (SELECT n_nationkey AS "Nation ID", n_name AS "Nation", year(l_shipdate) AS "Year", sum(l_quantity) AS "Quantity" FROM $GEO GROUP BY 1, 2, 3), g AS (SELECT "Nation ID", "Nation", "Year", "Quantity", ("Quantity" - lag("Quantity") OVER w) / lag("Quantity") OVER w AS "Quantity Growth", "Quantity" - lag("Quantity") OVER w AS "Quantity Growth Value" FROM a WINDOW w AS (PARTITION BY "Nation ID" ORDER BY "Year")) SELECT * FROM g WHERE "Quantity Growth" < 0 ORDER BY "Quantity Growth" ASC, "Nation ID", "Nation", "Year"""",
    "q49_multi_hierarchy" ->
      """SELECT month(l_shipdate) AS "Month", l_returnflag AS "Return Flag", sum(l_quantity) AS "Quantity" FROM lineitem WHERE month(l_shipdate) IN (1, 2, 3) GROUP BY 1, 2 ORDER BY 1, 2""",
    "q50_growth_top_mh" ->
      """WITH a AS (SELECT month(l_shipdate) AS "Month", l_returnflag AS "Return Flag", sum(l_quantity) AS "Quantity" FROM lineitem GROUP BY 1, 2), g AS (SELECT "Month", "Return Flag", "Quantity", ("Quantity" - lag("Quantity") OVER w) / lag("Quantity") OVER w AS "Quantity Growth", "Quantity" - lag("Quantity") OVER w AS "Quantity Growth Value" FROM a WINDOW w AS (PARTITION BY "Return Flag" ORDER BY "Month")), f AS (SELECT * FROM g WHERE "Quantity Growth" < 0) SELECT * FROM f QUALIFY row_number() OVER (PARTITION BY "Return Flag" ORDER BY "Quantity Growth" ASC, "Month" ASC) <= 3 ORDER BY "Quantity Growth" ASC, "Month" ASC, "Return Flag" ASC""",
    "q48_growth_timeonly" ->
      """WITH a AS (SELECT year(l_shipdate) AS "Year", sum(l_quantity) AS "Quantity" FROM lineitem GROUP BY 1) SELECT "Year", "Quantity", ("Quantity" - lag("Quantity") OVER w) / lag("Quantity") OVER w AS "Quantity Growth", "Quantity" - lag("Quantity") OVER w AS "Quantity Growth Value" FROM a WINDOW w AS (ORDER BY "Year") ORDER BY "Year"""",
    "q40_growth_month" ->
      """WITH a AS (SELECT l_returnflag AS "Return Flag", year(l_shipdate) AS "Year", month(l_shipdate) AS "Month", sum(l_quantity) AS "Quantity" FROM lineitem GROUP BY 1, 2, 3) SELECT "Return Flag", "Year", "Month", "Quantity", ("Quantity" - lag("Quantity") OVER w) / lag("Quantity") OVER w AS "Quantity Growth", "Quantity" - lag("Quantity") OVER w AS "Quantity Growth Value" FROM a WINDOW w AS (PARTITION BY "Return Flag" ORDER BY "Year", "Month") ORDER BY "Return Flag", "Year", "Month"""",
    "q53_rca_fanout" ->
      s"""WITH a1 AS (SELECT year(l_shipdate) AS yr, n_nationkey AS nid, n_name AS nname, p_brand AS brand, sum(l_quantity) AS av, sum(l_quantity) AS q FROM $GEO JOIN part ON l_partkey = p_partkey WHERE year(l_shipdate) IN (1996, 1997) GROUP BY 1, 2, 3, 4), m1 AS (SELECT yr, nid, nname, brand, (av / sum(av) OVER (PARTITION BY yr, brand)) / (sum(av) OVER (PARTITION BY yr, nid) / sum(av) OVER (PARTITION BY yr)) AS rca, q FROM a1), a2 AS (SELECT month(l_shipdate) AS mo, n_nationkey AS nid, n_name AS nname, p_brand AS brand, sum(l_quantity) AS av, sum(l_quantity) AS q FROM $GEO JOIN part ON l_partkey = p_partkey WHERE month(l_shipdate) IN (3, 4) GROUP BY 1, 2, 3, 4), m2 AS (SELECT mo, nid, nname, brand, (av / sum(av) OVER (PARTITION BY mo, brand)) / (sum(av) OVER (PARTITION BY mo, nid) / sum(av) OVER (PARTITION BY mo)) AS rca, q FROM a2), u AS (SELECT yr AS "Year", nid AS "Nation ID", nname AS "Nation", brand AS "Brand", rca AS "Quantity RCA", q AS "Quantity" FROM m1 UNION ALL SELECT mo, nid, nname, brand, rca, q FROM m2) SELECT * FROM u ORDER BY 1, 2, 3, 4, 5, 6""",
    "q41_top_rca" ->
      s"""WITH a AS (SELECT n_nationkey AS "Nation ID", n_name AS "Nation", p_brand AS "Brand", sum(l_quantity) AS a, sum(l_quantity) AS "Quantity" FROM $GEO JOIN part ON l_partkey = p_partkey GROUP BY 1, 2, 3), g AS (SELECT "Nation ID", "Nation", "Brand", (a / sum(a) OVER (PARTITION BY "Brand")) / (sum(a) OVER (PARTITION BY "Nation ID") / sum(a) OVER ()) AS "Quantity RCA", "Quantity" FROM a) SELECT * FROM g QUALIFY row_number() OVER (PARTITION BY "Brand" ORDER BY "Quantity RCA" DESC, "Nation ID" ASC, "Nation" ASC) <= 2 ORDER BY "Brand" ASC, "Quantity RCA" DESC""",
    "q54_rca_avg" -> {
      val from = s"$GEO JOIN part ON l_partkey = p_partkey"
      val avgd = s"${d2d("sum(CAST(l_discount AS DECIMAL(18,9)))")} / count(l_discount)"
      s"""WITH a AS (SELECT n_nationkey AS nid, n_name AS nname, p_brand AS brand, $avgd AS av, sum(l_quantity) AS q FROM $from GROUP BY 1, 2, 3), bfr AS (SELECT p_brand AS brand, $avgd AS bv FROM $from GROUP BY 1), cfr AS (SELECT n_nationkey AS nid, $avgd AS cv FROM $from GROUP BY 1), dfr AS (SELECT $avgd AS dv FROM $from) SELECT a.nid AS "Nation ID", a.nname AS "Nation", a.brand AS "Brand", (av / bv) / (cv / dv) AS "Avg Discount RCA", q AS "Quantity" FROM a JOIN bfr ON a.brand = bfr.brand JOIN cfr ON a.nid = cfr.nid CROSS JOIN dfr ORDER BY 1, 2, 3"""
    },
    "q55_rca_wsum" -> {
      val from = s"$GEO JOIN part ON l_partkey = p_partkey"
      val ws = d2d(s"sum($DD * $QD)")
      s"""WITH a AS (SELECT n_nationkey AS nid, n_name AS nname, p_brand AS brand, $ws AS av, sum(l_quantity) AS q FROM $from GROUP BY 1, 2, 3), bfr AS (SELECT p_brand AS brand, $ws AS bv FROM $from GROUP BY 1), cfr AS (SELECT n_nationkey AS nid, $ws AS cv FROM $from GROUP BY 1), dfr AS (SELECT $ws AS dv FROM $from) SELECT a.nid AS "Nation ID", a.nname AS "Nation", a.brand AS "Brand", (av / bv) / (cv / dv) AS "Weighted Discount RCA", q AS "Quantity" FROM a JOIN bfr ON a.brand = bfr.brand JOIN cfr ON a.nid = cfr.nid CROSS JOIN dfr ORDER BY 1, 2, 3"""
    },
    "q56_rca_max" -> {
      val from = s"$GEO JOIN part ON l_partkey = p_partkey"
      val mx = "max(l_extendedprice)"
      s"""WITH a AS (SELECT n_nationkey AS nid, n_name AS nname, p_brand AS brand, $mx AS av, sum(l_quantity) AS q FROM $from GROUP BY 1, 2, 3), bfr AS (SELECT p_brand AS brand, $mx AS bv FROM $from GROUP BY 1), cfr AS (SELECT n_nationkey AS nid, $mx AS cv FROM $from GROUP BY 1), dfr AS (SELECT $mx AS dv FROM $from) SELECT a.nid AS "Nation ID", a.nname AS "Nation", a.brand AS "Brand", (av / bv) / (cv / dv) AS "Max Price RCA", q AS "Quantity" FROM a JOIN bfr ON a.brand = bfr.brand JOIN cfr ON a.nid = cfr.nid CROSS JOIN dfr ORDER BY 1, 2, 3"""
    },
    "q44_preagg" ->
      s"""SELECT r_regionkey AS "Region ID", r_name AS "Region", sum(l_quantity) AS "Quantity", count(l_orderkey) AS "Row Count" FROM $GEO WHERE year(l_shipdate) IN (1996, 1997) GROUP BY 1, 2 ORDER BY 1, 2""",
    "q43_median_custom" ->
      s"""WITH p AS (SELECT l_returnflag AS f, l_orderkey AS o, sum(l_quantity) AS m FROM lineitem GROUP BY 1, 2), med AS (SELECT f, median(m) AS mo, sum(m) AS q FROM p GROUP BY 1), rev AS (SELECT l_returnflag AS f, CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS VARCHAR) AS DOUBLE) AS r FROM lineitem GROUP BY 1) SELECT med.f AS "Return Flag", med.mo AS "Median Order Quantity", rev.r AS "Revenue", med.q AS "Quantity" FROM med JOIN rev ON med.f = rev.f ORDER BY 1""",
    "q42_xml_schema" ->
      s"""SELECT n_nationkey AS "Nation ID", n_name AS "Nation", sum(l_quantity) AS "Quantity", ${d2d(s"sum($DD * $QD)")} AS "Weighted Discount" FROM $GEO WHERE r_regionkey IN (1, 3) GROUP BY 1, 2 ORDER BY 1, 2""",
    "q51_shared_dim" ->
      s"""WITH s AS (SELECT r_regionkey AS "Region ID", r_name AS "Region", count(s_suppkey) AS "Supplier Count", ${d2d("sum(CAST(s_acctbal AS DECIMAL(18,6)))")} AS "Supplier Balance" FROM supplier JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2), c AS (SELECT r_regionkey AS "Region ID", r_name AS "Region", count(c_custkey) AS "Customer Count", ${d2d("sum(CAST(c_acctbal AS DECIMAL(18,6)))")} AS "Customer Balance" FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2) SELECT s."Region ID", s."Region", s."Supplier Count", s."Supplier Balance", c."Customer Count", c."Customer Balance" FROM s JOIN c ON s."Region ID" = c."Region ID" ORDER BY 1""",
    "q29_rw_moe" ->
      s"""WITH a AS (SELECT l_returnflag, ${d2d(s"sum($QD) - sum($TD)")} AS d0, ${d2d(s"sum($QD) - sum($DD)")} AS d1 FROM lineitem GROUP BY 1) SELECT l_returnflag AS "Return Flag", 1.645 * sqrt(2.0 * (d0 * d0 + d1 * d1)) AS "Quantity RW MOE" FROM a ORDER BY 1""",
    "q30_wavg_moe" ->
      s"""WITH a AS (SELECT l_linestatus, ${d2d(s"sum($PD * $QD)")} / ${d2d(s"sum($QD)")} AS pavg, ${d2d(s"sum($PD * $TD)")} / ${d2d(s"sum($TD)")} AS savg0, ${d2d(s"sum($PD * $DD)")} / ${d2d(s"sum($DD)")} AS savg1 FROM lineitem GROUP BY 1) SELECT l_linestatus AS "Line Status", 1.645 * sqrt(2.0 * ((pavg - savg0) * (pavg - savg0) + (pavg - savg1) * (pavg - savg1))) AS "Price WAvg MOE" FROM a ORDER BY 1""",
    "q47_approx_distinct" ->
      """WITH d AS (SELECT DISTINCT l_returnflag AS f, CAST(list_sum([ (strpos('0123456789abcdef', substr(md5(CAST(l_partkey AS VARCHAR)), hx, 1)) - 1)::BIGINT * (1::BIGINT << (4*(12-hx))) FOR hx IN range(1, 13) ]) AS BIGINT) AS h FROM lineitem), r AS (SELECT f, h, row_number() OVER (PARTITION BY f ORDER BY h) AS rn FROM d), s AS (SELECT f, CAST(sum(CASE WHEN rn <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, CAST(max(CASE WHEN rn <= 64 THEN h END) AS BIGINT) AS kth FROM r GROUP BY f), n AS (SELECT l_returnflag AS f, count(*)::BIGINT AS rc FROM lineitem GROUP BY 1) SELECT s.f AS "Return Flag", CASE WHEN s.n_kept < 64 THEN CAST(s.n_kept AS DOUBLE) ELSE CAST(63 AS DOUBLE) * CAST(281474976710656 AS DOUBLE) / CAST(s.kth AS DOUBLE) END AS "Unique Parts", n.rc AS "Row Count" FROM s JOIN n ON s.f = n.f ORDER BY 1""",
    "q28_diagnosis" ->
      """SELECT * FROM (SELECT 'MissingDimensionIDs' AS check_name, 'Customer' AS dimension, (SELECT count(DISTINCT l_orderkey) FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders JOIN customer ON o_custkey = c_custkey WHERE o_orderkey = l_orderkey))::BIGINT AS n UNION ALL SELECT 'MissingDimensionIDs', 'Geography', (SELECT count(DISTINCT l_suppkey) FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM supplier JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey WHERE s_suppkey = l_suppkey))::BIGINT UNION ALL SELECT 'MissingDimensionIDs', 'Part', (SELECT count(DISTINCT l_partkey) FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey))::BIGINT UNION ALL SELECT 'NonUniqueDimensionIDs', 'Customer', (SELECT count(*) FROM (SELECT o_orderkey FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1 HAVING count(*) > 1))::BIGINT UNION ALL SELECT 'NonUniqueDimensionIDs', 'Geography', (SELECT count(*) FROM (SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY 1 HAVING count(*) > 1))::BIGINT UNION ALL SELECT 'NonUniqueDimensionIDs', 'Part', (SELECT count(*) FROM (SELECT p_partkey FROM part GROUP BY 1 HAVING count(*) > 1))::BIGINT) ORDER BY 1, 2"""
  )
}
