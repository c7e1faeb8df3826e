package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.plan.{CubePlanner, MemoizedResolver, TableResolver}

/** Binds the driver's TPC-H-ish star (`/root/testdata/sf*`) to a
  * tesseract-style cube (see FIXTURES.md §3).
  *
  * Snowflake dimensions (supplier→nation→region, orders→customer) are
  * resolved as *denormalized dim views* built lazily from the base parquet:
  * the reference models a snowflake hierarchy as one dim table per hierarchy
  * (tesseract-core/src/schema.rs:395-404); here that table is a join Catalyst
  * can collapse, prune, and broadcast per query.
  *
  * Scale notes: nation/region are tiny (broadcast); supplier/orders/customer
  * shuffle on their join key only, and only when the query actually touches
  * that hierarchy — untouched dims never enter the plan.
  */
object TpchStar {

  /** Resolves schema TableDefs to DataFrames under one scale-factor dir. */
  final class Resolver(sfDir: String) extends TableResolver {
    private def p(spark: SparkSession, name: String): DataFrame =
      spark.read.parquet(s"$sfDir/$name.parquet")

    def resolve(spark: SparkSession, table: TableDef): DataFrame = table.name match {
      case "lineitem" =>
        // degenerate time levels are derived columns on the fact scan;
        // cast to long so the oracle (DuckDB year()==BIGINT) type-matches.
        // *_dec columns back the weighted/MOE measures: DECIMAL sums are
        // associative, so results can't flap with partial-sum order.
        p(spark, "lineitem")
          .withColumn("l_shipyear", year(col("l_shipdate")).cast("long"))
          .withColumn("l_shipmonth", month(col("l_shipdate")).cast("long"))
          .withColumn("l_price_dec", col("l_extendedprice").cast("decimal(18,6)"))
          .withColumn("l_qty_dec", col("l_quantity").cast("decimal(12,6)"))
          .withColumn("l_disc_dec", col("l_discount").cast("decimal(8,6)"))
          .withColumn("l_tax_dec", col("l_tax").cast("decimal(8,6)"))
      case "supplier_geo" =>
        // supplier → nation → region denormalized. The explicit broadcast
        // hint pins this dim as the hash-join BUILD side: without it, a
        // column-pruned fact can fall under the auto-broadcast threshold at
        // small SF and Spark builds the hash map on the fact (BuildLeft) —
        // backwards at any scale. The resolver is where deployment knowledge
        // of dim sizes lives (the reference's schema writer plays this role).
        broadcast(
          p(spark, "supplier")
            .join(p(spark, "nation"), col("s_nationkey") === col("n_nationkey"))
            .join(p(spark, "region"), col("n_regionkey") === col("r_regionkey")))
      case "order_customer" =>
        // orders/customer scale with the fact — never hinted; Catalyst/AQE
        // picks shuffle vs broadcast from runtime stats
        p(spark, "orders")
          .join(p(spark, "customer"), col("o_custkey") === col("c_custkey"))
      case "nation_geo" =>
        // nation → region denormalized: the conformed dim table behind the
        // shared "Market" dimension (q51) — tiny, pinned broadcast like
        // supplier_geo
        broadcast(
          p(spark, "nation")
            .join(p(spark, "region"), col("n_regionkey") === col("r_regionkey")))
      case other => p(spark, other)
    }
  }

  /** Inline dim over l_returnflag (exercises the InlineTable operator —
    * reference schema.rs:441-486). */
  private val returnClassInline = InlineTable(
    alias = "return_classes",
    columns = Seq(
      InlineColumn("flag", MemberType.Text),
      InlineColumn("class_name", MemberType.Text),
      InlineColumn("class_idx", MemberType.NonText, castType = Some("Int32"))),
    rows = Seq(
      Seq("A", "Returned", "1"),
      Seq("N", "Kept", "2"),
      Seq("R", "Refused", "3")))

  private def dims(withDefaultMember: Boolean): Seq[Dimension] = Seq(
    Dimension("Ship Date", foreignKey = None, dimType = DimensionType.Time,
      hierarchies = Seq(Hierarchy("Ship Date", primaryKey = "l_shipyear",
        levels = Seq(
          // Year derives from l_shipdate: cuts add a scan-pushable
          // timestamp range next to the (opaque) year(l_shipdate) IN (...)
          Level("Year", "l_shipyear", keyType = MemberType.NonText,
            derivedFrom = Some(DerivedFrom("l_shipdate", "year"))),
          Level("Month", "l_shipmonth", keyType = MemberType.NonText))))),
    Dimension("Return Flag", foreignKey = None,
      hierarchies = Seq(Hierarchy("Return Flag", primaryKey = "l_returnflag",
        levels = Seq(Level("Return Flag", "l_returnflag"))))),
    Dimension("Line Status", foreignKey = None,
      hierarchies = Seq(Hierarchy("Line Status", primaryKey = "l_linestatus",
        levels = Seq(Level("Line Status", "l_linestatus"))))),
    Dimension("Part", foreignKey = Some("l_partkey"),
      hierarchies = Seq(Hierarchy("Part", table = Some(TableDef("part", primaryKey = Some("p_partkey"))),
        primaryKey = "p_partkey",
        levels = Seq(
          Level("Brand", "p_brand"),
          Level("Part", "p_partkey", nameColumn = Some("p_name"), keyType = MemberType.NonText,
            properties = Seq(
              PropertyDef("Part Type", "p_type"),
              PropertyDef("Part Size", "p_size"),
              // caption set: an alternate display-name column selected by
              // locale (reference schema.rs:566-589); p_brand stands in for
              // a translated name in the fixture
              PropertyDef("Part Caption Alt", "p_brand", captionSet = Some("alt")))))))),
    Dimension("Geography", foreignKey = Some("l_suppkey"), dimType = DimensionType.Geo,
      hierarchies = Seq(Hierarchy("Geography",
        table = Some(TableDef("supplier_geo", primaryKey = Some("s_suppkey"))),
        primaryKey = "s_suppkey",
        levels = Seq(
          Level("Region", "r_regionkey", nameColumn = Some("r_name"), keyType = MemberType.NonText),
          Level("Nation", "n_nationkey", nameColumn = Some("n_name"), keyType = MemberType.NonText),
          Level("Supplier", "s_suppkey", nameColumn = Some("s_name"), keyType = MemberType.NonText))))),
    Dimension("Customer", foreignKey = Some("l_orderkey"),
      hierarchies = Seq(Hierarchy("Customer",
        table = Some(TableDef("order_customer", primaryKey = Some("o_orderkey"))),
        primaryKey = "o_orderkey",
        levels = Seq(
          Level("Segment", "c_mktsegment"),
          Level("Customer", "c_custkey", nameColumn = Some("c_name"), keyType = MemberType.NonText),
          Level("Order", "o_orderkey", keyType = MemberType.NonText))))),
    Dimension("Return Class", foreignKey = Some("l_returnflag"),
      hierarchies = Seq(Hierarchy("Return Class",
        inlineTable = Some(returnClassInline),
        primaryKey = "flag",
        defaultMember = if (withDefaultMember) Some("Return Class.1") else None,
        levels = Seq(Level("Return Class", "class_idx",
          nameColumn = Some("class_name"), keyType = MemberType.NonText))))))

  // Determinism rule for every measure over non-integer-valued doubles:
  // sum in DECIMAL (associative — immune to partial-sum order), divide /
  // sqrt in double only at the end. l_quantity is integer-valued so its
  // double sums are already exact; l_extendedprice/l_discount/l_tax are not.
  private val measures = Seq(
    Measure("Quantity", "l_quantity", Aggregator.Sum),
    Measure("Extended Price", "l_extendedprice", Aggregator.Custom(
      "cast(sum(cast({} as decimal(18,6))) as double)")),
    Measure("Revenue", "l_extendedprice", Aggregator.Custom(
      "cast(sum(cast({} as decimal(18,6)) * (1 - cast(l_discount as decimal(8,6)))) as double)")),
    // nullif guard: a grain whose values are all NULL has count=0, and a
    // bare division would throw under Spark's ANSI default (reachable via
    // the rca grouping-sets grains over degenerate/custom cubes; TPC-H
    // data never hits it). NULL-on-zero is the DuckDB oracle's semantics.
    Measure("Avg Discount", "l_discount", Aggregator.Custom(
      "cast(sum(cast({} as decimal(18,9))) as double) / nullif(count({}), 0)")),
    Measure("Row Count", "l_orderkey", Aggregator.Count),
    Measure("Max Price", "l_extendedprice", Aggregator.Max),
    Measure("Min Price", "l_extendedprice", Aggregator.Min),
    Measure("Weighted Avg Price", "l_price_dec", Aggregator.WeightedAvg("l_qty_dec")),
    Measure("Weighted Discount", "l_disc_dec", Aggregator.WeightedSum("l_qty_dec")),
    Measure("Quantity MOE", "l_quantity", Aggregator.Moe(1.645)),
    Measure("Quantity RW MOE", "l_qty_dec",
      Aggregator.ReplicateWeightMoe(1.645, 4.0, Seq("l_tax_dec", "l_disc_dec"))),
    Measure("Price WAvg MOE", "l_price_dec",
      Aggregator.WeightedAverageMoe(1.645, 4.0, "l_qty_dec", Seq("l_tax_dec", "l_disc_dec"))),
    Measure("Median Order Quantity", "l_quantity",
      Aggregator.BasicGroupedMedian("sum", "Customer.Customer.Order")),
    Measure("Unique Parts", "l_partkey", Aggregator.ApproxDistinct(64)))

  /** The main Sales cube over lineitem. */
  val salesCube: Cube = Cube("Sales", TableDef("lineitem"), dims(false), measures)

  /** Variant whose Return Class dim carries a default member — exercises the
    * implicit default-member cut (reference lib.rs:324-388). */
  val salesCubeDM: Cube = Cube("SalesDM", TableDef("lineitem"), dims(true), measures)

  /** Full schema for the HTTP server. */
  val schema: Schema = Schema("Tpch", Seq(salesCube, salesCubeDM))

  /** Planners over memoized tables: each resolves the star once, then plans
    * every query over the same frames. */
  def planner(sfDir: String): CubePlanner =
    new CubePlanner(salesCube, new MemoizedResolver(new Resolver(sfDir)))
  def plannerDM(sfDir: String): CubePlanner =
    new CubePlanner(salesCubeDM, new MemoizedResolver(new Resolver(sfDir)))
}
