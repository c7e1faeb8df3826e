package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.engine.TpchStar
import graft.plan.{CubePlanner, PlanError}
import graft.SparkTestSession.{spark, SfDir}

/** The same cube query must answer identically whatever storage format the
  * resolver binds — the Spark analogue of the reference running one schema
  * against clickhouse/mysql/postgres backends. */
class SourcesSpec extends AnyFunSuite {

  private def die(m: String): Nothing = throw PlanError(m)
  private def drill(s: String) = Drilldown.parse(s).fold(die, identity)
  private def mea(s: String) = MeasureName.parse(s).fold(die, identity)

  private val q = CubeQuery(
    drilldowns = Seq(drill("Geography.Region")),
    measures = Seq(mea("Quantity"), mea("Row Count")))

  // minimal cube whose fact + snowflake dim resolve through the bindings
  private val cube = Cube("SalesFmt", TableDef("lineitem"), Seq(
    Dimension("Geography", foreignKey = Some("l_suppkey"),
      hierarchies = Seq(Hierarchy("Geography",
        table = Some(TableDef("supplier_geo", primaryKey = Some("s_suppkey"))),
        primaryKey = "s_suppkey",
        levels = Seq(Level("Region", "r_regionkey", nameColumn = Some("r_name"),
          keyType = MemberType.NonText)))))),
    Seq(Measure("Quantity", "l_quantity", Aggregator.Sum),
      Measure("Row Count", "l_orderkey", Aggregator.Count)))

  private def result(planner: CubePlanner): Seq[(Long, String, Double, Long)] =
    planner.plan(spark, q).collect()
      .map(r => (r.get(0).asInstanceOf[Number].longValue, r.getString(1),
        r.get(2).asInstanceOf[Number].doubleValue, r.get(3).asInstanceOf[Number].longValue))
      .toSeq

  test("csv and json fact sources answer identically to parquet") {
    val tmp = Files.createTempDirectory("graft_sources").toString
    val li = spark.read.parquet(s"$SfDir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey", "l_quantity")
    li.write.mode("overwrite").option("header", "true").csv(s"$tmp/lineitem_csv")
    li.write.mode("overwrite").json(s"$tmp/lineitem_json")

    import org.apache.spark.sql.functions.col
    val geo = spark.read.parquet(s"$SfDir/supplier.parquet")
      .join(spark.read.parquet(s"$SfDir/nation.parquet"),
        col("s_nationkey") === col("n_nationkey"))
      .join(spark.read.parquet(s"$SfDir/region.parquet"),
        col("n_regionkey") === col("r_regionkey"))
    geo.write.mode("overwrite").parquet(s"$tmp/supplier_geo")

    val liDdl = "l_orderkey BIGINT, l_suppkey BIGINT, l_quantity DOUBLE"
    def planner(fact: SourceSpec) = new CubePlanner(cube, new FormatResolver(Map(
      "lineitem"     -> fact,
      "supplier_geo" -> SourceSpec(s"$tmp/supplier_geo"))))

    val fromCsv = result(planner(SourceSpec(s"$tmp/lineitem_csv", "csv",
      Map("header" -> "true"), Some(liDdl))))
    val fromJson = result(planner(SourceSpec(s"$tmp/lineitem_json", "json",
      schemaDdl = Some(liDdl))))
    val fromParquet = result(new CubePlanner(cube,
      new FormatResolver(Map("supplier_geo" -> SourceSpec(s"$tmp/supplier_geo")),
        fallbackParquetDir = Some(SfDir))))

    assert(fromCsv == fromParquet)
    assert(fromJson == fromParquet)
    assert(fromParquet.nonEmpty)
  }

  test("unbound table without fallback is a PlanError") {
    val r = new FormatResolver(Map.empty)
    intercept[PlanError] { r.resolve(spark, TableDef("nope")) }
  }

  test("memoized resolver: one inner resolve per table and session, failures retried, concurrent first uses resolve once") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import graft.plan.{MemoizedResolver, TableResolver}
    final class Counting(failFirst: Int = 0, delayMs: Long = 0) extends TableResolver {
      val calls = new ConcurrentLinkedQueue[String]()
      private val failures = new AtomicInteger(failFirst)
      def resolve(s: SparkSession, t: TableDef): DataFrame = {
        calls.add(t.name)
        Thread.sleep(delayMs)
        if (failures.getAndDecrement() > 0) throw PlanError(s"no table '${t.name}' yet")
        s.range(1).toDF(t.name)
      }
    }
    val a = TableDef("a")
    val b = TableDef("b", primaryKey = Some("id"))

    // one inner call per TableDef; every later call is the same frame
    val c1 = new Counting()
    val m1 = new MemoizedResolver(c1)
    val fa = m1.resolve(spark, a)
    assert((1 to 3).forall(_ => m1.resolve(spark, a) eq fa))
    assert(m1.resolve(spark, b) ne fa)
    m1.resolve(spark, b)
    assert(c1.calls.toArray.toSeq == Seq("a", "b"))

    // a failed resolve is not stored: the next call retries and succeeds
    val c2 = new Counting(failFirst = 1)
    val m2 = new MemoizedResolver(c2)
    intercept[PlanError] { m2.resolve(spark, a) }
    val fa2 = m2.resolve(spark, a)
    assert(m2.resolve(spark, a) eq fa2)
    assert(c2.calls.size == 2)

    // another session resolves afresh, bound to that session
    val other = spark.newSession()
    val fo = m1.resolve(other, a)
    assert(fo.sparkSession eq other)
    assert(c1.calls.toArray.toSeq == Seq("a", "b", "a"))

    // 8 concurrent first calls make one inner call and share its frame
    val c3 = new Counting(delayMs = 200)
    val m3 = new MemoizedResolver(c3)
    val pool = Executors.newFixedThreadPool(8)
    val go = new CountDownLatch(1)
    try {
      val fs = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[DataFrame] {
        def call(): DataFrame = { go.await(); m3.resolve(spark, a) }
      }))
      go.countDown()
      val frames = fs.map(_.get(30, TimeUnit.SECONDS))
      assert(frames.forall(_ eq frames.head))
      assert(c3.calls.size == 1)
    } finally pool.shutdownNow()
  }

  test("bucketed tables join without any exchange; results match the shuffled join") {
    import org.apache.spark.sql.functions.{col, sum}
    val tmp = Files.createTempDirectory("graft_bucket").toString
    val li = spark.read.parquet(s"$SfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val ord = spark.read.parquet(s"$SfDir/orders.parquet")
      .select("o_orderkey", "o_custkey")
    Bucketing.writeBucketed(li, "li_b", s"$tmp/li", Seq("l_orderkey"), 8)
    Bucketing.writeBucketed(ord, "ord_b", s"$tmp/ord", Seq("o_orderkey"), 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the non-broadcast path
    try {
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan.take(500))
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n${plan.take(1500)}")
      val got = joined.agg(sum("l_quantity")).head().getDouble(0)
      val want = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(sum("l_quantity")).head().getDouble(0)
      assert(got == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b"); spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("sink writes a lang-partitioned corpus that reads back complete") {
    val tmp = Files.createTempDirectory("graft_sink").toString
    val docs = spark.read.parquet(s"$SfDir/documents.parquet")
    Sinks.write(docs, s"$tmp/corpus", partitionBy = Seq("lang"))
    val back = spark.read.parquet(s"$tmp/corpus")
    assert(back.count() == docs.count())
    // partition pruning: a lang filter must prune to that partition's rows
    val en = docs.where("lang = 'en'").count()
    assert(back.where("lang = 'en'").count() == en)
    assert(Files.list(java.nio.file.Paths.get(s"$tmp/corpus")).toArray
      .map(_.toString).exists(_.contains("lang=")), "hive-style partition dirs")
  }

  test("year-partitioned fact: year cuts become partition filters, results unchanged") {
    import org.apache.spark.sql.functions._
    // the 100 TB layout: the fact lands date-partitioned, so time cuts
    // prune whole directories instead of row-filtering every file
    val tmp = Files.createTempDirectory("graft_part").toString
    spark.read.parquet(s"$SfDir/lineitem.parquet")
      .withColumn("l_shipyear", year(col("l_shipdate")).cast("long"))
      .write.mode("overwrite").partitionBy("l_shipyear").parquet(s"$tmp/lineitem")

    val base = new TpchStar.Resolver(SfDir)
    val partRes = new graft.plan.TableResolver {
      def resolve(s: org.apache.spark.sql.SparkSession, t: TableDef) = t.name match {
        case "lineitem" =>
          // partition-column values read back as int; planner cuts are long
          s.read.parquet(s"$tmp/lineitem")
            .withColumn("l_shipyear", col("l_shipyear").cast("long"))
            .withColumn("l_shipmonth", month(col("l_shipdate")).cast("long"))
            .withColumn("l_price_dec", col("l_extendedprice").cast("decimal(18,6)"))
            .withColumn("l_qty_dec", col("l_quantity").cast("decimal(12,6)"))
            .withColumn("l_disc_dec", col("l_discount").cast("decimal(8,6)"))
            .withColumn("l_tax_dec", col("l_tax").cast("decimal(8,6)"))
        case _ => base.resolve(s, t)
      }
    }
    val yearQ = CubeQuery(
      drilldowns = Seq(drill("Return Flag.Return Flag")),
      cuts = Seq(CutSpec.parse("Ship Date.Year.1996").fold(die, identity)),
      measures = Seq(mea("Quantity")))
    val partPlanner = new CubePlanner(TpchStar.salesCube, partRes)
    val df = partPlanner.plan(spark, yearQ)
    val plan = df.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.filter(_.contains("PartitionFilters")).mkString("\n")
    assert(pf.contains("l_shipyear"), s"year cut must prune partitions:\n$pf")

    val want = TpchStar.planner(SfDir).plan(spark, yearQ).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(df.collect().map(_.toSeq).sortBy(_.toString).toSeq == want.toSeq)
  }
}
