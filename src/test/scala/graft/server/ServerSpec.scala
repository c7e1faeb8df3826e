package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Dimension, Hierarchy, Level, LevelName}
import graft.engine.TpchStar
import graft.SparkTestSession.{spark, SfDir}

/** End-to-end HTTP contract tests against the sf0.001 fixture — the analogue
  * of the reference's clickhouse_end_to_end.rs golden-response test. */
class ServerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var server: GraftServer = _
  private var port: Int = 0
  private val client = HttpClient.newHttpClient()

  /** Reference-wire-format logic-layer config (logic_layer/config.rs):
    * aliases and unique names arrive through the JSON reader, not the
    * direct constructor params — every alias/unique-name test below
    * exercises LogicLayerConfigJson end to end. */
  private val llConfig =
    """{
      |  "aliases": {
      |    "cubes": [
      |      { "name": "Sales",
      |        "alternatives": ["sales_alias"],
      |        "levels": [
      |          { "current_name": "Geography.Geography.Nation",
      |            "unique_name": "Supplier Nation" } ],
      |        "properties": [
      |          { "current_name": "Part.Part.Part.Part Type",
      |            "unique_name": "Type Unique" } ] } ] },
      |  "named_sets": [
      |    { "level_name": "Geography.Geography.Region",
      |      "sets": [ { "set_name": "low_regions", "values": ["0", "1"] } ] } ]
      |}""".stripMargin

  override def beforeAll(): Unit = {
    server = new GraftServer(spark, TpchStar.schema, new TpchStar.Resolver(SfDir),
      flushSecret = Some("s3cret"),
      llConfigJson = Some(llConfig))
    port = server.start()
  }
  override def afterAll(): Unit = if (server != null) server.stop()

  private def get(pathAndQuery: String): (Int, String) = getAt(port, pathAndQuery)
  private def getAt(p: Int, pathAndQuery: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:$p$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  /** A one-file copy of the fixture's lineitem in a temp dir, and a resolver
    * that reads the fact from it and every other table from the fixture. */
  private def lineitemCopy(prefix: String): (java.nio.file.Path, String, graft.plan.TableResolver) = {
    import graft.sources.{FormatResolver, SourceSpec}
    val root = java.nio.file.Files.createTempDirectory(prefix)
    val dir = root.resolve("lineitem").toString
    spark.read.parquet(s"$SfDir/lineitem.parquet").coalesce(1).write.parquet(dir)
    (root, dir, new FormatResolver(Map("lineitem" -> SourceSpec(dir)), fallbackParquetDir = Some(SfDir)))
  }
  /** Row count per return flag, summed from a csv body whose last column is Row Count. */
  private def rowsIn(body: String): Long =
    body.linesIterator.drop(1).filter(_.nonEmpty).map(_.split(',').last.toLong).sum
  private val rowCountQ = "/cubes/Sales/aggregate.csv?drilldowns=Return%20Flag.Return%20Flag" +
    "&measures=Row%20Count"

  test("format-less routes serve the reference defaults (csv / jsonrecords)") {
    val q = "drilldowns=Geography.Region&measures=Quantity"
    val bare = get(s"/cubes/Sales/aggregate?$q")
    val csv = get(s"/cubes/Sales/aggregate.csv?$q")
    assert(bare._1 == 200 && bare._2 == csv._2, bare._2.take(200))
    val llBare = get(s"/data?cube=Sales&$q")
    val llJr = get(s"/data.jsonrecords?cube=Sales&$q")
    assert(llBare._1 == 200 && llBare._2 == llJr._2, llBare._2.take(200))
    val mBare = get("/cubes/Sales/members?level=Geography.Region")
    val mCsv = get("/cubes/Sales/members.csv?level=Geography.Region")
    assert(mBare._1 == 200 && mBare._2 == mCsv._2)
  }

  test("trailing-slash requests normalize to their slash-free route") {
    // the reference serves these via actix NormalizePath; they must not 404
    val q = "drilldowns=Geography.Region&measures=Quantity"
    val slashed = get(s"/cubes/Sales/aggregate/?$q")
    assert(slashed._1 == 200 && slashed._2 == get(s"/cubes/Sales/aggregate?$q")._2,
      slashed._2.take(200))
    val llSlashed = get(s"/data/?cube=Sales&$q")
    assert(llSlashed._1 == 200 && llSlashed._2 == get(s"/data?cube=Sales&$q")._2)
    assert(get("/cubes/")._1 == 200)
    // duplicate slashes merge too (actix NormalizePath merges + trims)
    assert(get(s"/data//?cube=Sales&$q")._1 == 200)
    assert(get(s"/cubes//Sales/aggregate?$q")._1 == 200)
  }

  test("index route reports status") {
    val (code, body) = get("/")
    assert(code == 200)
    assert(body.contains("\"status\":\"ok\""))
  }

  test("metadata routes list cubes, dims, measures") {
    val (code, body) = get("/cubes")
    assert(code == 200)
    assert(body.contains("\"name\":\"Sales\"") && body.contains("\"name\":\"SalesDM\""))
    val (c2, b2) = get("/cubes/Sales")
    assert(c2 == 200)
    assert(b2.contains("\"name\":\"Geography\"") && b2.contains("\"name\":\"Quantity\""))
    assert(get("/cubes/Nope")._1 == 404)
  }

  test("aggregate.csv returns the golden CSV") {
    val (code, body) = get("/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Quantity")
    assert(code == 200)
    val lines = body.trim.split("\n").toSeq
    assert(lines.head == "Region ID,Region,Quantity")
    assert(lines.length == 6) // header + 5 regions
    // independently computed golden line for region 0
    val li = spark.read.parquet(s"$SfDir/lineitem.parquet")
    val sup = spark.read.parquet(s"$SfDir/supplier.parquet")
    val nat = spark.read.parquet(s"$SfDir/nation.parquet")
    val q0 = li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(nat, sup("s_nationkey") === nat("n_nationkey"))
      .where(nat("n_regionkey") === 0)
      .agg(org.apache.spark.sql.functions.sum("l_quantity")).head().getDouble(0)
    assert(lines(1).startsWith("0,") && lines(1).endsWith(q0.toString))
  }

  test("aggregate.jsonrecords carries data + source blocks") {
    val (code, body) = get("/cubes/Sales/aggregate.jsonrecords?drilldowns=Return%20Flag.Return%20Flag&measures=Quantity")
    assert(code == 200)
    assert(body.startsWith("{\"data\":[{\"Return Flag\":"))
    assert(body.contains("\"source\":[{\"name\":\"Sales\""))
  }

  test("aggregate.jsonarrays carries headers + rows") {
    val (code, body) = get("/cubes/Sales/aggregate.jsonarrays?drilldowns=Geography.Region&measures=Quantity&limit=2")
    assert(code == 200)
    assert(body.startsWith("{\"headers\":[\"Region ID\",\"Region\",\"Quantity\"],\"data\":[["))
    assert(body.split("\\[").length >= 4)
  }

  test("aggregate with cuts, filters, parents round-trips") {
    val (code, body) = get("/cubes/Sales/aggregate.jsonarrays?drilldowns=Geography.Nation&cuts=Geography.Region.1&measures=Quantity&parents=true")
    assert(code == 200)
    assert(body.contains("\"Region ID\",\"Region\",\"Nation ID\",\"Nation\",\"Quantity\""))
  }

  test("members endpoint enumerates a level") {
    val (code, body) = get("/cubes/Sales/members.csv?level=Geography.Region")
    assert(code == 200)
    val lines = body.trim.split("\n")
    assert(lines.head == "r_regionkey,r_name")
    assert(lines.length == 6)
  }

  test("members with a locale substitutes the caption column") {
    val (code, body) = get("/cubes/Sales/members.csv?level=Part.Part&locale=alt")
    assert(code == 200)
    assert(body.trim.split("\n").head == "p_partkey,p_brand",
      "locale 'alt' must select the caption-set column over the name column")
  }

  test("logic layer /data accepts bare level names and Level=member cuts") {
    val (code, body) = get("/data.jsonrecords?cube=Sales&drilldowns=Year&measures=Quantity&Region=1")
    assert(code == 200)
    assert(body.contains("\"Year\":"))
    // region-1-only totals are strictly below the uncut totals
    val (_, uncut) = get("/data.jsonrecords?cube=Sales&drilldowns=Year&measures=Quantity")
    assert(body != uncut)
  }

  test("logic layer exclude and time params") {
    val (code, body) = get("/data.jsonarrays?cube=Sales&drilldowns=Nation&measures=Quantity&exclude=Nation:12,20&time=Year.latest")
    assert(code == 200)
    assert(!body.contains("[12,") && !body.contains("[20,"))
  }

  test("stream=true chunks the identical payload") {
    val q = "/cubes/Sales/aggregate.csv?drilldowns=Geography.Nation&measures=Quantity"
    val (c1, buffered) = get(q)
    val (c2, streamed) = get(q + "&stream=true")
    assert(c1 == 200 && c2 == 200)
    assert(streamed == buffered)
  }

  test("logic layer cube alias and unique-name header substitution") {
    val (code, body) = get("/data.jsonarrays?cube=sales_alias&drilldowns=Nation&measures=Quantity")
    assert(code == 200)
    assert(body.contains("\"Supplier Nation ID\"") && body.contains("\"Supplier Nation\""))
    assert(!body.contains("\"Nation ID\""))
  }

  test("/relations resolves id:op rows") {
    val (code, body) = get("/relations.csv?cube=Sales&Region=1:children")
    assert(code == 200)
    val lines = body.trim.split("\n").toSeq
    assert(lines.head == "level,id,relation,value")
    assert(lines.tail.nonEmpty)
    assert(lines.tail.forall(_.startsWith("Region,1,children,")))
  }

  test("/data passes locale, top_where and exclude_default_members through") {
    val (code, body) = get("/data.jsonrecords?cube=Sales&drilldowns=Region,Part&measures=Quantity" +
      "&locale=alt&top_where=Quantity,gt.100&top=2,Geography.Region,Quantity,desc")
    assert(code == 200)
    // locale=alt swaps the Part name column for its caption-set property
    assert(body.contains("\"Part\":"))
    // exclude_default_members on the default-member cube widens the result
    val (c1, withDm) = get("/data.jsonrecords?cube=SalesDM&drilldowns=Year&measures=Quantity")
    val (c2, without) = get("/data.jsonrecords?cube=SalesDM&drilldowns=Year&measures=Quantity&exclude_default_members=true")
    assert(c1 == 200 && c2 == 200)
    assert(withDm != without,
      "exclude_default_members must drop the implicit default-member cut")
  }

  test("config-file named set expands in cut position; property unique name renames") {
    val set = get("/data.jsonrecords?cube=Sales&drilldowns=Year&measures=Quantity&Region=low_regions")
    val explicit = get("/data.jsonrecords?cube=Sales&drilldowns=Year&measures=Quantity&Region=0,1")
    assert(set._1 == 200)
    assert(set._2 == explicit._2, "named set must expand to its member list")
    val (code, body) = get("/data.jsonrecords?cube=Sales&drilldowns=Part&measures=Quantity" +
      "&properties=Part.Part.Part%20Type&Region=1")
    assert(code == 200)
    assert(body.contains("\"Type Unique\":") && !body.contains("\"Part Type\":"),
      "property header must rename to its configured unique name")
  }

  test("/data passes growth through the logic layer") {
    val (code, body) = get("/data.jsonarrays?cube=Sales&drilldowns=Year&measures=Quantity&growth=Ship%20Date.Year,Quantity")
    assert(code == 200)
    assert(body.contains("Quantity Growth"))
  }

  test("diagnosis endpoint runs the QA checks") {
    val (code, body) = get("/cubes/Sales/diagnosis.jsonrecords")
    assert(code == 200)
    assert(body.contains("MissingDimensionIDs") && body.contains("NonUniqueDimensionIDs"))
  }

  test("reload hot-swaps the schema: new cube appears, old planners gone") {
    val renamed = TpchStar.schema.copy(cubes =
      TpchStar.schema.cubes.map(c =>
        if (c.name == "Sales") c.copy(name = "SalesV2") else c))
    try {
      server.reload(renamed)
      assert(get("/cubes/SalesV2")._1 == 200)
      assert(get("/cubes/Sales")._1 == 404)
      // a query against the new state plans normally (fresh member caches)
      val (code, _) = get("/cubes/SalesV2/aggregate.csv?drilldowns=Geography.Region&measures=Quantity")
      assert(code == 200)
    } finally server.reload(TpchStar.schema)
    assert(get("/cubes/Sales")._1 == 200)
  }

  test("error paths: bad query 400, unknown format 400, flush auth") {
    assert(get("/cubes/Sales/aggregate.csv?measures=Quantity")._1 == 400) // no drill/cut
    assert(get("/cubes/Sales/aggregate.xml?drilldowns=Geography.Region&measures=Quantity")._1 == 400)
    assert(get("/flush")._1 == 403)
    assert(get("/flush?secret=wrong")._1 == 403)
    assert(get("/flush?secret=s3cret")._1 == 200)
  }

  test("error bodies are golden per family (reference handler-error parity)") {
    // One row per error family the reference surfaces from its handlers
    // (aggregate.rs:101 unknown cube, lib.rs:404/407 empty query shapes,
    // lib.rs:479-482 growth validation, lib.rs:418 property-drilldown match,
    // lib.rs:495 RCA cut violation, format.rs:21-27 format parse, plus the
    // members/logic-layer prerequisites). Bodies — not just codes — are
    // pinned, so a planner refactor can't silently degrade an error into a
    // stack-trace 500 or an unrelated message.
    val cases: Seq[(String, Int, String)] = Seq(
      ("/cubes/Nope/aggregate.csv?drilldowns=Geography.Region&measures=Quantity",
        404, "cube 'Nope' not found"),
      ("/cubes/Sales/aggregate.csv?drilldowns=Geography.Void&measures=Quantity",
        400, "level '[Geography].[Geography].[Void]' not found in cube 'Sales'"),
      ("/cubes/Sales/aggregate.xlsx?drilldowns=Geography.Region&measures=Quantity",
        400, "unknown format 'xlsx' (csv|jsonrecords|jsonarrays)"),
      ("/cubes/Sales/aggregate.csv?drilldowns=Geography.Region",
        400, "must have at least one measure"),
      ("/cubes/Sales/aggregate.csv?measures=Quantity",
        400, "must have at least one drilldown or cut"),
      ("/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Bogus",
        400, "measure 'Bogus' not found"),
      ("/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Quantity&growth=Ship%20Date.Year,Quantity",
        400, "growth time drilldown must be in drilldowns"),
      ("/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&drilldowns=Ship%20Date.Year&measures=Quantity&growth=Ship%20Date.Year,Revenue",
        400, "growth measure must be in measures"),
      ("/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Quantity&properties=Part.Part.Part%20Type",
        400, "property '[Part].[Part].[Part].[Part Type]' must match a drilldown in the query"),
      ("/cubes/Sales/aggregate.csv?measures=Quantity&rca=Geography.Nation,Part.Brand,Quantity&cuts=Part.Brand.Brand%2313",
        400, "cuts on the second RCA drilldown level are not allowed"),
      ("/cubes/Sales/members.csv",
        400, "members requires ?level="),
      ("/cubes/Sales/members.csv?level=Geography.Void",
        400, "level '[Geography].[Geography].[Void]' not found in cube 'Sales'"),
      ("/data.jsonrecords?drilldowns=Geography.Region&measures=Quantity",
        400, "logic layer requires ?cube="),
      ("/data.jsonrecords?cube=Nope&drilldowns=Geography.Region&measures=Quantity",
        404, "cube 'Nope' not found"),
      // mea_or_calc! family (lib.rs:52-71): sort/filter/top_where must
      // reference a measure in the query or a present calc — a 400, not an
      // escaped analysis error 500
      ("/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Quantity&sort=Revenue.desc",
        400, "sort measure 'Revenue' must be a measure in the query"),
      ("/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Quantity&filters=Bogus.gt.1",
        400, "filter measure 'Bogus' must be a measure in the query"),
      ("/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Quantity&sort=rca.desc",
        400, "sort references the rca calculation but the query has no rca"),
      // a member that does not parse as the level key's type is a query
      // error, not a NumberFormatException 500
      ("/cubes/Sales/aggregate.csv?measures=Quantity&cuts=Geography.Region.abc",
        400, "member 'abc' is not a valid int level key"),
      ("/data.jsonrecords?cube=Sales&drilldowns=Region&measures=Quantity&Region=abc",
        400, "member 'abc' is not a valid int level key"))
    for ((path, wantCode, wantMsg) <- cases) {
      val (code, body) = get(path)
      assert(code == wantCode, s"$path: expected $wantCode, got $code ($body)")
      assert(body == s"""{"error":"$wantMsg"}""", s"$path: body was $body")
    }
  }

  test("concurrent requests return consistent results") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val paths = Seq(
      "/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Quantity",
      "/cubes/Sales/aggregate.csv?drilldowns=Geography.Nation&measures=Quantity",
      "/data.jsonrecords?cube=Sales&drilldowns=Year&measures=Quantity")
    val serial = paths.map(p => get(p)._2)
    val bodies = Await.result(
      Future.sequence(Seq.fill(4)(paths).flatten.map(p => Future(get(p)))), 120.seconds)
    bodies.grouped(paths.length).foreach { batch =>
      batch.zip(serial).foreach { case ((code, body), expected) =>
        assert(code == 200)
        assert(body == expected)
      }
    }
  }

  test("single-flight: N parallel first-hits on one key plan exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // a put-counting cache: every completed plan on a cacheable route ends
    // in exactly one put, so the put count IS the plan count
    val puts = new java.util.concurrent.atomic.AtomicInteger()
    val counting = new ResponseCache {
      private val inner = new LruResponseCache()
      def get(k: String): Option[(String, String)] = inner.get(k)
      def put(k: String, v: (String, String)): Unit = { puts.incrementAndGet(); inner.put(k, v) }
      def clear(): Unit = inner.clear()
    }
    val s2 = new GraftServer(spark, TpchStar.schema, new TpchStar.Resolver(SfDir),
      responseCache = counting)
    val p2 = s2.start()
    try {
      val path = "/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Quantity"
      def hit(): (Int, String) = {
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:$p2$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      }
      // 8 simultaneous cold requests for the SAME key: the leader computes,
      // 7 followers coalesce — one plan, one put, identical bodies
      val results = Await.result(Future.sequence(Seq.fill(8)(Future(hit()))), 120.seconds)
      assert(results.forall(_._1 == 200))
      assert(results.map(_._2).distinct.size == 1, "followers must serve the leader's body")
      assert(puts.get() == 1, s"expected exactly one compute, saw ${puts.get()} puts")
      // and a later request is a plain cache hit — still one put
      assert(hit()._2 == results.head._2 && puts.get() == 1)
    } finally s2.stop()
  }

  test("aggregate route serves from a configured summary with identical payload") {
    import graft.core._
    import graft.plan.{CubePlanner, Preagg}
    import graft.sources.{FormatResolver, SourceSpec}
    val base = TpchStar.planner(SfDir)
    val grain = Seq(LevelName("Geography", "Geography", "Nation"))
    val path = java.nio.file.Files.createTempDirectory("graft_srv_preagg").toString + "/by_nation"
    Preagg.materialize(spark, base, TpchStar.salesCube, grain, path)
    val summary = new CubePlanner(
      Preagg.derivedCube(TpchStar.salesCube, grain, TableDef("__s")),
      new FormatResolver(Map("__s" -> SourceSpec(path))))
    val srv = new GraftServer(spark, TpchStar.schema, new TpchStar.Resolver(SfDir),
      summaries = Map("Sales" -> Seq(summary)))
    val p2 = srv.start()
    try {
      def g(path: String): String = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$p2$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      val q = "/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Quantity"
      // summary-served response must be byte-identical to the base server's
      assert(g(q) == get(q)._2)
      // a median measure is not on the summary: falls back to the fact
      val m = "/cubes/Sales/aggregate.csv?drilldowns=Return Flag.Return Flag&measures=Median Order Quantity"
        .replace(" ", "%20")
      assert(g(m) == get(m)._2)
    } finally srv.stop()
  }

  test("top-level diagnosis covers all cubes; logic-layer members resolve bare and unique names") {
    val (code, body) = get("/diagnosis.jsonrecords")
    assert(code == 200)
    assert(body.contains("\"cube\":\"Sales\"") && body.contains("\"cube\":\"SalesDM\""))
    assert(body.contains("MissingDimensionIDs"))
    val one = get("/diagnosis.jsonrecords?cube=Sales")
    assert(one._1 == 200 && !one._2.contains("\"cube\""))

    // bare level name; row count = dim-bounded members the planner reports
    val nNations = TpchStar.planner(SfDir).members(spark,
      graft.core.LevelName("Geography", "Geography", "Nation")).count()
    val m1 = get("/members.csv?cube=Sales&level=Nation")
    assert(m1._1 == 200 && m1._2.trim.split("\n").length == nNations + 1)
    // unique name configured in beforeAll: Nation -> "Supplier Nation"
    val m2 = get("/members.csv?cube=Sales&level=Supplier%20Nation")
    assert(m2._2 == m1._2)
    // alias cube name works too
    val m3 = get("/members.csv?cube=sales_alias&level=Nation")
    assert(m3._2 == m1._2)
    assert(get("/members.csv?cube=Sales&level=Nope")._1 == 404)
    assert(get("/members.csv?cube=Sales")._1 == 400)
  }

  test("ambiguous level names disable the logic layer, not the core routes") {
    // reference parity: a repeated level name inside a cube makes bare-name
    // resolution ill-defined, so the whole /data|/members|/relations family
    // errors at load time (lib.rs:168-209 + app.rs:156-201) while
    // /cubes/{c}/aggregate keeps serving; a unique-name config that renames
    // the clash re-enables the layer
    val clash = Dimension("Line Status Copy", foreignKey = None,
      hierarchies = Seq(Hierarchy("Line Status Copy", primaryKey = "l_linestatus",
        levels = Seq(Level("Line Status", "l_linestatus")))))
    val amb = TpchStar.schema.copy(cubes = TpchStar.schema.cubes.map {
      case c if c.name == "Sales" => c.copy(dimensions = c.dimensions :+ clash)
      case c => c
    })
    def getFrom(p: Int, pathAndQuery: String): (Int, String) = {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$p$pathAndQuery")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    val q = "drilldowns=Geography.Region&measures=Quantity"
    val ambSrv = new GraftServer(spark, amb, new TpchStar.Resolver(SfDir))
    val ambPort = ambSrv.start()
    try {
      val data = getFrom(ambPort, s"/data?cube=Sales&$q")
      assert(data._1 == 400 && data._2.contains("duplicate name"), data.toString.take(300))
      assert(getFrom(ambPort, "/members?cube=Sales&level=Region")._1 == 400)
      assert(getFrom(ambPort, "/relations?cube=Sales")._1 == 400)
      // core routes unaffected
      assert(getFrom(ambPort, s"/cubes/Sales/aggregate.csv?$q")._1 == 200)
      assert(getFrom(ambPort, "/cubes")._1 == 200)
    } finally ambSrv.stop()
    val fixedSrv = new GraftServer(spark, amb, new TpchStar.Resolver(SfDir),
      uniqueNames = Map(
        LevelName("Line Status Copy", "Line Status Copy", "Line Status") -> "Line Status Copy"))
    val fixedPort = fixedSrv.start()
    try assert(getFrom(fixedPort, s"/data?cube=Sales&$q")._1 == 200,
      "a disambiguating unique-name config re-enables the logic layer")
    finally fixedSrv.stop()

    // property-name collisions gate too (lib.rs checks both sets): two
    // levels in one cube carrying a property named "Tag"
    val propClash = TpchStar.schema.copy(cubes = TpchStar.schema.cubes.map {
      case c if c.name == "Sales" => c.copy(dimensions = c.dimensions.map {
        case d if d.name == "Return Flag" => d.copy(hierarchies = d.hierarchies.map(h =>
          h.copy(levels = h.levels.map(l =>
            l.copy(properties = Seq(graft.core.PropertyDef("Tag", "l_returnflag")))))))
        case d if d.name == "Line Status" => d.copy(hierarchies = d.hierarchies.map(h =>
          h.copy(levels = h.levels.map(l =>
            l.copy(properties = Seq(graft.core.PropertyDef("Tag", "l_linestatus")))))))
        case d => d
      })
      case c => c
    })
    val propSrv = new GraftServer(spark, propClash, new TpchStar.Resolver(SfDir))
    val propPort = propSrv.start()
    try {
      val r = getFrom(propPort, s"/data?cube=Sales&$q")
      assert(r._1 == 400 && r._2.contains("'Tag'"), r.toString.take(300))
      assert(getFrom(propPort, s"/cubes/Sales/aggregate.csv?$q")._1 == 200)
    } finally propSrv.stop()
  }

  test("flush error surface: golden auth bodies; a failed reload keeps the old schema serving") {
    def getFrom(p: Int, pathAndQuery: String): (Int, String) = {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$p$pathAndQuery")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    // golden bodies for the flush auth family (reference flush.rs:33-80:
    // unauthorized/unconfigured flush paths)
    assert(get("/flush") == ((403, """{"error":"bad secret"}""")))
    assert(get("/flush?secret=wrong") == ((403, """{"error":"bad secret"}""")))
    val bare = new GraftServer(spark, TpchStar.schema, new TpchStar.Resolver(SfDir))
    val p2 = bare.start()
    try assert(getFrom(p2, "/flush?secret=x") ==
      ((400, """{"error":"flush is not configured"}""")))
    finally bare.stop()
    // a reload whose schema re-read fails (file deleted / edit broke the
    // JSON / validation error) 500s the flush with a typed body and keeps
    // the previous schema serving (reference flush.rs:52-56 500s and keeps
    // its old shared schema)
    val failing = new GraftServer(spark, TpchStar.schema, new TpchStar.Resolver(SfDir),
      flushSecret = Some("s"),
      onFlush = _ => throw new RuntimeException("schema parse failed: unexpected token"))
    val p3 = failing.start()
    try {
      val (code, body) = getFrom(p3, "/flush?secret=s")
      assert(code == 500, s"$code $body")
      assert(body ==
        """{"error":"flush failed, previous schema still active: schema parse failed: unexpected token"}""",
        body)
      assert(getFrom(p3,
        "/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Quantity")._1 == 200,
        "old schema must keep serving after a failed flush")
    } finally failing.stop()
  }

  test("tables are read as of start or the last /flush: appended files show only after /flush") {
    val (_, dir, resolver) = lineitemCopy("graft_srv_flush")
    val li = spark.read.parquet(s"$SfDir/lineitem.parquet")
    // default no-op onFlush: /flush alone must start fresh tables
    val srv = new GraftServer(spark, TpchStar.schema, resolver, flushSecret = Some("f"))
    val p2 = srv.start()
    try {
      // stream=true bypasses the response cache, so every call re-plans
      val q = rowCountQ + "&stream=true"
      val (c0, before) = getAt(p2, q)
      assert(c0 == 200, before)
      assert(rowsIn(before) == li.count())
      li.limit(10).coalesce(1).write.mode("append").parquet(dir)
      assert(getAt(p2, q) == ((200, before)), "an appended file must not show before /flush")
      assert(getAt(p2, "/flush?secret=f")._1 == 200)
      val (c1, after) = getAt(p2, q)
      assert(c1 == 200, after)
      assert(rowsIn(after) == li.count() + 10, after)
    } finally srv.stop()
  }

  test("one /flush on any replica of a shared cache makes every replica re-read its tables") {
    val (root, dir, resolver) = lineitemCopy("graft_srv_replicas")
    val li = spark.read.parquet(s"$SfDir/lineitem.parquet")
    def replica() = new GraftServer(spark, TpchStar.schema, resolver, flushSecret = Some("f"),
      responseCache = new SharedFileResponseCache(root.resolve("cache")))
    val (a, b) = (replica(), replica())
    val (pa, pb) = (a.start(), b.start())
    try {
      val streamed = rowCountQ + "&stream=true" // bypasses the cache: resolves the tables
      assert(rowsIn(getAt(pa, rowCountQ)._2) == li.count())
      assert(rowsIn(getAt(pb, streamed)._2) == li.count())
      li.limit(10).coalesce(1).write.mode("append").parquet(dir)
      assert(rowsIn(getAt(pb, streamed)._2) == li.count(), "B reads its snapshot until a /flush")
      assert(getAt(pa, "/flush?secret=f")._1 == 200)
      for ((p, q) <- Seq(pb -> streamed, pb -> rowCountQ, pa -> rowCountQ)) {
        val (code, body) = getAt(p, q)
        assert(code == 200 && rowsIn(body) == li.count() + 10, s"port $p $q: $body")
      }
    } finally { a.stop(); b.stop() }
  }

  test("a table rewritten in place is re-read by the next request, not failed until /flush") {
    val (_, dir, resolver) = lineitemCopy("graft_srv_overwrite")
    val li = spark.read.parquet(s"$SfDir/lineitem.parquet")
    val srv = new GraftServer(spark, TpchStar.schema, resolver)
    val p2 = srv.start()
    try {
      assert(rowsIn(getAt(p2, rowCountQ)._2) == li.count())
      // Spark's overwrite deletes the part files the memoized frame listed
      li.limit(100).coalesce(1).write.mode("overwrite").parquet(dir)
      val uncached = rowCountQ.replace("measures=Row%20Count", "measures=Quantity&measures=Row%20Count")
      val (code, body) = getAt(p2, uncached)
      assert(code == 200 && rowsIn(body) == 100, body.take(300))
      val (sc, sbody) = getAt(p2, uncached + "&stream=true")
      assert(sc == 200 && rowsIn(sbody) == 100, sbody.take(300))
    } finally srv.stop()
  }

  test("JWT auth levels gate non-public cubes") {
    val privCube = TpchStar.salesCube.copy(name = "Private", public = false, minAuthLevel = 2)
    val schema = graft.core.Schema("T2", Seq(TpchStar.salesCube, privCube))
    val srv = new GraftServer(spark, schema, new TpchStar.Resolver(SfDir),
      jwtSecret = Some("jwt-secret-0123456789abcdef-0123456789abcdef"))
    val p2 = srv.start()
    try {
      def g(path: String): (Int, String) = {
        val resp = client.send(
          HttpRequest.newBuilder(URI.create(s"http://localhost:$p2$path")).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      }
      val q = "/cubes/Private/aggregate.csv?drilldowns=Geography.Region&measures=Quantity"
      assert(g(q)._1 == 401, "no token")
      // golden 401 body (reference util.rs:81 json("This cube is not
      // public"); graft names the cube)
      assert(g(q)._2 == """{"error":"not authorized for cube 'Private'"}""", g(q)._2)
      val low = srv.auth.mint(1).get
      assert(g(s"$q&token=$low")._1 == 401, "level below min_auth_level")
      val high = srv.auth.mint(2).get
      assert(g(s"$q&token=$high")._1 == 200, "level clears min_auth_level")
      // the authorized request above populated the response cache; a hit
      // must never bypass auth — the cache key carries the auth level
      assert(g(q)._1 == 401, "cached private body must not serve tokenless")
      assert(g(s"$q&token=$low")._1 == 401, "nor to a lower auth level")
      assert(g(s"$q&token=$high")._1 == 200, "equal privilege still hits")
      // metadata hides the private cube without a token
      assert(!g("/cubes")._2.contains("\"Private\""))
      assert(g(s"/cubes?token=$high")._2.contains("\"Private\""))
      // public cubes stay reachable without a token
      assert(g("/cubes/Sales/aggregate.csv?drilldowns=Geography.Region&measures=Quantity")._1 == 200)
    } finally srv.stop()
  }
}
