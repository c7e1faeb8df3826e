package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{spark, SfDir}

/** Replays the README "Walkthrough" section verbatim — schema file on disk,
  * data dir of parquet tables, ServerMain.build, then the documented
  * requests — so the deployment walkthrough can't rot. */
class DeploymentSmokeSpec extends AnyFunSuite {

  // keep in sync with README.md "Walkthrough: from zero to a served /data query"
  private val walkthroughSchema =
    """{
      |  "name": "Demo",
      |  "cubes": [{
      |    "name": "Sales",
      |    "table": {"name": "lineitem"},
      |    "dimensions": [
      |      {"name": "Return Flag", "hierarchies": [{"name": "Return Flag",
      |        "primary_key": "l_returnflag",
      |        "levels": [{"name": "Return Flag", "key_column": "l_returnflag"}]}]},
      |      {"name": "Line Status", "hierarchies": [{"name": "Line Status",
      |        "primary_key": "l_linestatus",
      |        "levels": [{"name": "Line Status", "key_column": "l_linestatus"}]}]}
      |    ],
      |    "measures": [
      |      {"name": "Quantity", "column": "l_quantity", "aggregator": "sum"},
      |      {"name": "Row Count", "column": "l_orderkey", "aggregator": "count"}
      |    ]
      |  }]
      |}""".stripMargin

  test("GRAFT_ADDRESS parses host:port and names itself when malformed") {
    assert(ServerMain.parseAddress("127.0.0.1:7777") == ("127.0.0.1", 7777))
    assert(ServerMain.parseAddress("::1:8080") == ("::1", 8080))
    for (bad <- Seq("7777", "localhost:http", "localhost:70000")) {
      val e = intercept[IllegalArgumentException](ServerMain.parseAddress(bad))
      assert(e.getMessage.contains("GRAFT_ADDRESS") && e.getMessage.contains("host:port"),
        e.getMessage)
    }
  }

  test("README walkthrough serves metadata, aggregate, /data and /flush") {
    val dir = Files.createTempDirectory("graft-demo")
    val schemaPath = dir.resolve("schema.json")
    Files.writeString(schemaPath, walkthroughSchema)

    val server = ServerMain.build(spark, schemaPath.toString, SfDir,
      flushSecret = Some("s3cret"))
    val port = server.start()
    val client = HttpClient.newHttpClient()
    def get(pathAndQuery: String): (Int, String) = {
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:$port$pathAndQuery")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    try {
      val cubes = get("/cubes")
      assert(cubes._1 == 200 && cubes._2.contains("\"Sales\""), cubes._2.take(200))

      val agg = get("/cubes/Sales/aggregate?drilldowns=Return+Flag.Return+Flag&measures=Quantity")
      assert(agg._1 == 200, agg._2.take(200))
      assert(agg._2.linesIterator.next() == "Return Flag,Quantity", agg._2.take(200))
      assert(agg._2.linesIterator.size == 4, "3 flags + header: " + agg._2)

      val data = get("/data?cube=Sales&drilldowns=Return+Flag&measures=Quantity,Row+Count&Line+Status=F")
      assert(data._1 == 200, data._2.take(300))
      assert(data._2.contains("\"data\"") && data._2.contains("\"Row Count\""), data._2.take(300))
      // the Line Status=F cut must actually bind: its per-flag row counts
      // are strictly below the uncut ones
      def rowCounts(body: String): Long =
        "\"Row Count\":(\\d+)".r.findAllMatchIn(body).map(_.group(1).toLong).sum
      val uncut = get("/data?cube=Sales&drilldowns=Return+Flag&measures=Quantity,Row+Count")
      assert(uncut._1 == 200, uncut._2.take(300))
      val (cutN, uncutN) = (rowCounts(data._2), rowCounts(uncut._2))
      assert(cutN > 0 && cutN < uncutN, s"cut must bind: $cutN vs $uncutN")

      val flush = get("/flush?secret=s3cret")
      assert(flush._1 == 200 && flush._2.contains("flushed"), flush._2.take(200))
      // still serving after the hot reload
      assert(get("/cubes")._1 == 200)
    } finally server.stop()
  }
}
