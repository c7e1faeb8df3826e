package perfbench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import scala.collection.immutable.ListMap
import graft.core._
import graft.fuzz.QueryFuzzer

/** One HTTP request the benchmark sends, with the SQL that independently
  * computes the rows it must return. `key` is the request's identity: the
  * path plus its query string, exactly as sent. */
final case class Req(kind: String, path: String, params: ListMap[String, String], sql: String) {
  val key: String = path + "?" + params.map { case (k, v) =>
    Req.enc(k) + "=" + Req.enc(v)
  }.mkString("&")
  def format: String = path.substring(path.lastIndexOf('.') + 1)
}

object Req {
  def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)
}

/** Seeded request generators over `graft.fuzz.QueryFuzzer`'s corpora.
  *
  * Cube-query cases (grammar, RCA, rate) are rendered back into the
  * `/cubes/Sales/aggregate` query-string grammar; each rendering is parsed
  * with the server's own `QueryParams.toCubeQuery` and must give back the
  * fuzzer's `CubeQuery`, so the request sent is the query the oracle SQL
  * describes. Logic-layer cases already carry `/data` params. Members
  * requests cover every fuzzer level through both members routes. */
object Requests {
  /** Response formats in `LoadBench`'s proportions: four of its six
    * request kinds ask for csv, two for jsonrecords. */
  private val Formats = Seq("csv", "csv", "jsonrecords")

  /** One request in six is a members request, as in `LoadBench`'s mix. */
  val MembersEvery = 6

  private def level(ln: LevelName): String = s"${ln.dimension}.${ln.hierarchy}.${ln.level}"

  private def num(d: Double): String = java.math.BigDecimal.valueOf(d).toPlainString

  private def cmp(c: Comparison): String = c match {
    case Comparison.Eq => "eq"; case Comparison.Neq => "neq"
    case Comparison.Lt => "lt"; case Comparison.Lte => "lte"
    case Comparison.Gt => "gt"; case Comparison.Gte => "gte"
  }
  private def constraint(c: Constraint): String = s"${cmp(c.comparison)}.${num(c.n)}"
  private def dir(d: SortDirection): String = if (d == SortDirection.Asc) "asc" else "desc"
  private def meaOrCalc(m: MeaOrCalc): String = m match {
    case MeaOrCalc.Mea(n) => n.name
    case MeaOrCalc.RcaCalc => "rca"
    case MeaOrCalc.GrowthCalc => "growth"
  }

  /** Query-string params for a CubeQuery, in the core API's grammar.
    * Repeated params are joined with a NUL here and split when sent. */
  def cubeParams(q: CubeQuery): Seq[(String, String)] = {
    def flag(k: String, b: Boolean) = if (b) Seq(k -> "true") else Nil
    q.drilldowns.map(d => "drilldowns" -> level(d.levelName)) ++
      q.cuts.map { c =>
        "cuts" -> ((if (c.mask == Mask.Exclude) "~" else "") + (if (c.forMatch) "*" else "") +
          level(c.levelName) + "." + c.members.mkString(","))
      } ++
      q.measures.map(m => "measures" -> m.name) ++
      q.properties.map(p => "properties" -> (level(p.levelName) + "." + p.property)) ++
      q.filters.map { f =>
        "filters" -> (meaOrCalc(f.byMeaOrCalc) + "." + constraint(f.constraint) +
          f.operator.zip(f.constraint2).map { case (op, c2) =>
            (if (op == FilterOp.And) ".and." else ".or.") + constraint(c2)
          }.getOrElse(""))
      } ++
      q.top.map(t => "top" -> s"${t.n},${level(t.byDimension)},${t.sortMeaOrCalc.map(meaOrCalc).mkString},${dir(t.sortDirection)}") ++
      q.topWhere.map(t => "top_where" -> s"${meaOrCalc(t.byMeaOrCalc)},${constraint(t.constraint)}") ++
      q.sort.map(s => "sort" -> s"${meaOrCalc(s.measure)}.${dir(s.direction)}") ++
      q.limit.map(l => "limit" -> l.offset.fold(l.n.toString)(o => s"$o,${l.n}")) ++
      q.rca.map(r => "rca" -> s"${level(r.drill1.levelName)},${level(r.drill2.levelName)},${r.mea.name}") ++
      q.growth.map(g => "growth" -> s"${level(g.timeDrill.levelName)},${g.mea.name}") ++
      q.rate.map(r => "rate" -> s"${level(r.levelName)}.${r.values.mkString(",")}") ++
      flag("parents", q.parents) ++ flag("sparse", q.sparse) ++
      flag("exclude_default_members", q.excludeDefaultMembers)
  }

  /** Multi-valued params (`drilldowns`, `cuts`, `measures`, ...) are sent
    * repeated; the ListMap value keeps them joined by '\u0000' until sent. */
  private def grouped(ps: Seq[(String, String)]): ListMap[String, String] = {
    val order = ps.map(_._1).distinct
    ListMap(order.map(k => k -> ps.collect { case (`k`, v) => v }.mkString("\u0000")): _*)
  }

  def asServerParams(ps: ListMap[String, String]): Map[String, Seq[String]] =
    ListMap(ps.toSeq.map { case (k, v) => k -> v.split('\u0000').toSeq }: _*)

  private def cubeReq(kind: String, fc: QueryFuzzer.FuzzCase, fmt: String): Option[Req] = {
    val ps = grouped(cubeParams(fc.query))
    // the rendering must parse back to exactly the fuzzer's query
    val back = scala.util.Try(graft.server.QueryParams.toCubeQuery(asServerParams(ps))).toOption
    if (!back.contains(fc.query)) None
    else Some(Req(kind, s"/cubes/Sales/aggregate.$fmt", ps, fc.sql))
  }

  private def llReq(fc: QueryFuzzer.LlFuzzCase, fmt: String): Req =
    Req("data", s"/data.$fmt",
      ListMap("cube" -> "Sales") ++ fc.params.map { case (k, vs) => k -> vs.mkString("\u0000") },
      fc.sql)

  /** Members oracles per fuzzer level: the distinct (key, name) pairs of the
    * level's dimension table, under the planner's column names. */
  private val GeoFrom = "supplier JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey"
  private val memberSql: Map[String, (String, String)] = Map(
    "Return Flag.Return Flag" -> ("Return Flag", "SELECT DISTINCT l_returnflag FROM lineitem"),
    "Line Status.Line Status" -> ("Line Status", "SELECT DISTINCT l_linestatus FROM lineitem"),
    "Ship Date.Year" -> ("Year", "SELECT DISTINCT CAST(year(l_shipdate) AS BIGINT) AS l_shipyear FROM lineitem"),
    "Ship Date.Month" -> ("Month", "SELECT DISTINCT CAST(month(l_shipdate) AS BIGINT) AS l_shipmonth FROM lineitem"),
    "Geography.Region" -> ("Region", s"SELECT DISTINCT r_regionkey, r_name FROM $GeoFrom"),
    "Geography.Nation" -> ("Nation", s"SELECT DISTINCT n_nationkey, n_name FROM $GeoFrom"),
    "Customer.Segment" -> ("Segment",
      "SELECT DISTINCT c_mktsegment FROM orders JOIN customer ON o_custkey = c_custkey"),
    "Part.Brand" -> ("Brand", "SELECT DISTINCT p_brand FROM part"),
    "Part.Part" -> ("Part", "SELECT DISTINCT p_partkey, p_name FROM part"))

  /** Every distinct members request: each level, each format, through the
    * core route (three level spellings) and the logic-layer route. */
  val membersPool: Seq[Req] = for {
    (spelling, (bare, sql)) <- memberSql.toSeq.sortBy(_._1)
    fmt <- Formats.distinct
    r <- {
      val Array(d, l) = spelling.split('.')
      Seq(s"$d.$l", s"$d.$d.$l", s"[$d].[$d].[$l]").map(s =>
        Req("members", s"/cubes/Sales/members.$fmt", ListMap("level" -> s), sql)) :+
        Req("members", s"/members.$fmt", ListMap("cube" -> "Sales", "level" -> bare), sql)
    }
  } yield r

  /** One block of the request mix, from fuzz corpora generated with seed
    * `s`: 16 grammar, 5 RCA, 4 rate and 6 logic-layer cases, a tenth of
    * the fuzz gate's corpus (`graft.FuzzDump`: 160, 50, 40 and 60).
    *
    * The kinds are interleaved evenly, so that every prefix of the block
    * holds them in about these shares. A closed loop serves only a prefix
    * of the sequence, and its length follows the host's speed; were the
    * kinds in runs, a slower host would also serve a different mix. */
  private def block(s: Long, fmt: () => String): Seq[Req] = {
    val kinds = Seq(
      QueryFuzzer.cases(16, s).flatMap(cubeReq("aggregate", _, fmt())),
      QueryFuzzer.rcaCases(5, s + 1).flatMap(cubeReq("rca", _, fmt())),
      QueryFuzzer.rateCases(4, s + 2).flatMap(cubeReq("rate", _, fmt())),
      QueryFuzzer.llCases(6, s + 3).map(llReq(_, fmt())))
    kinds.flatMap(k => k.zipWithIndex.map { case (r, i) => ((i + 0.5) / k.length, r) })
      .sortBy(_._1).map(_._2)
  }

  /** Distinct OLAP requests in blocks of the mix above, drawn from the
    * fuzz seeds `base`, `base + 10`, ... (members come from
    * [[membersPool]]); keys in `exclude` or already produced are skipped.
    *
    * The measured `olap_unique` sequence is the same for every benchmark
    * seed: a query's cost varies far more between fuzz draws than between
    * runs of one draw, so a per-seed mix would make the spread between
    * seeds measure the mix instead of the engine. The benchmark seed
    * varies the data the queries run over. */
  def sequence(base: Long, exclude: Set[String]): Iterator[Req] = {
    val seen = scala.collection.mutable.HashSet[String]()
    Iterator.from(0).flatMap { b =>
      var i = 0
      block(base + 10 * b, () => { i += 1; Formats(i % Formats.length) })
        .filter(r => !exclude(r.key) && seen.add(r.key))
    }
  }
}
