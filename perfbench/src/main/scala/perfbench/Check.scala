package perfbench

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/** Engine-independent row images for the correctness gate.
  *
  * A response body (csv, jsonrecords or jsonarrays) and an oracle frame are
  * both reduced to the same canonical form: columns sorted by name, every
  * value rendered as a string with numbers in exact plain decimal form
  * (so `1.0E7`, `10000000` and `10000000.000` agree), NULL as a sentinel,
  * rows sorted. Two images are equal iff the body holds the oracle's rows.
  * The CSV format cannot tell NULL from an empty string, nor a number from a
  * numeric-looking string, so both sides are folded the same way. */
object Check {
  type Image = (Seq[String], Seq[Seq[String]])

  private val Null = "\u0000"
  private val Num = "-?[0-9]+(\\.[0-9]+)?([eE][-+]?[0-9]+)?".r

  private val json = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .enable(DeserializationFeature.USE_BIG_INTEGER_FOR_INTS)

  private def canon(s: String): String =
    if (s == null) Null
    else if (Num.matches(s)) new java.math.BigDecimal(s).stripTrailingZeros.toPlainString
    else s

  private def image(headers: Seq[String], rows: Seq[Seq[String]]): Image = {
    val order = headers.indices.sortBy(headers)
    (order.map(headers), rows.map(r => order.map(r)).sortBy(_.mkString("\u0001")))
  }

  private def jsonValue(n: JsonNode): String =
    if (n == null || n.isNull) Null
    else if (n.isNumber) canon(n.decimalValue.toPlainString)
    else canon(n.asText)

  /** The image of a response body in the given format. */
  def bodyImage(body: String, format: String): Image = format match {
    case "csv" =>
      val lines = parseCsv(body)
      val headers = lines.headOption.getOrElse(Nil)
      image(headers, lines.drop(1).map(_.map(v => if (v.isEmpty) Null else canon(v))))
    case "jsonrecords" =>
      val data = json.readTree(body).get("data").elements.asScala.toSeq
      val headers = data.headOption.map(_.fieldNames.asScala.toSeq).getOrElse(Nil)
      image(headers, data.map(r => headers.map(h => jsonValue(r.get(h)))))
    case "jsonarrays" =>
      val tree = json.readTree(body)
      val headers = tree.get("headers").elements.asScala.map(_.asText).toSeq
      image(headers, tree.get("data").elements.asScala.toSeq
        .map(_.elements.asScala.map(jsonValue).toSeq))
  }

  /** The image of an oracle frame as the given format would render it. */
  def frameImage(df: DataFrame, format: String): Image = {
    val headers = df.columns.toSeq
    val rows = df.collect().toSeq.map(r => headers.indices.map(i => value(r, i, format)))
    val img = image(headers, rows)
    // an empty body carries no header line to compare against
    if (rows.isEmpty && format == "jsonrecords") (Nil, Nil) else img
  }

  private def value(r: Row, i: Int, format: String): String =
    if (r.isNullAt(i)) Null
    else r.get(i) match {
      // JSON renders non-finite doubles as null (Format's contract)
      case d: Double if (d.isNaN || d.isInfinite) && format != "csv" => Null
      case d: java.math.BigDecimal => canon(d.toPlainString)
      case "" if format == "csv" => Null
      case v => canon(v.toString)
    }

  /** RFC 4180 CSV: quoted fields may hold commas, quotes and newlines. */
  def parseCsv(s: String): Seq[Seq[String]] = {
    val rows = Seq.newBuilder[Seq[String]]
    var row = Vector.empty[String]
    val f = new StringBuilder
    var i = 0
    var quoted = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < s.length && s.charAt(i + 1) == '"') { f += '"'; i += 1 }
        else if (c == '"') quoted = false
        else f += c
      } else c match {
        case '"' => quoted = true
        case ',' => row :+= f.toString; f.clear()
        case '\n' => row :+= f.toString; f.clear(); rows += row; row = Vector.empty
        case '\r' => ()
        case other => f += other
      }
      i += 1
    }
    if (f.nonEmpty || row.nonEmpty) rows += (row :+ f.toString)
    rows.result()
  }

  /** A copy of a non-empty `body` with its first data row dropped — the
    * gate must reject it. Used as an in-run canary that the comparison is
    * live. */
  def corrupt(body: String, format: String): String = format match {
    case "csv" =>
      val lines = body.split("\n", -1)
      (lines.take(1) ++ lines.drop(2)).mkString("\n")
    case _ =>
      val tree = json.readTree(body)
      tree.get("data").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].remove(0)
      json.writeValueAsString(tree)
  }
}
