package perfbench

import org.apache.spark.sql.SparkSession

/** Independent answers for served requests: `graft.fuzz.QueryFuzzer`'s SQL
  * (and the members SQL in [[Requests]]) run through `spark.sql` over the
  * raw star tables, in a session of its own so its settings never reach
  * the server's. */
object Oracle {
  val Tables = Seq("lineitem", "supplier", "nation", "region", "orders", "customer", "part")

  def session(spark: SparkSession, starDir: String): SparkSession = {
    val o = spark.newSession()
    o.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    Tables.foreach(t => o.read.parquet(s"$starDir/$t.parquet").createOrReplaceTempView(t))
    o
  }

  /** None when `body` holds exactly the oracle's rows for `r`, else why not. */
  def compare(o: SparkSession, r: Req, body: String): Option[String] = {
    val want = Check.frameImage(o.sql(r.sql), r.format)
    val got = Check.bodyImage(body, r.format)
    if (got == want) None
    else {
      val extra = got._2.diff(want._2).take(2)
      val missing = want._2.diff(got._2).take(2)
      Some(s"headers ${got._1} vs ${want._1}; ${got._2.length} rows vs ${want._2.length}; " +
        s"unexpected ${extra.map(_.mkString("|"))}; missing ${missing.map(_.mkString("|"))}")
    }
  }
}
