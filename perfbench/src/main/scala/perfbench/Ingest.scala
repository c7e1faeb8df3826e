package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.core.{LevelName, TableDef}
import graft.engine.TpchStar
import graft.pipeline.PipelineOps
import graft.plan.{CubePlanner, Preagg, TableResolver}
import graft.streaming.{IngestBump, StateStore}
import Ingest.{Bump, Result}

/** The `ingest_cdc` workload: snapshot 0 of the documents corpus (and the
  * base fact, folded into one registered Preagg summary) through
  * `IngestBump.bump`, then the seeded CDC chain — per bump
  * `IngestBump.bumpTextCdc` to a committed state and an evaluated verdict,
  * and `IngestBump.bumpSummaries` folding that bump's `lineitem` delta —
  * then the from-scratch `PipelineOps.dedupVerdict` of the final snapshot. */
final class Ingest(spark: SparkSession, s: Settings, tracer: Tracer) {
  private val cube = TpchStar.salesCube
  private val grain = Seq(
    LevelName("Geography", "Geography", "Nation"),
    LevelName("Ship Date", "Ship Date", "Year"))
  private val SummaryName = "nation_year"
  private val star = new TpchStar.Resolver(s.starDir)

  /** The star with its `lineitem` slot served from other directories. */
  private def factFrom(dirs: Seq[String]): TableResolver = new TableResolver {
    def resolve(sp: SparkSession, t: TableDef): DataFrame =
      if (t.name == "lineitem")
        dirs.map(d => new TpchStar.Resolver(d).resolve(sp, t)).reduce(_ unionByName _)
      else star.resolve(sp, t)
  }

  private def summaryOf(dirs: Seq[String]): DataFrame =
    Preagg.summaryFrame(spark, new CubePlanner(cube, factFrom(dirs)), cube, grain)

  /** The registered summary for a fact delta stored at `dir`. */
  private def spec(dir: String) = IngestBump.SummarySpec(SummaryName,
    partialsOf = _ => summaryOf(Seq(dir)),
    combine = Preagg.mergeSummaries(cube, _, _))

  private def docs(dir: String) = spark.read.parquet(s"$dir/documents.parquet")
  private def bumpDir(b: Int) = s"${s.cdcDir}/bump$b"
  private def snapDir(b: Int) = s"${s.cdcDir}/snap$b"
  private def fact(dir: String) = spark.read.parquet(s"$dir/lineitem.parquet")

  private def delta(b: Int) = IngestBump.CorpusDelta(
    removedIds = spark.read.parquet(s"${bumpDir(b)}/removed.parquet"),
    changed = spark.read.parquet(s"${bumpDir(b)}/changed.parquet"),
    added = spark.read.parquet(s"${bumpDir(b)}/added.parquet"))

  private def textBytes(df: DataFrame): Long =
    df.selectExpr("coalesce(sum(octet_length(text)), 0)").collect()(0).getLong(0)

  /** Files under `root` with their sizes. */
  private def files(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator.asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toMap
      finally st.close()
    }

  /** The longest delta chain of any StateStore directory under `root`. */
  private def maxChain(root: Path): Int = {
    val st = Files.walk(root, 3)
    try st.iterator.asScala.filter(Files.isDirectory(_)).toSeq
      .map(d => scala.util.Try(StateStore.chainLength(spark, d.toString)).getOrElse(0))
      .foldLeft(0)(math.max)
    finally st.close()
  }

  private def timed[A](name: String)(f: => A): (A, Double) = {
    val t0 = tracer.nowMs
    val r = f
    val t1 = tracer.nowMs
    tracer.record(name, t0, t1, "ingest")
    (r, (t1 - t0) / 1e3)
  }

  /** Snapshot 0: the corpus and the base fact, through `IngestBump.bump`. */
  private def build(root: Path): Double =
    timed("streaming.build") {
      IngestBump.bump(spark, root.toString, docs(snapDir(0)),
        factDelta = Some(fact(s.starDir)), summaries = Seq(spec(s.starDir))).verdict.collect()
    }._2

  /** The CDC chain; returns each bump's costs and the final verdict. */
  private def chain(root: Path): (Seq[Bump], Seq[Row]) = {
    var last = Seq.empty[Row]
    val bs = (1 to s.bumps).map { b =>
      val before = files(root)
      val (v, textS) = timed("streaming.text_bump") {
        IngestBump.bumpTextCdc(spark, root.toString, delta(b), docs(snapDir(b)))
      }
      val (rows, verdictS) = timed("streaming.verdict")(v.collect().toSeq)
      last = rows
      val (_, foldS) = timed("streaming.summary_fold") {
        IngestBump.bumpSummaries(spark, root.toString, fact(bumpDir(b)), Seq(spec(bumpDir(b))))
      }
      val after = files(root)
      val written = after.filter { case (p, n) => !before.get(p).contains(n) }
      Bump(textS, verdictS, foldS, written.values.sum, written.size, maxChain(root))
    }
    (bs, last)
  }

  def run(stats: Option[SparkStats]): Result = {
    val root = Paths.get(s.workDir, s"state_${System.nanoTime}")
    try {
      def snap() = stats.map { st => SparkStats.drain(spark.sparkContext); st.snapshot() }
        .getOrElse(Map.empty)
      val buildS = build(root)
      val s1 = snap()
      // the timed window opens with the chain, so set-up includes snapshot 0
      val setupS = Main.sinceJvmStart()
      val waits0 = stats.map(_.schedulerWaitMs.size).getOrElse(0)
      val (bumps, verdict) = chain(root)
      val s2 = snap()
      val waits = stats.map(_.schedulerWaitMs.asScala.toSeq.drop(waits0).map(_ / 1e3)).getOrElse(Nil)
      val (rebuilt, rebuildS) = timed("pipeline.rebuild") {
        PipelineOps.dedupVerdict(spark, snapDir(s.bumps)).collect().toSeq
      }
      val s3 = snap()

      // ---- the gate, outside the timed window
      val failures = Seq.newBuilder[String]
      def img(rows: Seq[Row]) = rows.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
      def verdictOk(v: Seq[Row]) = img(v) == img(rebuilt)
      if (!verdictOk(verdict))
        failures += s"final CDC verdict (${verdict.length} rows) differs from the from-scratch dedupVerdict (${rebuilt.length} rows)"
      val store = IngestBump.summaryPath(spark, root.toString, SummaryName)
        .map(p => Check.frameImage(spark.read.parquet(p), "jsonarrays"))
      val want = Check.frameImage(
        summaryOf(s.starDir +: (1 to s.bumps).map(bumpDir)), "jsonarrays")
      def storeOk(st: Option[Check.Image]) = st.contains(want)
      if (!storeOk(store))
        failures += s"summary store differs from Preagg.summaryFrame over the cumulative fact"
      // canaries: each comparison must reject a corrupted copy of what it
      // was given — one verdict row pointing at a canonical id no document
      // has, and the summary store with one row dropped
      if (verdict.nonEmpty) {
        val r = verdict.head
        val moved = Row.fromSeq(r.toSeq.updated(r.fieldIndex("canonical_id"), -1L))
        if (verdictOk(moved +: verdict.tail)) failures += "gate canary: a corrupted verdict was accepted"
      }
      if (store.exists(_._2.nonEmpty) && storeOk(store.map { case (h, rows) => (h, rows.tail) }))
        failures += "gate canary: a corrupted summary store was accepted"

      val deltaText = (1 to s.bumps).map { b =>
        textBytes(spark.read.parquet(s"${bumpDir(b)}/changed.parquet")) +
          textBytes(spark.read.parquet(s"${bumpDir(b)}/added.parquet"))
      }.sum
      Result(setupS, buildS, bumps, rebuildS, deltaText, textBytes(docs(snapDir(s.bumps))),
        files(root).values.sum, failures.result(),
        SparkStats.diff(s2, s3), SparkStats.diff(s1, s2), waits)
    } finally Util.deleteTree(root)
  }
}

object Ingest {
  final case class Bump(textS: Double, verdictS: Double, foldS: Double,
      bytesWritten: Long, filesWritten: Int, chainLength: Int) {
    def totalS: Double = textS + verdictS + foldS
  }

  final case class Result(setupS: Double, buildS: Double, bumps: Seq[Bump], rebuildS: Double,
      deltaTextBytes: Long, corpusTextBytes: Long, stateBytes: Long,
      failures: Seq[String], rebuildStats: Map[String, Double], chainStats: Map[String, Double],
      chainSchedulerWaitsS: Seq[Double])
}
