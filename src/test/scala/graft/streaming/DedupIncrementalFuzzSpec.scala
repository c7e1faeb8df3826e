package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.{spark, SfDir}

/** Split-invariance fuzz of the incremental dedup refresh: however the
  * corpus is carved into arrival batches, the final verdict must equal the
  * one-shot batch p36. EventStreamSpec pins one hand-picked 3-batch split;
  * this spec drives seeded RANDOM splits — uneven widths, singleton
  * batches, an explicitly empty batch, and a many-batch split — since the
  * state-merge path (carried grams ∪ new, carried edges ∪ new-vs-history
  * pairs) is exactly where batch-boundary bugs hide, and a bug that
  * cancels at one split geometry won't cancel at all of them. */
class DedupIncrementalFuzzSpec extends AnyFunSuite {

  private lazy val corpus = {
    val base = spark.read.parquet(s"$SfDir/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
    // replay the first 20 docs under new ids so the exact stage has work
    // and near-dup clusters straddle the replay boundary (same fixture
    // augmentation as EventStreamSpec)
    base.unionByName(
      base.where(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + lit(100000L)))
  }

  private lazy val survivors = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("text"))).orderBy(col("doc_id").asc)
    corpus.withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
      .withColumn("content_hash", md5(col("text")))
      .localCheckpoint(false)
  }

  private def img(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq

  private lazy val want = img(graft.pipeline.PipelineOps.dedupVerdictOf(corpus))

  /** Run the refresh over the batches defined by ascending cut points
    * (half-open doc_id ranges) and return the final verdict image. */
  private def incremental(cuts: Seq[Long]) = {
    val arrivals = DedupStream.arrivalLog(corpus)
    var state: Option[DedupStream.PairState] = None
    var verdict: org.apache.spark.sql.DataFrame = null
    cuts.sliding(2).foreach { case Seq(lo, hi) =>
      val batch = survivors.where(col("doc_id") >= lo && col("doc_id") < hi)
      val seen = survivors.where(col("doc_id") < hi)
      val (v, s) = DedupStream.refreshVerdictIncremental(seen, batch, arrivals, state)
      state = Some(s); verdict = v
    }
    img(verdict)
  }

  private val rng = new scala.util.Random(0xBEEF)

  // each case: a name and ascending cut points over [0, ∞); doc_ids run
  // 0..499 plus the 100000+ replays
  private val Splits: Seq[(String, Seq[Long])] = Seq(
    "five-random" ->
      (Seq(0L) ++ Seq.fill(4)(rng.nextInt(500).toLong).distinct.sorted ++ Seq(Long.MaxValue)),
    "singleton+empty-batches" ->
      Seq(0L, 1L, 1L, 2L, 250L, 250L, Long.MaxValue), // two empty, two singleton batches
    "many-batches" ->
      (Seq(0L) ++ (1 to 9).map(i => i * 50L) ++ Seq(Long.MaxValue)),
    "replays-alone-last" ->
      Seq(0L, 500L, Long.MaxValue) // final batch holds only replay-range ids
  )

  for ((name, cuts) <- Splits)
    test(s"incremental refresh over $name split equals batch p36") {
      assert(incremental(cuts) == want)
    }

  test("CDC delta: add/remove/change deltas converge to the new snapshot's one-shot verdict") {
    // the p61 path: ingest OLD, retire what the delta invalidates, refresh
    // ONE batch of what it introduces — and the verdict must equal running
    // p36 on the NEW snapshot from scratch. Scenario coverage: removals
    // that PROMOTE an exact duplicate to survivor (its keeper leaves),
    // changes that retire-and-re-gram under the same doc_id, survivor
    // displacement (a lower-id copy arrives), pure growth, heavy churn.
    import org.apache.spark.sql.Column
    import graft.pipeline.PipelineOps
    def snap(drop: Column => Column, change: Column => Column) =
      corpus.where(!drop(col("doc_id")))
        .withColumn("text",
          when(change(col("doc_id")), concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    val none: Column => Column = _ => lit(false)
    val trials = Seq(
      ("classic-cdc",
        snap(id => id % 11 === 3, none), snap(id => id % 13 === 5, id => id % 7 === 2)),
      // replays (+100000) duplicate docs 0..19; dropping the low-id
      // keepers from NEW promotes the replays to survivors, whose grams
      // were never carried — the retirement+batch seam must pick them up
      ("keeper-removal-promotes-replays",
        snap(none, none), snap(id => id < 10, none)),
      // NEW adds the low-id originals back: they DISPLACE the replay
      // survivors (min doc_id per hash), so carried replay grams retire
      ("survivor-displacement",
        snap(id => id < 10, none), snap(none, none)),
      ("heavy-churn",
        snap(id => id % 3 === 0, id => id % 5 === 1),
        snap(id => id % 3 === 1, id => id % 5 === 2)),
      ("pure-growth",
        snap(id => id >= 250L && id < 100000L, none), snap(none, none)))
    for ((nm, old, neu) <- trials)
      assert(img(PipelineOps.deltaDedupOf(old, neu)) ==
        img(PipelineOps.dedupVerdictOf(neu)), nm)
  }

  test("CDC FEED fuzz: the same scenarios through bumpTextCdc — the feed-trusting " +
       "path (live-log survivor selection, promoted-body corpus fetch, LSM delta " +
       "persistence, incremental CC) converges to each one-shot verdict") {
    import org.apache.spark.sql.Column
    import graft.pipeline.PipelineOps
    def snap(drop: Column => Column, change: Column => Column) =
      corpus.where(!drop(col("doc_id")))
        .withColumn("text",
          when(change(col("doc_id")), concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    val none: Column => Column = _ => lit(false)
    def feed(old: org.apache.spark.sql.DataFrame, neu: org.apache.spark.sql.DataFrame) = {
      val pk = old.select(col("doc_id"), md5(col("text")).as("h0"))
      val nk = neu.select(col("doc_id"), md5(col("text")).as("h1"))
      IngestBump.CorpusDelta(
        removedIds = pk.join(nk, Seq("doc_id"), "left_anti").select("doc_id"),
        changed = neu.join(
          pk.join(nk, "doc_id").where(col("h0") =!= col("h1")).select("doc_id"),
          Seq("doc_id"), "left_semi"),
        added = neu.join(pk, Seq("doc_id"), "left_anti"))
    }
    val trials = Seq(
      ("classic-cdc",
        snap(id => id % 11 === 3, none), snap(id => id % 13 === 5, id => id % 7 === 2)),
      ("keeper-removal-promotes-replays",
        snap(none, none), snap(id => id < 10, none)),
      ("survivor-displacement",
        snap(id => id < 10, none), snap(none, none)),
      ("heavy-churn",
        snap(id => id % 3 === 0, id => id % 5 === 1),
        snap(id => id % 3 === 1, id => id % 5 === 2)))
    for ((nm, old, neu) <- trials) {
      val root = java.nio.file.Files.createTempDirectory(s"graft_cdcfeed_$nm").toString
      IngestBump.bump(spark, root, old)
      val got = IngestBump.bumpTextCdc(spark, root, feed(old, neu), neu)
      val want = img(PipelineOps.dedupVerdictOf(neu))
      assert(img(got) == want, nm)
      // the snapshot route: bump derives the same feed from its carried
      // live log and runs the same body
      val root2 = java.nio.file.Files.createTempDirectory(s"graft_snapfeed_$nm").toString
      IngestBump.bump(spark, root2, old)
      assert(img(IngestBump.bump(spark, root2, neu).verdict) == want, s"$nm (snapshot bump)")
    }
  }
}
