package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{StringHashes, SubstringHashes}

/** Training-data pipeline operators over the driver's `documents`,
  * `embeddings`, and `events` tables — the operator families a 100 TB
  * LLM-data pipeline needs (dedup, similarity search, text analysis),
  * expressed as declarative Spark plans.
  *
  * Cross-engine determinism (every op is DuckDB-oracle checked byte-exact):
  *   - all hashes are md5-derived integers ([[Hashing]]), never
  *     murmur3/xxhash (engine-private);
  *   - embeddings are quantized to int64 before any arithmetic, so dot
  *     products and norms are exact; doubles appear only in final
  *     divisions/sqrt of exact integers (IEEE-deterministic);
  *   - no double value is ever summed across rows (summation order is
  *     partition-dependent); sums are over int64 or DECIMAL.
  *
  * Scale notes (designed for 1000-executor clusters, tested local):
  *   - per-document stages are embarrassingly parallel projections;
  *   - near-dup candidate generation shuffles on (band, signature) buckets —
  *     never an all-pairs cross join;
  *   - ANN compares against a broadcast query set (brute) or shuffles on the
  *     LSH bucket key (bucketed);
  *   - all lambda work uses Catalyst higher-order functions (codegen), no
  *     Scala/Python UDFs.
  */
object PipelineOps {
  import Hashing._

  /** Lineage-truncation point for the iterative CC loop (SURVEY §8.6).
    *
    * Default `localCheckpoint` stores round results on executor block
    * storage — zero DFS I/O, the right trade at local/single-node scale.
    * But truncated lineage cannot recompute a lost block: on a long
    * 1000-executor job an executor loss mid-loop would fail the job. Set
    * `GRAFT_CHECKPOINT_DIR` to a DFS path (HDFS/S3A/...) and every round
    * persists via reliable `checkpoint()` instead — executor loss then
    * costs a re-read, not the job. This config IS the "only code change
    * any operator needs at 1000 executors" from SURVEY §8.6, now a knob.
    * Read per call so tests can exercise both modes in one JVM. */
  @volatile private[graft] var checkpointDirOverride: Option[String] = None
  private var installedCheckpointDir: Option[String] = None
  private def truncateLineage(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = checkpointDirOverride.orElse(sys.env.get("GRAFT_CHECKPOINT_DIR")) match {
      case Some(d) =>
        synchronized {
          // setCheckpointDir appends a UUID subdir, so remember what we
          // installed rather than comparing against sc.getCheckpointDir
          if (!installedCheckpointDir.contains(d)) {
            df.sparkSession.sparkContext.setCheckpointDir(d)
            installedCheckpointDir = Some(d)
          }
        }
        df.checkpoint(eager)
      case None => df.localCheckpoint(eager)
    }
    // checkpoint PROPAGATES the origin plan's ESTIMATED stats into the
    // truncated relation. Under iterated self-joins (the CC/forest
    // loops) the size-only estimator multiplies children per join, so
    // the carried estimate SQUARES every round — after ~25 accumulated
    // squarings the BigInt sizeInBytes overflows BigInteger's supported
    // range and planning itself throws. Saturate the capture at
    // Long.MaxValue (zero-copy LogicalRDD rebuild): real sizes pass
    // through so broadcast decisions hold, absurd ones stop compounding.
    org.apache.spark.sql.graft.CheckpointStats.capEstimate(cp)
  }

  /** `localCheckpoint` + estimate cap — the pin for maintained-state frames
    * that live OUTSIDE [[truncateLineage]]'s checkpoint-dir knob (refresh
    * deltas, fold outputs: rewrite-sized, rebuilt from durable state on
    * recovery, so local pinning is the right durability class). Without the
    * cap, state folded through repeated bumps compounds the checkpoint-
    * captured size estimates exactly like the CC loops do — see
    * [[org.apache.spark.sql.graft.CheckpointStats]]. */
  private[graft] implicit class PinnedFrame(private val df: DataFrame) extends AnyVal {
    def pinned(eager: Boolean): DataFrame =
      org.apache.spark.sql.graft.CheckpointStats.capEstimate(df.localCheckpoint(eager))
  }

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def embs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")
  /** events with `ts` normalized to epoch-µs int64 — the driver has shipped
    * the column as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) parquet;
    * [[graft.sources.EventsSource]] absorbs the flavor at the scan. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    graft.sources.EventsSource.read(spark, dir)

  /** First 12 hex chars of md5 as int64 (48 bits — exact in any engine). */
  private[graft] def hex12(e: String): String =
    s"CAST(conv(substr(md5($e), 1, 12), 16, 10) AS BIGINT)"

  /** 63-bit md5 prefix as int64: the top hex char masked to 3 bits plus the
    * next 15 hex chars (60 bits). Stays strictly below 2^63 so neither
    * engine can overflow under ANSI semantics while keeping nearly the full
    * 64-bit keyspace — birthday collision onset ~2^31.5 ≈ 3e9 distinct keys
    * (vs ~16M for [[hex12]]). Used where key cardinality tracks corpus
    * size (p30's span census). */
  private[graft] def hex63(e: String): String =
    s"((CAST(conv(substr(md5($e), 1, 1), 16, 10) AS BIGINT) % 8) * ${1L << 60}" +
      s" + CAST(conv(substr(md5($e), 2, 15), 16, 10) AS BIGINT))"

  // ===================================================== text analysis

  /** p01: per-language corpus stats — doc counts, whitespace-token counts,
    * char counts. Single projection + one shuffle on `lang`. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"))
      .withColumn("avg_tokens", col("n_tokens").cast("double") / col("n_docs").cast("double"))
      .orderBy("lang")

  val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  private def sqlList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString(", ")

  /** p02: quality-signal rollup per source — stopword ratio and short-doc
    * counts are the standard pretraining quality heuristics. Ratios divide
    * exact int sums (never averages of per-doc doubles). */
  def quality(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_stop",
        expr(s"size(filter(toks, t -> array_contains(array(${sqlList(Stopwords)}), t)))"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum("n_stop").as("sum_stop"),
        sum(when(col("n_tokens") < 40, 1L).otherwise(0L)).as("n_short_docs"))
      .withColumn("stop_ratio", try_divide(col("sum_stop").cast("double"), col("sum_tokens").cast("double")))
      .orderBy("source")

  /** p10: language-ID by marker-token voting (fixed public stopword lists per
    * language); emits the (actual, predicted) confusion rollup. Prediction is
    * the max-scoring language, ties broken alphabetically, 'und' when no
    * marker hits. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "that"),
    "es" -> Seq("el", "la", "los", "que", "y", "es", "un", "con"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you", "zhe", "ren"))

  def langId(spark: SparkSession, dir: String): DataFrame = {
    var df = docs(spark, dir).withColumn("toks", split(col("text"), " "))
    for ((l, markers) <- LangMarkers)
      df = df.withColumn(s"score_$l",
        expr(s"size(filter(toks, t -> array_contains(array(${sqlList(markers)}), t)))"))
    val best = LangMarkers.map { case (l, _) => col(s"score_$l") }
      .reduce((a, b) => greatest(a, b))
    // alphabetic order of LangMarkers makes the first max win, matching the
    // oracle's CASE chain
    val pred = LangMarkers.foldRight(lit("und"): Column) { case ((l, _), acc) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    df.withColumn("predicted", pred)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** p11: BPE-ish tokenization — regex token runs (letter runs, digit runs,
    * single punctuation) versus whitespace tokens, rolled up per source. */
  val TokenRegex = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("n_bpe", regexp_count(col("text"), lit(TokenRegex)).cast("long"))
      .withColumn("n_ws", size(split(col("text"), " ")).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_bpe").as("sum_bpe"),
        sum("n_ws").as("sum_ws"),
        max("n_bpe").as("max_bpe"),
        min("n_bpe").as("min_bpe"))
      .orderBy("source")

  /** p17: corpus-frequency token statistics — the two-pass TF quality
    * signal: pass 1 builds global token frequencies (explode + count),
    * pass 2 joins them back per document to score rare-token usage.
    * Thresholded counts instead of log-probabilities keep the arithmetic
    * integer-exact cross-engine (ln/log2 are not ULP-stable between
    * libm implementations). */
  val RareTokenThreshold = 20L

  def rareTokens(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("tok"))
    val freqs = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
    toks.join(freqs, "tok")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("freq") < RareTokenThreshold, 1L).otherwise(0L)).as("n_rare"),
        countDistinct(when(col("freq") < RareTokenThreshold, col("tok"))).as("n_rare_types"))
      .withColumn("rare_ratio", try_divide(col("n_rare").cast("double"), col("n_tokens").cast("double")))
      .orderBy("source")
  }

  /** p39: heavy-hitter vocabulary — every token with frequency >=
    * 1/[[HeavyHitterDen]] of the corpus, EXACTLY, without ever shuffling
    * the token space. Pass 1 is one bounded-state aggregate: a mergeable
    * Misra-Gries summary ([[graft.functions.MgSketch]], <= capacity
    * entries per partition partial) plus the exact total count. MG
    * guarantees every token above N/(capacity+1) survives the summary, so
    * with capacity >= Den the summary is a proven SUPERSET of the answer;
    * pass 2 semi-joins the corpus against the broadcast candidates and
    * exact-counts only those. The final filter on exact counts makes the
    * answer deterministic and exact even though the sketch's extra
    * candidates are partitioning-dependent (MgSketchSpec fuzzes both
    * properties). This is the 100 TB vocabulary shape: a raw
    * `groupBy(token)` shuffles the full vocabulary; here the shuffle
    * carries <= capacity entries per partition in pass 1 and only
    * candidate-token partials in pass 2. */
  val HeavyHitterDen = 128L
  val MgCapacity = 256

  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    def toks = docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val sketch = toks.agg(
      graft.functions.MgSketch.candidatesCol(col("tok"), MgCapacity).as("cands"),
      count(lit(1)).as("n_total"))
    val cands = sketch.select(col("n_total"), explode(col("cands")).as("tok"))
    toks.join(broadcast(cands), "tok")
      .groupBy("tok", "n_total")
      .agg(count(lit(1)).as("freq"))
      .where(col("freq") * HeavyHitterDen >= col("n_total"))
      .withColumn("ratio", col("freq").cast("double") / col("n_total").cast("double"))
      .select(col("tok"), col("freq"), col("n_total"), col("ratio"))
      .orderBy("tok")
  }

  /** p31: TF-IDF top terms per document — the second classic two-pass text
    * score after rare-token TF (p17): pass 1 builds global document
    * frequencies, pass 2 scores each (doc, term) and ranks per document.
    * IDF is the integer quotient `(N * 1e6) DIV df` instead of a log —
    * rank-equivalent for fixed N, and exact in any engine (ln/log2 are not
    * cross-engine ULP-stable). Corpus size N comes from a broadcast one-row
    * aggregate, never a driver-side collect. Output restricted to the first
    * [[TfIdfDocs]] docs (the per-doc ranking is the operator; the subset
    * keeps the verified result bounded).
    *
    * Int64 bound: `score = tf · ((N · TfIdfScale) DIV df)` stays exact while
    * `tf_max · N · TfIdfScale < 2^63` — with TfIdfScale = 10^6 and per-doc
    * tf ≤ 10^4 that is corpora up to ~9×10^8 documents. Past that, lower
    * [[TfIdfScale]] (rank order only needs enough idf resolution to split
    * distinct df values: scale ≥ N suffices) or move the score to
    * DECIMAL(38,0); Spark's non-ANSI int64 multiply wraps silently. */
  val TfIdfScale = 1000000L
  val TfIdfDocs  = 20
  val TfIdfTopK  = 3

  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val nDocs = docs(spark, dir).agg(count(lit(1)).as("n_corpus"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok").asc)
    tf.where(col("doc_id") < TfIdfDocs)
      .join(dfreq, "tok") // global df joins the bounded tf side (broadcast-able)
      .crossJoin(broadcast(nDocs))
      .withColumn("score", col("tf") * expr(s"(n_corpus * $TfIdfScale) DIV df"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= TfIdfTopK)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("tok"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** p41: bigram-LM quality scoring — the language-model fluency filter of
    * CCNet / the KenLM pass every pretraining pipeline runs (Wenzek et al.
    * 2020): score each document by how expected its token transitions are
    * under a model trained on the corpus itself, flag the tail. The real
    * pipelines use a smoothed 5-gram LM and perplexity; the cross-engine
    * EXACT core is the same two-pass shape with an integer-rational
    * conditional probability — per bigram instance,
    * `p_scaled = C(w1,w2) · LmScale DIV C(w1·)` (C(w1·) = bigrams starting
    * w1, so p sums to 1 over continuations) — summed per doc and divided
    * only at the end; log-smoothing is an engine-dependent float ladder,
    * rank-irrelevant for the flag signal here. Low-scoring docs are the
    * incoherent tail (shuffled/truncated text scores near the unigram
    * floor; templated text scores high).
    *
    * Shape at scale: tokenize once, one count shuffle per n-gram order
    * (map-side combined, keys bounded by the OBSERVED vocab/bigram space —
    * Zipf-bounded, never corpus-sized), then score joins keyed on the same
    * grams. The count tables are the model: tiny next to the corpus,
    * reusable across scoring runs (train on a clean reference corpus,
    * score anything — exactly CCNet's split). Per-doc sums re-shuffle on
    * doc_id, output is source-bounded. Int64 bound: `C(w1,w2) · LmScale`
    * needs the hottest bigram count under 2^63/10^6 ≈ 9.2·10^12 — past
    * that (a ~100 T-token corpus where one bigram is ~10% of text), drop
    * LmScale a decade or move the product to DECIMAL(38,0); per-doc sums
    * are ≤ n_bigrams · LmScale and safe far beyond that. */
  val LmScale = 1000000L
  /** Flag threshold: per-doc mean scaled p below LmScale/64 (~1.5% mean
    * transition probability) — compared cross-multiplied, never as a
    * double. */
  val LmLowDen = 64L

  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreOf(docs(spark, dir))

  /** p41 body over a (doc_id, source, text) frame — seam for fixture specs
    * with hand-computable bigram probabilities. */
  private[graft] def lmScoreOf(docsDf: DataFrame): DataFrame = {
    val grams = docsDf
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(expr(
          // see shingled(): slice-based total window (ANSI-safe under the
          // optimizer's inferred generate filter)
          "transform(slice(toks, 2, greatest(size(toks) - 1, 0)), (t, i) -> struct(toks[i] AS w1, t AS w2))"))
          .as("g"))
      .select(col("doc_id"), col("source"), col("g.w1").as("w1"), col("g.w2").as("w2"))
    val big = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = grams.groupBy("w1").agg(count(lit(1)).as("c1"))
    grams
      .join(big, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .withColumn("p_scaled", expr(s"(c12 * $LmScale) DIV c1"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"), sum("p_scaled").as("score_sum"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("sum_bigrams"),
        sum("score_sum").as("sum_score"),
        sum(when(col("score_sum") * LmLowDen < col("n_bigrams") * LmScale, 1L)
          .otherwise(0L)).as("n_low"))
      .withColumn("avg_p",
        col("sum_score").cast("double") / col("sum_bigrams").cast("double") / lit(LmScale.toDouble))
      .orderBy("source")
  }

  /** p42: exact per-source doc-length deciles WITHOUT a per-group full
    * sort — the distribution stats every corpus datasheet reports
    * (length percentiles drive truncation/packing/quality decisions), as
    * the classic two-pass bin-then-refine selection:
    *
    * pass 1 bins each value into [[QuantNumBins]] equi-width buckets and
    * counts per (source, bin) — bounded state (NB counters per group),
    * map-side combined, never a sort; the driver folds the ≤
    * sources × NB counter rows into cumulative offsets and computes, for
    * each target rank ceil(d·n/10), its bucket and rank-within-bucket
    * (same bounded-collect contract as OLAP member resolution — counter
    * rows, never data rows). Pass 2 semi-joins the corpus down to the ≤ 9
    * candidate buckets per source and ranks only those (~n/NB rows each)
    * with a (source, bin)-partitioned window. Result: EXACT rank
    * selection — the value at rank ceil(d·n/10) is tie-order-independent,
    * so it hash-matches any engine — while the heavy pass stays a counting
    * aggregate. A per-group `orderBy` + row_number would sort entire
    * groups at 100 TB; sketches (t-digest/KLL/GK) trade exactness for one
    * pass — this operator is the exact complement to the engine's sketch
    * family (KMV distincts, MG heavy hitters, bloom membership).
    *
    * Int64 bound: bin arithmetic is `(v - lo) · NB DIV span`; values up to
    * 2^55 are safe at NB = 256. */
  val QuantNumBins = 256
  val QuantDeciles = 9

  def quantiles(spark: SparkSession, dir: String): DataFrame =
    quantilesOf(docs(spark, dir).select(col("source"), col("n_chars").as("v")))

  /** p42 body over a (source, v:int64) frame — seam for fixture specs;
    * `nb` is the bucket-count geometry knob (fuzzed across degenerate
    * geometries in QuantilesFuzzSpec — 1 bucket funnels refine into one
    * sort, more buckets than values leaves most empty; both must stay
    * rank-exact). */
  private[graft] def quantilesOf(vals: DataFrame, nb: Int = QuantNumBins): DataFrame = {
    val spark = vals.sparkSession
    import spark.implicits._
    val ext = vals.groupBy("source")
      .agg(min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
    val binned = vals.join(broadcast(ext), "source")
      .withColumn("bin", expr(s"CAST(((v - lo) * $nb) DIV (hi - lo + 1) AS INT)"))
    val binCounts = binned.groupBy("source", "bin").agg(count(lit(1)).as("c"))

    // driver fold: counter rows only (≤ sources × NB), like member resolution
    val nBySource = ext.collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val counters = binCounts.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val targets = counters.toSeq.flatMap { case (source, bins) =>
      val n = nBySource(source)
      val cumBefore = bins.scanLeft(0L)(_ + _._3)
      (1 to QuantDeciles).map { d =>
        val rank = (d * n + 9L) / 10L // ceil(d·n/10), 1-based
        val i = bins.indices.find(i => rank <= cumBefore(i) + bins(i)._3).get
        (source, bins(i)._2, rank - cumBefore(i), d.toLong, n)
      }
    }.toDF("source", "bin", "local_rank", "decile", "n")

    val w = Window.partitionBy(col("source"), col("bin")).orderBy(col("v").asc)
    binned.select(col("source"), col("bin"), col("v"))
      .join(broadcast(targets.select("source", "bin").distinct()), Seq("source", "bin"), "leftsemi")
      .withColumn("rnk", row_number().over(w))
      .join(broadcast(targets), Seq("source", "bin"))
      .where(col("rnk") === col("local_rank"))
      .select(col("source"), col("decile"), col("n"), col("v").as("value"))
      .orderBy("source", "decile")
  }

  /** p43: fixed-domain histogram quantiles — the summary-servable
    * APPROXIMATE complement to p42's exact selection. The histogram's bin
    * domain is DECLARED ([[HistLo]], [[HistHi]], [[HistNumBins]]; values
    * clamp at the edges), not derived from the data — that one choice is
    * what makes the counter table a mergeable summary: per-shard /
    * per-batch (key, bin) counts combine by addition FOREVER (no extent
    * drift re-binning), so a summary store maintained as a plain streaming
    * sum (the [[graft.streaming.SummaryRefresh]] contract) serves any
    * percentile later without touching base data. Estimates report the
    * upper bucket edge: est ∈ [true, true + width), one-sided error
    * bounded by the bucket width ((hi−lo+1)/NB) — HistQuantilesSpec pins
    * the bound against p42's exact values. All arithmetic is int64, so
    * the estimate is a deterministic function of the counters and
    * hash-matches any engine.
    *
    * Shape at scale: the corpus pass is ONE bounded-state count shuffle
    * (≤ NB counters per key, map-side combined); everything after —
    * cumulative ranks, decile targets — runs on the counter table
    * (keys × NB rows), windowed per key. The serving trade vs p42: one
    * pass and mergeable storage for bucket-width precision; p42 rescans
    * candidate buckets for exactness. */
  val HistLo = 0L
  val HistHi = 4095L
  val HistNumBins = 256

  def histQuantiles(spark: SparkSession, dir: String): DataFrame =
    histQuantilesOf(docs(spark, dir).select(col("source"), col("n_chars").as("v")))

  /** The declared-domain bin of a value column — the expression a
    * streaming maintainer derives stream-side so the stored keys are the
    * grain ([[graft.streaming.SummaryRefresh]]'s `transform` hook). */
  private[graft] def histBinExpr(v: String,
      lo: Long = HistLo, hi: Long = HistHi, nb: Int = HistNumBins): String = {
    val span = hi - lo + 1
    s"CAST(((least(greatest($v, $lo), $hi) - $lo) * $nb) DIV $span AS INT)"
  }

  /** p43 body over a (source, v:int64) frame — seam for fixture specs;
    * (lo, hi, nb) is the declared-domain geometry, fuzzed across
    * degenerate shapes in QuantilesFuzzSpec. */
  private[graft] def histQuantilesOf(vals: DataFrame,
      lo: Long = HistLo, hi: Long = HistHi, nb: Int = HistNumBins): DataFrame =
    histQuantilesFromCounts(vals
      .withColumn("bin", expr(histBinExpr("v", lo, hi, nb)))
      .groupBy("source", "bin").agg(count(lit(1)).as("c")), lo, hi, nb)

  /** Decile estimates from a stored (source, bin, c) counter table — the
    * serving half of p43: the table may come from the one-shot pass above
    * or from a summary store a streaming sum has been folding batches
    * into; the estimates are a deterministic function of the counters, so
    * both must agree row-for-row (HistQuantilesSpec proves it). */
  private[graft] def histQuantilesFromCounts(counts: DataFrame,
      lo: Long = HistLo, hi: Long = HistHi, nb: Int = HistNumBins): DataFrame = {
    val span = hi - lo + 1
    val wCum = Window.partitionBy(col("source")).orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum(col("c")).over(wCum))
    val totals = counts.groupBy("source").agg(sum(col("c")).as("n"))
    val targets = totals
      .select(col("source"), col("n"), explode(expr("sequence(1, 9)")).as("decile"))
      .withColumn("rank", expr("(decile * n + 9) DIV 10"))
    targets.join(cum, Seq("source"))
      .where(col("cum") >= col("rank") && col("cum") - col("c") < col("rank"))
      .withColumn("est", expr(s"$lo + ((bin + 1) * $span) DIV $nb"))
      .select(col("source"), col("decile").cast("long").as("decile"), col("n"),
        col("est").cast("long").as("est"))
      .orderBy("source", "decile")
  }

  /** p45: regex scrub / redaction audit — the PII-removal batch shape
    * (reference pipelines run exactly this pass before training: match a
    * pattern table, count hits per doc, rewrite the text, flag hit-heavy
    * docs for drop review). The synthetic corpus has no natural
    * identifiers, so a lexicon stands in for the email/phone/IP regexes —
    * the pattern table is data, the operator is the machinery. Patterns
    * are RE2-safe (word boundaries, char classes, bounded quantifiers
    * only) so Spark's Java regex and the oracle's RE2 agree; the zero-hit
    * path (a pattern that never fires) is pinned by a fixture test on
    * [[scrubDocs]], not by assuming anything about the current corpus.
    *
    * Per-doc work is a pure projection (regexp_count + sequential
    * regexp_replace in declaration order, all codegen'd); the rollup is
    * one shuffle on `source`. The redaction itself is auditable
    * cross-engine without shipping rewritten text: per-doc
    * `hex12(redacted) % `[[ScrubAuditMod]] summed per source — engines
    * agree iff every rewritten byte agrees. The modulus keeps the int64
    * sum safe to ~9e9 docs per source; beyond that, widen to DECIMAL. */
  val ScrubPatterns: Seq[(String, String)] = Seq(
    "customer" -> "\\bcustomer\\b",
    "vector"   -> "\\bvector\\b",
    "digits"   -> "[0-9]{3,}")
  /** Docs with at least this many total hits are flagged for review. */
  val ScrubFlagHits = 3
  val ScrubAuditMod = 1000000000L

  def scrub(spark: SparkSession, dir: String): DataFrame =
    scrubDocs(docs(spark, dir))

  /** scrub over an explicit docs frame (source, text, ...) — split out so
    * the zero-hit path can be pinned on a purpose-built fixture instead of
    * a corpus-content assumption that breaks when testdata regenerates. */
  private[graft] def scrubDocs(docsDf: DataFrame): DataFrame = {
    val withCounts = ScrubPatterns.foldLeft(docsDf) {
      case (d, (nm, pat)) =>
        d.withColumn(s"hits_$nm", regexp_count(col("text"), lit(pat)).cast("long"))
    }
    val redacted = ScrubPatterns.foldLeft(col("text")) {
      case (c, (nm, pat)) => regexp_replace(c, lit(pat), lit(s"[${nm.toUpperCase}]"))
    }
    val hitCols = ScrubPatterns.map { case (nm, _) => col(s"hits_$nm") }
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("n_docs"),
        sum(when(col("total_hits") >= ScrubFlagHits, 1L).otherwise(0L)).as("n_flagged")) ++
      ScrubPatterns.map { case (nm, _) => sum(col(s"hits_$nm")).as(s"hits_$nm") } :+
      sum(expr(s"${hex12("redacted")} % $ScrubAuditMod")).as("redact_audit")
    withCounts
      .withColumn("redacted", redacted)
      .withColumn("total_hits", hitCols.reduce(_ + _))
      .groupBy("source")
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("source")
  }

  // ======================================================= deduplication

  /** p30: repeated-span detection — the n-gram approximation of exact
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better": their suffix-array pass finds verbatim repeats;
    * the fixed-width token-span variant is the shape that distributes).
    * Every [[SpanLen]]-token window of every document, counted corpus-wide;
    * spans occurring in ≥2 places are boilerplate/template candidates.
    * Shape: explode (corpus × tokens rows) → ONE count shuffle keyed on the
    * spans' 48-bit md5 hash (map-side partial aggregation; the raw text
    * never shuffles) → exactly-K candidates by (freq, hash) — a
    * deterministic total order both engines share — → span text joined
    * back for those K only via a broadcast. Distinct spans colliding on
    * the 63-bit hash merge counts identically in both engines (the min
    * span text reports); by the birthday bound collisions onset around
    * ~2^31.5 (~3e9) distinct spans — far past any corpus this runs on
    * single-node, and at a true 100 TB span census (10^12+ distinct spans)
    * the move is shuffling the span text itself as the key, paying text-
    * width shuffle for exactness; the tie-break-by-hash at the K boundary is what
    * keeps the candidate set EXACTLY K rows at any corpus size — a
    * tie-break by span text would need the text of every tied span, an
    * unbounded set on template-heavy corpora. */
  val SpanLen  = 5
  val SpanTopK = 20

  /** `spans` below feeds BOTH the count and the join-back, so the explode +
    * md5 evaluates twice — deliberately. Measured at sf0.1/local[32]: 1.92 s
    * as-is vs 1.30 s with `spans.localCheckpoint()` — caching wins locally
    * only because the exploded relation fits in memory. The exploded form
    * is ~[[SpanLen]]× the corpus text bytes (every token lands in SpanLen
    * spans): at 100 TB a checkpoint/persist writes and re-reads a
    * multi-hundred-TB intermediate, while the recompute is a second
    * STREAMING columnar scan whose consumer filters map-side against the
    * 20-row broadcast — no materialization at all. Recompute is the scale
    * choice; both evaluations are md5-deterministic, so unlike
    * minhashPairs' nondeterministic double-hash trap (:271-275) there is
    * no correctness exposure. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val mkT = ((0 until SpanLen - 1).map(k => s"toks[i+$k]") :+ "t").mkString(", ")
    val spans = docs(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= SpanLen)
      .select(col("doc_id"),
        explode(expr( // slice-based total window (see shingled())
          s"transform(slice(toks, $SpanLen, greatest(size(toks) - ${SpanLen - 1}, 0)), (t, i) -> concat_ws(' ', $mkT))")).as("span"))
      .withColumn("h", expr(hex63("span")))
    val counts = spans.groupBy("h")
      .agg(count(lit(1)).as("freq"), countDistinct(col("doc_id")).as("n_docs"))
      .where(col("freq") >= 2)
    // exactly K candidates (TakeOrdered): bounded broadcast by construction
    val top = counts.orderBy(col("freq").desc, col("h").asc).limit(SpanTopK)
    // span text rejoins for those K only: the corpus side filters map-side
    // against the broadcast — no text ever shuffles
    spans.join(broadcast(top), "h")
      .groupBy(col("h"), col("freq"), col("n_docs"))
      .agg(min(col("span")).as("span"))
      .orderBy(col("freq").desc, col("span").asc)
      .select(col("span"), col("freq"), col("n_docs"))
  }


  /** p64: repeated-span REMOVAL planning — p30 counts boilerplate spans;
    * this emits the actionable artifact the Lee et al. 2022 span-dedup
    * pass actually applies: for every document, the merged token ranges
    * covered by corpus-wide-repeated windows — i.e. exactly what a
    * scrubber would cut. Windows hash as in p30 ([[SpanLen]] tokens,
    * 63-bit md5); a window is DUPLICATED iff its hash occurs ≥ 2 times
    * corpus-wide; each duplicated window marks [i, i+L), and per-doc
    * overlapping/adjacent marks merge by the classic gaps-and-islands
    * pass — running max of range ends over a doc-ordered window, a new
    * island where the next start clears it. The report is per source:
    * docs affected, merged ranges, tokens flagged, widest range, and an
    * order-sensitive checksum over the exact range boundaries (both
    * engines must agree on every start/end, not just on totals).
    *
    * Scale shape: p30's explode + ONE count shuffle on the span hash +
    * one hash-keyed join back, then per-DOC windows (bounded by the
    * doc's own marked-window count, never corpus-wide) and a source
    * rollup. The frequency threshold is corpus-global like p30 —
    * self-repeats inside one doc count toward it, matching the
    * substring-dedup semantics. */
  def spanScrub(spark: SparkSession, dir: String): DataFrame = {
    val mkT = ((0 until SpanLen - 1).map(k => s"toks[i+$k]") :+ "t").mkString(", ")
    val spans = docs(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= SpanLen)
      .select(col("doc_id"), col("source"),
        explode(expr( // slice-based total window (see shingled())
          s"transform(slice(toks, $SpanLen, greatest(size(toks) - ${SpanLen - 1}, 0)), (t, i) -> struct(i AS s, concat_ws(' ', $mkT) AS span))")).as("w"))
      .select(col("doc_id"), col("source"), col("w.s").as("s"), col("w.span").as("span"))
      .withColumn("h", expr(hex63("span"))).drop("span")
    // duplicate marking as ONE count window over the span hash (round 18):
    // the old groupBy(h) + join-back referenced `spans` twice, so the
    // text explode + span hashing ran TWICE (two Generate scans in the
    // plan), and the dup-hash build side was an UNBOUNDED broadcast (dup
    // span count grows with the corpus — a 100 TB scale hazard; p30 keeps
    // the join form because its top side is LIMIT-bounded and its span
    // TEXT must never shuffle — here the span string is already dropped).
    // The window shuffles only (doc_id, source, s, h) rows by h; a hot
    // span hash buffers one partition in the spill-capable window frame,
    // where an over-grown broadcast would have killed the driver.
    // Measured at sf0.1 ×3 interleaved: 3.45 → 1.46 s, output identical.
    val hw = Window.partitionBy(col("h"))
    val marked = spans
      .withColumn("freq", count(lit(1)).over(hw))
      .where(col("freq") >= 2)
      .select(col("doc_id"), col("source"), col("s"), (col("s") + SpanLen).as("e"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s").asc, col("e").asc)
    val ranges = marked
      .withColumn("prev_max_e",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("source"), col("island"))
      .agg(min(col("s")).as("rs"), max(col("e")).as("re"))
    ranges.groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs_flagged"),
        count(lit(1)).as("n_ranges"),
        sum((col("re") - col("rs")).cast("long")).as("tokens_flagged"),
        max((col("re") - col("rs")).cast("long")).as("max_range"),
        sum((col("doc_id") % 997 + 1) *
          (col("rs").cast("long") * 131 + col("re").cast("long"))).as("range_checksum"))
      .orderBy("source")
  }

  /** p03: exact dedup by content hash — keep the lowest doc_id per md5(text)
    * group, report kept counts and surviving chars per source. At scale this
    * is one shuffle on the 128-bit content hash. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id").asc)
    docs(spark, dir)
      .withColumn("rn", row_number().over(w))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") === 1, col("n_chars")).otherwise(0L)).as("kept_chars"))
      .orderBy("source")
  }

  /** Docs with ≥2 tokens, with distinct 2-token shingles and their base
    * hashes. Shared by minhash and exact-jaccard verification. */
  private def shingled(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      // TOTAL by construction (slice-based window, no index lambda over a
      // possibly-descending sequence): Catalyst's inferred generate filter
      // (size(derived) > 0) pushes BELOW the explicit token-count guard and
      // evaluates the expression on unfiltered rows — under the ANSI
      // default, sequence(1, 0) is the DESCENDING [1, 0] and toks[1] on a
      // one-token doc is a query-killing INVALID_ARRAY_INDEX, not a NULL.
      .withColumn("shingles",
        expr("array_distinct(transform(slice(toks, 2, greatest(size(toks) - 1, 0)), (t, i) -> concat(toks[i], ' ', t)))"))
      // sorted so minhash verification intersects via the native merge walk
      .withColumn("hashes", array_sort(array_distinct(StringHashes(col("shingles"), BaseHashMod))))

  /** Per-band bucket keys over a `sig` column for a (bands × rowsPerBand)
    * LSH geometry; p04 uses the production 16 × 2. */
  private def bandCols(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until rowsPerBand).map(r => col("sig")(b * rowsPerBand + r)): _*).as("bkey"))
    }

  /** p04: near-dup pairs via minhash + banded LSH, verified with exact
    * shingle Jaccard ≥ 0.5.
    *
    * Candidate generation is bucketed — docs pair only within an LSH band
    * bucket (shuffle on the band key), never via an all-pairs join — so the
    * plan's cost is O(docs × bands + bucket collisions), the only shape that
    * survives a 100 TB corpus. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsParam(spark, dir, NumHashes, Bands, MaxBucketSize, MinSigMatches, 0.5)

  /** Parameterized core of p04 over an arbitrary LSH geometry — signature
    * width, band count, hot-bucket cap, signature prefilter bound, and
    * verification threshold. The production entry is one point of this
    * grid; MinhashFuzzSpec differential-tests the rest against a
    * driver-side all-pairs oracle recomputed from raw text, so the banding
    * arithmetic (slot indexing, bucket-cap semantics, prefilter bound,
    * exact-intersect verify) is checked as a function of its parameters,
    * not just at the constants the oracle queries happen to use. */
  private[graft] def minhashPairsParam(
      spark: SparkSession, dir: String, numHashes: Int, bands: Int,
      maxBucketSize: Int, minSigMatches: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, s"bands ($bands) must divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / bands
    val (coefA, coefB) = Hashing.minhashCoeffs(numHashes)
    // localCheckpoint: the shingle+hash stage feeds the signature pass AND
    // both sides of the verification join — without lineage truncation it
    // recomputes three times (Catalyst re-optimizes each reference; only
    // identical physical exchanges dedup). Blocks live in executor storage
    // and are freed by the ContextCleaner once the plan is collected.
    val base = shingled(spark, dir).localCheckpoint(false)
    // native codegen expression: ONE traversal of the hash array computes
    // all permutation minima (the composable array_min(transform(...))
    // spelling re-walks the array per permutation)
    val withSig = base.withColumn("sig",
      graft.functions.MinHashSig(col("hashes"), coefA, coefB, P))

    val banded = withSig
      .select(col("doc_id"), explode(array(bandCols(bands, rowsPerBand): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))

    // Hot-bucket cap: an oversized band bucket is a low-information
    // collision (shared-vocabulary skew) that would pair O(n²) docs; true
    // near-dups agree on several of the 16 bands, so dropping the hot ones
    // loses no verified pairs (measured at sf0.01 and sf0.1) while bounding
    // worst-case candidate count — the LSH analogue of skew salting.
    // Contract: a near-IDENTICAL clique larger than MaxBucketSize overflows
    // every one of its band buckets and yields no pairs from this operator
    // — by design. Exact duplicates belong to exactDedup (p03, run first in
    // any real pipeline), and >64-sized shared-template clusters are the
    // O(n²)-pair case no pairwise operator should enumerate; cluster-level
    // dedup (p23) is the right consumer there.
    val bw = Window.partitionBy(col("band"), col("bkey"))
    val pruned = banded
      .withColumn("cnt", count(lit(1)).over(bw))
      .where(col("cnt") <= maxBucketSize)
      .drop("cnt")

    val l = pruned.alias("l")
    val r = pruned.alias("r")
    val cand = l.join(r,
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()

    // Stage 1 — signature prefilter: estimated Jaccard from the 32-slot
    // signatures (32 longs per doc vs ~hundreds of set hashes). A true
    // j=0.5 pair fails est >= MinSigMatches/32 with probability
    // P[Binom(32,0.5) < 8] ≈ 2e-4; everything else is pruned before the
    // expensive exact intersection — standard staged LSH verification.
    val sigs = withSig.select(col("doc_id"), col("sig"))
    val ga = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val gb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val prefiltered = cand.join(ga, "doc_a").join(gb, "doc_b")
      .withColumn("m", expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))"))
      .where(col("m") >= minSigMatches)
      .select(col("doc_a"), col("doc_b"))

    // Stage 2 — exact verification on the distinct *hash* sets (int64
    // intersects are far cheaper to shuffle and compare than shingle
    // strings at scale)
    val sets = base.select(col("doc_id"), col("hashes"))
    val sa = sets.select(col("doc_id").as("doc_a"), col("hashes").as("h_a"))
    val sb = sets.select(col("doc_id").as("doc_b"), col("hashes").as("h_b"))
    prefiltered.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("inter", graft.functions.SortedIntersectCount(col("h_a"), col("h_b")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("h_a")) + size(col("h_b")) - col("inter")).cast("double"))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** p05: 48-bit simhash over the token multiset; per-language distinct
    * fingerprint counts (near-dups collapse onto one fingerprint). */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("hashes", StringHashes(col("toks"), 0L))
      // native one-pass majority-bit kernel; the composable
      // aggregate(sequence(0,47), ...) spelling re-walks the hash array 48
      // times per document
      .withColumn("simhash", graft.functions.SimHash48(col("hashes")))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("simhash")).as("n_fingerprints"))
      .orderBy("lang")

  /** p35: simhash hamming near-dup pairs (Manku et al. 2007, WWW'07,
    * "Detecting Near-Duplicates for Web Crawling" — the bit-block banding
    * Google used for crawl dedup): doc pairs whose 48-bit simhash
    * fingerprints differ in ≤ [[SimhashMaxHamming]] bits. By pigeonhole,
    * hamming ≤ 3 < [[SimhashBlocks]] forces EXACT agreement on at least
    * one of the 4 disjoint 12-bit blocks, so candidate generation shuffles
    * on the (block, value) key — never all-pairs — with the p04/p14
    * hot-bucket cap bounding shared-template skew; survivors verify by
    * exact popcount(xor), identical int64 arithmetic in any engine.
    * Complements p05 (which counts distinct fingerprints but pairs
    * nothing): this is the operator that turns simhash into dedup. */
  val SimhashBlocks     = 4
  val SimhashBlockBits  = 12
  val SimhashMaxHamming = 3

  /** Disjoint block keys over an `fp` column for a (blocks × blockBits)
    * geometry; p35 uses the production 4 × 12. */
  private def blockColsFor(blocks: Int, blockBits: Int): Seq[Column] =
    (0 until blocks).map { b =>
      struct(lit(b.toLong).as("blk"),
        (shiftright(col("fp"), b * blockBits)
          .bitwiseAND(lit((1L << blockBits) - 1))).as("bval"))
    }

  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    simhashPairsParam(spark, dir, SimhashBlocks, SimhashBlockBits, SimhashMaxHamming, MaxBucketSize)

  /** Parameterized core of p35 over an arbitrary block geometry. The
    * pigeonhole recall guarantee — hamming ≤ maxHamming forces exact
    * agreement on ≥ 1 block — needs the blocks to cover all 48 fingerprint
    * bits and maxHamming < blocks, so both are required, not assumed.
    * SimhashFuzzSpec differential-tests geometries against a driver-side
    * all-pairs oracle recomputed from raw text. */
  private[graft] def simhashPairsParam(
      spark: SparkSession, dir: String, blocks: Int, blockBits: Int,
      maxHamming: Int, maxBucketSize: Int): DataFrame = {
    require(blocks * blockBits == 48,
      s"blocks ($blocks) × blockBits ($blockBits) must cover the 48-bit fingerprint")
    require(maxHamming < blocks,
      s"pigeonhole recall needs maxHamming ($maxHamming) < blocks ($blocks)")
    // fingerprints feed the banding pass AND both verify sides
    val fp = docs(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("hashes", StringHashes(col("toks"), 0L))
      .withColumn("fp", graft.functions.SimHash48(col("hashes")))
      .select(col("doc_id"), col("fp"))
      .localCheckpoint(false)

    val banded = fp.select(col("doc_id"), explode(array(blockColsFor(blocks, blockBits): _*)).as("bb"))
      .select(col("doc_id"), col("bb.blk").as("blk"), col("bb.bval").as("bval"))
    val bw = Window.partitionBy(col("blk"), col("bval"))
    val pruned = banded
      .withColumn("cnt", count(lit(1)).over(bw))
      .where(col("cnt") <= maxBucketSize)
      .drop("cnt")

    val l = pruned.alias("l")
    val r = pruned.alias("r")
    val cand = l.join(r,
        col("l.blk") === col("r.blk") && col("l.bval") === col("r.bval") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()

    val fa = fp.select(col("doc_id").as("doc_a"), col("fp").as("fp_a"))
    val fb = fp.select(col("doc_id").as("doc_b"), col("fp").as("fp_b"))
    cand.join(fa, "doc_a").join(fb, "doc_b")
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** p06: character-trigram Jaccard near-dup pairs, blocked by
    * (lang, source, n_chars/100) — intra-source char-level dedup, the
    * complement to cross-corpus minhash (p04). Trigram sets compare as
    * int64 hash sets; blocking bounds candidates to same-source
    * same-length-band docs, never all-pairs. */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOf(docs(spark, dir))

  private val gramBlockCols = Seq("lang", "source", "block")

  /** Gram stage of p06: per-doc sorted distinct trigram hashes + block
    * keys. Arrays sorted once per doc so the pair stage intersects via a
    * native merge walk (SortedIntersectCount) instead of a per-pair hash
    * set. Exposed so DedupStream's incremental refresh can gram ONLY the
    * new survivors and persist the result as state. */
  private[graft] def ngramGrams(d: DataFrame): DataFrame = ngramGramsParam(d, 3, 100)

  /** Gram stage over an arbitrary (gram width, length-block width). */
  private def ngramGramsParam(d: DataFrame, gramWidth: Int, blockWidth: Int): DataFrame =
    d.where(length(col("text")) >= gramWidth)
      .withColumn("block", floor(col("n_chars") / blockWidth))
      .withColumn("grams", array_sort(array_distinct(SubstringHashes(col("text"), gramWidth, 0L))))
      .select((col("doc_id") +: col("grams") +: gramBlockCols.map(col)): _*)

  /** Jaccard verification over a candidate frame carrying (doc_a, g_a,
    * doc_b, g_b) at threshold t = num/den: size-bound prune (implied by
    * jaccard >= t, so results are unchanged — |A∩B| <= min(|A|,|B|), hence
    * J >= t needs (den+num)*min(|A|,|B|) >= num*(|A|+|B|), integer-exact
    * for any rational t; at the production 3/5 this is the familiar
    * 8*min >= 3*sum), then the merge-walk intersect. */
  private def jaccardVerified(cand: DataFrame): DataFrame = jaccardVerifiedParam(cand, 3, 5)

  private def jaccardVerifiedParam(cand: DataFrame, num: Int, den: Int): DataFrame =
    cand
      .where(least(size(col("g_a")), size(col("g_b"))) * (den + num) >=
        (size(col("g_a")) + size(col("g_b"))) * num)
      .withColumn("inter", graft.functions.SortedIntersectCount(col("g_a"), col("g_b")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("g_a")) + size(col("g_b")) - col("inter")).cast("double"))
      .where(col("jaccard") >= num.toDouble / den)

  /** Prefix-filtered candidate discovery (AllPairs / PPJoin family —
    * Bayardo et al. WWW'07, Xiao et al. WWW'08): a pair with
    * J(A,B) ≥ t = num/den has |A∩B| ≥ t·|A∪B| ≥ t·|X| for BOTH sets, so
    * the smallest shared gram (in the canonical per-array order — ours is
    * hash-ascending, the order [[ngramGramsParam]] already sorts by) sits
    * within the first π(X) = |X| - ceil(t·|X|) + 1 positions of each side
    * (if it sat later, fewer than ceil(t·|X|) slots would remain for the
    * intersection). Joining PREFIX explosions therefore finds every
    * qualifying pair — an exactness-preserving refinement, fuzz-proven
    * against the all-pairs oracle across the NgramFuzzSpec grid.
    *
    * Why this matters at scale: the block keys (lang, source,
    * length-block) have CATALOG-bounded cardinality, so block populations
    * grow linearly with the corpus and a full within-block pair join grows
    * quadratically — the round-11 extra-decade ramp measured p06 at slope
    * 1.21 in that form (SCALING.md). The prefix join replaces
    * "every block-mate" with "block-mates sharing a prefix gram", shrinks
    * the shuffle payload from full gram arrays on every candidate row to
    * (hash, doc) pairs, and re-joins arrays once per DISTINCT surviving
    * candidate. Candidates still degrade toward quadratic on a corpus
    * whose gram vocabulary does not grow (a 31-token synthetic corpus is
    * the adversarial case; real text adds grams with volume, which is
    * what keeps posting lists short) — that residual is inherent to EXACT
    * jaccard; the probabilistic escape at 100 TB remains p04/p14's capped
    * LSH, with p06 exactness applied to survivors (p36's composition).
    *
    * WHICH join wins is a data property, so the choice is COST-BASED, not
    * hard-coded. On a gram-DIVERSE corpus (real text: vocabulary grows
    * with volume) posting lists per (block, gram) stay short and the
    * prefix join's output is far below the block join's. On a
    * gram-SATURATED corpus the opposite holds — measured on the round-11
    * ramp fixture (50k docs over a 31-token vocabulary → 410 distinct
    * trigrams corpus-wide): block-join candidates 3.04M, prefix-join rows
    * 115M with only 0.03% of distinct candidates eliminated, and wall
    * times 15.6 s (skinny block join) vs 39.5 s (prefix) vs 30.7 s
    * (arrays-through-join). [[candidatePairs]] therefore estimates BOTH
    * join output sizes from per-key counts (two gram-volume-bounded
    * aggregations — the same bounded-action precedent as p04's adaptive
    * band bits) and runs the smaller one; either way the pair-discovery
    * shuffle carries (keys, doc) rows only, and gram arrays join back
    * once per distinct candidate — the payload change that alone halved
    * the old arrays-through-the-join plan.
    *
    * Requires num ≥ 1: at t = 0 a disjoint pair qualifies but shares no
    * gram, so prefix filtering would (correctly per the lemma's o ≥ 1
    * precondition, incorrectly per the operator contract) miss it —
    * [[candidatePairs]] uses the block join alone for that degenerate
    * threshold. */
  private[graft] def prefixedView(g: DataFrame, docAs: String, num: Int, den: Int): DataFrame =
    // π = |g| - ceil(num·|g|/den) + 1; ceil as (x·num + den - 1) DIV den,
    // integer-exact for any rational threshold
    g.select((col("doc_id").as(docAs) +:
        explode(expr(
          s"slice(grams, 1, size(grams) - CAST((size(grams) * $num + $den - 1) DIV $den AS INT) + 1)"))
          .as("ph") +:
        gramBlockCols.map(col)): _*)

  /** Estimated output rows of an equi-join on `keys`: Σ cntA·cntB. The
    * sum runs in DOUBLE and saturates at Long.MaxValue — a pathologically
    * hot key (~3·10⁹ rows per side) would wrap an int64 product under
    * non-ANSI semantics and could silently flip the join-strategy choice;
    * the estimate only feeds an ordering decision, so double's ≥2⁵³
    * rounding is irrelevant while its 2¹⁰²⁴ range is not.
    *
    * `sampleMod` > 1 estimates from a deterministic 1-in-`sampleMod` ROW
    * sample per side — `pmod(hash(docCol, seed), mod) == 0`, a different
    * seed per side so the two samples are independent even when a doc id
    * appears on both sides — with the product sum scaled back by
    * `mod²` (each side's per-key count is down by E[1/mod], so the
    * product is down by E[1/mod²]). Row sampling keeps EVERY key
    * represented in expectation: the earlier key-space sample was
    * deterministic per key, and on a COARSE key space (the block join's
    * (lang, source, block) — often only hundreds of keys with the mass
    * concentrated in a few cells) it would miss the dominant cells, or
    * all of them, outright — est = 0 at exactly the scales where the
    * estimate decides against a quadratic join. Under row sampling a
    * key's absence from the sample means its true count is O(mod), so
    * the keys that matter (large ca·cb) are always represented and the
    * relative error is ~mod/√(ca·cb) — bounded precisely where the
    * decision needs it. No RNG anywhere: the hash is murmur3 of the doc
    * id, re-run-stable. */
  private[graft] def estJoinRows(
      a: DataFrame, b: DataFrame, keys: Seq[String], sampleMod: Long = 1L,
      docCols: (String, String) = ("doc_a", "doc_b")): Long = {
    def side(d: DataFrame, docCol: String, seed: Int) = {
      val s = if (sampleMod > 1)
        d.where(pmod(hash(col(docCol), lit(seed)), lit(sampleMod)) === 0)
      else d
      s.groupBy(keys.map(col): _*).agg(count(lit(1)).as("c"))
    }
    val est = side(a, docCols._1, 1).withColumnRenamed("c", "ca")
      .join(side(b, docCols._2, 2).withColumnRenamed("c", "cb"), keys)
      .agg(sum(col("ca").cast("double") * col("cb").cast("double")))
      .collect().headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
      .getOrElse(0.0) * sampleMod * sampleMod
    if (est >= Long.MaxValue.toDouble) Long.MaxValue else est.toLong
  }

  /** Below this many estimated block-join candidates the strategy choice
    * cannot matter (the join is cheap either way), so the prefix-side
    * estimate job is skipped — one bounded action instead of two on small
    * corpora, where the decision overhead would otherwise dominate. */
  val PrefixDecisionThreshold: Long = 1L << 22 // ~4M candidate rows

  /** Once the block-join estimate clears the decision threshold by this
    * factor, the prefix-side estimate switches to a 1-in-[[EstSampleMod]]
    * row sample (see [[estJoinRows]]): at that scale the gram explosion's
    * exact per-key counts would cost a visible fraction of the join being
    * avoided, while the decision itself only needs coarse ordering (the
    * two strategies differ by >10× whenever the choice matters). */
  val EstSampleFactor: Long = 100L
  val EstSampleMod: Long = 64L

  /** Candidate (doc_a, doc_b) pairs for jaccard verification — the smaller
    * of the two exact strategies (see [[prefixedView]]'s scaladoc).
    * `decisionThreshold` is exposed for tests to force the estimate path
    * on small fixtures; production callers use the default. */
  private[graft] def candidatePairs(
      aGrams: DataFrame, bGrams: DataFrame, num: Int, den: Int,
      decisionThreshold: Long = PrefixDecisionThreshold,
      estSampleMod: Long = 1L): DataFrame = {
    val aK = aGrams.select((col("doc_id").as("doc_a") +: gramBlockCols.map(col)): _*)
    val bK = bGrams.select((col("doc_id").as("doc_b") +: gramBlockCols.map(col)): _*)
    lazy val blockJoin = aK.join(bK, gramBlockCols)
      .where(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    if (num < 1) return blockJoin
    val blockEst = estJoinRows(aK, bK, gramBlockCols, estSampleMod)
    if (blockEst <= decisionThreshold) return blockJoin
    val pa = prefixedView(aGrams, "doc_a", num, den)
    val pb = prefixedView(bGrams, "doc_b", num, den)
    // huge explosions estimate from a row sample (see estJoinRows)
    val sampleMod =
      if (blockEst / EstSampleFactor > decisionThreshold) EstSampleMod else 1L
    val prefixEst = estJoinRows(pa, pb, gramBlockCols :+ "ph", sampleMod)
    if (prefixEst < blockEst)
      pa.join(pb, gramBlockCols :+ "ph")
        .where(col("doc_a") =!= col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct()
    else blockJoin
  }

  /** Rejoin gram arrays for verification, once per distinct candidate. */
  private def withGramArrays(
      cand: DataFrame, aGrams: DataFrame, bGrams: DataFrame): DataFrame =
    cand
      .join(aGrams.select(col("doc_id").as("doc_a"), col("grams").as("g_a")), "doc_a")
      .join(bGrams.select(col("doc_id").as("doc_b"), col("grams").as("g_b")), "doc_b")

  /** p06 body over an arbitrary documents frame — p36 runs it on the
    * exact-dedup survivors only. */
  private[graft] def ngramJaccardOf(d: DataFrame): DataFrame =
    ngramJaccardParam(d, 3, 100, 3, 5)

  /** Parameterized core of p06 (gram width, length-block width, threshold
    * num/den — rational so the size prune stays integer-exact);
    * NgramFuzzSpec differential-tests geometries against a driver-side
    * all-pairs oracle recomputed from raw text. */
  private[graft] def ngramJaccardParam(
      d: DataFrame, gramWidth: Int, blockWidth: Int, num: Int, den: Int): DataFrame = {
    require(gramWidth >= 1 && blockWidth >= 1 && num >= 0 && den > 0 && num <= den,
      s"invalid ngram geometry ($gramWidth, $blockWidth, $num/$den)")
    // localCheckpoint: the gram frame feeds both join sides; without lineage
    // truncation the per-character md5 hashing runs twice (same reasoning as
    // minhashPairs)
    val grams = ngramGramsParam(d, gramWidth, blockWidth).localCheckpoint(false)
    val cand = candidatePairs(grams, grams, num, den).where(col("doc_a") < col("doc_b"))
    jaccardVerifiedParam(withGramArrays(cand, grams, grams), num, den)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** p50: dedup threshold-sensitivity report — the tuning table a data
    * team reads BEFORE committing to a dedup config: for each candidate
    * threshold, how many pairs qualify, how many docs would drop (direct
    * lower-id-partner rule, p44's `dup_of` semantics — transitive cluster
    * drops are a different, larger number and p23/p36's job), and how many
    * chars of corpus that is. The expensive work — blocking, candidate
    * join, merge-walk intersection — runs ONCE at the loosest threshold;
    * per-τ classification is exact integer cross-multiplication
    * (inter·100 ≥ τ·union, no double compares anywhere), so the report at
    * τ = 60 is bit-identical to what p06 would compute at 3/5. The τ grid
    * explodes per surviving pair (×5 rows on the pair table, which is
    * orders below the candidate table), and every threshold row appears
    * even when empty. */
  val SensitivityThresholds: Seq[Long] = Seq(40L, 50L, 60L, 70L, 80L)

  def dedupSensitivity(spark: SparkSession, dir: String): DataFrame = {
    val grams = ngramGramsParam(docs(spark, dir), 3, 100).localCheckpoint(false)
    val tMin = SensitivityThresholds.min // candidate pass at the loosest τ only
    val cand = candidatePairs(grams, grams, tMin.toInt, 100)
      .where(col("doc_a") < col("doc_b"))
    val pairs = withGramArrays(cand, grams, grams)
      .where(least(size(col("g_a")), size(col("g_b"))) * (100 + tMin) >=
        (size(col("g_a")) + size(col("g_b"))) * tMin)
      .withColumn("inter", graft.functions.SortedIntersectCount(col("g_a"), col("g_b")).cast("long"))
      .withColumn("uni", (size(col("g_a")) + size(col("g_b"))).cast("long") - col("inter"))
      .where(col("inter") * 100 >= col("uni") * tMin)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
      .localCheckpoint(false) // one pair table feeds every τ rollup
    val tagged = pairs
      .select(col("*"), explode(array(SensitivityThresholds.map(lit): _*)).as("tau"))
      .where(col("inter") * 100 >= col("tau") * col("uni"))
    val pairAgg = tagged.groupBy("tau").agg(count(lit(1)).as("n_pairs"))
    val dropAgg = tagged.select(col("tau"), col("doc_b")).distinct()
      .join(docs(spark, dir).select(col("doc_id").as("doc_b"), col("n_chars")), "doc_b")
      .groupBy("tau")
      .agg(count(lit(1)).as("n_docs_dropped"), sum(col("n_chars")).as("chars_dropped"))
    spark.range(1)
      .select(explode(array(SensitivityThresholds.map(lit): _*)).as("tau"))
      .join(pairAgg, Seq("tau"), "left")
      .join(dropAgg, Seq("tau"), "left")
      .select(col("tau").as("threshold_pct"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"),
        coalesce(col("chars_dropped"), lit(0L)).as("chars_dropped"))
      .orderBy("threshold_pct")
  }

  /** Incremental pair discovery for the streaming near-dup refresh: every
    * qualifying pair with AT LEAST ONE side in `newGrams`, discovered by
    * joining the full gram history against only the new docs — cost is
    * O(new × block collisions), not O(history × collisions). Pairs are
    * canonicalized (doc_a < doc_b) and deduped, so new×new pairs seen from
    * both orientations emit once; old×old pairs never re-verify.
    *
    * PER-REFRESH DECISION COST: [[candidatePairs]] runs 1-2 eager
    * estimate jobs (bounded 1-row actions) before choosing a join
    * strategy, so every streaming refresh pays that latency on top of the
    * join itself. Below [[PrefixDecisionThreshold]] estimated candidates
    * only the cheap block-side count runs; above [[EstSampleFactor]]× the
    * threshold the prefix estimate switches to a row sample. A
    * deployment whose batches are uniformly tiny can treat the one
    * block-estimate job as the floor cost of adaptivity. */
  private[graft] def ngramPairsAgainst(allGrams: DataFrame, newGrams: DataFrame): DataFrame =
    jaccardVerified(
        // the strategy estimate runs ROW-SAMPLED here: on the incremental
        // path this estimate fires EVERY refresh against the corpus-sized
        // gram history, and sampling cuts that recurring per-key count
        // shuffle by EstSampleMod× while both candidate strategies stay
        // exact — estimate error can only mis-pick between two correct
        // plans. Row sampling (not key sampling) keeps the coarse
        // (lang, source, block) key space's dominant cells represented
        // under skew — see estJoinRows
        withGramArrays(
          candidatePairs(allGrams, newGrams, 3, 5, estSampleMod = EstSampleMod),
          allGrams, newGrams))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
      .distinct()

  /** p12: winnowing document fingerprints — 8-char-gram rolling hashes, min
    * over each 4-gram window, distinct mins kept. The classic plagiarism /
    * near-dup sketch (Schleimer et al., SIGMOD'03), as pure array ops. */
  def fingerprints(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .where(length(col("text")) >= 11) // 8-gram + window of 4 needs ≥ 11 chars
      .withColumn("kh", SubstringHashes(col("text"), 8, BaseHashMod))
      .withColumn("fps", // slice-based total window (see shingled())
        expr("array_distinct(transform(slice(kh, 4, greatest(size(kh) - 3, 0)), (t, i) -> array_min(slice(kh, i + 1, 4))))"))
      .where(col("doc_id") < 100)
      .select(
        col("doc_id"),
        size(col("fps")).cast("long").as("n_fingerprints"),
        expr("array_min(fps)").as("fp_min"),
        expr("array_max(fps)").as("fp_max"))
      .orderBy("doc_id")

  /** p18: deterministic train/valid/test split — md5 bucket of doc_id maps
    * each document to a split (80/10/10) with no RNG, so assignment is
    * reproducible across runs, engines, and re-shards; per-split corpus
    * stats. One projection + one shuffle on the 3-value split key. */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("bucket", expr(s"${hex12("CAST(doc_id AS STRING)")} % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "valid").otherwise("test"))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy("split")

  /** p21: sequence-packing planning — the concat-and-chop layout every LLM
    * trainer applies before batching: documents of one shard are concatenated
    * in doc_id order and chopped into fixed [[CtxLen]]-token context windows.
    * Emits the per-shard packing plan stats: window count, docs split across
    * a window boundary, fill ratio. The running-total window partitions by
    * `source` — the shard key — so each shard packs independently and the
    * cumsum never funnels the corpus through one task (the global-order
    * variant would; per-shard packing is also what trainers actually do,
    * since shards are the unit of data loading). All window/boundary math is
    * int64 (`DIV`), exact in any engine. */
  val CtxLen = 512L

  def packing(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(spark, dir)
      .withColumn("n_toks", size(split(col("text"), " ")).cast("long"))
      .withColumn("cum_before", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("sum_tokens"),
        sum(when(expr(s"(cum_before + n_toks - 1) DIV $CtxLen") >
          expr(s"cum_before DIV $CtxLen"), 1L).otherwise(0L)).as("n_split_docs"),
        max("n_toks").as("max_doc_tokens"))
      .withColumn("n_windows", expr(s"(sum_tokens + ${CtxLen - 1}) DIV $CtxLen"))
      .withColumn("fill_ratio",
        try_divide(col("sum_tokens").cast("double"), (col("n_windows") * CtxLen).cast("double")))
      .select(col("source"), col("n_docs"), col("sum_tokens"), col("n_windows"),
        col("n_split_docs"), col("max_doc_tokens"), col("fill_ratio"))
      .orderBy("source")
  }

  /** p32: exact-quota stratified sampling — every (lang, source) stratum
    * contributes exactly `ceil(n · rate)` documents (the mixture op p22 is
    * RATE-based: each doc flips its own deterministic coin, so small strata
    * drift from the target; eval sets and ablation corpora need exact
    * quotas). The sample is the quota-many lowest md5-hash docs of each
    * stratum — deterministic across runs, engines, and re-shards, and
    * stable under corpus growth (a doc's rank only moves if new docs hash
    * below it). Shape: one window over the stratum key (strata are many and
    * independent, so the sort parallelizes; no global order anywhere). */
  val StratRatePct = 20L

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val key = Window.partitionBy(col("lang"), col("source"))
    val w = key.orderBy(col("h").asc, col("doc_id").asc)
    docs(spark, dir)
      .withColumn("h", expr(hex12("concat(lang, '|', source, '|', CAST(doc_id AS STRING))")))
      .withColumn("rn", row_number().over(w))
      .withColumn("quota", expr(s"(count(*) OVER (PARTITION BY lang, source) * $StratRatePct + 99) DIV 100"))
      .withColumn("kept", col("rn") <= col("quota"))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_sample"),
        sum(when(col("kept"), col("doc_id")).otherwise(0L)).as("sample_id_sum"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("sample_chars"))
      .orderBy("lang", "source")
  }

  /** p22: domain-mixture resampling — downsample each source domain to a
    * target rate (the DoReMi/Pile-style mixture reweighting step), with the
    * keep/drop decision a deterministic md5 bucket of (source, doc_id): no
    * RNG, so the sample is reproducible across runs, engines, and re-shards,
    * and any doc's fate is auditable. Target rates here derive from the
    * source index (a stand-in for a tuned mixture table). Pure projection +
    * one shuffle on source. */
  val MixBase = 30L
  val MixStep = 3L
  val MixMod  = 20L

  def mixture(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      // a source label outside the src<N> family extracts '', whose cast
      // throws under the ANSI default — nullif makes it NULL sidx → NULL
      // rate → the unknown domain samples nothing instead of killing the
      // job (found by the round-18 DegenerateSweep)
      .withColumn("sidx",
        nullif(regexp_extract(col("source"), "src([0-9]+)", 1), lit("")).cast("long"))
      .withColumn("rate_pct", lit(MixBase) + lit(MixStep) * (col("sidx") % MixMod))
      .withColumn("bucket",
        expr(s"${hex12("concat(source, ':', CAST(doc_id AS STRING))")} % 100"))
      .groupBy("source", "rate_pct")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < col("rate_pct"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("bucket") < col("rate_pct"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .withColumn("achieved", col("n_kept").cast("double") / col("n_docs").cast("double"))
      .select(col("source"), col("rate_pct"), col("n_docs"), col("n_kept"),
        col("kept_chars"), col("achieved"))
      .orderBy("source")

  /** p23: near-dup cluster formation — connected components over the
    * verified trigram-Jaccard pair graph ([[ngramJaccard]]), so "A~B, B~C"
    * collapses into one keep-group even when A and C were never paired
    * directly. See [[connectedComponents]] for the algorithm and scale
    * analysis. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b")))
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max(col("node")).as("max_doc"))
      .orderBy("cluster_id")

  /** p36: the end-to-end dedup decision table — the artifact a real
    * pipeline materializes and joins against its corpus: one verdict row
    * per document, composed from the exact and near-dup stages in their
    * production order (exact hash dedup first — cheap and total — then
    * trigram near-dup clustering over the exact SURVIVORS only, so
    * identical copies never inflate near-dup cliques).
    *
    *   - `reason = 'exact'`: a lower-id doc has byte-identical text.
    *   - `reason = 'near'`: the doc sits in a verified near-dup cluster
    *     ([[ngramJaccard]] pairs → [[connectedComponents]]) whose min-id
    *     canonical is another doc.
    *   - `reason = 'kept'`: the doc survives; `canonical_id` is itself.
    *
    * `canonical_id` is TRANSITIVELY resolved: an exact drop whose keeper
    * was itself near-dropped points at the keeper's cluster canonical, so
    * every dropped doc's canonical is a kept doc (the chain has depth ≤ 2
    * by construction — a cluster min is always an exact survivor).
    *
    * Scale shape: one md5 window for the exact stage, then exactly the
    * p06+p23 machinery on the surviving subset — nothing new shuffles. */
  def dedupVerdict(spark: SparkSession, dir: String): DataFrame =
    dedupVerdictOf(docs(spark, dir))

  /** p36 over an arbitrary documents-shaped frame — shared with the
    * streaming twin's replay-equivalence spec (DedupStream). */
  private[graft] def dedupVerdictOf(d: DataFrame): DataFrame = {
    val ew = Window.partitionBy(md5(col("text")))
    val ex = d
      .withColumn("canon_exact", min(col("doc_id")).over(ew))
      .localCheckpoint(false) // feeds the survivor filter AND the verdict join
    val survivors = ex.where(col("doc_id") === col("canon_exact"))
    // near-dup pairing runs on the exact SURVIVORS only — the k
    // byte-identical copies the exact stage removed would otherwise pair
    // O(k²) at jaccard 1 inside one block for nothing (block keys and
    // pairwise jaccard are per-doc, so pre-filtering is result-identical
    // to pairing the full corpus and discarding dropped endpoints)
    val pairs = ngramJaccardOf(survivors.drop("canon_exact"))
      .select(col("doc_a"), col("doc_b"))
    val labels = connectedComponents(pairs)
    // each survivor's own final canonical (its cluster min, or itself) —
    // joined back through canon_exact to resolve exact drops transitively
    val survCanon = survivors
      .join(labels, col("doc_id") === labels("node"), "left")
      .select(col("doc_id").as("surv_id"),
        coalesce(col("label"), col("doc_id")).as("surv_canon"))
    ex.join(survCanon, ex("canon_exact") === survCanon("surv_id"))
      .join(labels, ex("doc_id") === labels("node"), "left")
      .select(col("doc_id"),
        when(col("doc_id") =!= col("canon_exact"), lit("exact"))
          .when(col("label").isNotNull && col("label") =!= col("doc_id"), lit("near"))
          .otherwise(lit("kept")).as("reason"),
        when(col("doc_id") =!= col("canon_exact"), col("surv_canon"))
          .when(col("label").isNotNull, col("label"))
          .otherwise(col("doc_id")).as("canonical_id"))
      .orderBy("doc_id")
  }

  /** Materialization root for the p36 verdict over `dir` — keyed by
    * (dataset dir, corpus fingerprint, THIS Spark app) exactly like
    * p49's index tree, so two concurrent apps over the same dataset
    * never race overwrite-vs-read, a dataset dir REWRITTEN
    * mid-application hashes to a new root (rebuild, never a stale
    * verdict), and within one app every composer resolves the same
    * build target. Routed through [[ArtifactStore]]: the root lives on
    * whatever filesystem `GRAFT_INDEX_DIR` names (DFS in production),
    * and markers/data resolve on that same filesystem. */
  private[graft] def verdictTablePath(spark: SparkSession, dir: String): String =
    ArtifactStore.artifactPath(spark, "dedup-verdict", dir, "documents.parquet")

  private val verdictBuildLock = new Object

  /** The build-once / read-many seam for the dedup verdict (p60): the
    * first caller materializes p36's verdict table to parquet, every later
    * caller — including a concurrent one; the double-checked lock plus the
    * ready-marker make the build idempotent under multi-threaded serving —
    * reads the stored relation. This is the production shape of dedup
    * composition: at 100 TB the verdict is a corpus-scale artifact you
    * compute ONCE per ingest and join against many times (budget reports,
    * split assignment, scrub closure, keep-best selection), not a pipeline
    * you re-run inside every downstream query. The five composers
    * (p48/p51/p53/p54/p56) route through here, so their cost drops to
    * their own marginal joins; table-served ≡ recomputed is oracle-gated
    * by the p60 entry (p36's SQL) and plan-asserted in
    * ScaleInvariantsSpec (the served plan is a parquet scan — no gram
    * explosion, no pair join, no star-contraction rounds). */
  private[graft] def dedupVerdictTable(spark: SparkSession, dir: String): DataFrame = {
    val root = verdictTablePath(spark, dir)
    // versioned commits (round 14): built/published tables land as
    // v{N}/verdict.parquet + a CREATE-EXCLUSIVE _COMMITTED marker,
    // resolved as max committed — a crash mid-(re)publish can never
    // tear the served table or leave a ready-marker pointing at a
    // half-overwritten file, and readers of the previous version
    // survive one publish cycle (the ArtifactStore.commitTable prune)
    if (ArtifactStore.currentVersion(spark, root).isEmpty)
      verdictBuildLock.synchronized {
        if (ArtifactStore.currentVersion(spark, root).isEmpty)
          ArtifactStore.commitTable(spark, root, "verdict",
            dedupVerdictOf(docs(spark, dir)))
      }
    spark.read.parquet(ArtifactStore.committedTablePath(spark, root, "verdict").get)
  }

  /** p60: the table-served verdict — what every production consumer of
    * p36 actually reads. Gated under p36's own oracle SQL: the stored
    * relation must hash-match recomputing the verdict from scratch (the
    * p49 rebuild-consistency pattern applied to the dedup artifact). */
  def dedupVerdictServed(spark: SparkSession, dir: String): DataFrame =
    dedupVerdictTable(spark, dir).orderBy("doc_id")

  /** PUBLISH half of the p60 seam — the ingest-side refresh
    * [[graft.streaming.IngestBump]] routes through: commit an
    * already-computed verdict (the delta-maintained one) as a fresh
    * VERSION of `dir`'s materialized verdict table, so the build-once
    * lock in [[dedupVerdictTable]] never fires and every composer
    * serves the ingest's O(delta + state) verdict instead of paying a
    * from-scratch corpus dedup. Re-publishing is crash-safe: the new
    * version becomes visible in one marker create (never an in-place
    * overwrite racing readers or leaving a stale ready-marker over a
    * torn file), and the previous version survives one publish cycle.
    * A dir rewritten later re-keys to a fresh root via the corpus
    * fingerprint, same as the build path. */
  private[graft] def publishVerdictTable(
      spark: SparkSession, dir: String, verdict: DataFrame): Unit = {
    val root = verdictTablePath(spark, dir)
    verdictBuildLock.synchronized {
      ArtifactStore.commitTable(spark, root, "verdict", verdict)
    }
  }

  /** p48: quality-weighted dedup verdict — p36 with the OTHER production
    * canonical rule. Keep-first (min id) is the right call for exact
    * duplicates (identical bytes, the id is the only differentiator), but
    * near-duplicate cluster members genuinely differ, and real pipelines
    * keep the BEST copy (the full article, not the truncated scrape).
    * Cluster formation is identical to p36 (exact stage → survivor
    * near-pairs → connected components); the canonical of each cluster is
    * its argmax-quality member — score = n_tokens − 2·n_stopwords, an
    * int64 so the argmax is cross-engine exact, ties → lowest id — and
    * exact drops resolve transitively through their survivor's cluster.
    * The argmax is the same partial-min struct trick as kmeans assignment
    * (map-side combine, no window over the cluster members).
    *
    * Composition (round 12): the cluster structure IS p36's — a doc's
    * duplicate family is exactly its transitively-resolved `canonical_id`
    * group, and the family's near-dup survivors are its `reason ≠ 'exact'`
    * members — so the operator reads the materialized verdict
    * ([[dedupVerdictTable]]) and re-canonicalizes each family by argmax
    * score, instead of re-running the gram/pair/contraction machinery a
    * second time. One per-doc score projection + one family-keyed argmax
    * + one join back; result-identical to the from-scratch composition
    * (the p48 oracle recomputes everything and must still hash-match). */
  def keepBestVerdict(spark: SparkSession, dir: String): DataFrame = {
    val scored = docs(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        (size(col("toks")) - lit(2) * expr(
          s"size(filter(toks, t -> array_contains(array(${sqlList(Stopwords)}), t)))"))
          .cast("long").as("score"))
    val perDoc = dedupVerdictTable(spark, dir).join(scored, "doc_id")
    // family best over the near-dup SURVIVORS only (exact drops are
    // byte-identical to their keeper — scoring them would be redundant,
    // and the keeper is always present in the family by construction)
    val best = perDoc.where(col("reason") =!= "exact")
      .groupBy("canonical_id")
      .agg(min(struct((-col("score")).as("neg"), col("doc_id"))).as("b"))
      .select(col("canonical_id"), col("b.doc_id").as("best_id"),
        (-col("b.neg")).as("best_score"))
    perDoc.join(best, "canonical_id")
      .select(col("doc_id"),
        when(col("reason") === "exact", lit("exact"))
          .when(col("doc_id") =!= col("best_id"), lit("near"))
          .otherwise(lit("kept")).as("reason"),
        col("best_id").as("canonical_id"),
        col("best_score").as("canonical_score"))
      .orderBy("doc_id")
  }

  /** p51: dedup token-budget accounting — the report that justifies (or
    * kills) a dedup config in front of a training-data budget: per source,
    * how many docs/tokens arrive raw, how many tokens survive the exact
    * stage, and how many survive near-dedup — i.e. what each stage COSTS
    * in training tokens, by provenance. Pure composition: the MATERIALIZED
    * p36 verdict ([[dedupVerdictTable]]) joined back to per-doc token
    * counts, rolled up by source; one doc_id-keyed join + one source
    * shuffle — the dedup machinery itself runs once per ingest, not once
    * per report. */
  /** p59: corpus snapshot delta — the CDC pass between two ingest
    * versions that decides what downstream work (re-dedup, re-index,
    * re-tokenize) actually needs to run: a full-outer doc_id join
    * comparing content hashes classifies every document as added /
    * removed / changed / unchanged, rolled up per source with the char
    * mass entering and leaving the corpus. Deterministic stand-in
    * snapshots carve the fixture (old = doc_id%10 ≠ 9, new = doc_id%10 ≠
    * 0, and every common doc with doc_id%7 = 3 carries revised text in
    * the new snapshot), so both engines derive identical versions from
    * one table; a production deployment calls [[corpusDeltaOf]] with the
    * two real snapshot frames directly — the operator is the keyed
    * hash-compare machinery, which is one shuffle on doc_id plus a
    * projection at any corpus size. */
  def corpusDelta(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    corpusDeltaOf(
      d.where(col("doc_id") % 10 =!= 9),
      d.where(col("doc_id") % 10 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 3, concat(col("text"), lit(" rev2")))
            .otherwise(col("text"))))
  }

  /** p59 over two explicit snapshot frames — the production seam: each
    * side needs (doc_id, source, text); content identity is md5(text)
    * and char mass is length(text), both computed here so callers hand
    * over raw snapshots, not pre-hashed derivatives. */
  private[graft] def corpusDeltaOf(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    val old = oldDf
      .select(col("doc_id"), col("source"), md5(col("text")).as("h_old"),
        length(col("text")).cast("long").as("chars_old"))
    val neu = newDf
      .select(col("doc_id"), col("source").as("source_new"),
        md5(col("text")).as("h_new"),
        length(col("text")).cast("long").as("chars_new"))
    old.join(neu, Seq("doc_id"), "full_outer")
      .withColumn("src", coalesce(col("source"), col("source_new")))
      .withColumn("cls",
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged"))
      .groupBy("src")
      .agg(
        sum(when(col("cls") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("cls") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("cls") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("cls") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
        coalesce(sum(when(col("cls").isin("added", "changed"), col("chars_new"))), lit(0L))
          .as("chars_in"),
        coalesce(sum(when(col("cls").isin("removed", "changed"), col("chars_old"))), lit(0L))
          .as("chars_out"))
      .select(col("src").as("source"), col("n_added"), col("n_removed"),
        col("n_changed"), col("n_unchanged"), col("chars_in"), col("chars_out"))
      .orderBy("source")
  }

  /** p56: scrub-closure over dup clusters — the policy step after p45
    * flags hit-heavy docs and p36 resolves duplicate families: if ONE copy
    * of a document trips the PII/lexicon review threshold, every byte-near
    * copy carries the same content and must be reviewed too, whether or
    * not its own (possibly truncated/mutated) text re-trips the regex.
    * Flags therefore propagate over the p36 cluster: a doc is
    * closure-flagged iff its transitively-resolved `canonical_id` family
    * contains any directly-flagged member. Per source: docs, directly
    * flagged, closure-flagged (≥ direct by construction), and the chars
    * at review risk after propagation. Scale: a scan of the materialized
    * verdict ([[dedupVerdictTable]]) + one per-doc projection (the regex
    * counts), one canonical-keyed any() rollup, one join back — no new
    * pair enumeration anywhere. */
  def scrubClosure(spark: SparkSession, dir: String): DataFrame = {
    val hitCols = ScrubPatterns.map { case (nm, _) => col(s"hits_$nm") }
    val flagged = ScrubPatterns.foldLeft(docs(spark, dir)) {
      case (d, (nm, pat)) =>
        d.withColumn(s"hits_$nm", regexp_count(col("text"), lit(pat)).cast("long"))
    }
      .withColumn("direct_flag", hitCols.reduce(_ + _) >= ScrubFlagHits)
      .select(col("doc_id"), col("source"), col("n_chars"), col("direct_flag"))
    val v = dedupVerdictTable(spark, dir).select(col("doc_id"), col("canonical_id"))
    val perDoc = flagged.join(v, "doc_id")
    // cluster verdict: any direct flag among members (canonical-keyed agg)
    val clusterFlag = perDoc.groupBy("canonical_id")
      .agg(max(when(col("direct_flag"), 1L).otherwise(0L)).as("cluster_flag"))
    perDoc.join(clusterFlag, "canonical_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("direct_flag"), 1L).otherwise(0L)).as("n_flagged_direct"),
        sum(col("cluster_flag")).as("n_flagged_closure"),
        sum(when(col("cluster_flag") === 1L, col("n_chars")).otherwise(0L)).as("chars_at_risk"))
      .orderBy("source")
  }

  /** p57: corpus drift monitor — the data-quality gate between two corpus
    * snapshots (here the deterministic doc_id-parity halves stand in for
    * last-ingest vs this-ingest; production points [[driftMonitorOf]] at
    * the two real snapshots): per language, arrival counts in each
    * slice and the per-million rate difference, plus a corpus-level L1
    * drift score (the sum of absolute ppm deltas — 0 for identical
    * mixtures, 2,000,000 for disjoint ones). Integer-exact throughout:
    * rates are `n·1e6 DIV total`, so both engines land on identical ppm.
    * Scale: two filtered aggregations over one scan + a broadcast totals
    * join — monitoring must never cost more than the ingest it guards. */
  def driftMonitor(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    driftMonitorOf(
      d.where(col("doc_id") % 2 === 0), d.where(col("doc_id") % 2 =!= 0))
  }

  /** p57 over two explicit corpus frames — the production seam: each side
    * needs a `lang` column; a language present on only one side gets an
    * explicit zero on the other (full-outer count join), so its entire
    * ppm mass lands in the drift score rather than silently vanishing. */
  private[graft] def driftMonitorOf(refDf: DataFrame, candDf: DataFrame): DataFrame = {
    val counts = refDf.groupBy("lang").agg(count(lit(1)).as("n_ref"))
      .join(candDf.groupBy("lang").agg(count(lit(1)).as("n_cand")),
        Seq("lang"), "full_outer")
      .select(col("lang"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"))
    val tot = counts.agg(
      sum(col("n_ref")).as("tot_ref"), sum(col("n_cand")).as("tot_cand"))
    val rated = counts.crossJoin(broadcast(tot))
      .withColumn("ppm_ref", expr("(n_ref * 1000000) DIV tot_ref"))
      .withColumn("ppm_cand", expr("(n_cand * 1000000) DIV tot_cand"))
      .withColumn("ppm_delta", abs(col("ppm_ref") - col("ppm_cand")))
    val l1 = rated.agg(sum(col("ppm_delta")).as("l1"))
    rated.crossJoin(broadcast(l1))
      .select(col("lang"), col("n_ref"), col("n_cand"),
        col("ppm_ref"), col("ppm_cand"), col("ppm_delta"),
        col("l1").as("corpus_l1_ppm"))
      .orderBy("lang")
  }

  /** p53: leakage-safe train/valid/test split — the curation step p18's
    * plain hash split gets WRONG in the presence of near-duplicates: if a
    * doc lands in train and its near-copy in test, the eval measures
    * memorization. The fix every serious pipeline applies: assign the
    * split by the doc's dedup-cluster CANONICAL (p36's transitively
    * resolved `canonical_id`), so an entire duplicate family rides one
    * hash draw and can never straddle a split boundary. Same 80/10/10
    * md5-bucket recipe as p18 — deterministic, engine-independent,
    * re-shard-stable — just keyed on the canonical.
    *
    * The report quantifies the correction: per split, docs, distinct
    * clusters, chars, and `n_moved` = docs whose naive (own-id) split
    * differs from their leakage-safe split — the population a naive
    * pipeline would have leaked (in either direction) across boundaries.
    * Scale: a scan of the materialized verdict ([[dedupVerdictTable]]) +
    * one projection + one 3-key rollup. */
  def safeSplit(spark: SparkSession, dir: String): DataFrame = {
    val v = dedupVerdictTable(spark, dir).select(col("doc_id"), col("canonical_id"))
    val d = docs(spark, dir).select(col("doc_id"), col("n_chars"))
    def splitOf(bucket: Column): Column =
      when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    v.join(d, "doc_id")
      .withColumn("cb", expr(s"${hex12("CAST(canonical_id AS STRING)")} % 100"))
      .withColumn("nb", expr(s"${hex12("CAST(doc_id AS STRING)")} % 100"))
      .withColumn("split", splitOf(col("cb")))
      .withColumn("naive_split", splitOf(col("nb")))
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("canonical_id")).as("n_clusters"),
        sum(col("n_chars")).as("sum_chars"),
        sum(when(col("split") =!= col("naive_split"), 1L).otherwise(0L)).as("n_moved"))
      .orderBy("split")
  }

  /** p54: token-budget mixture planner — the sampling-rate table a
    * training run derives before reading a byte: given the
    * dedup-surviving token mass per source (p51's `tokens_after_near`)
    * and a corpus-level token budget (half the surviving mass here),
    * allocate the budget across sources by √-temperature weights
    * (w_s = ⌊√T_s⌋ — the standard flattening that up-weights small
    * sources without letting one giant source drown the mixture), then
    * express each allocation as an integer keep-rate the deterministic
    * p18/p22 hash-bucket sampler can execute.
    *
    * All integer arithmetic, cross-engine exact: ⌊√x⌋ agrees because
    * int64→double→sqrt is correctly rounded in both engines; the
    * allocation uses the overflow-safe split form
    * `(B DIV W)·w + ((B MOD W)·w) DIV W` = ⌊B·w/W⌋ — the direct product
    * B·w can exceed int64 at a 100 TB token mass, the split form cannot
    * (the second product is bounded by W·w ≈ corpus tokens). Scale:
    * p51's machinery + a broadcast single-row total. */
  def mixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val b = dedupBudget(spark, dir)
      .select(col("source"), col("tokens_after_near").as("kept_tokens"))
      .withColumn("weight", floor(sqrt(col("kept_tokens").cast("double"))).cast("long"))
    val tot = b.agg(
      sum(col("kept_tokens")).as("total_kept"), sum(col("weight")).as("total_w"))
    b.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total_kept DIV 2"))
      .withColumn("target_tokens",
        when(col("total_w") > 0,
          expr("(budget DIV total_w) * weight + ((budget % total_w) * weight) DIV total_w"))
          .otherwise(0L))
      .withColumn("rate_pct",
        when(col("kept_tokens") > 0,
          least(lit(100L), expr("(target_tokens * 100) DIV kept_tokens")))
          .otherwise(0L))
      .withColumn("planned_tokens", expr("(kept_tokens * rate_pct) DIV 100"))
      .select(col("source"), col("kept_tokens"), col("weight"),
        col("target_tokens"), col("rate_pct"), col("planned_tokens"))
      .orderBy("source")
  }

  def dedupBudget(spark: SparkSession, dir: String): DataFrame = {
    val toks = docs(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    toks.join(dedupVerdictTable(spark, dir).select("doc_id", "reason"), "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(when(col("reason") =!= "exact", col("n_tokens")).otherwise(0L)).as("tokens_after_exact"),
        sum(when(col("reason") === "kept", col("n_tokens")).otherwise(0L)).as("tokens_after_near"),
        sum(when(col("reason") === "kept", 1L).otherwise(0L)).as("docs_kept"))
      .orderBy("source")
  }

  /** p38: the incremental near-refresh path
    * ([[graft.streaming.DedupStream.refreshVerdictIncremental]]) driven
    * batch-wise under the batch oracle: the corpus "arrives" in two halves
    * (split at the midpoint doc_id), each refresh grams and pairs ONLY its
    * batch against the carried gram/edge state, and the final verdict must
    * be row-identical to the one-shot p36 — the oracle IS p36's SQL. This
    * puts the production catch-up path (what a restarted streaming
    * deployment runs over its backlog) under the same cross-engine
    * hash-exactness gate as the one-shot operator. */
  /** Exact-stage survivors of a documents-shaped frame: min doc_id per
    * content hash, with the hash carried (the DedupStream refresh input
    * shape). */
  private[graft] def survivorsOf(d: DataFrame): DataFrame = {
    // min_by aggregate, not a min-over-window: the window form shuffled
    // EVERY text row by hash and buffered whole hash partitions in the
    // window frame; the aggregate partial-aggregates map-side (one
    // candidate row per hash per input partition crosses the exchange —
    // on a duplicate-heavy corpus strictly fewer text bytes) and needs no
    // sort. Identical output (doc ids are unique per snapshot, so the
    // min is unique); measured neutral at sf0.1 where the stage is tiny.
    val cols = d.columns
    d.groupBy(md5(col("text")).as("content_hash"))
      .agg(min_by(struct(cols.map(col): _*), col("doc_id")).as("r"))
      .select((cols.map(c => col(s"r.$c")) :+ col("content_hash")): _*)
  }

  def dedupVerdictIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val survivors = survivorsOf(d).localCheckpoint(false)
    val arrivals = d.select(col("doc_id"), md5(col("text")).as("content_hash"))
    val mid = d.agg((max(col("doc_id")) / lit(2)).cast("long")).collect()(0).getLong(0)
    val batches = Seq(
      survivors.where(col("doc_id") <= mid), survivors.where(col("doc_id") > mid))
    var state: Option[graft.streaming.DedupStream.PairState] = None
    var verdict: DataFrame = null
    for ((batch, i) <- batches.zipWithIndex) {
      val seen = if (i == batches.length - 1) survivors
        else survivors.where(col("doc_id") <= mid)
      val (v, s) = graft.streaming.DedupStream
        .refreshVerdictIncremental(seen, batch, arrivals, state)
      state = Some(s); verdict = v
    }
    verdict
  }

  /** p61: CDC-driven dedup maintenance — the composition p59 + p38 exist
    * for: when an ingest produces a new corpus version, the near-dedup
    * state is MAINTAINED, not rebuilt. Removed and changed docs RETIRE
    * their carried grams and edges ([[graft.streaming.DedupStream.retain]]
    * keeps only new-snapshot survivors whose content is byte-unchanged —
    * which also demotes an old survivor displaced by a lower-id arrival
    * of the same text, and promotes an old exact-dup whose keeper left);
    * added/changed docs and fresh promotions gram and pair as ONE
    * ordinary incremental batch against the retained history. Cost is
    * O(delta + state), never O(corpus). The final verdict must be
    * row-identical to running the one-shot p36 on the new snapshot from
    * scratch — the oracle IS p36's SQL over the derived new-snapshot
    * relation, and DedupIncrementalFuzzSpec drives random
    * add/remove/change deltas against the batch oracle. Snapshots here
    * are p59's deterministic carvings; production calls [[deltaDedupOf]]
    * with its two real versions. */
  def dedupVerdictDelta(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    deltaDedupOf(
      d.where(col("doc_id") % 10 =!= 9),
      d.where(col("doc_id") % 10 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 3, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long")))
  }

  /** p61 over two explicit snapshot frames (doc_id, text, lang, source,
    * n_chars) — ingest `oldDf`, then maintain the state across the delta
    * to `newDf` and serve `newDf`'s verdict. */
  private[graft] def deltaDedupOf(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    import graft.streaming.DedupStream
    val oldSurv = survivorsOf(oldDf).localCheckpoint(false)
    val (_, st0) = DedupStream.refreshVerdictIncremental(
      oldSurv, oldSurv, DedupStream.arrivalLog(oldDf), None)
    val newSurv = survivorsOf(newDf).localCheckpoint(false)
    // valid = still a survivor under the SAME doc_id with unchanged bytes
    val validIds = oldSurv.select(col("doc_id"), col("content_hash"))
      .join(newSurv.select(col("doc_id"), col("content_hash").as("h2")), "doc_id")
      .where(col("content_hash") === col("h2"))
      .select("doc_id")
    val batch = newSurv.join(validIds, Seq("doc_id"), "left_anti")
    val (v, _) = DedupStream.refreshVerdictIncremental(
      newSurv, batch, DedupStream.arrivalLog(newDf),
      Some(DedupStream.retain(st0, validIds)))
    v
  }

  /** Connected components of an undirected pair graph by alternating
    * large-star/small-star contraction (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond"). Input: two int64 columns, one
    * row per edge; output: (node, label) with label = the component's
    * minimum node id. Isolated nodes don't appear (every input node has
    * ≥ 1 edge).
    *
    * Why not min-label propagation: that converges in O(component
    * diameter) rounds, and dup graphs at corpus scale DO grow long chains
    * (a template drifting across scrape snapshots pairs A~A'~A''~… without
    * ever pairing the endpoints) — a 1000-hop chain would be 1000 full-
    * edge-list shuffles. Alternating star contraction contracts long paths
    * geometrically: the proven round bound is O(log² n) on any graph shape
    * (observed ~log n in practice). Each round is two groupBy+join
    * passes over the (always ≤ input-sized) edge list; lineage is
    * truncated per round (eager localCheckpoint by default, reliable DFS
    * checkpoint under GRAFT_CHECKPOINT_DIR — see [[truncateLineage]]),
    * without which the plan doubles each round. The driver-side loop only
    * ever collects one-row convergence counts, never data. */
  def connectedComponents(pairs: DataFrame): DataFrame =
    connectedComponents(pairs, 1L << 17)

  /** `localEdgeThreshold` is a test seam (specs force 0 to exercise the
    * distributed path on small fixtures); production callers use the
    * default. */
  private[graft] def connectedComponents(pairs: DataFrame, localEdgeThreshold: Long): DataFrame = {
    val Seq(a, b) = pairs.columns.toSeq.map(col)
    val nodes = truncateLineage(
      pairs.select(a.as("node")).union(pairs.select(b.as("node"))).distinct(), eager = true)
    // orient every edge (u > v), drop self-loops; the invariant u > v is
    // preserved by both phases below (they always emit (x, min-below-x))
    var edges = truncateLineage(
      pairs.select(a.as("x"), b.as("y")).where(col("x") =!= col("y"))
        .select(greatest(col("x"), col("y")).as("u"), least(col("x"), col("y")).as("v"))
        .distinct(), eager = true)

    var converged = false
    var iter = 0

    // Hybrid tail: at or below ~128k oriented edges (~2 MB of id pairs) a
    // driver-side union-find labels the graph in O(E α(E)) — the
    // distributed loop's 4+ rounds of two shuffles each are pure fixed
    // overhead at that size (the same small-side cutoff reasoning as
    // broadcast joins). The threshold is ABSOLUTE, not a corpus fraction:
    // a 100 TB run whose dup graph exceeds it takes the star-contraction
    // path below unchanged; one that doesn't was never distributed work.
    // Only int64 id columns take the tail: the distributed path is
    // type-agnostic (greatest/least/min work on strings too), a lossy
    // cast("long") would silently corrupt non-numeric ids, and narrower
    // integrals would come back widened to long — a silent output-schema
    // change vs the distributed path.
    // Gate + collect in ONE capped job: a full count() would scan every
    // edge just to pick the path (O(E) at 100 TB); limit(threshold+1)
    // stops as soon as the threshold is exceeded, and when it isn't, the
    // probed rows ARE the tail's input — no second scan.
    val int64Ids =
      pairs.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)
    val tailRows: Option[Array[org.apache.spark.sql.Row]] =
      if (!int64Ids) None
      else if (localEdgeThreshold >= Int.MaxValue - 1) // forced-tail test seam
        Some(edges.select(col("u").cast("long"), col("v").cast("long")).collect())
      else {
        val r = edges.select(col("u").cast("long"), col("v").cast("long"))
          .limit(localEdgeThreshold.toInt + 1).collect()
        if (r.length > localEdgeThreshold) None else Some(r)
      }
    if (tailRows.isDefined) {
      val uf = new MinUnionFind
      tailRows.get.foreach(row => uf.union(row.getLong(0), row.getLong(1)))
      // label every input node (self-loop-only nodes label themselves,
      // exactly as the distributed path's left join does)
      val labels = nodes.select(col("node").cast("long")).collect()
        .map(row => (row.getLong(0), uf.labelOf(row.getLong(0)))).toSeq
      val sess = pairs.sparkSession
      import sess.implicits._
      return labels.toDF("node", "label")
    }
    // round bound: the alternating contraction's proven bound is O(log² n)
    // rounds (observed behavior is ~log n); 64 covers any feasible corpus
    // with a wide margin, and a non-converged exit is made FATAL below —
    // a non-star edge set would silently yield conflicting labels
    val MaxRounds = 64
    var edgeCount = edges.count() // memoized across rounds: one count job each
    while (!converged && iter < MaxRounds) {
      // large-star: every neighbor larger than u re-attaches to
      // m = min(Γ(u) ∪ {u}) — long paths halve here
      val dir = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lMin = dir.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = dir.join(lMin, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      // small-star: u and all its smaller neighbors attach to their min
      val sMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val withM = ls.join(sMin, "u")
      val next = truncateLineage(
        withM.select(col("v").as("u"), col("m").as("v"))
          .union(withM.select(col("u"), col("m").as("v")))
          .where(col("u") =!= col("v")).distinct(), eager = true)
      // fixpoint: the oriented edge set stopped changing (counts first —
      // cheap — then an except probe only when counts agree)
      val nextCount = next.count()
      converged = nextCount == edgeCount &&
        next.except(edges).limit(1).count() == 0
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    // the left-join below is only correct on a star edge set; labels built
    // from a half-contracted graph would be silently wrong, so fail loudly
    require(converged, s"connected components did not converge in $MaxRounds rounds")
    // converged form is a star per component: (node → root) for every
    // non-root; roots label themselves
    nodes.join(edges, nodes("node") === edges("u"), "left")
      .select(col("node"), coalesce(col("v"), col("node")).as("label"))
  }

  /** [[ccWithForest]]'s default driver-tail bound, in int64 edges. */
  private[graft] val ForestEdgeBound: Long = 1L << 20

  /** [[connectedComponents]] plus a SPANNING FOREST of original edges —
    * the connectivity certificate [[graft.streaming.IncrementalCc]] uses
    * to skip re-running connectivity on non-disconnecting deletions.
    * Returns (labels(node, label), forest) where labels are component
    * minima and forest is a subset of the input ROWS (same columns,
    * self-loops excluded) spanning every component: for each component,
    * |members| − 1 edges whose removal of any LEAF node provably leaves
    * the rest connected.
    *
    * Two paths. At or below `forestEdgeBound` int64 edges (2²⁰ ≈ 16 MB
    * of id pairs — above the labeling tail's 2¹⁷ cutoff because the
    * forest saves whole future CC re-runs, not just this one's rounds)
    * a driver union-find walks the edges ascending, which makes
    * clique-ish components' forests STAR-shaped around their minimum —
    * maximal leaves, maximal certificate coverage. Above the bound (or
    * on non-int64 ids) [[distributedForest]] runs Borůvka min-hooking:
    * the same O(log² n)-round budget class as the star-contraction
    * labeler, emitting ORIGINAL edges — so a 100 TB initial build gets
    * full certificate coverage too, where a labels-only fallback would
    * leave every deletion rebuilding until components individually
    * regrew bounded forests.
    *
    * Specs pass other bounds: 0 forces the pure Borůvka path, a tiny
    * bound interleaves the driver tail with the hybrid finish, and
    * `Long.MaxValue` (the only way to reach the UNBOUNDED collect branch)
    * pins driver-path semantics on known-small inputs. */
  private[graft] def ccWithForest(
      pairs: DataFrame,
      forestEdgeBound: Long = ForestEdgeBound): (DataFrame, DataFrame) = {
    val Seq(a, b) = pairs.columns.toSeq.map(col)
    val int64Ids =
      pairs.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)
    // gate + collect in ONE capped job: a full count() would scan every
    // edge just to pick the path (O(E) at 100 TB); limit(bound+1) stops
    // as soon as the bound is exceeded, and when it isn't, the probed
    // rows ARE the driver tail's input — no second scan
    val probed: Option[Array[org.apache.spark.sql.Row]] =
      if (!int64Ids) None
      else if (forestEdgeBound >= Int.MaxValue - 1) // forced-driver test seam: plain collect
        Some(pairs.select(a.cast("long").as("a"), b.cast("long").as("b")).collect())
      else {
        val r = pairs.select(a.cast("long").as("a"), b.cast("long").as("b"))
          .limit(forestEdgeBound.toInt + 1).collect()
        if (r.length > forestEdgeBound) None else Some(r)
      }
    if (probed.isEmpty)
      return distributedForest(pairs, forestEdgeBound)
    val (uf, forestRows) = driverForest(probed.get.map(r => (r.getLong(0), r.getLong(1))))
    val sess = pairs.sparkSession
    import sess.implicits._
    (uf.labels.toDF("node", "label"),
      forestRows.toDF(pairs.columns.head, pairs.columns(1)))
  }

  /** Min-hooked, path-compressing union-find over int64 ids: [[union]]
    * hooks the larger root under the smaller, so every root is its
    * component's MINIMUM id — the label every CC path emits. */
  private[graft] final class MinUnionFind {
    private val parent = scala.collection.mutable.LongMap.empty[Long]

    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }

    /** Register both ids; true iff they were in different components. */
    def union(x: Long, y: Long): Boolean = {
      parent.getOrElseUpdate(x, x); parent.getOrElseUpdate(y, y)
      val (rx, ry) = (find(x), find(y))
      if (rx == ry) false
      else { if (rx < ry) parent(ry) = rx else parent(rx) = ry; true }
    }

    def contains(x: Long): Boolean = parent.contains(x)

    /** The component minimum of `x`; an unregistered id labels itself. */
    def labelOf(x: Long): Long = if (contains(x)) find(x) else x

    /** (node, label) for every registered id, ascending by node. */
    def labels: Seq[(Long, Long)] = parent.keys.toSeq.sorted.map(n => (n, find(n)))
  }

  /** [[ccWithForest]]'s driver tail: walk `edges` ascending by (min, max)
    * through a [[MinUnionFind]], keeping each edge that merges two
    * components (in walk order). On clique-ish components every (min, x)
    * edge lands first, so the forest comes out STAR-shaped around the
    * component minimum — maximizing leaves, which maximizes the
    * deletions the certificate can declare safe. */
  private[graft] def driverForest(
      edges: Array[(Long, Long)]): (MinUnionFind, Seq[(Long, Long)]) = {
    val uf = new MinUnionFind
    val forest = edges.sortBy(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .filter { case (x, y) => uf.union(x, y) }
    (uf, forest.toSeq)
  }

  /** Distributed labels + spanning forest: Borůvka min-hooking. Each
    * round every component picks its minimum-id neighbor component, ONE
    * canonical original edge per picked pair joins the forest (both
    * sides of a mutual pick resolve to the same row, so the accumulated
    * picks can never close a cycle; min-selection forbids directed
    * cycles longer than two — c₁→c₂→c₃→c₁ forces c₂ ≤ c₃ ≤ c₁ ≤ c₂),
    * and the hooking trees contract by pointer jumping. Components at
    * least halve per round, so the budget matches the star-contraction
    * labeler's O(log² n) class: O(log n) rounds × O(log n) jump steps,
    * each a node-sized map join plus one edge-sized relabel join, with
    * per-step lineage truncation. Labels are re-keyed to component
    * MINIMA at the end (hooking roots need not be minima). Unlike star
    * contraction — whose intermediate edges are derived, not original —
    * every forest row here is an input row, which is what makes the
    * result a usable deletion certificate. Type-agnostic (least/greatest
    * and min-struct work on any ordered id type), like the distributed
    * labeler.
    *
    * HYBRID FINISH (`hybridBound` ≥ 1, int64 ids): each round first
    * probes whether the surviving inter-component residual fits the
    * driver bound (a capped `limit(bound+1).count()` — early-stopping,
    * one long to the driver; the residual ROWS are only collected on
    * the single round that takes the finish); once it fits, one driver
    * union-find over the CONTRACTED residual replaces the remaining
    * O(log n) rounds — the long-chain tail that otherwise drives most of
    * the round count runs on data that stopped being distributed work
    * rounds ago. The same small-side cutoff reasoning as
    * [[connectedComponents]]'s driver tail, applied mid-loop. */
  private def distributedForest(
      pairs: DataFrame, hybridBound: Long): (DataFrame, DataFrame) = {
    val Seq(a, b) = pairs.columns.toSeq.map(col)
    val int64Ids =
      pairs.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)
    val hybrid = int64Ids && hybridBound >= 1 && hybridBound < Int.MaxValue - 1
    val edges0 = truncateLineage(
      pairs.select(a.as("ea"), b.as("eb")).where(col("ea") =!= col("eb")).distinct(),
      eager = true)
    // self-loop-only nodes keep their self-label, like both labelers
    val nodes = truncateLineage(
      pairs.select(a.as("node")).union(pairs.select(b.as("node"))).distinct(),
      eager = true)
    var comp = truncateLineage(nodes.select(col("node"), col("node").as("comp")), eager = true)
    var forest = edges0.limit(0)
    // the per-round scan set: an edge INTRA its components can never be
    // picked again (components only merge), so each round carries only
    // the surviving inter-component edges forward — the scan shrinks
    // monotonically, and on dup-shaped graphs collapses after round one
    // (a clique's |C|²/2 edges all go intra as soon as it contracts)
    var edgesCur = edges0
    val MaxRounds = 64
    var round = 0
    var done = false
    while (!done && round < MaxRounds) {
      val eP = truncateLineage(edgesCur
        .join(comp.select(col("node").as("ea"), col("comp").as("ca")), "ea")
        .join(comp.select(col("node").as("eb"), col("comp").as("cb")), "eb")
        .where(col("ca") =!= col("cb")), eager = true)
      edgesCur = eP.select(col("ea"), col("eb"))
      // ONE capped count probe per round serves both the hybrid-finish
      // gate and the emptiness check: it scans at most bound+1 rows of
      // the (already checkpoint-pinned) residual and ships a single long
      // to the driver — the full residual row transfer happens only on
      // the one round that actually takes the driver finish, never as
      // per-round overhead on graphs whose residual stays over the bound
      val probeCap = if (hybrid) hybridBound else 0L
      val nResid = eP.limit(probeCap.toInt + 1).count()
      if (nResid == 0) done = true
      else if (hybrid && nResid <= hybridBound) {
        // hybrid finish: residual fits the driver bound → one union-find
        // over the contracted rows ends the loop
        val rows = eP.select(col("ea"), col("eb"), col("ca"), col("cb"))
          .collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(t => (math.min(t._3, t._4), math.max(t._3, t._4), t._1, t._2))
        val uf = new MinUnionFind
        val picks = rows.filter { case (_, _, ca, cb) => uf.union(ca, cb) }
          .map { case (ea, eb, _, _) => (ea, eb) }
        val sess = pairs.sparkSession
        import sess.implicits._
        if (picks.nonEmpty)
          forest = truncateLineage(
            forest.unionByName(picks.toSeq.toDF("ea", "eb")), eager = true)
        // comps outside the residual are already final and map to
        // themselves through the left join's coalesce
        val rootOf = uf.labels.toDF("comp", "fr")
        comp = truncateLineage(
          comp.join(broadcast(rootOf), Seq("comp"), "left")
            .select(col("node"), coalesce(col("fr"), col("comp")).as("comp")),
          eager = true)
        done = true
      }
      else { // nResid > probeCap: non-empty residual over the bound
        val cpair = eP.select(
            least(col("ca"), col("cb")).as("x"), greatest(col("ca"), col("cb")).as("y"),
            col("ea"), col("eb"))
          .groupBy("x", "y")
          .agg(min(struct(col("ea"), col("eb"))).as("me"))
        val nbr = truncateLineage(eP.select(col("ca").as("c"), col("cb").as("d"))
          .unionByName(eP.select(col("cb").as("c"), col("ca").as("d")))
          .groupBy("c").agg(min(col("d")).as("d")), eager = true)
        val picked = nbr
          .select(least(col("c"), col("d")).as("x"), greatest(col("c"), col("d")).as("y"))
          .distinct()
          .join(cpair, Seq("x", "y"))
          .select(col("me.ea").as("ea"), col("me.eb").as("eb"))
        forest = truncateLineage(forest.unionByName(picked), eager = true)
        // hooking → break mutual picks toward the smaller id → jump
        var par = comp.select(col("comp").as("c")).distinct()
          .join(nbr, Seq("c"), "left")
          .select(col("c"), coalesce(col("d"), col("c")).as("p"))
        par = truncateLineage(par
          .join(par.select(col("c").as("p"), col("p").as("gp")), Seq("p"))
          .select(col("c"),
            when(col("gp") === col("c"), least(col("c"), col("p")))
              .otherwise(col("p")).as("p")), eager = true)
        var jumping = true
        var jr = 0
        while (jumping && jr < MaxRounds) {
          val nxt = truncateLineage(
            par.join(par.select(col("c").as("p"), col("p").as("p2")), Seq("p"))
              .select(col("c"), col("p2").as("p")), eager = true)
          jumping = nxt.select(col("c"), col("p").as("np"))
            .join(par.select(col("c"), col("p").as("op")), Seq("c"))
            .where(col("np") =!= col("op")).limit(1).count() > 0
          par = nxt
          jr += 1
        }
        require(jr < MaxRounds, "distributed forest: pointer jumping did not converge")
        comp = truncateLineage(
          comp.join(par.select(col("c").as("comp"), col("p")), Seq("comp"))
            .select(col("node"), col("p").as("comp")), eager = true)
      }
      round += 1
    }
    require(done, s"distributed forest did not converge in $MaxRounds rounds")
    val lab = comp.groupBy(col("comp")).agg(min(col("node")).as("label"))
    val labels = comp.join(lab, Seq("comp")).select(col("node"), col("label"))
    (labels, forest.select(col("ea").as(pairs.columns.head), col("eb").as(pairs.columns(1))))
  }

  /** p24: one k-means (Lloyd) refinement step over cosine similarity — the
    * clustering primitive under curriculum bucketing and IVF index training
    * (p15 consumes exactly such centroids). Seeds are the [[IvfCentroids]]
    * lowest-id vectors; the step assigns every vector to its nearest seed
    * (broadcast centroids; the partial-min collapses assignment to one row
    * per vector map-side, so the shuffle is corpus-sized, not corpus×K),
    * recomputes centroids, reassigns, and reports per-cluster movement.
    * Everything before the final cosine divides is int64-exact: centroid
    * update uses the truncating integer mean (`sum DIV count`, identical
    * semantics in Spark and DuckDB) — cosine is scale-invariant so the mean
    * direction is preserved, and the division keeps centroid coordinates in
    * the quantized range so dot products can never overflow int64 at ANY
    * corpus size (raw sum vectors would overflow around 1e9 rows). The
    * centroid recompute is a posexplode → (cid, dim) groupBy — 64·K rows,
    * trivially shuffled at any scale. */
  def kmeansStep(spark: SparkSession, dir: String): DataFrame = {
    val n = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
      .localCheckpoint(false)

    // rank-1 nearest-centroid assignment against a broadcast centroid set:
    // argmax cosine (ties → lowest cid) as min(struct(-ccos, cid)) — a
    // map-side partial-min groupBy (the p34 encode shape). A row_number
    // window here would materialize all corpus×K scored rows into window
    // state before filtering rank 1 — wasteful at production K.
    def assign(cents: DataFrame): DataFrame =
      n.select(col("vec_id"), col("q").as("qa"), col("nrm").as("nrm_a"))
        .crossJoin(broadcast(cents))
        .withColumn("cdot", dotCol)
        .withColumn("ccos",
          try_divide(col("cdot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
        .groupBy("vec_id")
        .agg(min(struct((-col("ccos")).as("neg_ccos"), col("cid"))).as("best"))
        .select(col("vec_id"), col("best.cid").as("cid"))

    // zero-norm seeds excluded, and a recomputed centroid that collapses
    // to the zero vector is dropped the same way (see annIvf)
    val cents0 = n.where(col("vec_id") < IvfCentroids && col("nrm") > 0)
      .select(col("vec_id").as("cid"), col("q").as("qb"), col("nrm").as("nrm_b"))
    val a0 = assign(cents0).localCheckpoint(false)

    val counts = a0.groupBy("cid").agg(count(lit(1)).as("cnt"))
    val cents1 = a0.join(n, "vec_id")
      .select(col("cid"), posexplode(col("q")))
      .groupBy(col("cid"), col("pos")).agg(sum(col("col")).as("s"))
      .join(counts, "cid")
      .groupBy("cid")
      // sort_array on struct(pos, m) orders by pos: collect_list order is
      // partition-dependent, the sort restores determinism
      .agg(sort_array(collect_list(struct(col("pos"), expr("s DIV cnt").as("m")))).as("ps"))
      .select(col("cid"), expr("transform(ps, x -> x.m)").as("qb"))
      .withColumn("nrm_b", graft.functions.QuantizedDot(col("qb"), col("qb")))
      .where(col("nrm_b") > 0)
    val a1 = assign(cents1)

    val after = a1.groupBy("cid").agg(count(lit(1)).as("n_after"))
    val moved = a0.as("a0").join(a1.as("a1"), "vec_id")
      .where(col("a0.cid") =!= col("a1.cid"))
      .groupBy(col("a0.cid")).agg(count(lit(1)).as("n_moved_out"))
    cents0.select(col("cid"))
      .join(counts, Seq("cid"), "left")
      .join(after, Seq("cid"), "left")
      .join(moved, Seq("cid"), "left")
      .select(col("cid"), col("cnt").as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("n_moved_out"), lit(0L)).as("n_moved_out"))
      .orderBy("cid")
  }

  /** p19: decontamination — flag corpus docs whose 2-token shingle sets
    * overlap a "benchmark" probe set (here the shingles of the first
    * [[ContaminationProbeDocs]] docs stand in for an eval suite). The probe
    * set broadcasts; the corpus side explodes shingle hashes and semi-joins —
    * at 100 TB the probe side is benchmark-sized (tiny) and the corpus scan
    * stays embarrassingly parallel. The ratio test is cross-multiplied
    * integer arithmetic (exact) before the display-only double divide. */
  val ContaminationProbeDocs = 5
  /** Flag when hits/n_grams >= this (as num/den, compared exactly).
    * 0.4 sits in the fixture's distribution tail: the bulk of docs overlap
    * the probe set 10-30% through shared vocabulary; >=40% marks genuine
    * shingle-level containment. */
  val ContaminationNum = 4
  val ContaminationDen = 10

  def contamination(spark: SparkSession, dir: String): DataFrame = {
    // both the probe and corpus branches read the shingle+hash frame;
    // truncate lineage so hashing runs once (see minhashPairs)
    val sh = shingled(spark, dir).localCheckpoint(false)
    val probes = sh.where(col("doc_id") < ContaminationProbeDocs)
      .select(explode(col("hashes")).as("h")).distinct()
    val corpus = sh.where(col("doc_id") >= ContaminationProbeDocs)
      .select(col("doc_id"), size(col("hashes")).cast("long").as("n_grams"),
        explode(col("hashes")).as("h"))
    corpus.join(broadcast(probes), "h")
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_hits"))
      .where(col("n_hits") * ContaminationDen >= col("n_grams") * ContaminationNum)
      .withColumn("overlap", try_divide(col("n_hits").cast("double"), col("n_grams").cast("double")))
      .select(col("doc_id"), col("n_hits"), col("n_grams"), col("overlap"))
      .orderBy("doc_id")
  }

  /** p46: cross-source content-overlap matrix — the dataset-curation
    * analytic behind mixing decisions: which sources are near-copies of
    * each other (mirrors, scrapes of the same upstream) and should not be
    * double-weighted. One row per source pair with shared distinct-shingle
    * counts and the shingle-set Jaccard. Exact-hash overlap is the wrong
    * probe at corpus level (zero here — sources share *content*, not
    * byte-identical docs), so the unit is the 2-token shingle, the same
    * vocabulary p19/p40 decontaminate with.
    *
    * Scale shape: explode to (source, hash), one distinct shuffle, then a
    * hash-keyed self-join. Per-hash fan-out is bounded by the SOURCE
    * CATALOG (≤ |sources|² pairs per hash, never corpus-sized), and the
    * pair counts aggregate with map-side partials, so the output and all
    * intermediate state are catalog²-bounded at any corpus size. The
    * per-source totals are a broadcast join back. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // ONE hash-keyed shuffle collapses the exploded corpus to one row per
    // distinct shingle hash carrying its (sorted, deduped) source set —
    // collect_set partial-aggregates map-side and its state is
    // catalog-bounded per hash. Everything downstream is hash-cardinality:
    // per-source distinct counts come from re-exploding the sets, and the
    // shared counts expand each row's in-row source combinations
    // (≤ catalog²/2 per row) instead of a corpus-scale h-keyed self-join —
    // the round-12 shape paid two extra exploded-corpus shuffles (distinct,
    // then both join sides repartitioned by h) for the same pair multiset.
    val byH = shingled(spark, dir)
      .select(col("source"), explode(col("hashes")).as("h"))
      .groupBy("h").agg(sort_array(collect_set(col("source"))).as("srcs"))
      .localCheckpoint(false) // feeds sizes AND pairs; shingling runs once
    val sizes = byH.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
      .localCheckpoint(false) // catalog-sized; feeds the grid twice + widths
    val pairs = byH.where(size(col("srcs")) >= 2)
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)),
          |            b -> struct(a AS source_a, b AS source_b))))""".stripMargin)).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
    // report over the FULL source-pair grid (catalog² rows, built from two
    // broadcast-sized frames): a mixing decision needs "these two sources
    // share nothing" as an explicit zero row, not an absence that is
    // indistinguishable from a missing source — same grid-then-left-join
    // pattern as dedupSensitivity's empty thresholds
    val grid = sizes.select(col("source").as("source_a"), col("n").as("n_a"))
      .crossJoin(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))))
      .where(col("source_a") < col("source_b"))
    grid.join(broadcast(pairs), Seq("source_a", "source_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("jaccard",
        col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"), col("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** p40: bloom-prefiltered decontamination — p19's pattern when the probe
    * side (a full prior corpus, not a benchmark) is too large to broadcast
    * as an exact set: build a distributed bloom filter over the probe
    * shingle hashes (Spark's own `BloomFilterAggregate`, per-partition
    * filters OR-merged; the one binary collected is bits-bounded at
    * [[BloomDecontamBits]]/8 bytes regardless of probe cardinality), embed
    * it as a foldable literal so `might_contain` prefilters the corpus scan
    * inside whole-stage codegen, then EXACT-CONFIRM the survivors with a
    * join against the true probe set. Bloom false positives are removed by
    * the confirm join, so the result is provably identical to the
    * unfiltered exact plan (BloomDecontamSpec asserts equality) — the bloom
    * only shrinks what reaches the shuffle. At 100 TB: the probe set
    * shuffles once into the filter build, the corpus scan stays
    * embarrassingly parallel behind a constant-memory predicate, and the
    * confirm join handles only prefilter survivors (FPP-bounded).
    *
    * Output aggregates per source — bounded by source cardinality at any
    * scale — with the >= [[BloomHighNum]]/[[BloomHighDen]]-overlap count as
    * the flag signal. All ratios divide exact integer sums. */
  val BloomProbeDocs = 30
  val BloomHighNum = 9
  val BloomHighDen = 10
  /** 2^19 expected items / 2^22 bits (512 KiB, ~7 bits/item at the fixture
    * probe cardinality): under the runtime-filter creation caps, honest FPP
    * at probe scale. Production sizes to the real probe cardinality. */
  val BloomDecontamItems: Long = 1L << 19
  val BloomDecontamBits: Long  = 1L << 22

  def bloomDecontam(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir).localCheckpoint(false)
    val probes = sh.where(col("doc_id") < BloomProbeDocs)
      .select(explode(col("hashes")).as("h")).distinct()
    // one bits-bounded binary reaches the driver — the scalar-subquery
    // shape runtime filters use, not a data collect
    val bloom = probes
      .agg(graft.functions.BloomProbe.aggCol(col("h"), BloomDecontamItems, BloomDecontamBits).as("bf"))
      .head().getAs[Array[Byte]](0)
    val corpus = sh.where(col("doc_id") >= BloomProbeDocs)
      .select(col("doc_id"), col("source"), size(col("hashes")).cast("long").as("n_grams"),
        explode(col("hashes")).as("h"))
      .where(graft.functions.BloomProbe.mightContain(bloom, col("h")))
    corpus.join(probes, "h") // exact confirm; AQE broadcasts the small side
      .groupBy("doc_id", "source", "n_grams")
      .agg(count(lit(1)).as("n_hits"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_hit_docs"),
        sum(when(col("n_hits") * BloomHighDen >= col("n_grams") * BloomHighNum, 1L)
          .otherwise(0L)).as("n_high"),
        sum("n_hits").as("sum_hits"),
        sum("n_grams").as("sum_grams"))
      .withColumn("overlap", try_divide(col("sum_hits").cast("double"), col("sum_grams").cast("double")))
      .orderBy("source")
  }

  /** p20: intra-document repetition signals (the Gopher/MassiveText
    * repetition filters): duplicate-token and duplicate-bigram fractions per
    * source, plus the count of docs over 20% duplicate bigrams. All ratios
    * divide exact integer sums; the per-doc 20% test is cross-multiplied
    * integers, never a double compare. Pure per-doc array ops + one
    * shuffle. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_utoks", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("grams", // slice-based total window (see shingled())
        expr("transform(slice(toks, 2, greatest(size(toks) - 1, 0)), (t, i) -> concat(toks[i], ' ', t))"))
      .withColumn("n_grams", size(col("grams")).cast("long"))
      .withColumn("n_ugrams", size(array_distinct(col("grams"))).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_toks").as("sum_toks"),
        sum(col("n_toks") - col("n_utoks")).as("dup_toks"),
        sum("n_grams").as("sum_grams"),
        sum(col("n_grams") - col("n_ugrams")).as("dup_grams"),
        sum(when((col("n_grams") - col("n_ugrams")) * 5 > col("n_grams"), 1L).otherwise(0L))
          .as("n_flagged"))
      .withColumn("dup_tok_ratio", try_divide(col("dup_toks").cast("double"), col("sum_toks").cast("double")))
      .withColumn("dup_gram_ratio", try_divide(col("dup_grams").cast("double"), col("sum_grams").cast("double")))
      .orderBy("source")

  // ==================================================== similarity search

  /** Embeddings quantized to int64 (floor(x * 1e5)): dot products and norms
    * become exact integer arithmetic, identical in any engine. */
  private[graft] def quantized(spark: SparkSession, dir: String): DataFrame =
    quantizedOf(embs(spark, dir))

  /** The quantization over an arbitrary (vec_id, embedding) frame — shared
    * with the streaming ingest path, which quantizes each arriving batch. */
  private[graft] def quantizedOf(df: DataFrame): DataFrame =
    df
      .withColumn("q", expr(s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $QuantScale) AS BIGINT))"))
      .withColumn("nrm", graft.functions.QuantizedDot(col("q"), col("q")))

  // native fused int64 dot (QuantizedDot): the aggregate(zip_with(...))
  // spelling allocates an array + runs lambda plumbing per candidate PAIR
  private def dotCol: Column = graft.functions.QuantizedDot(col("qa"), col("qb"))

  /** p07: brute-force cosine top-k — the exact baseline. The query set
    * (vec_id < 10) broadcasts; each corpus partition scores independently and
    * the only shuffle is the per-query top-k window. */
  def annBrute(spark: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(spark, dir)
      .select(col("vec_id").as("nbr_id"), col("q").as("qb"), col("nrm").as("nrm_b"))
    val queries = quantized(spark, dir)
      .where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qa"), col("nrm").as("nrm_a"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    broadcast(queries).crossJoin(corpus)
      .where(col("query_id") =!= col("nbr_id"))
      .withColumn("dot", dotCol)
      .withColumn("cosine",
        try_divide(col("dot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nbr_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** LSH bucket id: sign bits of `planes` md5-derived random hyperplanes
    * (native fused dot against the constant-folded plane vector). */
  private def bucketExpr(qCol: String, planes: Int = LshPlanes): Column =
    (0 until planes).map { p =>
      val ws = array((0 until EmbDim).map(d => lit(planeWeight(p, d))): _*)
      when(graft.functions.QuantizedDot(col(qCol), ws) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** p08: LSH-bucketed ANN — candidates share a 12-bit hyperplane bucket, so
    * the join shuffles on the bucket key instead of crossing the corpus.
    * The scale path: recall trades against bucket width (Bands/planes). */
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    annLshParam(spark, dir, LshPlanes)

  /** Parameterized core of p08 (plane count = bucket bit width);
    * LshFuzzSpec differential-tests widths against a driver-side oracle.
    * Planes must stay below the p14 dedup plane-index offset (64) so the
    * two operators' md5-derived weight namespaces never overlap. */
  private[graft] def annLshParam(spark: SparkSession, dir: String, planes: Int): DataFrame = {
    require(planes >= 1 && planes < 64, s"planes ($planes) must be in 1..63")
    val q = quantized(spark, dir).withColumn("bucket", bucketExpr("q", planes))
    val corpus = q.select(col("bucket"), col("vec_id").as("nbr_id"), col("q").as("qb"), col("nrm").as("nrm_b"))
    val queries = q.where(col("vec_id") < 10)
      .select(col("bucket"), col("vec_id").as("query_id"), col("q").as("qa"), col("nrm").as("nrm_a"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    queries.join(corpus, "bucket")
      .where(col("query_id") =!= col("nbr_id"))
      .withColumn("dot", dotCol)
      .withColumn("cosine",
        try_divide(col("dot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nbr_id"), col("bucket"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** p15: IVF (inverted-file) ANN — the scale path beyond LSH: a coarse
    * quantizer of [[IvfCentroids]] centroids (here the lowest-id vectors, a
    * deterministic stand-in for trained k-means centers — the
    * assignment/probe machinery is what matters), every corpus vector
    * assigned to its nearest centroid, queries probing the
    * [[IvfProbes]] nearest inverted lists only. Centroids broadcast;
    * the search shuffles on the centroid id, never crossing the corpus. */
  val IvfCentroids = 16
  val IvfProbes    = 2

  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfParam(spark, dir, IvfCentroids, IvfProbes)

  /** Parameterized core of p15 (coarse-cell count, probe count).
    * IvfFuzzSpec pins two oracle-free invariants across the probe axis:
    * probing EVERY cell must reproduce brute force exactly, and per-rank
    * cosines must be monotone non-decreasing in the probe count. */
  private[graft] def annIvfParam(
      spark: SparkSession, dir: String, centroids: Int, probes: Int): DataFrame = {
    require(centroids >= 1 && probes >= 1 && probes <= centroids,
      s"invalid IVF geometry ($centroids cells, $probes probes)")
    val n = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
    // zero-norm vectors can't seed (cosine against them is NaN, whose
    // ordering under min-struct differs from the old window's NaN-first —
    // excluding them keeps both engines' argmax identical and is what
    // k-means/IVF trainers do anyway)
    val cents = n.where(col("vec_id") < centroids && col("nrm") > 0)
      .select(col("vec_id").as("cid"), col("q").as("qb"), col("nrm").as("nrm_b"))

    // per-vector centroid scores (corpus × K against the broadcast set)
    def centScores(src: DataFrame): DataFrame =
      src.select(col("vec_id"), col("q").as("qa"), col("nrm").as("nrm_a"))
        .crossJoin(broadcast(cents))
        .withColumn("cdot", dotCol)
        .withColumn("ccos",
          try_divide(col("cdot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))

    // corpus assignment: argmax cosine (ties → lowest cid) as
    // min(struct(-ccos, cid)) — map-side partial min, no window state
    // holding all K scored rows per vector (the p34 encode shape)
    val assigned = centScores(n)
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("ccos")).as("neg_ccos"), col("cid"))).as("best"))
      .select(col("vec_id").as("nbr_id"), col("best.cid").as("cid"))
    // query probes need top-IvfProbes, but only over the tiny query set —
    // the window is queries × K rows, never corpus-sized
    val pw = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid").asc)
    val probeSet = centScores(n.where(col("vec_id") < 10))
      .withColumn("crn", row_number().over(pw)).where(col("crn") <= probes)
      .select(col("vec_id").as("query_id"), col("cid"))

    val qa = n.select(col("vec_id").as("query_id"), col("q").as("qa"), col("nrm").as("nrm_a"))
    val qb = n.select(col("vec_id").as("nbr_id"), col("q").as("qb"), col("nrm").as("nrm_b"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    probeSet.join(assigned, "cid")
      .where(col("query_id") =!= col("nbr_id"))
      .join(qa, "query_id").join(qb, "nbr_id")
      .withColumn("dot", dotCol)
      .withColumn("cosine",
        try_divide(col("dot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("nbr_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** p34: product-quantization ANN (ADC scoring) — the memory-scale path
    * past IVF: vectors split into [[PqSubspaces]] subspaces, each sub-vector
    * replaced by the id of its nearest of [[PqCentroids]] codebook entries
    * (codebook = the lowest-id vectors' sub-slices, the same deterministic
    * stand-in for trained centers as p15's coarse quantizer — the
    * encode/ADC machinery is the operator). A query never touches raw
    * corpus vectors: it builds a (subspace × centroid) distance table from
    * its own slices and scores every code word by table lookup — the
    * asymmetric-distance computation of Jégou et al. 2011. At 100 TB the
    * codes table is M bytes/vector instead of 4·dim, the ADC join
    * broadcasts (queries × M × K rows), and the only corpus-sized shuffles
    * are the encode groupBy and the per-query partial top-k; production
    * composition is IVF (p15) to prune lists, then this to score them.
    * All distances are exact int64 (quantized components ≤1e5, so a
    * 16-wide subspace l2² ≤ 6.4e11 and the M-subspace ADC sum ≤ 2.6e12 —
    * far inside 2^63), so ranks are engine-exact. */
  val PqSubspaces = 4
  val PqCentroids = 8
  val PqTopK      = 5

  def annPq(spark: SparkSession, dir: String): DataFrame =
    annPqParam(spark, dir, PqSubspaces, PqCentroids)

  /** Parameterized core of p34 (subspace count, codebook size). The
    * encode/ADC arithmetic is exact int64, so PqFuzzSpec differential-tests
    * geometries against a driver-side oracle recomputed from the raw
    * floats — slice offsets (`m*d+1`), per-slot argmin tiebreaks, and the
    * ADC partial-sum are checked as functions of the geometry. */
  private[graft] def annPqParam(
      spark: SparkSession, dir: String, subspaces: Int, centroids: Int): DataFrame = {
    require(subspaces >= 1 && EmbDim % subspaces == 0,
      s"subspaces ($subspaces) must divide the embedding dim ($EmbDim)")
    require(centroids >= 1, "at least one codebook entry")
    val d = EmbDim / subspaces
    // (id, m, sub): every vector exploded into its subspace slices
    val sub = quantized(spark, dir)
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${subspaces - 1}), m -> struct(CAST(m AS BIGINT) AS m, slice(q, m * $d + 1, $d) AS sub))")).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
    val cents = sub.where(col("vec_id") < centroids)
      .select(col("vec_id").as("cid"), col("m"), col("sub").as("subc"))
    // per (vector, subspace, centroid) squared distance — native fused kernel
    val dists = sub.join(broadcast(cents), Seq("m"))
      .withColumn("dist", graft.functions.QuantizedL2Sq(col("sub"), col("subc")))
    // encode: nearest centroid per slot, ties to the lowest cid (struct min
    // is a groupBy, not a window — map-side partial min per slot)
    val codes = dists
      .groupBy(col("vec_id").as("nbr_id"), col("m"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
      .select(col("nbr_id"), col("m"), col("best.cid").as("cid"))
    // ADC tables for the query set fall out of the same dists relation
    val adc = dists.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("m"), col("cid"),
        col("dist").as("qdist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("nbr_id").asc)
    codes.join(broadcast(adc), Seq("m", "cid"))
      .where(col("query_id") =!= col("nbr_id"))
      .groupBy("query_id", "nbr_id")
      .agg(sum(col("qdist")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= PqTopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("adist"))
      .orderBy("query_id", "rank")
  }

  /** p37: composed IVF→PQ ANN — the production shape (SURVEY §8.4): the
    * coarse quantizer (p15) prunes which inverted lists a query reads, PQ
    * ADC (p34) scores only those lists without ever touching raw corpus
    * vectors. The IVF-then-ADC composition is exactly Jégou et al. 2011's
    * IVFADC index.
    *
    * Plan shape at 100 TB: the corpus-sized relations — coarse assignment
    * (vec_id → coarse cell) and PQ codes (vec_id → M byte codes) — join
    * once on vec_id; the query side (probe cells, ADC distance tables) is
    * queries × probes / queries × M × K rows and BROADCASTS, so routed
    * candidates materialize map-side with no corpus shuffle beyond the
    * encode/assign groupBys, and the only per-query shuffle is the ADC
    * partial-sum groupBy over routed candidates. A nbr lives in exactly
    * one coarse cell, so a (query, nbr) pair appears at most once even
    * with multi-probe — no distinct needed. Distances stay exact int64
    * (the p34 bound), so ranks are engine-exact. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val n = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))

    // ---- coarse routing (the p15 machinery, cells renamed ccid so they
    // can't collide with PQ's codebook cid)
    val cents = n.where(col("vec_id") < IvfCentroids && col("nrm") > 0)
      .select(col("vec_id").as("ccid"), col("q").as("qb"), col("nrm").as("nrm_b"))
    def centScores(src: DataFrame): DataFrame =
      src.select(col("vec_id"), col("q").as("qa"), col("nrm").as("nrm_a"))
        .crossJoin(broadcast(cents))
        .withColumn("cdot", dotCol)
        .withColumn("ccos",
          try_divide(col("cdot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
    val assigned = centScores(n)
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("ccos")).as("neg_ccos"), col("ccid"))).as("best"))
      .select(col("vec_id").as("nbr_id"), col("best.ccid").as("ccid"))
    val pw = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("ccid").asc)
    val probes = centScores(n.where(col("vec_id") < 10))
      .withColumn("crn", row_number().over(pw)).where(col("crn") <= IvfProbes)
      .select(col("vec_id").as("query_id"), col("ccid"))

    // ---- PQ encode + query ADC tables (the p34 machinery)
    val d = EmbDim / PqSubspaces
    val sub = quantized(spark, dir)
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqSubspaces - 1}), m -> struct(CAST(m AS BIGINT) AS m, slice(q, m * $d + 1, $d) AS sub))")).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
    val pqCents = sub.where(col("vec_id") < PqCentroids)
      .select(col("vec_id").as("cid"), col("m"), col("sub").as("subc"))
    val dists = sub.join(broadcast(pqCents), Seq("m"))
      .withColumn("dist", graft.functions.QuantizedL2Sq(col("sub"), col("subc")))
    val codes = dists
      .groupBy(col("vec_id").as("nbr_id"), col("m"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
      .select(col("nbr_id"), col("m"), col("best.cid").as("cid"))
    val adc = dists.where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("m"), col("cid"), col("dist").as("qdist"))

    ivfPqCompose(assigned, codes, probes, adc)
  }

  /** p37's compose tail, shared with the persisted-index path (p49):
    * corpus-sized relations (assignment, codes) join on vec_id, the query
    * side (probes, ADC tables) broadcasts. */
  private def ivfPqCompose(
      assigned: DataFrame, codes: DataFrame,
      probes: DataFrame, adc: DataFrame): DataFrame = {
    val routed = codes.join(assigned, "nbr_id")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("nbr_id").asc)
    routed.join(broadcast(probes), "ccid")
      .where(col("query_id") =!= col("nbr_id"))
      .join(broadcast(adc), Seq("query_id", "m", "cid"))
      .groupBy("query_id", "nbr_id")
      .agg(sum(col("qdist")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= PqTopK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("adist"))
      .orderBy("query_id", "rank")
  }

  /** p49: the persisted-index ANN lifecycle — p37's semantics split into
    * the production build-once / query-many phases. BUILD writes four
    * parquet relations: the corpus-sized IVF assignment and PQ codes
    * (M+1 small rows per vector — the "M bytes at rest" promise made
    * physical), plus the two broadcast-sized centroid tables. QUERY reads
    * ONLY the index and the query vectors: the embeddings scan carries a
    * `vec_id < 10` pushed filter (plan-asserted), so query cost is
    * index + queries regardless of corpus width — raw vectors never
    * rejoin the path. The result is row-identical to computing p37 from
    * scratch (the oracle IS p37's SQL), which is the index-consistency
    * guarantee a serving deployment needs after every rebuild. */
  private val annBuildLock = new Object

  /** Allocate a fresh version directory under an app-keyed index root and
    * run `build` into it, pruning all versions older than the previous
    * one. The root is keyed by (dataset dir, THIS Spark app) so two
    * concurrent APPS never share a tree; within one app the JVM lock plus
    * the per-invocation version directory mean concurrent invocations
    * (a multi-threaded serving layer) each build into their own exclusive
    * directory and read exactly the version they built — no
    * overwrite-vs-append-vs-read interleaving on shared parquet files.
    * The previous version survives one extra cycle for in-flight readers
    * ([[ArtifactStore.withScratchVersion]]); a reader holding a plan
    * across two newer builds is out of the supported window. */
  private def withFreshIndexVersion(tag: String, spark: SparkSession, dir: String)(
      build: String => Unit): String = annBuildLock.synchronized {
    // FS-routed ([[ArtifactStore]]): the index tree lives under the
    // configurable GRAFT_INDEX_DIR root, version claims and the prune
    // act on the SAME filesystem the parquet writers target — keyed
    // additionally by the embeddings fingerprint so a rewritten corpus
    // rebuilds instead of serving a stale index.
    val root = ArtifactStore.artifactPath(spark, tag, dir, "embeddings.parquet")
    ArtifactStore.withScratchVersion(spark, root) { vdir => build(vdir); vdir }
  }

  def annIndexed(spark: SparkSession, dir: String): DataFrame = {
    // every invocation rebuilds into its own fresh version directory (the
    // rebuild is what p49 measures) and queries exactly that version
    val idx = withFreshIndexVersion("ann-index", spark, dir)(
      buildAnnIndex(spark, dir, _))
    queryAnnIndex(spark, dir, idx)
  }

  /** BUILD half of p49: derive and persist the index relations. */
  private[graft] def buildAnnIndex(spark: SparkSession, dir: String, idx: String): Unit =
    buildAnnIndexOf(
      quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm")).localCheckpoint(false),
      idx)

  /** The frozen quantizer of an index: coarse IVF seeds (lowest-id
    * nonzero vectors) and per-subspace PQ codebooks — written once at
    * build, immutable thereafter (production quantizers version with the
    * deployment, not with any one snapshot). */
  private[graft] def deriveAnnQuantizer(n: DataFrame): (DataFrame, DataFrame) = {
    val cents = n.where(col("vec_id") < IvfCentroids && col("nrm") > 0)
      .select(col("vec_id").as("ccid"), col("q").as("qb"), col("nrm").as("nrm_b"))
    val d = EmbDim / PqSubspaces
    val pqCents = n.where(col("vec_id") < PqCentroids)
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqSubspaces - 1}), m -> struct(CAST(m AS BIGINT) AS m, slice(q, m * $d + 1, $d) AS sub))")).as("s"))
      .select(col("vec_id").as("cid"), col("s.m").as("m"), col("s.sub").as("subc"))
    (cents, pqCents)
  }

  /** Persist the frozen quantizer tables under `idx`. */
  private[graft] def writeAnnQuantizer(n: DataFrame, idx: String): Unit = {
    val (cents, pqCents) = deriveAnnQuantizer(n)
    cents.write.mode("overwrite").parquet(s"$idx/ivf_cents.parquet")
    pqCents.write.mode("overwrite").parquet(s"$idx/pq_cents.parquet")
  }

  /** BUILD over an explicit quantized frame — split out so p58 can build
    * the initial index over a corpus prefix and then grow it. One code
    * path with the append/bump encoders: the quantizer persists first,
    * then the corpus encodes THROUGH the persisted tables, so build and
    * grow are indistinguishable by construction. */
  private[graft] def buildAnnIndexOf(n: DataFrame, idx: String): Unit = {
    writeAnnQuantizer(n, idx)
    val (assigned, codes) = encodeAnnBatch(n.sparkSession, n, idx)
    assigned.write.mode("overwrite").parquet(s"$idx/ivf_assign.parquet")
    codes.write.mode("overwrite").parquet(s"$idx/pq_codes.parquet")
  }

  /** QUERY half of p49: probes + ADC tables from the query vectors and the
    * persisted centroid tables, composed against the persisted corpus
    * relations. The only embeddings touched are the query set.
    *
    * `probes` is the serving-time quality/latency knob (nprobe): more
    * probed cells widen the candidate pool at proportionally more ADC
    * work. The default [[IvfProbes]] sits at the measured recall-vs-
    * latency knee on the decade fixture (SCALING.md's nprobe sweep:
    * recall climbs steeply to 2 probes = 12.5% of cells, then flattens
    * while latency keeps growing); the entry oracles also pin it.
    * IvfPqFuzzSpec asserts per-rank ADC distances are monotone
    * non-increasing in the knob. */
  private[graft] def queryAnnIndex(
      spark: SparkSession, dir: String, idx: String,
      probes: Int = IvfProbes): DataFrame = {
    val cents = spark.read.parquet(s"$idx/ivf_cents.parquet")
    val pqCents = spark.read.parquet(s"$idx/pq_cents.parquet")
    // tombstones (p63): removed vectors mask OUT of the assignment —
    // codes rows for them orphan harmlessly (the compose joins codes
    // through the assignment). The mask is an anti-join against a
    // delta-sized relation, so deletes never rewrite the corpus-sized
    // index files — the standard immutable-segment + tombstone design.
    // two layouts resolve here: the versioned/segmented bump tree
    // (AnnIndexStore — current committed manifest's segments, masked by
    // that version's tombstone relation) and the flat single-directory
    // build-once tree (p49/p58/p63's per-invocation exclusive dirs)
    val (assigned, codes) = AnnIndexStore.current(spark, idx) match {
      case Some((v, segs)) =>
        val tomb = AnnIndexStore.tombstones(spark, idx, v)
          .select(col("vec_id").as("nbr_id"))
        (AnnIndexStore.segAssigned(spark, idx, segs)
           .join(tomb, Seq("nbr_id"), "left_anti"),
         AnnIndexStore.segCodes(spark, idx, segs))
      case None =>
        val assigned0 = spark.read.parquet(s"$idx/ivf_assign.parquet")
        val a =
          if (ArtifactStore.exists(spark, s"$idx/tombstones.parquet"))
            assigned0.join(
              spark.read.parquet(s"$idx/tombstones.parquet")
                .select(col("vec_id").as("nbr_id")),
              Seq("nbr_id"), "left_anti")
          else assigned0
        (a, spark.read.parquet(s"$idx/pq_codes.parquet"))
    }
    // no lineage truncation here: the query set is 10 pushed-filtered rows
    // (recomputing it is free), and keeping the scans in the plan is what
    // lets ScaleInvariantsSpec assert the query phase never reads corpus
    // embeddings
    val queries = quantized(spark, dir).where(col("vec_id") < 10)
      .select(col("vec_id"), col("q"), col("nrm"))
    val pw = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("ccid").asc)
    val probeSet = queries
      .select(col("vec_id"), col("q").as("qa"), col("nrm").as("nrm_a"))
      .crossJoin(broadcast(cents))
      .withColumn("cdot", dotCol)
      .withColumn("ccos",
        try_divide(col("cdot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .withColumn("crn", row_number().over(pw)).where(col("crn") <= probes)
      .select(col("vec_id").as("query_id"), col("ccid"))
    val d = EmbDim / PqSubspaces
    val adc = queries
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqSubspaces - 1}), m -> struct(CAST(m AS BIGINT) AS m, slice(q, m * $d + 1, $d) AS sub))")).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
      .join(broadcast(pqCents), Seq("m"))
      .select(col("vec_id").as("query_id"), col("m"), col("cid"),
        graft.functions.QuantizedL2Sq(col("sub"), col("subc")).as("qdist"))
    ivfPqCompose(assigned, codes, probeSet, adc)
  }

  /** Incremental half of the index lifecycle (p58): encode a NEW batch of
    * vectors against the index's PERSISTED centroid tables — the quantizer
    * is frozen at build time, exactly how a serving IVF/PQ index grows —
    * and append its assignment and code rows. Per-batch cost is
    * batch×(K + M·256) dots; the corpus-sized relations are touched only
    * by the parquet append. Because assignment and codes are per-vector
    * independent, build-then-append over any corpus carving is
    * row-identical to a full rebuild (p58 gates this under p37's oracle). */
  private[graft] def appendAnnIndex(spark: SparkSession, batch: DataFrame, idx: String): Unit = {
    val (assigned, codes) = encodeAnnBatch(spark, batch, idx)
    assigned.write.mode("append").parquet(s"$idx/ivf_assign.parquet")
    codes.write.mode("append").parquet(s"$idx/pq_codes.parquet")
  }

  /** Encode a batch against `idx`'s PERSISTED frozen quantizer: the IVF
    * assignment (best-cosine seed per vector) and PQ codes (argmin-L2
    * codeword per subspace). Per-batch cost is batch×(K + M·256) dots;
    * shared by the flat append (p58), the versioned bump segments
    * ([[graft.streaming.IngestBump]] via [[AnnIndexStore]]), and the
    * initial build itself — so grow-in-place is indistinguishable from
    * a full rebuild by construction. No nrm filter on the batch:
    * assignment must mirror the build exactly. */
  private[graft] def encodeAnnBatch(
      spark: SparkSession, batch: DataFrame, idx: String): (DataFrame, DataFrame) = {
    val cents = spark.read.parquet(s"$idx/ivf_cents.parquet")
    val pqCents = spark.read.parquet(s"$idx/pq_cents.parquet")
    val assigned = batch
      .select(col("vec_id"), col("q").as("qa"), col("nrm").as("nrm_a"))
      .crossJoin(broadcast(cents))
      .withColumn("cdot", dotCol)
      .withColumn("ccos",
        try_divide(col("cdot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("ccos")).as("neg_ccos"), col("ccid"))).as("best"))
      .select(col("vec_id").as("nbr_id"), col("best.ccid").as("ccid"))
    val d = EmbDim / PqSubspaces
    val codes = batch
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${PqSubspaces - 1}), m -> struct(CAST(m AS BIGINT) AS m, slice(q, m * $d + 1, $d) AS sub))")).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
      .join(broadcast(pqCents), Seq("m"))
      .withColumn("dist", graft.functions.QuantizedL2Sq(col("sub"), col("subc")))
      .groupBy(col("vec_id").as("nbr_id"), col("m"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
      .select(col("nbr_id"), col("m"), col("best.cid").as("cid"))
    (assigned, codes)
  }

  /** p58: incremental index refresh — the grow-in-place half p49's
    * build-once/query-many lifecycle was missing: the index is built over
    * the first half of the corpus, the second half arrives later and is
    * encoded against the FROZEN persisted quantizer and APPENDED (no
    * rebuild, no touch of existing rows), and the query phase must answer
    * exactly as if the index had been built from the full corpus in one
    * shot — the oracle IS p37's SQL, the same rebuild-consistency
    * guarantee p49 proves for the build path. (The centroid tables derive
    * from the lowest-id vectors, which sit in the initial build's half, so
    * the frozen quantizer equals the full-corpus one — in production the
    * quantizer is trained once and versioned with the index either way.) */
  def annIndexRefresh(spark: SparkSession, dir: String): DataFrame = {
    val q = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
      .localCheckpoint(false)
    val mid = embs(spark, dir).agg((max(col("vec_id")) / lit(2)).cast("long"))
      .collect()(0).getLong(0)
    // build + grow-in-place append both target THIS invocation's fresh
    // version, so a concurrent refresh can never interleave its append
    // with ours (see withFreshIndexVersion)
    val idx = withFreshIndexVersion("ann-refresh", spark, dir) { v =>
      buildAnnIndexOf(q.where(col("vec_id") <= mid), v)
      appendAnnIndex(spark, q.where(col("vec_id") > mid), v)
    }
    queryAnnIndex(spark, dir, idx)
  }

  /** p62: CDC-driven semantic-dedup maintenance — p61's contract on the
    * vector side: embeddings are immutable per vec_id, so an ingest delta
    * is pure membership (vectors leave, vectors arrive), and the carried
    * cell/edge state is maintained across it:
    * [[graft.streaming.SemDedupStream.retain]] retires departed vectors'
    * membership and edges AND rebuilds the pair sets of cells the removal
    * shrinks back under the cap (the one place "cells only grow" leaned on
    * ingest-only streams), then the arrivals refresh as one ordinary
    * incremental batch against the frozen seed quantizer. Cost
    * O(delta + state + reopened cells), never O(corpus); the verdict must
    * be row-identical to a from-scratch dedup of the new snapshot (the
    * oracle is p44's body over the derived new-snapshot relation, with
    * the quantizer's seed count pinned to the DEPLOYED k — ⌈√n⌉ of the
    * full fixture, seeds preserved by both carvings, exactly how a
    * production quantizer is versioned independently of any one
    * snapshot). Snapshots here are deterministic carvings; production
    * calls [[semDeltaOf]] with its two real versions. */
  def semDedupDelta(spark: SparkSession, dir: String): DataFrame = {
    val full = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
      .localCheckpoint(false)
    val k = semCells(embs(spark, dir).count())
    val oldQ = full.where(col("vec_id") < k || col("vec_id") % 10 =!= 9)
    val newQ = full.where(col("vec_id") < k || col("vec_id") % 10 =!= 0)
    val newIds = embs(spark, dir).select("vec_id")
      .where(col("vec_id") < k || col("vec_id") % 10 =!= 0)
    semDeltaOf(semCents(full, k), oldQ, newQ, newIds, SemMaxCell, SemDupThreshold)
  }

  /** p62 over explicit quantized snapshot frames and a frozen seed set —
    * ingest `oldQ`, maintain across the delta to `newQ`, serve `newIds`'
    * verdict. */
  private[graft] def semDeltaOf(
      cents: DataFrame, oldQ: DataFrame, newQ: DataFrame, newIds: DataFrame,
      maxCell: Int, threshold: Double): DataFrame = {
    import graft.streaming.SemDedupStream
    val st0 = SemDedupStream.refreshIncremental(cents, oldQ, None, maxCell, threshold)
    val st1 = SemDedupStream.retain(st0, newQ.select("vec_id"), maxCell, threshold)
    val batch = newQ.join(oldQ.select("vec_id"), Seq("vec_id"), "left_anti")
    val st2 = SemDedupStream.refreshIncremental(cents, batch, Some(st1), maxCell, threshold)
    SemDedupStream.verdict(newIds, st2, maxCell)
  }

  /** p63: CDC-driven ANN index maintenance — the delta lifecycle for the
    * persisted IVF/PQ index (p49 builds, p58 grows; this handles the full
    * two-way delta): arrivals encode against the FROZEN persisted
    * quantizer and parquet-append (exactly p58's path), departures write
    * a delta-sized TOMBSTONE relation the query phase anti-joins — the
    * immutable-segment + tombstone design every production vector store
    * uses, because rewriting corpus-sized index files per delta would be
    * O(index), not O(delta). Compaction (folding tombstones into a
    * rewrite) is a separate offline job, exactly as in those systems.
    * Query answers must be row-identical to an index BUILT FROM SCRATCH
    * on the new snapshot — p37's body over the derived new-snapshot
    * relation is the oracle; the carvings preserve the seed ids (< max
    * centroid count) and the query set, so the frozen quantizer equals
    * the one a fresh build would train (the p58 argument, extended to
    * deletes). */
  def annIndexDelta(spark: SparkSession, dir: String): DataFrame = {
    val seedBound = math.max(IvfCentroids, PqCentroids).max(10).toLong
    val q = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
      .localCheckpoint(false)
    val oldQ = q.where(col("vec_id") < seedBound || col("vec_id") % 10 =!= 9)
    val newQ = q.where(col("vec_id") < seedBound || col("vec_id") % 10 =!= 0)
    val idx = withFreshIndexVersion("ann-delta", spark, dir) { v =>
      buildAnnIndexOf(oldQ, v)
      appendAnnIndex(spark,
        newQ.join(oldQ.select("vec_id"), Seq("vec_id"), "left_anti"), v)
      oldQ.select("vec_id").join(newQ.select("vec_id"), Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$v/tombstones.parquet")
    }
    queryAnnIndex(spark, dir, idx)
  }

  /** The offline compaction job [[annIndexDelta]]'s design defers to:
    * fold the tombstones into a rewrite of the corpus-sized relations and
    * drop the tombstone file. Runs when the tombstone ratio makes the
    * per-query anti-join worth reclaiming — the same economics as any
    * LSM/segment store. Answers before and after must be identical
    * (spec-pinned); the rewrite targets fresh files then swaps, so a
    * crash mid-compaction leaves the tombstoned (still-correct) view. */
  /** Compaction trigger: compact when tombstones reach this fraction of
    * the LIVE rows. The economics (measured in SCALING.md): each query
    * pays one delta-sized anti-join per tombstoned batch of rows, and a
    * compaction pays one rewrite of the corpus-sized assignment + code
    * relations; at ratios well under ~0.25 the anti-join is noise next
    * to the probe/ADC work, above it the dead rows also inflate every
    * cell scan by the same fraction — the standard LSM/segment-store
    * reclaim point. [[graft.streaming.IngestBump]] consults this after
    * each bump's tombstone fold. */
  private[graft] val CompactTombstoneRatio = 0.25

  private[graft] def compactAnnIndex(spark: SparkSession, idx: String): Unit = {
    val tombPath = s"$idx/tombstones.parquet"
    if (!ArtifactStore.exists(spark, tombPath)) return
    val tomb = spark.read.parquet(s"$idx/tombstones.parquet")
      .select(col("vec_id").as("nbr_id"))
    // EAGER checkpoints: the filtered relations must be fully materialized
    // off the source files BEFORE the overwrite deletes them — a lazy
    // lineage would read the very files the write is replacing
    val assigned = spark.read.parquet(s"$idx/ivf_assign.parquet")
      .join(tomb, Seq("nbr_id"), "left_anti").localCheckpoint()
    val codes = spark.read.parquet(s"$idx/pq_codes.parquet")
      .join(tomb, Seq("nbr_id"), "left_anti").localCheckpoint()
    assigned.write.mode("overwrite").parquet(s"$idx/ivf_assign.parquet")
    codes.write.mode("overwrite").parquet(s"$idx/pq_codes.parquet")
    ArtifactStore.delete(spark, tombPath)
  }

  /** p14: embedding-cosine near-duplicate pairs — the vector analogue of
    * minhash dedup, with the same two scale guards as p04:
    *
    *   - **Banded buckets whose cardinality grows with the corpus.**
    *     [[DedupBands]] independent hyperplane signatures, each
    *     [[dedupBits]]`(n)` = ceil(log2(n / [[DedupTargetBucket]])) sign
    *     bits wide (clamped to [[[DedupMinBits]], [[DedupMaxBits]]]), so the
    *     join key space scales with n and expected bucket occupancy stays
    *     ~[[DedupTargetBucket]] — candidate volume is O(n · bands · target),
    *     never O(n²/2^fixed). The count that sizes the bits is a parquet
    *     row-count metadata read, not a data scan.
    *   - **Hot-bucket cap.** Buckets over [[Hashing.MaxBucketSize]] are
    *     low-information collisions (a dense direction of the embedding
    *     space); dropping them bounds worst-case pair blow-up exactly like
    *     p04's band cap — oversized near-identical cliques are p23's job
    *     (cluster-level dedup), not a pairwise enumerator's.
    *
    * Standard LSH recall applies: borderline pairs (cosine ≈ threshold)
    * collide with probability (1 − θ/π)^bits per band, while true
    * near-duplicates (cosine → 1) are caught with high probability across
    * the [[DedupBands]] bands. Survivors are exact quantized cosine ≥
    * [[EmbDupThreshold]] (threshold fixture-tuned: the synthetic embeddings
    * top out near 0.51). */
  val DedupBands        = 3
  val DedupMinBits      = 4
  val DedupMaxBits      = 40
  val DedupTargetBucket = 8
  val EmbDupThreshold   = 0.45

  /** Band b's plane i — indices disjoint from p08's planes 0..11. */
  def dedupPlaneIdx(b: Int, i: Int): Int = 64 + b * DedupMaxBits + i

  /** Smallest k with 2^k · target ≥ n (= ceil(log2(n/target))), clamped.
    * Integer loop, so it agrees exactly with the oracle's ceil(log2(...)). */
  def dedupBits(nVec: Long): Int = {
    var k = DedupMinBits
    while (k < DedupMaxBits && (1L << k) * DedupTargetBucket < nVec) k += 1
    k
  }

  /** Banded bucket keys over a quantized frame, one row per (vec, band). */
  private def dedupBanded(q: DataFrame, bands: Int, nbits: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val bkey = (0 until nbits).map { i =>
        val ws = array((0 until EmbDim).map(d => lit(planeWeight(dedupPlaneIdx(b, i), d))): _*)
        when(graft.functions.QuantizedDot(col("q"), ws) > 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b.toLong).as("band"), bkey.as("bkey"))
    }
    q.select(col("vec_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Standalone banding pass — exposed for the scale invariants spec
    * (key-cardinality growth + cap). */
  private[graft] def embDedupBuckets(spark: SparkSession, dir: String): DataFrame =
    dedupBanded(quantized(spark, dir), DedupBands, dedupBits(embs(spark, dir).count()))

  def embDedup(spark: SparkSession, dir: String): DataFrame =
    embDedupParam(spark, dir, DedupBands, dedupBits(embs(spark, dir).count()),
      MaxBucketSize, EmbDupThreshold)

  /** Parameterized core of p14 over an arbitrary hyperplane-LSH geometry
    * (band count, signature bits per band, hot-bucket cap, cosine
    * threshold); production delegates at the adaptive [[dedupBits]] width.
    * EmbDedupFuzzSpec differential-tests geometries against a driver-side
    * all-pairs oracle recomputed from the raw float embeddings. */
  private[graft] def embDedupParam(
      spark: SparkSession, dir: String, bands: Int, nbits: Int,
      maxBucketSize: Int, threshold: Double): DataFrame = {
    require(bands >= 1, "at least one band")
    require(nbits >= 1 && nbits <= DedupMaxBits,
      s"nbits ($nbits) must fit the disjoint plane-index stride (1..$DedupMaxBits)")
    // the quantized frame feeds the banding pass AND both sides of the
    // verification join — truncate lineage so hashing runs once
    val q = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
      .localCheckpoint(false)

    val banded = dedupBanded(q, bands, nbits)
    val bw = Window.partitionBy(col("band"), col("bkey"))
    val pruned = banded
      .withColumn("cnt", count(lit(1)).over(bw))
      .where(col("cnt") <= maxBucketSize)
      .drop("cnt")

    val l = pruned.alias("l")
    val r = pruned.alias("r")
    val cand = l.join(r,
        col("l.band") === col("r.band") && col("l.bkey") === col("r.bkey") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("vec_a"), col("r.vec_id").as("vec_b"))
      .distinct()

    val qa = q.select(col("vec_id").as("vec_a"), col("q").as("qa"), col("nrm").as("nrm_a"))
    val qb = q.select(col("vec_id").as("vec_b"), col("q").as("qb"), col("nrm").as("nrm_b"))
    cand.join(qa, "vec_a").join(qb, "vec_b")
      .withColumn("dot", dotCol)
      .withColumn("cosine",
        try_divide(col("dot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .where(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** p44: semantic dedup (SemDeDup, Abbas et al. 2023) — cluster the
    * embedding space coarsely, then dedup only WITHIN cells: near-identical
    * meaning concentrates in a cell, so the O(n²) pair space collapses to
    * intra-cell pairs. The productionized LLM-data shape: p14 catches
    * near-identical *vectors* via LSH banding; SemDeDup removes semantic
    * templates at a lower threshold, where hyperplane collision probability
    * is too weak to rely on.
    *
    * Per-vector verdict: its cell, whether a lower-id vector in the same
    * cell sits within [[SemDupThreshold]] cosine (`dup_of` = the smallest
    * such id — the deterministic keep-earliest rule), `kept` = no such
    * vector. Zero-norm vectors have no direction: cell NULL, kept.
    *
    * Scale: cell count K = ⌈√n⌉ balances the two cost terms — broadcast
    * assignment is n·K dots and intra-cell pairing is n·(n/K) ≈ both
    * n^1.5 — the self-balancing exponent when one operator must do both
    * jobs. (Production at 100 TB splits them: train real centroids with
    * p24 and route assignment through p15's IVF probes; the cell-local
    * pair stage here is unchanged by that swap.) Centroids stay
    * broadcastable at any feasible n (√(1e12) vectors × 64 dims × 8 B ≈
    * 512 MB is the ceiling of ceilings; real corpora sit far below). A
    * dense cell larger than [[SemMaxCell]] skips pair enumeration — the
    * p04/p14 hot-bucket argument: an oversize near-identical region is
    * cluster-level dedup's job (p23), not a pairwise enumerator's. */
  val SemDupThreshold = 0.40
  val SemMaxCell      = 1024

  /** ⌈√n⌉ — the same double-sqrt the oracle computes, so both engines
    * derive the identical cell count from the corpus count. */
  def semCells(n: Long): Long =
    math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)

  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupParam(spark, dir, semCells(embs(spark, dir).count()),
      SemMaxCell, SemDupThreshold)

  /** Deterministic coarse cells: the lowest-k vectors seed (the p15/p24
    * stand-in for trained centroids), zero-norm seeds excluded. */
  private[graft] def semCents(q: DataFrame, k: Long): DataFrame =
    q.where(col("vec_id") < k && col("nrm") > 0)
      .select(col("vec_id").as("cid"), col("q").as("qb"), col("nrm").as("nrm_b"))

  /** Nearest-seed assignment — argmax cosine (ties → lowest cid) as a
    * map-side partial-min groupBy against the broadcast seed set, never a
    * corpus×K window (see kmeansStep). Per-vector independent, which is
    * what lets [[graft.streaming.SemDedupStream]] assign batches
    * incrementally against the same fixed seeds. */
  private[graft] def semAssign(q: DataFrame, cents: DataFrame): DataFrame =
    q.where(col("nrm") > 0)
      .select(col("vec_id"), col("q").as("qa"), col("nrm").as("nrm_a"))
      .crossJoin(broadcast(cents))
      .withColumn("cdot", dotCol)
      .withColumn("ccos",
        try_divide(col("cdot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .groupBy("vec_id")
      .agg(min(struct((-col("ccos")).as("neg_ccos"), col("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"))

  /** Parameterized core of p44 (cell count, cell cap, cosine threshold);
    * SemDedupFuzzSpec differential-tests geometries against a driver-side
    * oracle recomputed from the raw float embeddings. */
  private[graft] def semDedupParam(
      spark: SparkSession, dir: String, k: Long,
      maxCell: Int, threshold: Double): DataFrame = {
    require(k >= 1, s"cell count ($k) must be positive")
    require(maxCell >= 1, s"cell cap ($maxCell) must be positive")
    // the quantized frame feeds assignment AND both sides of the pair
    // join — truncate lineage so hashing runs once
    val q = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
      .localCheckpoint(false)

    val cents = semCents(q, k)
    val assigned = semAssign(q, cents)

    // intra-cell exact pairs (hot cells skipped), dup edge = cosine over
    // threshold; vec_b's verdict keeps the SMALLEST similar lower id
    val cw = Window.partitionBy(col("cid"))
    val cell = assigned.join(q, "vec_id")
      .withColumn("csz", count(lit(1)).over(cw))
      .where(col("csz") <= maxCell)
      .select(col("vec_id"), col("cid"), col("q"), col("nrm"))
    val l = cell.select(col("cid"), col("vec_id").as("vec_a"), col("q").as("qa"), col("nrm").as("nrm_a"))
    val r = cell.select(col("cid"), col("vec_id").as("vec_b"), col("q").as("qb"), col("nrm").as("nrm_b"))
    val dups = l.join(r, "cid").where(col("vec_a") < col("vec_b"))
      .withColumn("dot", dotCol)
      .withColumn("cosine",
        try_divide(col("dot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .where(col("cosine") >= threshold)
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"))

    embs(spark, dir).select(col("vec_id"))
      .join(assigned, Seq("vec_id"), "left")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"))
      .orderBy("vec_id")
  }

  /** p47: the incremental semantic-dedup refresh
    * ([[graft.streaming.SemDedupStream]]) driven batch-wise under p44's
    * own oracle — the p38 contract on the vector side: the corpus
    * "arrives" in two halves (split at the midpoint vec_id), each refresh
    * assigns and pairs ONLY its batch against the carried cell/edge state,
    * and the final verdict must be row-identical to the one-shot p44 —
    * the oracle IS p44's SQL. Seeds are fixed up front from the corpus
    * count, like a production coarse quantizer trained before catch-up
    * begins. */
  def semDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val q = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
      .localCheckpoint(false)
    val cents = semCents(q, semCells(e.count())).localCheckpoint(false)
    val mid = e.agg((max(col("vec_id")) / lit(2)).cast("long")).collect()(0).getLong(0)
    val batches = Seq(q.where(col("vec_id") <= mid), q.where(col("vec_id") > mid))
    var state: Option[graft.streaming.SemDedupStream.SemState] = None
    batches.foreach { b =>
      state = Some(graft.streaming.SemDedupStream
        .refreshIncremental(cents, b, state, SemMaxCell, SemDupThreshold))
    }
    graft.streaming.SemDedupStream.verdict(e.select("vec_id"), state.get, SemMaxCell)
  }

  /** p52: semantic dedup through a TRAINED quantizer with IVF multi-probe
    * membership — the production composition p44's docs promise: instead of
    * the ⌈√n⌉ seed-prefix cells, one p24 Lloyd step turns the seeds into
    * data-shaped integer-mean centroids, and each vector then belongs to
    * its top-[[IvfProbes]] nearest trained cells (p15's probe idea applied
    * to MEMBERSHIP), so near-duplicates that straddle a cell boundary — the
    * known blind spot of single-cell SemDeDup — meet in their shared
    * second-choice cell. Pair discovery, the hot-cell cap, and the verdict
    * shape are p44's unchanged (the cell-local stage is quantizer-agnostic;
    * SemDedupFuzzSpec proves the same geometry point).
    *
    * Scale: training is p24's shape (broadcast assign + 64·K-row centroid
    * recompute); probe selection uses [[graft.functions.Bottom2]], a
    * mergeable smallest-2 aggregate, so the corpus×K scored stream
    * collapses map-side to ONE 32-byte buffer per vector — no window, no
    * per-vector K-row state (see Bottom2's scaladoc for why the built-in
    * spellings break at production K). The assignment relation is
    * localCheckpointed because it is exactly what a production IVF index
    * persists (p49 writes it as `ivf_assign.parquet`); membership doubles
    * rows (probes=2) going into the same capped cell-pair join as p44. */
  def semDedupTrained(spark: SparkSession, dir: String): DataFrame =
    semDedupTrainedParam(spark, dir, semCells(embs(spark, dir).count()),
      SemMaxCell, SemDupThreshold)

  /** One Lloyd refinement over the ⌈√n⌉ seed prefix → trained integer-mean
    * centroids (cid, qb, nrm_b). p24's recipe (`s DIV cnt` truncates
    * identically cross-engine; zero-vector centroids drop); shared by the
    * one-shot p52 and the incremental p55 so both assign against the
    * byte-identical quantizer. Output is broadcast-sized. */
  private[graft] def trainCentroids(q: DataFrame, k: Long): DataFrame = {
    val a0 = semAssign(q, semCents(q, k))
    val counts = a0.groupBy("cid").agg(count(lit(1)).as("cnt"))
    a0.join(q, "vec_id")
      .select(col("cid"), posexplode(col("q")))
      .groupBy(col("cid"), col("pos")).agg(sum(col("col")).as("s"))
      .join(counts, "cid")
      .groupBy("cid")
      .agg(sort_array(collect_list(struct(col("pos"), expr("s DIV cnt").as("m")))).as("ps"))
      .select(col("cid"), expr("transform(ps, x -> x.m)").as("qb"))
      .withColumn("nrm_b", graft.functions.QuantizedDot(col("qb"), col("qb")))
      .where(col("nrm_b") > 0)
      .localCheckpoint(false) // broadcast-sized, feeds probe scoring
  }

  /** Top-[[IvfProbes]] probe-membership rows (vec_id, cid, rank) for every
    * nonzero-norm vector — the multi-probe assignment shared by p52's
    * one-shot and p55's incremental refresh. Bottom2 keeps the scored
    * corpus×K stream out of any window or per-vector K-row buffer. */
  private[graft] def probeAssign(q: DataFrame, trained: DataFrame): DataFrame =
    q.where(col("nrm") > 0)
      .select(col("vec_id"), col("q").as("qa"), col("nrm").as("nrm_a"))
      .crossJoin(broadcast(trained))
      .withColumn("cdot", dotCol)
      .withColumn("ccos",
        try_divide(col("cdot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .groupBy("vec_id")
      .agg(graft.functions.Bottom2(-col("ccos"), col("cid")).as("cids"))
      .select(col("vec_id"), posexplode(col("cids")))
      .select(col("vec_id"), col("col").as("cid"), (col("pos") + 1).cast("int").as("rank"))

  /** Parameterized core of p52; SemDedupFuzzSpec differential-tests
    * geometries against a driver-side oracle that re-derives training,
    * probes, and verdict from the raw float embeddings. */
  private[graft] def semDedupTrainedParam(
      spark: SparkSession, dir: String, k: Long,
      maxCell: Int, threshold: Double): DataFrame = {
    require(IvfProbes == 2, "Bottom2 probe selection is specialized to 2 probes")
    require(k >= 1, s"cell count ($k) must be positive")
    require(maxCell >= 1, s"cell cap ($maxCell) must be positive")
    val e = embs(spark, dir)
    val q = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
      .localCheckpoint(false)
    val trained = trainCentroids(q, k)

    val probed = probeAssign(q, trained)
      .localCheckpoint(false) // the persisted-index relation (see scaladoc)

    val rank1 = probed.where(col("rank") === 1).select(col("vec_id"), col("cid"))
    val members = probed.select(col("vec_id"), col("cid"))
    val cw = Window.partitionBy(col("cid"))
    val cell = members.join(q, "vec_id")
      .withColumn("csz", count(lit(1)).over(cw))
      .where(col("csz") <= maxCell)
      .select(col("vec_id"), col("cid"), col("q"), col("nrm"))
    val l = cell.select(col("cid"), col("vec_id").as("vec_a"), col("q").as("qa"), col("nrm").as("nrm_a"))
    val r = cell.select(col("cid"), col("vec_id").as("vec_b"), col("q").as("qb"), col("nrm").as("nrm_b"))
    val dups = l.join(r, "cid").where(col("vec_a") < col("vec_b"))
      .withColumn("dot", dotCol)
      .withColumn("cosine",
        try_divide(col("dot").cast("double"), sqrt(col("nrm_a").cast("double")) * sqrt(col("nrm_b").cast("double"))))
      .where(col("cosine") >= threshold)
      // a pair sharing both probe cells scores twice; min absorbs the dup
      .groupBy(col("vec_b").as("vec_id"))
      .agg(min(col("vec_a")).as("dup_of"))

    e.select(col("vec_id"))
      .join(rank1, Seq("vec_id"), "left")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"))
      .orderBy("vec_id")
  }

  /** p55: the incremental trained-quantizer refresh
    * ([[graft.streaming.SemDedupStream.refreshTrained]]) driven batch-wise
    * under p52's own oracle — the p47 contract on the trained/multi-probe
    * path, completing the production lifecycle: the quantizer TRAINS as a
    * batch job over the backlog (one Lloyd step, fixed thereafter), then
    * catch-up proceeds in batches, each assigning its top-2 probe cells
    * against the frozen broadcast centroids and pairing new×state in open
    * cells; the final verdict must be row-identical to the one-shot p52. */
  def semDedupTrainedIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = embs(spark, dir)
    val q = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
      .localCheckpoint(false)
    val trained = trainCentroids(q, semCells(e.count()))
    val mid = e.agg((max(col("vec_id")) / lit(2)).cast("long")).collect()(0).getLong(0)
    val batches = Seq(q.where(col("vec_id") <= mid), q.where(col("vec_id") > mid))
    var state: Option[graft.streaming.SemDedupStream.TrainedState] = None
    batches.foreach { b =>
      state = Some(graft.streaming.SemDedupStream
        .refreshTrained(trained, b, state, SemMaxCell, SemDupThreshold))
    }
    graft.streaming.SemDedupStream.trainedVerdict(e.select("vec_id"), state.get, SemMaxCell)
  }

  // ============================================================ multimodal

  /** p13: multimodal asset decode — content as an opaque BINARY column, the
    * schema shape image/audio pipelines have at scale, with a REAL decode
    * stage: assets are genuine file formats (24-bit BMP and zlib-deflated
    * truecolor PNG images — the PNG decode runs a real `Inflater` plus
    * five-filter scanline reconstruction — and RIFF/WAVE 16-bit-PCM
    * audio) manufactured deterministically from document text
    * (the container ships no media, so the fixture is the generator), and
    * the stats are parsed back OUT OF THE BYTES by
    * [[graft.functions.MediaCodec]] — width/height from the BITMAPINFOHEADER,
    * sample rate and sample data from the chunk-walked RIFF stream. The
    * DuckDB oracle never sees the binary: it recomputes every statistic
    * directly from the text formulas, so a header laid out wrong, a row
    * padded wrong, or a sample in the wrong endianness fails the gate
    * (position-weighted checksums make the sums order-sensitive; unit
    * tests additionally pin both formats against hand-built golden bytes).
    *
    * Scale shape: encode and decode are single-pass per-row projections
    * inside whole-stage codegen (static-call native expressions, no UDFs);
    * the only shuffle is the per-source rollup; malformed assets decode to
    * NULL — data, not exceptions, at 10^9 assets. All reported sums are
    * int64-exact. */
  def multimodal(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
      .withColumn("is_img", (col("doc_id") % 2) === 0)
      // images alternate real formats: every other image is a PNG (zlib
      // stream + filtered scanlines) instead of a BMP — same deterministic
      // pixel source at the logical channel level, so both decode to
      // identical stats and the oracle keeps one formula set
      .withColumn("is_png", (col("doc_id") % 4) === 0)
      .withColumn("iw", (col("n_chars") % 12 + 1).cast("int"))
      .withColumn("ih", (col("doc_id") % 9 + 1).cast("int"))
      .withColumn("rate", (col("doc_id") % 3 * 1000 + 8000).cast("int"))
      .withColumn("ns", (col("n_chars") % 100 + 64).cast("int"))
      .withColumn("content", when(col("is_img"),
          when(col("is_png"),
            graft.functions.PngEncode(col("text"), col("iw"), col("ih"), lit(0)))
          .otherwise(
            graft.functions.BmpEncode(col("text"), col("iw"), col("ih"), lit(0))))
        .otherwise(graft.functions.WavEncode(col("text"), col("rate"), col("ns"), lit(0))))
      // decode: modality-dispatched parsers over the binary column; the
      // `when` guard routes, the parser itself re-validates (wrong-format
      // bytes would decode to NULL and surface in the counts)
      .withColumn("img", when(col("is_img"),
          when(col("is_png"), graft.functions.PngStats(col("content")))
            .otherwise(graft.functions.BmpStats(col("content")))))
      .withColumn("aud", when(!col("is_img"), graft.functions.WavStats(col("content"))))
    d.groupBy("source")
      .agg(
        count(lit(1)).as("n_assets"),
        sum(length(col("content")).cast("long")).as("sum_bytes"),
        sum(when(col("img").isNotNull, 1L).otherwise(0L)).as("n_images"),
        sum(when(col("is_png") && col("img").isNotNull, 1L).otherwise(0L)).as("n_png"),
        coalesce(sum(col("img.width").cast("long") * col("img.height")), lit(0L)).as("sum_pixels"),
        coalesce(sum(col("img.sum_r") + col("img.sum_g") + col("img.sum_b")), lit(0L)).as("sum_rgb"),
        coalesce(sum(col("img.wsum_b")), lit(0L)).as("wsum_b"),
        sum(when(col("aud").isNotNull, 1L).otherwise(0L)).as("n_audio"),
        coalesce(sum(col("aud.n_samples").cast("long")), lit(0L)).as("sum_samples"),
        coalesce(sum(expr("(CAST(aud.n_samples AS BIGINT) * 1000000) DIV aud.sample_rate")), lit(0L))
          .as("sum_duration_us"),
        coalesce(sum(col("aud.sum_abs")), lit(0L)).as("sum_abs"),
        coalesce(max(col("aud.max_abs").cast("long")), lit(0L)).as("max_abs"),
        coalesce(sum(col("aud.wsum")), lit(0L)).as("wsum_audio"))
      .orderBy("source")
  }

  /** p74: cross-codec image dedup — exact dedup on DECODED pixel content
    * rather than container bytes, the multimodal twin of p03: a re-encoded
    * image (same pixels shipped as BMP here and zlib-deflated PNG there)
    * hashes differently at the byte level and sails through container
    * dedup, but is the same training sample. The dedup key is the decoded
    * CONTENT FINGERPRINT (width, height, per-channel sums, and the
    * position-weighted blue checksum — position-sensitive, so two images
    * with permuted pixels don't collide); a cryptographic upgrade (md5
    * over the raw pixel buffer) is a drop-in stronger key but not
    * cross-engine oracle-able, which is exactly why the fingerprint IS
    * the documented contract. Re-encode duplicates are engineered the
    * fixture's standard way (each doc replicated under id+100001 — odd
    * offset, so the replica lands in the OPPOSITE container format while
    * its text, hence its logical pixel stream, is identical); the oracle
    * recomputes the fingerprint from the text formulas, never seeing the
    * binary, so a decoder that mishandles scanline order, row padding, or
    * the zlib stream fails the gate. One fingerprint-keyed shuffle over
    * the decoded projection — p03's shape; encode is fixture scaffolding
    * (production reads stored media bytes). Reference: no media handling
    * at all; beyond-parity with p13/p28. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir).select(col("doc_id"), col("text"), col("n_chars"))
    val d = base
      .unionByName(base.withColumn("doc_id", col("doc_id") + lit(100001L)))
      .withColumn("is_png", (col("doc_id") % 2) === 0)
      .withColumn("iw", (col("n_chars") % 12 + 1).cast("int"))
      .withColumn("ih", (col("n_chars") % 9 + 1).cast("int"))
      .withColumn("content", when(col("is_png"),
          graft.functions.PngEncode(col("text"), col("iw"), col("ih"), lit(0)))
        .otherwise(graft.functions.BmpEncode(col("text"), col("iw"), col("ih"), lit(0))))
      .withColumn("img", when(col("is_png"), graft.functions.PngStats(col("content")))
        .otherwise(graft.functions.BmpStats(col("content"))))
    val fp = Seq("width", "height", "sum_r", "sum_g", "sum_b", "wsum_b")
      .map(c => col(s"img.$c"))
    val w = Window.partitionBy(fp: _*)
    d.select(col("doc_id"), col("is_png"), col("img"))
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("kept",
        when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L))
      .withColumn("cross_codec",
        when(min(col("is_png").cast("int")).over(w) =!=
             max(col("is_png").cast("int")).over(w), 1L).otherwise(0L))
      .select(col("doc_id"), col("canonical_id"), col("kept"), col("cross_codec"))
      .orderBy("doc_id")
  }

  /** p28: video-style frame sampling with REAL per-frame decode — each
    * asset is a short "video" whose frames are individually encoded BMPs
    * (per-frame dims and pixel seed vary, like real frames differ);
    * explode fans each asset into its frames, [[graft.functions.BmpStats]]
    * parses every frame's bytes back into dimensions and position-weighted
    * pixel sums, per-frame signatures derive from the DECODED values, and
    * frames roll back up to asset- then source-level. The explode
    * multiplies rows by frames-per-asset — the true resource model of
    * video pipelines — and every stage stays a codegen projection or one
    * keyed shuffle; the oracle recomputes each frame's stats from the text
    * formulas without touching bytes. */
  def frameSample(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(col("doc_id").as("asset_id"), col("source"), col("text"), col("n_chars"))
      .withColumn("nf", (col("n_chars") % 6 + 2).cast("int"))
      .select(col("asset_id"), col("source"), col("text"), col("n_chars"),
        explode(expr("sequence(0, nf - 1)")).as("f"))
      .withColumn("fw", ((col("asset_id") + col("f")) % 5 + 3).cast("int"))
      .withColumn("fh", ((col("n_chars") + col("f")) % 4 + 2).cast("int"))
      .withColumn("frame",
        graft.functions.BmpEncode(col("text"), col("fw"), col("fh"), (col("f") * 11).cast("int")))
      .withColumn("st", graft.functions.BmpStats(col("frame")))
      .withColumn("frame_sig",
        col("st.sum_b") * lit(1000003L) + col("st.wsum_b") * lit(31L) + col("st.sum_r"))
      .groupBy(col("asset_id"), col("source"))
      .agg(
        count(lit(1)).as("n_frames"),
        countDistinct(col("frame_sig")).as("n_unique_frames"),
        sum(col("st.width").cast("long") * col("st.height")).as("asset_pixels"),
        min(col("frame_sig")).as("min_sig"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("n_frames")).as("sum_frames"),
        sum(col("n_unique_frames")).as("sum_unique"),
        sum(col("asset_pixels")).as("sum_pixels"),
        min(col("min_sig")).as("corpus_min_sig"))
      .orderBy("source")

  /** p75: cross-video frame dedup — p74's decoded-content dedup at FRAME
    * granularity: the frames that dominate a video corpus are the ones
    * repeated across assets (static intros, logo cards, slide decks), so
    * the dedup key is each decoded frame's content fingerprint and the
    * canonical is the first (asset, frame) owning that content anywhere
    * in the corpus — per-frame verdicts, not per-asset, because a
    * training sampler drops duplicate FRAMES while keeping their hosts.
    * Duplicate frames are engineered the fixture's standard way: every
    * asset replicated under id+100000 — a multiple of 5, so the
    * width formula ((asset_id + f) % 5 + 3) lands replica frames on
    * identical dims and the replica's decoded content is byte-identical
    * per frame. One explode + one fingerprint-keyed shuffle; the oracle
    * recomputes each frame's fingerprint from the text pixel formulas
    * (seed = 11·f offsets the pixel source per frame, exactly p28's
    * generator). */
  def frameDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = docs(spark, dir)
      .select(col("doc_id").as("asset_id"), col("text"), col("n_chars"))
    val d = base
      .unionByName(base.withColumn("asset_id", col("asset_id") + lit(100000L)))
      .withColumn("nf", (col("n_chars") % 6 + 2).cast("int"))
      .select(col("asset_id"), col("text"), col("n_chars"),
        explode(expr("sequence(0, nf - 1)")).as("f"))
      .withColumn("fw", ((col("asset_id") + col("f")) % 5 + 3).cast("int"))
      .withColumn("fh", ((col("n_chars") + col("f")) % 4 + 2).cast("int"))
      .withColumn("frame",
        graft.functions.BmpEncode(col("text"), col("fw"), col("fh"), (col("f") * 11).cast("int")))
      .withColumn("st", graft.functions.BmpStats(col("frame")))
      // nf ≤ 7, so 8 strides the (asset, frame) key losslessly
      .withColumn("fkey", col("asset_id") * 8 + col("f"))
    val fp = Seq("width", "height", "sum_r", "sum_g", "sum_b", "wsum_b")
      .map(c => col(s"st.$c"))
    val w = Window.partitionBy(fp: _*)
    d.withColumn("canon", min(col("fkey")).over(w))
      .select(col("asset_id"), col("f").cast("long").as("f"),
        expr("canon DIV 8").as("canonical_asset"),
        (col("canon") % 8).as("canonical_f"),
        when(col("fkey") === col("canon"), 1L).otherwise(0L).as("kept"),
        when(expr("canon DIV 8") =!= col("asset_id"), 1L).otherwise(0L).as("cross_asset"))
      .orderBy("asset_id", "f")
  }

  // ========================================================== events/json

  /** p09: typed extraction from the JSON `props` column + event rollup.
    * Doubles sum through DECIMAL (associative) like the OLAP Revenue. */
  def eventsJson(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        sum("k").as("sum_k"),
        max("k").as("max_k"))
      .withColumn("avg_k", col("sum_k").cast("double") / col("n").cast("double"))
      .orderBy("event_type")

  /** p16: batch sessionization — events of one user within a 30-minute gap
    * form a session (lag → gap flag → running session id, the standard
    * windowed-SQL shape; the streaming twin lives in
    * [[graft.streaming.EventStream.sessionize]]). Event times compare in
    * integer microseconds — the grain [[graft.sources.EventsSource]]
    * normalizes `ts` to and DuckDB's `epoch_us` shares — so all gap
    * arithmetic is exact int64. Emits the events-per-session histogram
    * with total duration per bucket. */
  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  def sessions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("tsu").asc, col("event_id").asc)
    events(spark, dir)
      .withColumn("tsu", col("ts"))
      .withColumn("prev_ts", lag(col("tsu"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_ts").isNull || col("tsu") - col("prev_ts") > SessionGapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_s")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("tsu")) - min(col("tsu"))).as("duration_us"))
      .groupBy(col("n_events"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("duration_us")).as("sum_duration_us"))
      .orderBy("n_events")
  }

  /** p33: conversion-funnel analysis — per user, the first view, the first
    * click at-or-after that view, and the first purchase at-or-after that
    * click; users roll up by the deepest stage reached (1=view, 2=+click,
    * 3=+purchase) with exact integer-µs stage-transition lag sums. Each
    * stage is a groupBy on user_id + a key-aligned join — every shuffle in
    * the plan hashes the same key and is bounded by the user count (the
    * stage inputs differ, so the exchanges are distinct, just key-aligned);
    * never a window over the whole event stream. */
  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelStages(events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts").as("tsu")))

  /** Funnel body over a (user_id, event_type, tsu) frame — split out so the
    * spec can drive it with fixtures that stop users at every stage. */
  private[graft] def funnelStages(e: DataFrame): DataFrame = {
    val v = e.where(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tsu")).as("v_ts"))
    val c = e.where(col("event_type") === "click")
      .join(v, "user_id").where(col("tsu") >= col("v_ts"))
      .groupBy("user_id").agg(min(col("tsu")).as("c_ts"))
    val p = e.where(col("event_type") === "purchase")
      .join(c, "user_id").where(col("tsu") >= col("c_ts"))
      .groupBy("user_id").agg(min(col("tsu")).as("p_ts"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .withColumn("stage",
        when(col("p_ts").isNotNull, 3L).when(col("c_ts").isNotNull, 2L).otherwise(1L))
      .groupBy("stage")
      .agg(
        count(lit(1)).as("n_users"),
        coalesce(sum(col("c_ts") - col("v_ts")), lit(0L)).as("sum_v2c_us"),
        coalesce(sum(col("p_ts") - col("c_ts")), lit(0L)).as("sum_c2p_us"))
      .orderBy("stage")
  }

  /** p27: BPE merge-candidate counting — the inner step of byte-pair-
    * encoding tokenizer training: adjacent symbol-pair frequencies over the
    * corpus, most frequent pair = next merge. Shape: word-frequency rollup
    * first (corpus → vocabulary, the big shuffle), then char-pair explode
    * weighted by word count (vocabulary-sized, tiny) — the same two-level
    * optimization real BPE trainers use, so the per-merge-iteration cost is
    * vocab-bounded, not corpus-bounded, at any scale. */
  val BpeTopK = 20

  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(col("wc"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("freq"))
      .orderBy(col("freq").desc, col("pair").asc)
      .limit(BpeTopK)

  /** p29: KMV distinct-count sketch per event type, in its relational form
    * (distinct hashes → k smallest per group → unbiased estimate) so DuckDB
    * can replicate it byte-exact. The native mergeable aggregator form —
    * the one a summary table stores so distinct counts re-aggregate across
    * days, which exact COUNT(DISTINCT) can never do — is
    * [[graft.functions.KmvSketch]]; KmvSketchSpec proves both forms produce
    * the identical sketch. Estimate arithmetic is IEEE ops over exact
    * int64s — deterministic in any engine. */
  val KmvK = 64

  def kmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("h").asc)
    events(spark, dir)
      .select(col("event_type"), expr(hex12("cast(user_id as string)")).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_exact"),
        sum(when(col("rn") <= KmvK, 1L).otherwise(0L)).as("n_kept"),
        max(when(col("rn") <= KmvK, col("h"))).as("kth"))
      .withColumn("est",
        when(col("n_kept") < KmvK, col("n_kept").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(graft.functions.KmvSketch.HashSpace) /
            col("kth").cast("double")))
      .orderBy("event_type")
  }

  // ======================================================= temporal joins

  /** p25: click→view as-of attribution — each click joins the latest
    * prior-or-simultaneous view of the same user via
    * [[graft.operators.TemporalJoins.asofJoin]] (one shuffle on user_id,
    * no per-key cross product — see that object's scale notes), rolled up
    * to per-user match counts and exact integer-µs lag sums. */
  def asofLag(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("tsu", col("ts"))
    val clicks = e.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id"), col("tsu"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), col("tsu"))
    graft.operators.TemporalJoins.asofJoin(
        clicks, views, keys = Seq("user_id"), ts = "tsu",
        payload = Seq("event_id"), tieBreak = Seq("event_id"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_clicks"),
        sum(when(col("asof").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        coalesce(sum(col("tsu") - col("asof.ts")), lit(0L)).as("sum_lag_us"),
        coalesce(max(col("tsu") - col("asof.ts")), lit(0L)).as("max_lag_us"))
      .orderBy("user_id")
  }

  /** p26: purchase attribution by interval join — views within the hour
    * before each purchase of the same user, via the bucketed equi-join of
    * [[graft.operators.TemporalJoins.intervalJoin]] (cell width = window
    * span → each purchase interval replicates to ≤ 2 cells; a view probes
    * exactly 1). Purchases with zero attributable views are kept by
    * joining the per-purchase rollup back to the purchase frame. Monetary
    * attribution sums in DECIMAL (associative — hash-stable). */
  val AttribWindowUs: Long = 3600L * 1000 * 1000

  def intervalAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("tsu", col("ts"))
    val purchases = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("tsu") - AttribWindowUs).as("lo"), col("tsu").as("hi"))
    val views = e.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("tsu"), col("value"))

    val perPurchase = graft.operators.TemporalJoins.intervalJoin(
        views, purchases, keys = Seq("user_id"),
        ptCol = "tsu", loCol = "lo", hiCol = "hi", bucketUs = AttribWindowUs)
      .groupBy("user_id", "purchase_id")
      .agg(
        count(col("view_id")).as("nv"),
        sum(col("value").cast("decimal(18,6)")).as("sv"))

    purchases.select(col("user_id"), col("purchase_id"))
      .join(perPurchase, Seq("user_id", "purchase_id"), "left")
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_purchases"),
        coalesce(sum(col("nv")), lit(0L)).as("n_attr_views"),
        coalesce(sum(col("sv")).cast("double"), lit(0.0)).as("attr_value"))
      .orderBy("user_id")
  }

  // ================================================= round-13 operators

  /** Shard count for the training-order plan (p65). A parallelism knob,
    * never a correctness contract: production sets this so each shard's
    * token stream is reader-sized (100 TB / 100k shards ≈ 1 GB/shard) —
    * the per-shard window's state is corpus/S, so the plan scales by
    * RAISING S with the corpus, exactly like p21's shard key. Small here
    * so the sf0.01 fixture populates every shard. */
  val TrainShards = 8

  /** p65: deterministic training-order plan — the global corpus shuffle a
    * training run needs, with no RNG and no global sort. Every serious
    * pretraining pipeline randomizes document order (curriculum effects,
    * gradient decorrelation) but must do it REPRODUCIBLY (re-runs, resume
    * from step k, auditing which doc landed at which position). The
    * standard trick: order by a salted content-independent hash. A single
    * global order would be a corpus-wide range sort; instead the hash
    * splits into S independent shards (readers consume shards in
    * parallel), and ORDER WITHIN each shard is the same hash — so the
    * composition behaves like one global shuffle while every window
    * partitions on the shard key. Each doc also gets its starting token
    * offset within the shard's packed stream (p21's running-sum idea), so
    * a resume-from-token-t seek is a binary search on this table, not a
    * re-tokenization.
    *
    * Determinism: `ord` = 48-bit md5 of "ord:"||doc_id (salt fixed, so
    * the order is stable across runs and engines; ties — possible at
    * ~16M-key birthday scale — break by doc_id). Scale: one hash
    * projection + per-shard windows; see [[TrainShards]]. */
  def trainingOrder(spark: SparkSession, dir: String): DataFrame =
    trainingOrderOf(docs(spark, dir))

  /** p65 over an explicit documents-shaped frame — the seam the
    * subset-stability property tests through: the hash order is
    * content-independent, so removing docs (a dedup pass, a filter) never
    * REORDERS the remainder, only compacts ranks and offsets. */
  private[graft] def trainingOrderOf(d: DataFrame): DataFrame = {
    val ordered = d
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("ord", expr(hex12("concat('ord:', CAST(doc_id AS STRING))")))
      .withColumn("shard", col("ord") % TrainShards)
    val w = Window.partitionBy(col("shard")).orderBy(col("ord"), col("doc_id"))
    ordered
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("start_tok",
        coalesce(sum(col("n_tokens")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("shard"), col("pos"), col("start_tok"), col("n_tokens"))
      .orderBy("shard", "pos")
  }

  /** Bottom quartile dropped per source: threshold = the k-th smallest
    * score with k = ⌈n/4⌉ (the exact 25th-percentile member). */
  val CalibDropPct = 25

  /** p66: per-source calibrated quality filtering — the CCNet-style
    * per-domain threshold a global cutoff gets wrong: a single corpus-wide
    * quality bar drops most of a low-register source (forums) and nothing
    * from a high-register one (encyclopedias), destroying the mixture.
    * The fix: score every doc (the p48 integer score, n_tokens − 2·n_stop),
    * find each SOURCE's own 25th-percentile score, and drop that source's
    * bottom quartile — each domain is judged against itself.
    *
    * The threshold selection never sorts the corpus: per-(source, score)
    * counts first (map-side partial; the histogram is score-domain-sized,
    * bounded by doc length, not corpus-sized), then a running cumsum over
    * each source's histogram picks the k-th-smallest score exactly — the
    * p42 bounded-distribution argument. Classification joins the tiny
    * threshold table back (broadcast at any corpus size) and rolls up.
    * All integer arithmetic; ceil(n·25/100) = (n·25 + 99) DIV 100. */
  def calibratedFilter(spark: SparkSession, dir: String): DataFrame =
    calibratedFilterOf(docs(spark, dir)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        expr(s"CAST(size(filter(toks, t -> array_contains(array(${sqlList(Stopwords)}), t))) AS BIGINT)"))
      .withColumn("score", col("n_tokens") - lit(2L) * col("n_stop"))
      .select(col("source"), col("score"), col("n_chars").cast("long").as("n_chars"), col("n_tokens")))

  /** p66 over an explicit (source, score, n_chars, n_tokens) frame — the
    * seam CalibratedFilterFuzzSpec differential-tests against a driver
    * sort-and-index oracle across tie/negative/degenerate geometries. */
  private[graft] def calibratedFilterOf(scored: DataFrame): DataFrame = {
    val hist = scored.groupBy("source", "score").agg(count(lit(1)).as("cnt"))
    val totals = hist.groupBy("source").agg(sum(col("cnt")).as("n_src"))
    val cum = Window.partitionBy(col("source")).orderBy(col("score"))
    val thresholds = hist.join(totals, "source")
      .withColumn("cumn", sum(col("cnt")).over(cum))
      .withColumn("k", expr(s"(n_src * $CalibDropPct + 99) DIV 100"))
      .where(col("cumn") >= col("k"))
      .groupBy("source").agg(min(col("score")).as("threshold"))
    scored.join(broadcast(thresholds), "source")
      .groupBy(col("source"), col("threshold"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("score") >= col("threshold"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("score") >= col("threshold"), col("n_chars")).otherwise(0L)).as("kept_chars"),
        sum(when(col("score") >= col("threshold"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  /** p67: embedding-space drift monitor — p57's contract on the vector
    * side: language mix can hold steady while the SEMANTIC mix shifts
    * (a scrape pivots from news to product pages; an upstream encoder
    * changes). The standard production signal: assign both snapshots to
    * the DEPLOYED coarse quantizer's cells (frozen — the p62/p63 pinned-
    * quantizer contract, here the full table's ⌈√n⌉ seed cells) and
    * compare per-cell occupancy. Deterministic doc-parity halves stand in
    * for consecutive ingests, exactly like p57. Integer-ppm rates and an
    * L1 drift score; zero-norm vectors (unassignable) are outside both
    * censuses by the same rule on both engines.
    *
    * Scale: broadcast centroid assignment (the p44 map-side partial-min,
    * never a corpus×K window), ONE cell-keyed count shuffle folding both
    * halves in a single pass (a cell emptied by the shift still reports —
    * its whole ppm mass lands in the score), and two broadcast single-row
    * totals — p57's shape with the assign pass in front. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val q = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
      .localCheckpoint(false)
    val cents = semCents(q, semCells(embs(spark, dir).count()))
    val counts = semAssign(q, cents)
      .groupBy("cid")
      .agg(
        sum(when(col("vec_id") % 2 === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("vec_id") % 2 =!= 0, 1L).otherwise(0L)).as("n_cand"))
    val tot = counts.agg(
      sum(col("n_ref")).as("tot_ref"), sum(col("n_cand")).as("tot_cand"))
    val rated = counts.crossJoin(broadcast(tot))
      .withColumn("ppm_ref", expr("(n_ref * 1000000) DIV tot_ref"))
      .withColumn("ppm_cand", expr("(n_cand * 1000000) DIV tot_cand"))
      .withColumn("ppm_delta", abs(col("ppm_ref") - col("ppm_cand")))
    val l1 = rated.agg(sum(col("ppm_delta")).as("l1"))
    rated.crossJoin(broadcast(l1))
      .select(col("cid"), col("n_ref"), col("n_cand"),
        col("ppm_ref"), col("ppm_cand"), col("ppm_delta"),
        col("l1").as("corpus_l1_ppm"))
      .orderBy("cid")
  }

  /** p68: dataset card — the per-source composition report every corpus
    * release ships (the "Datasheets for Datasets" audit table): docs,
    * whitespace tokens, chars, integer-ppm share of the corpus token
    * mass, language spread, the dedup outcome split (exact / near /
    * kept from p36's verdict) as counts and a dup-ppm rate, and the
    * exact integer quality mass (the p48 score summed — engines agree
    * exactly; a mean would hit the DIV-of-negative seam). Pure
    * composition over PROVEN artifacts: the materialized verdict table
    * (p60's build-once seam — the corpus-scale dedup machinery never
    * re-runs inside a report) joined to one documents projection,
    * one source rollup, one broadcast single-row total. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    datasetCardOf(docs(spark, dir),
      dedupVerdictTable(spark, dir).select(col("doc_id"), col("reason")))

  /** p68's rollup over explicit (documents-shaped, verdict) frames — the
    * seam p70 reuses to serve the same card over a DELTA-maintained
    * verdict instead of the materialized one-shot table. */
  private[graft] def datasetCardOf(docsDf: DataFrame, v: DataFrame): DataFrame = {
    val d = docsDf
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        expr(s"CAST(size(filter(toks, t -> array_contains(array(${sqlList(Stopwords)}), t))) AS BIGINT)"))
      .withColumn("score", col("n_tokens") - lit(2L) * col("n_stop"))
      .select(col("doc_id"), col("source"), col("lang"),
        col("n_chars").cast("long").as("n_chars"), col("n_tokens"), col("score"))
    val per = d.join(v, "doc_id")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(when(col("reason") === "exact", 1L).otherwise(0L)).as("n_exact_dups"),
        sum(when(col("reason") === "near", 1L).otherwise(0L)).as("n_near_dups"),
        sum(when(col("reason") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(col("score")).as("sum_score"))
    val tot = per.agg(sum(col("n_tokens")).as("tot_tokens"))
    per.crossJoin(broadcast(tot))
      .withColumn("token_ppm", expr("(n_tokens * 1000000) DIV tot_tokens"))
      .withColumn("dup_ppm", expr("((n_exact_dups + n_near_dups) * 1000000) DIV n_docs"))
      .select(col("source"), col("n_docs"), col("n_langs"), col("n_tokens"),
        col("n_chars"), col("token_ppm"), col("n_kept"), col("n_exact_dups"),
        col("n_near_dups"), col("dup_ppm"), col("sum_score"))
      .orderBy("source")
  }

  /** p70: CDC-driven dataset card — p68's release report regenerated
    * after an ingest delta WITHOUT re-running corpus-scale dedup: the
    * delta-maintained verdict state (p61's retire + one incremental
    * batch, O(delta + state)) serves the dedup split, and the card's own
    * layer is one projection + rollup over the new snapshot. The claim an
    * auditor needs — "this card describes snapshot N+1 exactly as a
    * from-scratch pipeline would" — is the oracle: p68's body over the
    * derived new snapshot (p61's carving), so the delta path is
    * cross-engine invisible in the published card. */
  def datasetCardDelta(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val oldDf = d.where(col("doc_id") % 10 =!= 9)
    val newDf = d.where(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 3, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val v = deltaDedupOf(oldDf, newDf).select(col("doc_id"), col("reason"))
    datasetCardOf(newDf, v)
  }

  /** The three snapshots p71 and p72 chain through: S0 drops the `%10=9`
    * band; S1 restores it, drops `%10=0` and revises the `%7=3` docs; S2
    * restores `%10=0`, drops `%10=1` and also revises the `%13=4` docs. */
  private def ingestChainSnapshots(d: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    def rev(df: DataFrame, m: Int, r: Int, tag: String) = df.withColumn("text",
      when(col("doc_id") % m === r, concat(col("text"), lit(tag)))
        .otherwise(col("text")))
    def snap(df: DataFrame) = df.withColumn("n_chars", length(col("text")).cast("long"))
    (snap(d.where(col("doc_id") % 10 =!= 9)),
      snap(rev(d.where(col("doc_id") % 10 =!= 0), 7, 3, " rev2")),
      snap(rev(rev(d.where(col("doc_id") % 10 =!= 1), 7, 3, " rev2"), 13, 4, " rev3")))
  }

  /** p71: the chained ingest-version-bump driver
    * ([[graft.streaming.IngestBump]]) — snapshot S0 ingested, then TWO
    * consecutive CDC bumps (S0 → S1 adds docs back, removes a band, and
    * revises the `%7=3` docs; S1 → S2 removes a different band, restores
    * another, and additionally revises the `%13=4` docs), every bump
    * paying only delta + state against durable [[graft.streaming
    * .StateStore]] checkpoints. The final verdict must be row-identical
    * to the one-shot p36 on S2 from scratch — the oracle is p36's SQL
    * over the derived S2 relation — which gates exactly the claim the
    * composed driver makes: an arbitrarily long chain of maintained
    * bumps never drifts from rebuild semantics. (p61 proves ONE bump's
    * algebra; the chain additionally proves state round-trips through
    * its persisted parquet form and that retirement composes across
    * bumps — a doc revised in bump 1 and restored in bump 2 must carry
    * exactly its final-text grams.) Fresh state root per invocation via
    * the versioned-claim protocol; prior roots pruned like the index
    * trees. IngestBumpSpec drives the same chain across all four
    * artifact families (text + p60 publication + sem + ANN index). */
  def ingestBumpChain(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IngestBump
    val (s0, s1, s2) = ingestChainSnapshots(docs(spark, dir))
    val root = ArtifactStore.artifactPath(spark, "ingest-bump", dir, "documents.parquet")
    ArtifactStore.withScratchVersion(spark, root) { vroot =>
      IngestBump.bump(spark, vroot, s0)
      IngestBump.bump(spark, vroot, s1)
      IngestBump.bump(spark, vroot, s2).verdict.orderBy("doc_id")
    }
  }

  /** p72: the CDC-FED ingest chain — [[ingestBumpChain]]'s snapshots
    * advanced through [[graft.streaming.IngestBump.bumpTextCdc]], the
    * production-marginal path: where p71's bumps re-hash each full
    * snapshot to discover the delta, this chain hands the driver an
    * explicit (removed, changed, added) feed and the only text the bump
    * ever hashes or grams is the delta's. State persists as
    * [[graft.streaming.StateStore]] DELTA versions (O(delta) writes, the
    * LSM chain), snapshotting every [[graft.streaming.IngestBump
    * .SnapshotEvery]] bumps. The entry derives the feed by diffing
    * snapshot hash projections in-query — oracle scaffolding, same as
    * p61/p70 paying their from-scratch baselines in-query; a production
    * ingest log carries the feed for free. That diff (old snapshot vs
    * new) is deliberately separate code from the feed p71's `bump`
    * derives (carried live log vs new snapshot), so p71 ≡ p72 compares
    * two derivations of the feed, not one derivation twice. Oracle:
    * identical to p71 — the from-scratch p36 of the final snapshot;
    * equality gates that feed-trusting maintenance never drifts from
    * rebuild semantics, including survivor promotion (a removed keeper's
    * copy re-grammed from a corpus fetch, IngestBumpSpec). */
  def ingestCdcChain(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IngestBump
    val (s0, s1, s2) = ingestChainSnapshots(docs(spark, dir))
    def feed(prev: DataFrame, next: DataFrame) = {
      val pk = prev.select(col("doc_id"), md5(col("text")).as("h0"))
      val nk = next.select(col("doc_id"), md5(col("text")).as("h1"))
      IngestBump.CorpusDelta(
        removedIds = pk.join(nk, Seq("doc_id"), "left_anti").select("doc_id"),
        changed = next.join(
          pk.join(nk, "doc_id").where(col("h0") =!= col("h1")).select("doc_id"),
          Seq("doc_id"), "left_semi"),
        added = next.join(pk, Seq("doc_id"), "left_anti"))
    }
    val root = ArtifactStore.artifactPath(spark, "ingest-cdc", dir, "documents.parquet")
    ArtifactStore.withScratchVersion(spark, root) { vroot =>
      IngestBump.bump(spark, vroot, s0)
      IngestBump.bumpTextCdc(spark, vroot, feed(s0, s1), s1)
      IngestBump.bumpTextCdc(spark, vroot, feed(s1, s2), s2).orderBy("doc_id")
    }
  }

  /** p73: the trained-quantizer CDC chain — the p52/p55 lifecycle under
    * MAINTAINED ingest bumps: the multi-probe quantizer trains ONCE over
    * the full corpus (the deployed artifact, pinned exactly as the
    * oracle pins its Lloyd step to the full embeddings table), then two
    * [[graft.streaming.IngestBump.bumpTrained]] calls advance the
    * probe-membership/edge state through removals AND returns (band 9
    * departs then comes back — its re-assignment must reproduce
    * identical membership rows; band 7 departs for good — its cells may
    * reopen, [[graft.streaming.SemDedupStream.retire]] rebuilds
    * their pair sets). State persists as LSM delta versions like the
    * text/sem families. The final verdict must equal the one-shot p52
    * over the carved final snapshot (oracle: p52's SQL with the
    * membership side carved, quantizer pinned). */
  def trainedCdcChain(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IngestBump
    val e = embs(spark, dir)
    val q = quantized(spark, dir).select(col("vec_id"), col("q"), col("nrm"))
      .localCheckpoint(false)
    val trained = trainCentroids(q, semCells(e.count()))
    val root = ArtifactStore.artifactPath(spark, "trained-cdc", dir, "embeddings.parquet")
    ArtifactStore.withScratchVersion(spark, root) { vroot =>
      IngestBump.bumpTrained(spark, vroot,
        IngestBump.TrainedSnapshot(q.where(col("vec_id") % 10 =!= 9), trained))
      IngestBump.bumpTrained(spark, vroot,
        IngestBump.TrainedSnapshot(q.where(col("vec_id") % 10 =!= 7), trained))
    }
  }

  /** p69: ANN recall report — the index-quality gate a production pipeline
    * runs after every build/refresh/delta before flipping traffic to the
    * new index: determinism (the oracle gate) proves the index computes
    * what it says; recall proves what it says is USEFUL. Ground truth is
    * the exact quantized-L2 top-[[PqTopK]] per query (the metric ADC
    * approximates — so the number isolates the IVF-routing + PQ-coding
    * loss, not a metric mismatch); the candidate is p37's composed
    * IVF→PQ answer. Per query: hit count and integer-ppm recall; corpus
    * recall replicated on every row (the p57/p67 report shape).
    *
    * Scale: ground truth is inherently exact search, so production runs it
    * over an EVAL-SIZED query sample (here the p07/p37 query set) — the
    * broadcast query side keeps the corpus scan embarrassingly parallel
    * and the top-k window partitions by query. The candidate side is
    * p37's own plan; the report joins two (queries × k)-sized frames. */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    recallReportOf(spark, dir,
      annIvfPq(spark, dir).select(col("query_id"), col("nbr_id")))

  /** The p69 recall machinery over an arbitrary approximate answer frame
    * (query_id, nbr_id) — reused by the nprobe sweep harness to score
    * [[queryAnnIndex]] at each probe count against the same exact
    * quantized-L2 ground truth. */
  private[graft] def recallReportOf(
      spark: SparkSession, dir: String, approx: DataFrame): DataFrame = {
    val corpus = quantized(spark, dir).select(col("vec_id").as("nbr_id"), col("q").as("qb"))
    val queries = quantized(spark, dir).where(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("q").as("qa"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("l2").asc, col("nbr_id").asc)
    val exact = broadcast(queries).crossJoin(corpus)
      .where(col("query_id") =!= col("nbr_id"))
      .withColumn("l2", graft.functions.QuantizedL2Sq(col("qa"), col("qb")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= PqTopK)
      .select(col("query_id"), col("nbr_id"))
    val hits = exact.join(approx.select(col("query_id"), col("nbr_id")),
      Seq("query_id", "nbr_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val per = exact.select(col("query_id")).distinct()
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("recall_ppm", expr(s"(n_hits * 1000000) DIV $PqTopK"))
    val tot = per.agg(sum(col("n_hits")).as("s"), count(lit(1)).as("nq"))
    per.crossJoin(broadcast(tot))
      .withColumn("corpus_recall_ppm", expr(s"(s * 1000000) DIV (nq * $PqTopK)"))
      .select(col("query_id"), col("n_hits"), col("recall_ppm"), col("corpus_recall_ppm"))
      .orderBy("query_id")
  }

  // ============================================================== registry

  /** Pipeline entries for SparkEntry.queries. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_text_stats"    -> textStats,
    "p02_quality"       -> quality,
    "p03_exact_dedup"   -> exactDedup,
    "p04_minhash_pairs" -> minhashPairs,
    "p05_simhash"       -> simhash,
    "p06_ngram_jaccard" -> ngramJaccard,
    "p07_ann_brute"     -> annBrute,
    "p08_ann_lsh"       -> annLsh,
    "p09_events_json"   -> eventsJson,
    "p10_langid"        -> langId,
    "p11_token_counts"  -> tokenCounts,
    "p12_fingerprints"  -> fingerprints,
    "p13_multimodal"    -> multimodal,
    "p14_emb_dedup"     -> embDedup,
    "p15_ann_ivf"       -> annIvf,
    "p16_sessions"      -> sessions,
    "p17_rare_tokens"   -> rareTokens,
    "p18_hash_split"    -> hashSplit,
    "p19_contamination" -> contamination,
    "p20_repetition"    -> repetition,
    "p21_packing"       -> packing,
    "p22_mixture"       -> mixture,
    "p23_dup_clusters"  -> dupClusters,
    "p24_kmeans"        -> kmeansStep,
    "p25_asof"          -> asofLag,
    "p26_interval"      -> intervalAttribution,
    "p27_bpe_merges"    -> bpeMerges,
    "p28_frame_sample"  -> frameSample,
    "p29_kmv_distinct"  -> kmvDistinct,
    "p30_dup_spans"     -> dupSpans,
    "p31_tfidf"         -> tfidf,
    "p32_strat_sample"  -> stratifiedSample,
    "p33_funnel"        -> funnel,
    "p34_ann_pq"        -> annPq,
    "p35_simhash_pairs" -> simhashPairs,
    "p36_dedup_verdict" -> dedupVerdict,
    "p37_ann_ivfpq"     -> annIvfPq,
    "p38_dedup_incremental" -> dedupVerdictIncremental,
    "p39_heavy_hitters" -> heavyHitters,
    "p40_bloom_decontam" -> bloomDecontam,
    "p41_lm_score"      -> lmScore,
    "p42_quantiles"     -> quantiles,
    "p43_hist_quantiles" -> histQuantiles,
    "p44_semdedup"      -> semDedup,
    "p45_scrub"         -> scrub,
    "p46_source_overlap" -> sourceOverlap,
    "p47_semdedup_incremental" -> semDedupIncremental,
    "p48_keep_best"     -> keepBestVerdict,
    "p49_ann_indexed"   -> annIndexed,
    "p50_dedup_sensitivity" -> dedupSensitivity,
    "p51_dedup_budget"  -> dedupBudget,
    "p52_semdedup_trained" -> semDedupTrained,
    "p53_safe_split"    -> safeSplit,
    "p54_mixture_plan"  -> mixturePlan,
    "p55_semdedup_trained_incremental" -> semDedupTrainedIncremental,
    "p56_scrub_closure" -> scrubClosure,
    "p57_drift_monitor" -> driftMonitor,
    "p58_ann_index_refresh" -> annIndexRefresh,
    "p59_corpus_delta"  -> corpusDelta,
    "p60_verdict_table" -> dedupVerdictServed,
    "p61_dedup_delta"   -> dedupVerdictDelta,
    "p62_semdedup_delta" -> semDedupDelta,
    "p63_ann_index_delta" -> annIndexDelta,
    "p64_span_scrub"    -> spanScrub,
    "p65_training_order" -> trainingOrder,
    "p66_calibrated_filter" -> calibratedFilter,
    "p67_embedding_drift" -> embeddingDrift,
    "p68_dataset_card"  -> datasetCard,
    "p69_ann_recall"    -> annRecall,
    "p70_dataset_card_delta" -> datasetCardDelta,
    "p71_ingest_bump"   -> ingestBumpChain,
    "p72_cdc_chain"     -> ingestCdcChain,
    "p73_trained_cdc"   -> trainedCdcChain,
    "p74_media_dedup"   -> mediaDedup,
    "p75_frame_dedup"   -> frameDedup)
}
