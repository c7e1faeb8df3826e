package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.core.LevelName
import graft.engine.TpchStar
import graft.plan.{CubePlanner, LogicLayer, PreaggPlanner}
import graft.server.{Format, QueryParams}

/** What one run reports: counts for the result line, the end-to-end
  * metrics, the per-layer metrics (traced runs), and descriptive extras. */
final case class Out(attempted: Int, failed: Int, failures: Seq[String],
    e2e: Map[String, Double], layers: Map[String, Double], info: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("attempted" -> attempted, "failed" -> failed,
    "failures" -> failures.take(20), "e2e" -> e2e, "layers" -> layers, "info" -> info)
}

object Workloads {
  /** Every per-layer metric; a workload reports 0 for layers it leaves idle. */
  val LayerMetrics: Seq[String] = Seq(
    "core.parse_s",
    "sources.resolve_calls_per_request", "sources.resolve_s",
    "plan.build_s", "plan.catalyst_s", "plan.executions_per_request",
    "spark.jobs_per_request", "spark.tasks_per_request", "spark.task_cpu_s_per_request",
    "spark.core_busy_ratio", "spark.input_bytes_per_request", "spark.scheduler_wait_s",
    "spark.codegen_compiles", "spark.codegen_compile_s",
    "spark.jobs_per_bump", "spark.shuffle_bytes_per_bump", "spark.spill_bytes",
    "spark.failed_tasks",
    "server.cache_hit_ratio", "server.evictions", "server.coalesced_ratio",
    "server.computes_per_request", "server.format_s", "server.self_s",
    "streaming.text_bump_s", "streaming.summary_fold_s", "streaming.verdict_s",
    "streaming.bytes_written_per_bump", "streaming.files_written_per_bump",
    "streaming.chain_length_max",
    "pipeline.rebuild_jobs", "pipeline.rebuild_shuffle_bytes",
    "jvm.gc_pause_s",
    "client.error_ratio",
    "ingest.build_s", "ingest.chain_s", "ingest.rebuild_s", "ingest.write_amp",
    "ingest.state_amp")

  private def zeros: Map[String, Double] = LayerMetrics.map(_ -> 0.0).toMap

  /** Warm-up before the timed window: requests from fuzz seeds of their
    * own, so no measured key is ever pre-cached. */
  private def warmUp(olap: Olap, seconds: Double): Set[String] = {
    val warm = Requests.sequence(1L, Set.empty)
    val members = Requests.membersPool.take(2).iterator
    var n = 0
    val done = olap.closedLoop(() => warm.synchronized {
      n += 1
      Some(if (n % Requests.MembersEvery == 0 && members.hasNext) members.next() else warm.next())
    }, seconds)
    done.map(_.req.key).toSet
  }

  def olapUnique(spark: SparkSession, s: Settings, tracer: Tracer, stats: Option[SparkStats]): Out = {
    val olap = new Olap(spark, s, tracer)
    try olapWindow(spark, s, olap, tracer, stats) finally olap.stop()
  }

  /** Warm-up, the timed closed-loop window, the gate, and every metric. */
  private def olapWindow(spark: SparkSession, s: Settings, olap: Olap, tracer: Tracer,
      stats: Option[SparkStats]): Out = {
    val source = Olap.uniqueSource(warmUp(olap, 8.0))
    val sc = spark.sparkContext
    stats.foreach(_ => SparkStats.drain(sc))
    val st0 = stats.map(_.snapshot())
    val cache0 = olap.cache match { case c: TracedCache => c.snapshot(); case _ => Map.empty[String, Double] }
    val resolves0 = olap.resolver match { case r: TracedResolver => r.calls.sum; case _ => 0L }
    val waits0 = stats.map(_.schedulerWaitMs.size).getOrElse(0)
    val setupS = Main.sinceJvmStart()
    val t0 = tracer.nowMs
    val done = olap.closedLoop(source, s.seconds)
    val t1 = done.map(_.end).foldLeft(t0)(math.max)
    val heap = Jvm.retainedHeapMb()

    val okQ = done.filter(_.ok)
    val lat = okQ.map(_.latencyS)
    val elapsedS = (t1 - t0) / 1e3

    val (badIds, msgs) = Olap.gate(spark, s.starDir, done, s.cores)
    val transport = done.filterNot(_.ok).map(d => s"${d.req.key}: status ${d.status} ${d.body.take(200)}")
    val failed = done.count(d => !d.ok || badIds(d.id)) + (if (msgs.exists(_.startsWith("gate canary"))) 1 else 0)

    val e2e = Map(
      "setup_s" -> setupS,
      "throughput_rps" -> okQ.count(d => !badIds(d.id)) / elapsedS,
      "latency_p50_s" -> Util.median(lat),
      "latency_p95_s" -> Util.pct(lat, 0.95),
      "retained_heap_mb" -> heap)

    val layers = stats.map { st =>
      SparkStats.drain(sc)
      val d = SparkStats.diff(st0.get, st.snapshot())
      val r = math.max(1, done.length).toDouble
      val waits = st.schedulerWaitMs.asScala.toSeq.drop(waits0).map(_ / 1e3)
      val cacheD = olap.cache match {
        case c: TracedCache => SparkStats.diff(cache0, c.snapshot()); case _ => Map.empty[String, Double]
      }
      val resolves = olap.resolver match { case x: TracedResolver => x.calls.sum - resolves0; case _ => 0L }
      val inWindow = tracer.spans.asScala.filter(sp => sp.start >= t0 && sp.start <= t1).toSeq
      // link server-side spans (keyed by the server's cache key) to the
      // client request that caused them
      val clientSpans = tracer.named("client.request").filter(_.start >= t0)
      val byId = done.map(q => q.id.toString -> q).toMap
      val prefixOf = clientSpans.flatMap(c => byId.get(c.rid).map(q =>
        (c, olap.cache.key(q.req.path, Requests.asServerParams(q.req.params)))))
      tracer.link(prefixOf, rid => {
        val i = rid.lastIndexOf("|lvl="); if (i < 0) rid else rid.substring(0, i)
      })
      val children = inWindow.filter(sp => sp.parent >= 0 &&
        (sp.name == "spark.job" || sp.name == "sources.resolve")).groupBy(_.parent)
      val selfS = prefixOf.map { case (c, _) => tracer.selfTime(c, children.getOrElse(c.id, Nil)) / 1e3 }
      val hits = cacheD.getOrElse("hits", 0.0)
      val puts = cacheD.getOrElse("puts", 0.0)
      val replay = Replay.run(spark, s, okQ.map(_.req).distinct.take(24), tracer)
      zeros ++ Map(
        "core.parse_s" -> replay("parse_s"),
        "sources.resolve_calls_per_request" -> resolves / r,
        "sources.resolve_s" -> inWindow.filter(_.name == "sources.resolve").map(_.dur).sum / 1e3 / r,
        "plan.build_s" -> replay("build_s"),
        "plan.catalyst_s" -> d("catalyst_s") / r,
        "plan.executions_per_request" -> d("executions") / r,
        "spark.jobs_per_request" -> d("jobs") / r,
        "spark.tasks_per_request" -> d("tasks") / r,
        "spark.task_cpu_s_per_request" -> d("task_cpu_s") / r,
        "spark.core_busy_ratio" -> d("task_run_s") / (elapsedS * s.cores),
        "spark.input_bytes_per_request" -> d("input_bytes") / r,
        "spark.scheduler_wait_s" -> Util.median(waits),
        "spark.codegen_compiles" -> d("codegen_compiles"),
        "spark.codegen_compile_s" -> d("codegen_compiles") * Jvm.codegenMeanS,
        "spark.spill_bytes" -> d("spill_bytes"),
        "spark.failed_tasks" -> d("failed_tasks"),
        "server.cache_hit_ratio" -> hits / r,
        "server.evictions" -> cacheD.getOrElse("evictions", 0.0),
        "server.coalesced_ratio" -> math.max(0.0, r - puts - hits) / r,
        "server.computes_per_request" -> puts / r,
        "server.format_s" -> replay("format_s"),
        "server.self_s" -> Util.median(selfS),
        "jvm.gc_pause_s" -> d("gc_s"),
        "client.error_ratio" -> failed.toDouble / math.max(1, done.length))
    }.getOrElse(Map.empty)

    val kinds = done.groupBy(_.req.kind).map { case (k, v) =>
      k -> Map("n" -> v.length, "p50_s" -> Util.median(v.filter(_.ok).map(_.latencyS)))
    }
    Out(done.length, failed, transport ++ msgs, e2e, layers, Map(
      "loop" -> "closed", "clients" -> s.clients,
      "requests" -> done.length, "latency_samples" -> lat.length,
      "samples_beyond_p95" -> lat.count(_ > Util.pct(lat, 0.95)),
      "window_s" -> elapsedS, "by_kind" -> kinds,
      "error_ratio" -> failed.toDouble / math.max(1, done.length)))
  }

  def ingestCdc(spark: SparkSession, s: Settings, tracer: Tracer, stats: Option[SparkStats]): Out = {
    val r = new Ingest(spark, s, tracer).run(stats)
    val bumpS = r.bumps.map(_.totalS)
    val chainS = bumpS.sum
    val heap = Jvm.retainedHeapMb()
    val attempted = r.bumps.length + 2
    val failed = r.failures.length
    val writeAmp = r.bumps.map(_.bytesWritten).sum.toDouble / math.max(1L, r.deltaTextBytes)
    val stateAmp = r.stateBytes.toDouble / math.max(1L, r.corpusTextBytes)
    val e2e = Map(
      "setup_s" -> r.setupS,
      "throughput_rps" -> r.bumps.length / chainS,
      "latency_p50_s" -> Util.median(bumpS),
      "latency_p95_s" -> Util.pct(bumpS, 0.95),
      "retained_heap_mb" -> heap)
    val n = math.max(1, r.bumps.length).toDouble
    val layers = if (!s.trace) Map.empty[String, Double] else zeros ++ Map(
      "plan.catalyst_s" -> r.chainStats("catalyst_s") / n,
      "spark.codegen_compiles" -> r.chainStats("codegen_compiles"),
      "spark.codegen_compile_s" -> r.chainStats("codegen_compiles") * Jvm.codegenMeanS,
      "spark.jobs_per_bump" -> r.chainStats("jobs") / n,
      "spark.shuffle_bytes_per_bump" -> r.chainStats("shuffle_bytes") / n,
      "spark.spill_bytes" -> r.chainStats("spill_bytes"),
      "spark.failed_tasks" -> (r.chainStats("failed_tasks") + r.rebuildStats("failed_tasks")),
      "spark.scheduler_wait_s" -> Util.median(r.chainSchedulerWaitsS),
      "streaming.text_bump_s" -> Util.median(r.bumps.map(_.textS)),
      "streaming.summary_fold_s" -> Util.median(r.bumps.map(_.foldS)),
      "streaming.verdict_s" -> Util.median(r.bumps.map(_.verdictS)),
      "streaming.bytes_written_per_bump" -> r.bumps.map(_.bytesWritten).sum / n,
      "streaming.files_written_per_bump" -> r.bumps.map(_.filesWritten).sum / n,
      "streaming.chain_length_max" -> r.bumps.map(_.chainLength).foldLeft(0)(math.max).toDouble,
      "pipeline.rebuild_jobs" -> r.rebuildStats("jobs"),
      "pipeline.rebuild_shuffle_bytes" -> r.rebuildStats("shuffle_bytes"),
      "jvm.gc_pause_s" -> r.chainStats("gc_s"),
      "client.error_ratio" -> failed.toDouble / attempted,
      "ingest.build_s" -> r.buildS, "ingest.chain_s" -> chainS, "ingest.rebuild_s" -> r.rebuildS,
      "ingest.write_amp" -> writeAmp, "ingest.state_amp" -> stateAmp)
    Out(attempted, failed, r.failures, e2e, layers, Map(
      "loop" -> "batch", "bumps" -> r.bumps.length,
      "build_s" -> r.buildS, "bump_p50_s" -> Util.median(bumpS), "bump_s" -> bumpS,
      "chain_s" -> chainS, "rebuild_s" -> r.rebuildS, "write_amp" -> writeAmp,
      "state_amp" -> stateAmp, "delta_text_bytes" -> r.deltaTextBytes,
      "corpus_text_bytes" -> r.corpusTextBytes,
      "error_ratio" -> failed.toDouble / attempted))
  }
}

/** The traced replay: requests already served are parsed, planned and
  * formatted again through the engine's public entry points, one call at a
  * time, to time the layers the server runs internally. */
object Replay {
  def run(spark: SparkSession, s: Settings, reqs: Seq[Req], tracer: Tracer): Map[String, Double] = {
    val cp = new CubePlanner(TpchStar.salesCube, new TpchStar.Resolver(s.starDir))
    val agg = new PreaggPlanner(cp, Nil)
    val ll = new LogicLayer(cp)
    val times = reqs.map { r =>
      val params = Requests.asServerParams(r.params)
      def t[A](name: String)(f: => A): (A, Double) = {
        val a = tracer.nowMs; val x = f; val b = tracer.nowMs
        tracer.record(name, a, b, "replay"); (x, (b - a) / 1e3)
      }
      val (df, parseS, buildS) = r.kind match {
        case "members" =>
          val (ln, p) = t("core.parse") {
            val lvl = params("level").head
            LevelName.parse(lvl).toOption.filter(l => TpchStar.salesCube.findLevel(l).isDefined)
              .getOrElse(TpchStar.salesCube.dimensions.flatMap(d => d.hierarchies.flatMap(h =>
                h.levels.filter(_.name == lvl).map(l => LevelName(d.name, h.name, l.name)))).head)
          }
          val (df, b) = t("plan.build")(cp.members(spark, ln))
          (df, p, b)
        case "data" =>
          val (q, p) = t("core.parse")(QueryParams.toLogicLayerQuery(params, TpchStar.salesCube))
          val (df, b) = t("plan.build")(ll.plan(spark, q))
          (df, p, b)
        case _ =>
          val (q, p) = t("core.parse")(QueryParams.toCubeQuery(params))
          val (df, b) = t("plan.build")(agg.plan(spark, q))
          (df, p, b)
      }
      val local = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)
      val fmt = Format.FormatType.parse(r.format).toOption.get
      val (_, formatS) = t("server.format")(Format.format(local, fmt, None))
      (parseS, buildS, formatS)
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    Map("parse_s" -> mean(times.map(_._1)), "build_s" -> mean(times.map(_._2)),
      "format_s" -> mean(times.map(_._3)))
  }
}
