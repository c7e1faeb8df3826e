package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.core.TableDef
import graft.plan.TableResolver
import graft.server.ResponseCache

/** One traced interval. Times are epoch milliseconds with microsecond
  * fraction; `rid` is the request identity the span belongs to — the client
  * request id for client spans, the server's cache key for spans recorded
  * inside the server (the injected cache's `get` publishes the key as a
  * thread-local Spark job property, so jobs carry it too). `parent` is
  * filled in when the run ends, by matching rid and time containment. */
final case class Span(name: String, start: Double, end: Double, rid: String,
    id: Long, var parent: Long = -1L) {
  def dur: Double = end - start
}

/** The span recorder plus the counters sampled at each layer boundary.
  * Everything is kept in memory and written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  /** Epoch milliseconds on the monotonic clock. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def record(name: String, start: Double, end: Double, rid: String): Span = {
    val s = Span(name, start, end, rid, ids.incrementAndGet())
    if (enabled) spans.add(s)
    s
  }

  def time[A](name: String, rid: String)(f: => A): A = {
    val s = nowMs
    try f finally record(name, s, nowMs, rid)
  }

  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq

  /** Links server-side spans to the client request that caused them: the
    * span's request key (`keyOf` its rid) names the request, and the span
    * starts inside the request's interval. */
  def link(clientSpans: Seq[(Span, String)], keyOf: String => String): Unit = {
    val byKey = clientSpans.groupBy(_._2)
    spans.asScala.foreach { s =>
      if (s.parent < 0 && !s.name.startsWith("client."))
        byKey.get(keyOf(s.rid))
          .flatMap(_.find { case (c, _) => c.start <= s.start && s.start <= c.end })
          .foreach { case (c, _) => s.parent = c.id }
    }
  }

  /** Self time of `parent`: its duration minus the union of its children's
    * intervals clipped to it. */
  def selfTime(parent: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.start, parent.start), math.min(c.end, parent.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    iv.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) { if (!cs.isNaN) covered += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (!cs.isNaN) covered += ce - cs
    parent.dur - covered
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(f"""{"name":"${s.name}","start":${s.start}%.3f,"end":${s.end}%.3f,"id":${s.id},"parent":${s.parent},"rid":"${graft.server.Format.jsonEscape(s.rid)}"}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** The Spark local property carrying the request identity to jobs. */
  val RidProp = "perfbench.rid"
}

/** Spark-side counters: jobs, tasks, task CPU, input/shuffle/spill bytes,
  * failed tasks, scheduler wait (job submit to first task launch), and the
  * Catalyst phase times of every query execution. Job spans carry the
  * request identity from the submitting thread's local properties. */
final class SparkStats(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  val jobs, tasks, failedTasks, executions = new LongAdder
  val taskCpuNs, taskRunMs, inputBytes, shuffleBytes, spillBytes = new LongAdder
  val catalystMs = new LongAdder
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val firstLaunch = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
  val schedulerWaitMs = new ConcurrentLinkedQueue[Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.increment()
    val rid = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.RidProp))).getOrElse("")
    jobStart.put(e.jobId, (e.time.toDouble, rid))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      firstLaunch.putIfAbsent(j, e.taskInfo.launchTime.toDouble)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (start, rid) =>
      tracer.record("spark.job", start, e.time.toDouble, rid)
      Option(firstLaunch.remove(e.jobId)).foreach(l => schedulerWaitMs.add(l - start))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    if (e.taskInfo.failed || e.taskInfo.killed) failedTasks.increment()
    Option(e.taskMetrics).foreach { m =>
      taskCpuNs.add(m.executorCpuTime)
      taskRunMs.add(m.executorRunTime)
      inputBytes.add(m.inputMetrics.bytesRead)
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    executions.increment()
    catalystMs.add(qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  /** A snapshot of every counter, to difference across a window. */
  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.sum.toDouble, "tasks" -> tasks.sum.toDouble,
    "failed_tasks" -> failedTasks.sum.toDouble, "executions" -> executions.sum.toDouble,
    "task_cpu_s" -> taskCpuNs.sum / 1e9, "task_run_s" -> taskRunMs.sum / 1e3,
    "input_bytes" -> inputBytes.sum.toDouble, "shuffle_bytes" -> shuffleBytes.sum.toDouble,
    "spill_bytes" -> spillBytes.sum.toDouble, "catalyst_s" -> catalystMs.sum / 1e3,
    "codegen_compiles" -> Jvm.codegenCount.toDouble, "gc_s" -> Jvm.gcSeconds)
}

object SparkStats {
  def attach(spark: SparkSession, tracer: Tracer): SparkStats = {
    val s = new SparkStats(tracer)
    spark.sparkContext.addSparkListener(s)
    spark.listenerManager.register(s)
    s
  }

  /** Listener events are delivered asynchronously; wait until every event
    * posted so far has been seen before reading counters. */
  def drain(sc: SparkContext): Unit = {
    // a no-op job is the barrier: its end event follows every earlier event
    val barrier = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = barrier.countDown()
    }
    sc.addSparkListener(l)
    sc.setJobDescription("perfbench barrier")
    sc.parallelize(Seq(1), 1).count()
    barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(l)
  }

  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}

/** JVM-level counters: GC pause time, codegen compilations, retained heap. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def codegenHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  def codegenCount: Long = codegenHist.getCount
  /** Mean recent compile time in seconds (the histogram keeps a sample). */
  def codegenMeanS: Double = codegenHist.getSnapshot.getMean / 1e3

  /** Heap in use after a full collection, in MiB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** The server's response cache, observed: every `get` publishes the key as
  * the handler thread's request identity (so the Spark jobs the request
  * runs carry it) and counts hits and misses; puts and evictions are
  * counted against a shadow LRU of the same capacity and access order. */
final class TracedCache(inner: ResponseCache, capacity: Int, sc: SparkContext, tracer: Tracer)
    extends ResponseCache {
  val hits, misses, puts, evictions = new LongAdder
  private val shadow = new java.util.LinkedHashMap[String, java.lang.Boolean](64, 0.75f, true)

  def get(k: String): Option[(String, String)] = {
    sc.setLocalProperty(Tracer.RidProp, k)
    val r = tracer.time("server.cache_get", k)(inner.get(k))
    if (r.isDefined) { hits.increment(); shadow.synchronized(shadow.get(k)) } else misses.increment()
    r
  }

  def put(k: String, v: (String, String)): Unit = {
    inner.put(k, v)
    puts.increment()
    shadow.synchronized {
      shadow.put(k, true)
      if (shadow.size > capacity) {
        val eldest = shadow.keySet.iterator.next()
        shadow.remove(eldest)
        evictions.increment()
      }
    }
  }

  def clear(): Unit = { inner.clear(); shadow.synchronized(shadow.clear()) }

  def snapshot(): Map[String, Double] = Map(
    "hits" -> hits.sum.toDouble, "misses" -> misses.sum.toDouble,
    "puts" -> puts.sum.toDouble, "evictions" -> evictions.sum.toDouble)
}

/** The server's table resolver, observed: each resolve is a span carrying
  * the calling request's identity. */
final class TracedResolver(inner: TableResolver, sc: SparkContext, tracer: Tracer)
    extends TableResolver {
  val calls = new LongAdder
  def resolve(spark: SparkSession, table: TableDef): DataFrame = {
    calls.increment()
    val rid = Option(sc.getLocalProperty(Tracer.RidProp)).getOrElse("")
    tracer.time("sources.resolve", rid)(inner.resolve(spark, table))
  }
}
