package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark jobs counted by the engine call site that submitted them.
  *
  * A job that runs under a SQL execution (every Dataset action, and the
  * broadcast builds and lazy-checkpoint materializations it triggers on
  * other threads) is charged to the first `graft.` frame of that
  * execution's call site, `SparkListenerSQLExecutionStart.details`,
  * skipping the helpers' own frames. Any
  * other job (a bare RDD action) is charged to the first `graft.` frame of
  * its own stage's call site. A site with no `graft.` frame is
  * [[NoSite]].
  *
  * {{{
  * val (v, census) = JobCensus.of(spark)(IngestBump.bumpTextCdc(...).count())
  * census.total; census.bySite
  * }}} */
final class JobCensus private () extends SparkListener {
  private val siteOfExecution = new ConcurrentHashMap[Long, String]()
  private val counts = new ConcurrentHashMap[String, LongAdder]()
  private val barrier = new CountDownLatch(1)
  @volatile private var barrierJob = -1

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      siteOfExecution.put(s.executionId, JobCensus.siteOf(s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(JobCensus.BarrierProp) != null)) barrierJob = e.jobId
    else {
      val site = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => Option(siteOfExecution.get(id.toLong)))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption
          .map(s => JobCensus.siteOf(s.details)).getOrElse(JobCensus.NoSite))
      counts.computeIfAbsent(site, _ => new LongAdder).increment()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (e.jobId == barrierJob) barrier.countDown()

  /** Jobs per call site, `Class.method(File.scala:line)`. */
  def bySite: Map[String, Long] = counts.asScala.map { case (k, v) => k -> v.sum() }.toMap

  def total: Long = bySite.values.sum

  /** Jobs charged to sites whose text contains `fragment`. */
  def at(fragment: String): Long =
    bySite.iterator.collect { case (k, n) if k.contains(fragment) => n }.sum

  /** One line per site, most jobs first. */
  def report: String =
    bySite.toSeq.sortBy { case (k, n) => (-n, k) }
      .map { case (k, n) => f"$n%5d  $k" }.mkString("\n")
}

object JobCensus {
  val NoSite = "(no graft frame)"
  private val BarrierProp = "graft.jobCensus.barrier"

  /** The pin and bounded-collect helpers: their jobs are charged to the
    * line that calls them. */
  private val Helpers = Seq(
    "graft.pipeline.PipelineOps$PinnedFrame", "graft.streaming.IncrementalCc$UnconstrainedPin",
    "graft.streaming.IncrementalCc$.collectBounded")

  private[graft] def siteOf(details: String): String =
    Option(details).iterator.flatMap(_.linesIterator).map(_.trim)
      .find(f => f.startsWith("graft.") && !Helpers.exists(f.startsWith)).getOrElse(NoSite)

  /** Runs `f` and returns its value with the census of the jobs it ran. */
  def of[A](spark: SparkSession)(f: => A): (A, JobCensus) = {
    val sc = spark.sparkContext
    val c = new JobCensus
    sc.addSparkListener(c)
    try {
      val r = f
      // a no-op job is the barrier: its end event follows every earlier event
      sc.setLocalProperty(BarrierProp, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(BarrierProp, null)
      if (!c.barrier.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException("JobCensus barrier timed out: the census is incomplete")
      (r, c)
    } finally sc.removeSparkListener(c)
  }
}
