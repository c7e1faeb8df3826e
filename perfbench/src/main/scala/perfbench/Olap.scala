package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.engine.TpchStar
import graft.server.{GraftServer, LruResponseCache, ResponseCache}

/** One completed request. Times are epoch ms on the tracer's clock. */
final case class Done(id: Int, req: Req, sent: Double, end: Double, status: Int, body: String) {
  def ok: Boolean = status == 200
  def latencyS: Double = (end - sent) / 1e3
}

/** The OLAP serving workload: a `GraftServer` over the TPC-H star, with its
  * default admission gate and response cache, driven over HTTP by at most
  * `Settings.clients` client connections. */
final class Olap(spark: SparkSession, s: Settings, tracer: Tracer) {
  val capacity = 256 // LruResponseCache's default capacity

  val resolver: graft.plan.TableResolver = {
    val r = new TpchStar.Resolver(s.starDir)
    if (tracer.enabled) new TracedResolver(r, spark.sparkContext, tracer) else r
  }
  val cache: ResponseCache =
    if (tracer.enabled) new TracedCache(new LruResponseCache(), capacity, spark.sparkContext, tracer)
    else new LruResponseCache()

  private val server = new GraftServer(spark, TpchStar.schema, resolver, responseCache = cache)
  private val port = server.start(host = "127.0.0.1")

  def stop(): Unit = server.stop()

  private val clients = Array.fill(s.clients)(
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build())

  private def url(r: Req): String =
    s"http://127.0.0.1:$port" + r.path + "?" + r.params.toSeq.flatMap { case (k, v) =>
      v.split('\u0000').map(x => Req.enc(k) + "=" + Req.enc(x))
    }.mkString("&")

  /** Sends one request on client `c`; transport failures and timeouts are
    * status -1. */
  def send(c: Int, id: Int, r: Req): Done = {
    val sent = tracer.nowMs
    val (status, body) =
      try {
        val resp = clients(c).send(
          HttpRequest.newBuilder(URI.create(url(r))).timeout(Duration.ofSeconds(60)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      } catch { case e: Exception => (-1, String.valueOf(e)) }
    val d = Done(id, r, sent, tracer.nowMs, status, body)
    tracer.record("client.request", d.sent, d.end, id.toString)
    d
  }

  /** Closed loop: each client sends its next request when the previous one
    * returns, until `seconds` have passed; returns everything sent. */
  def closedLoop(next: () => Option[Req], seconds: Double): Seq[Done] = {
    val out = new ConcurrentLinkedQueue[Done]()
    val ids = new AtomicInteger()
    val deadline = tracer.nowMs + seconds * 1e3
    runWorkers { c =>
      var r = if (tracer.nowMs < deadline) next() else None
      while (r.isDefined) {
        out.add(send(c, ids.getAndIncrement(), r.get))
        r = if (tracer.nowMs < deadline) next() else None
      }
    }
    out.asScala.toSeq.sortBy(_.id)
  }

  private def runWorkers(body: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(s.clients)
    val fs = (0 until s.clients).map(c => pool.submit(new Runnable { def run(): Unit = body(c) }))
    fs.foreach(_.get(170, TimeUnit.SECONDS))
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Olap {
  /** The measured request source for `olap_unique`: the fixed fuzz
    * sequence with every `Requests.MembersEvery`-th request a members
    * request while the members pool lasts, skipping any key the warm-up
    * used. */
  def uniqueSource(exclude: Set[String]): () => Option[Req] = {
    val stream = Requests.sequence(1000L, exclude)
    val members = Requests.membersPool.filterNot(r => exclude(r.key)).iterator
    val n = new AtomicInteger()
    () => {
      val i = n.getAndIncrement()
      stream.synchronized {
        val member = i % Requests.MembersEvery == Requests.MembersEvery - 1
        if (member && members.hasNext) Some(members.next()) else Some(stream.next())
      }
    }
  }

  /** The correctness gate over everything served: repeated bodies for a
    * key must equal the first one served; each distinct key's first body
    * must hold exactly its oracle's rows. Returns the ids of requests with
    * wrong results, plus one message per failing key. */
  def gate(spark: SparkSession, starDir: String, done: Seq[Done], threads: Int)
      : (Set[Int], Seq[String]) = {
    val served = done.filter(_.ok)
    val byKey = served.groupBy(_.req.key)
    val oracle = Oracle.session(spark, starDir)
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val checks = byKey.toSeq.map { case (key, ds) =>
      Future {
        val first = ds.minBy(_.end)
        val repeatsBad = ds.filter(_.body != first.body).map(_.id)
        val why = scala.util.Try(Oracle.compare(oracle, first.req, first.body)).fold(
          e => Some(s"oracle failed: $e"), identity)
        val bad = (if (why.isDefined) ds.map(_.id) else Nil) ++ repeatsBad
        val msgs = why.map(w => s"$key: $w").toSeq ++
          (if (repeatsBad.nonEmpty) Seq(s"$key: ${repeatsBad.length} repeated bodies differ from the first") else Nil)
        (bad, msgs)
      }
    }
    val results = checks.map(Await.result(_, scala.concurrent.duration.Duration(170, "s")))
    // canary: a corrupted copy of a served body must be rejected
    val canary = served.find(d => Check.bodyImage(d.body, d.req.format)._2.nonEmpty).map { d =>
      scala.util.Try(Oracle.compare(oracle, d.req, Check.corrupt(d.body, d.req.format))).toOption.flatten.isDefined
    }
    pool.shutdown()
    val canaryMsg = if (canary.contains(false)) Seq("gate canary: a corrupted body was accepted") else Nil
    (results.flatMap(_._1).toSet, results.flatMap(_._2) ++ canaryMsg)
  }
}
