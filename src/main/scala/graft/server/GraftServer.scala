package graft.server

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core._
import graft.plan.{CubePlanner, Diagnosis, LogicLayer, LogicLayerQuery, MemoizedResolver, NamedSet, PlanError, TableResolver}
import Format.{FormatType, SourceMetadata}

/** HTTP API over the planner (reference tesseract-server routes,
  * app.rs:106-201):
  *
  *   GET /                                     → status
  *   GET /cubes                                → schema metadata
  *   GET /cubes/{cube}                         → one cube's metadata
  *   GET /cubes/{cube}/aggregate.{fmt}         → core aggregate API
  *   GET /cubes/{cube}/members.{fmt}?level=    → distinct members
  *   GET /data.{fmt}?cube=                     → logic layer (friendlier API)
  *   GET /members.{fmt}?cube=&level=           → logic-layer members (bare or unique level name)
  *   GET /cubes/{cube}/diagnosis.{fmt}         → referential-integrity QA
  *   GET /diagnosis.{fmt}[?cube=]              → QA for one or all accessible cubes
  *   GET /flush?secret=                        → schema reload hook + fresh tables
  *
  * Built on the JDK's HttpServer with a small thread pool: each request
  * builds a DataFrame plan and streams it out via the Format module; Spark
  * schedules concurrent jobs from those threads (set
  * spark.scheduler.mode=FAIR for per-request fairness under load,
  * mirroring the reference's 100-concurrent-request design goal).
  */
final class GraftServer(
    spark: SparkSession,
    schema: Schema,
    resolver: TableResolver,
    namedSets: Seq[NamedSet] = Nil,
    flushSecret: Option[String] = None,
    /** Runs on an authorized /flush: maps the current schema to the one
      * the server reloads (a hook that re-reads the schema file returns
      * the new schema; the default keeps the current one). */
    onFlush: Schema => Schema = identity,
    jwtSecret: Option[String] = None,
    /** Logic-layer config (reference logic_layer/config.rs): cube-name
      * aliases for /data, and level → unique display-name renames. */
    cubeAliases: Map[String, String] = Map.empty,
    uniqueNames: Map[LevelName, String] = Map.empty,
    /** Reference-wire-format logic-layer config JSON
      * (graft.core.LogicLayerConfigJson): cube aliases, named sets and
      * unique level/property names parsed from it merge with (and take
      * precedence over) the directly-passed parameters above. */
    llConfigJson: Option[String] = None,
    /** Pre-aggregated summary planners per cube (ordered smallest-first);
      * aggregate requests route through them with base-fact fallback
      * (graft.plan.Preagg). Each schema state memoizes their tables like
      * the base cube's, so every route of one state reads one snapshot. */
    summaries: Map[String, Seq[CubePlanner]] = Map.empty,
    /** Geoservice sidecar for `neighbors` cut ops on Geo-typed dims
      * (reference TESSERACT_GEOSERVICE_URL → graft.plan.HttpGeoService);
      * None → hierarchy fallback. */
    geoService: Option[graft.plan.GeoService] = None,
    /** Response cache — per-instance LRU by default; pass a
      * [[SharedFileResponseCache]] so N replicas share one cache (the
      * reference's Redis slot, handlers/util.rs:152-216). */
    responseCache: ResponseCache = new LruResponseCache()) {

  private val llConf = llConfigJson.map(graft.core.LogicLayerConfigJson.parse)
  private val allCubeAliases: Map[String, String] =
    cubeAliases ++ llConf.map(_.cubeAliases).getOrElse(Map.empty)
  private val allNamedSets: Seq[NamedSet] =
    namedSets ++ llConf.map(_.namedSets).getOrElse(Nil)

  /** Everything derived from the schema, swapped atomically by [[reload]]
    * (the reference holds its schema in an Arc<RwLock> for the same hot
    * reload, main.rs:127-128 + flush.rs). */
  private final case class SchemaState(
      schema: Schema,
      /** Every route reads tables through this memo, so each table is
        * resolved once per state: its files are read as of the start or
        * the last /flush, the same freshness the response cache has. */
      tables: MemoizedResolver,
      /** The response cache's generation this state was built under: a
        * /flush elsewhere moves it, and [[current]] then rebuilds. */
      generation: String,
      planners: Map[String, CubePlanner],
      aggPlanners: Map[String, graft.plan.PreaggPlanner],
      logicLayers: Map[String, LogicLayer],
      /** First duplicate logic-layer name, as (cube, name) — when set, the
        * /data, /members and /relations route family is disabled (the
        * reference's swap covers exactly those three, app.rs:156-201;
        * /diagnosis stays up there too). See [[llDuplicate]]. */
      llAmbiguity: Option[(String, String)],
      /** Fingerprint of the schema content, part of every response-cache
        * key so entries from a previous schema (hot-reloaded, or persisted
        * by a shared file cache across a restart) can never be served. */
      schemaVersion: String)

  /** Load-time gate mirroring the reference's has_unique_levels_properties
    * (tesseract-core/src/lib.rs:168-209, wired at app.rs:156-201): within a
    * cube, every level name and every property name must be unique, or
    * bare-name resolution on /data, /members and /relations is ill-defined
    * — the reference then swaps the entire logic-layer route family for an
    * error handler while /cubes/{c}/aggregate keeps serving. One deviation:
    * a collision that the logic-layer config renames away (unique level /
    * property names, logic_layer/config.rs) checks under its configured
    * alias, because our resolution honors those aliases — so a config that
    * disambiguates re-enables the layer. */
  private def llDuplicate(s: Schema): Option[(String, String)] =
    s.cubes.iterator.flatMap { c =>
      val levelAlias = uniqueNames ++ llConf.map(_.levelNamesFor(c.name)).getOrElse(Map.empty)
      val propAlias = llConf.map(_.propertyNamesFor(c.name)).getOrElse(Map.empty)
      val seenLevels = scala.collection.mutable.HashSet[String]()
      val seenProps = scala.collection.mutable.HashSet[String]()
      for {
        d <- c.dimensions.iterator; h <- d.hierarchies.iterator; l <- h.levels.iterator
        ln = LevelName(d.name, h.name, l.name)
        dup <- {
          val eff = levelAlias.getOrElse(ln, l.name)
          (if (seenLevels.add(eff)) Iterator.empty else Iterator.single(eff)) ++
            l.properties.iterator.flatMap { p =>
              val pe = propAlias.getOrElse(PropertyName(ln, p.name), p.name)
              if (seenProps.add(pe)) Iterator.empty else Iterator.single(pe)
            }
        }
      } yield (c.name, dup)
    }.nextOption()

  private def buildState(s: Schema, generation: String): SchemaState = {
    val tables = new MemoizedResolver(resolver)
    val planners: Map[String, CubePlanner] =
      s.cubes.map(c => c.name -> new CubePlanner(c, tables, geoService)).toMap
    val summaryPlanners = summaries.map { case (n, ps) => n -> ps.map(_.memoized) }
    val aggPlanners = planners.map { case (n, p) =>
      n -> new graft.plan.PreaggPlanner(p, summaryPlanners.getOrElse(n, Nil))
    }
    // one LogicLayer per cube so its member cache persists across requests;
    // the /data surface rides the same summary routing as /aggregate
    // (round 12 — previously only the core endpoint consulted summaries)
    val logicLayers = planners.map { case (n, p) =>
      n -> new LogicLayer(p, allNamedSets,
        uniqueNames ++ llConf.map(_.levelNamesFor(n)).getOrElse(Map.empty),
        llConf.map(_.propertyNamesFor(n)).getOrElse(Map.empty),
        summaries = summaryPlanners.getOrElse(n, Nil))
    }
    // fingerprint the COMPLETE schema + config state via case-class
    // toString (recursively includes every field — source columns, tables,
    // auth levels, key types — unlike the /cubes metadata projection, which
    // omits physical fields an edit could change) plus every config that
    // changes response bodies (logic-layer config, geoservice, summaries),
    // so any restart against edited configuration changes the key
    val canonical = s.toString +
      llConfigJson.getOrElse("") +
      allCubeAliases.toSeq.sortBy(_._1).mkString +
      uniqueNames.toSeq.sortBy(_.toString).mkString +
      allNamedSets.mkString +
      geoService.map(_.describe).getOrElse("") +
      summaries.toSeq.sortBy(_._1)
        .map { case (k, ps) => k + ps.map(_.cube.toString).mkString }.mkString
    val version = java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes(StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString
    SchemaState(s, tables, generation, planners, aggPlanners, logicLayers, llDuplicate(s), version)
  }

  @volatile private var state: SchemaState = buildState(schema, responseCache.generation)

  /** Swap in a re-read schema (served by /flush, or called directly).
    * In-flight requests keep the state they resolved; new requests see the
    * new schema. Tables re-resolve and member caches rebuild lazily. The
    * response cache drops first, which moves its generation: bodies that
    * in-flight requests file afterwards land under the old generation's
    * keys, so no stale body survives the swap. */
  def reload(newSchema: Schema): Unit = synchronized {
    cache.clear()
    state = buildState(newSchema, cache.generation)
  }

  /** The state to serve a request from. A cache generation this state was
    * not built under means another replica sharing the cache ran /flush:
    * rebuild over the same schema so this replica re-reads its tables too. */
  private def current(): SchemaState = {
    val st = state
    if (st.generation == cache.generation) st
    else synchronized {
      val g = cache.generation
      if (state.generation != g) state = buildState(state.schema, g)
      state
    }
  }

  /** A table rewritten in place (Spark's overwrite deletes the old part
    * files) fails every plan over the memoized frame with a missing file.
    * Resolve the tables afresh for `st`'s schema, unless a reload already
    * replaced `st`. */
  private def refreshTables(st: SchemaState): SchemaState = synchronized {
    if (state eq st) state = buildState(st.schema, st.generation)
    state
  }

  private def missingFiles(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.io.FileNotFoundException])

  // NOTE: requests never read the volatile `state` more than once — handle()
  // snapshots it and threads the snapshot through route(), so a /flush
  // landing mid-request cannot mix the old version's cache key with a body
  // computed under the new schema (or vice versa). The one exception, the
  // retry over refreshTables, keeps the snapshot's schema unless a reload
  // intervened, and a reload moves the generation, which orphans the key.

  /** JWT auth levels (auth.rs) + LRU response cache (util.rs:152-216). */
  val auth = new Auth(jwtSecret)
  private val cache = responseCache

  /** Single-flight map: concurrent misses on one cache key coalesce behind
    * the first thread's compute — the stampede the reference's
    * GET-then-compute Redis pattern has (util.rs:152-216) when N identical
    * hot requests land together; here N-1 followers block on the leader's
    * future instead of each planning the same query. A `None` result means
    * "not coalescible" (leader streamed, or died before publishing) and the
    * follower computes independently — the rare path. Entries are removed
    * in a finally, so a crashed leader can never wedge the key. */
  private val inFlight = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[Option[(Int, String, String)]]]()

  /** How long a follower waits on the leader's future before giving up and
    * computing independently. Generous — any query this slow should itself
    * be investigated — but finite, so a wedged leader can never pin the
    * whole request pool. */
  private val leaderWaitSeconds = 300L

  /** Admission gate: at most this many requests COMPUTE (plan + run Spark
    * jobs) at once; the rest queue FIFO on a fair semaphore. Cache hits and
    * coalesced followers never take a permit — under load with any cache
    * locality they return immediately.
    *
    * Why gate below the request-pool size: with FAIR scheduling, N
    * concurrent jobs on C cores each run ~N/k times slower than at the
    * saturation point k — processor sharing finishes everything late, so
    * median latency approaches the full makespan (measured: p50 6.5 s for
    * 100-way over 32 cores, vs 2.3 s at 32-way; SCALING.md). Bounding
    * multiprogramming at k keeps per-query latency at its k-way value and
    * queues the excess, so with equal throughput the i-th of N queries
    * finishes at ~(i/N) x makespan instead of ~makespan — p50 halves.
    * k is half the cores (at least 4): queries here run ~8 shuffle partitions
    * (ServerMain), so k = C/2 keeps all cores busy through each job's
    * narrow final stages while adding minimal queueing delay. */
  private val maxConcurrentQueries: Int =
    math.max(4, Runtime.getRuntime.availableProcessors() / 2)
  private val admission = new java.util.concurrent.Semaphore(maxConcurrentQueries, true)

  private var server: HttpServer = _

  /** `threads` sizes the request pool: each in-flight request holds one
    * thread while its Spark jobs run (FAIR scheduling multiplexes the
    * cluster between them) — size it to the concurrent-request target, not
    * the core count. */
  def start(port: Int = 0, host: String = "0.0.0.0", threads: Int = 8): Int = {
    server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.setExecutor(Executors.newFixedThreadPool(threads))
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) {
    server.stop(0)
    // the request pool's threads are non-daemon: without this a main that
    // calls stop() never exits. shutdownNow (not shutdown) so a thread
    // still blocked in a hung Spark job can't keep the JVM alive —
    // in-flight requests are already severed by server.stop(0) above.
    server.getExecutor match {
      case e: java.util.concurrent.ExecutorService => e.shutdownNow()
      case _ => ()
    }
  }

  // -------------------------------------------------------------- routing

  /** Route result: a buffered body, or a plan streamed out chunked. */
  private sealed trait Out
  private final case class Body(s: String, contentType: String) extends Out
  private final case class StreamOut(df: DataFrame, fmt: FormatType,
      src: Option[SourceMetadata], contentType: String) extends Out

  private def handle(ex: HttpExchange): Unit =
    try {
      // format-less routes take the reference's defaults: core routes CSV
      // (handlers/aggregate.rs:37, metadata.rs:83), logic-layer routes
      // jsonrecords (logic_layer/aggregate.rs:58, metadata.rs:33,
      // relations.rs:33, diagnosis.rs:34)
      // path normalization first (the reference wraps unmatched routes in
      // actix's NormalizePath, which merges duplicate slashes and drops the
      // trailing one — `/data//` serves like `/data`)
      val rawPath0 = ex.getRequestURI.getPath.replaceAll("/{2,}", "/")
      val rawPath =
        if (rawPath0.length > 1 && rawPath0.endsWith("/")) rawPath0.dropRight(1) else rawPath0
      val path = rawPath match {
        case "/data" | "/members" | "/relations" | "/diagnosis" => rawPath + ".jsonrecords"
        case p if p.matches("^/cubes/[^/]+/(aggregate|members)$") => p + ".csv"
        case p if p.matches("^/cubes/[^/]+/diagnosis$") => p + ".jsonrecords"
        case p => p
      }
      val params = parseQuery(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      val token = Option(ex.getRequestHeaders.getFirst("x-tesseract-jwt-token"))
        .orElse(params.get("token").flatMap(_.headOption))
      // response cache: query routes only, keyed by normalized request PLUS
      // the caller's auth level and the schema version; streaming responses
      // bypass it, like the reference's streaming mode.
      //  - auth level (not the raw token) in the key: a cache hit skips
      //    route()'s withCube auth check, so an unauthenticated request
      //    must never resolve an entry an authorized one populated —
      //    keying by level makes that structurally impossible while still
      //    sharing entries between tokens of equal privilege
      //  - schema version in the key: the shared file cache outlives the
      //    process, so a replica restarted against an edited schema file
      //    must not serve bodies computed under the old schema
      val cacheable = path.contains("/aggregate.") || path.startsWith("/data.") ||
        path.contains("/members.")
      // ONE read of the volatile state per request: the same snapshot feeds
      // the cache key's schema version AND the routing below, so a /flush
      // landing between the two can't file a new-schema body under the old
      // version key (or vice versa)
      val st = current()
      val ck = cache.key(path, params - "token") +
        s"|lvl=${auth.authLevel(token).getOrElse(-1)}|schema=${st.schemaVersion}|gen=${st.generation}"
      val cached = if (cacheable) cache.get(ck) else None
      cached match {
        case Some((body, ct)) => respond(ex, 200, body, ct)
        case None =>
          // publish: hand the buffered result (status, body, contentType) to
          // any followers coalesced behind this compute; None = streamed out,
          // nothing shareable
          // only routes that run Spark jobs take an admission permit;
          // metadata and /flush stay instant under query load
          val sparkWork = cacheable ||
            path.contains("/relations.") || path.contains("/diagnosis.")
          def compute(publish: Option[(Int, String, String)] => Unit): Unit =
            if (!sparkWork) computeUngated(publish)
            else {
              admission.acquire()
              try computeUngated(publish)
              finally admission.release()
            }
          // a buffered body over a rewritten table is retried once on fresh
          // tables; a streamed one already sent its headers, so it fails and
          // only leaves fresh tables for the next request
          def computeUngated(publish: Option[(Int, String, String)] => Unit): Unit =
            (try route(path, params, token, st)
             catch { case e: Throwable if missingFiles(e) => route(path, params, token, refreshTables(st)) }
            ) match {
              case Right(Body(body, contentType)) =>
                if (cacheable) cache.put(ck, (body, contentType))
                // publish AFTER the cache put: a thread arriving past the
                // in-flight entry's removal must find the entry in the cache
                publish(Some((200, body, contentType)))
                respond(ex, 200, body, contentType)
              case Right(StreamOut(df, fmt, src, contentType)) =>
                publish(None)
                // chunked transfer: rows leave as toLocalIterator produces
                // them — the driver never holds the full result
                // (reference format_stream.rs semantics)
                ex.getResponseHeaders.set("Content-Type", contentType + "; charset=utf-8")
                ex.sendResponseHeaders(200, 0)
                val w = new java.io.BufferedWriter(
                  new java.io.OutputStreamWriter(ex.getResponseBody, StandardCharsets.UTF_8))
                try Format.write(w, df, fmt, src)
                catch { case e: Throwable if missingFiles(e) => refreshTables(st); throw e }
                w.flush(); w.close()
              case Left((code, msg)) =>
                val body = "{\"error\":\"" + Format.jsonEscape(msg) + "\"}"
                // error bodies are deterministic for a fixed request — share
                // them with followers (but never cache them)
                publish(Some((code, body, "application/json")))
                respond(ex, code, body, "application/json")
            }
          if (!cacheable) compute(_ => ())
          else {
            val mine =
              new java.util.concurrent.CompletableFuture[Option[(Int, String, String)]]()
            inFlight.putIfAbsent(ck, mine) match {
              case null => // leader: compute, publish, then clear the slot
                // re-check the cache after winning leadership: a thread
                // that missed the cache, then lost the CPU while a previous
                // leader computed + cached + cleared the slot, would
                // otherwise recompute a result already sitting in the cache
                cache.get(ck) match {
                  case Some((body, ct)) =>
                    inFlight.remove(ck, mine)
                    mine.complete(Some((200, body, ct)))
                    respond(ex, 200, body, ct)
                  case None =>
                    try compute(r => { mine.complete(r); () })
                    finally {
                      inFlight.remove(ck, mine)
                      mine.complete(None) // no-op unless the compute threw
                    }
                }
              case leader => // follower: wait for the leader's buffered result
                // bounded wait: a leader wedged in a hung Spark job must not
                // pin every coalesced follower thread in the fixed request
                // pool forever — past the bound, fall back to independent
                // compute (costs one duplicate plan, never a stuck pool)
                val buffered =
                  try leader.get(leaderWaitSeconds, java.util.concurrent.TimeUnit.SECONDS)
                  catch { case _: java.util.concurrent.TimeoutException => None }
                buffered match {
                  case Some((code, body, ct)) => respond(ex, code, body, ct)
                  case None => compute(_ => ()) // leader streamed/failed/hung
                }
            }
          }
      }
    } catch {
      // if headers already went out (a stream failed mid-write), a second
      // sendResponseHeaders would throw from the handler — drop the
      // connection instead, which is all HTTP allows at that point
      case e: PlanError =>
        scala.util.Try(respond(ex, 400,
          "{\"error\":\"" + Format.jsonEscape(e.message) + "\"}", "application/json"))
      case e: Throwable =>
        scala.util.Try(respond(ex, 500,
          "{\"error\":\"" + Format.jsonEscape(String.valueOf(e.getMessage)) + "\"}", "application/json"))
    } finally ex.close()

  private def route(path: String, params: Map[String, Seq[String]], token: Option[String],
      st: SchemaState): Either[(Int, String), Out] = {
    implicit val snapshot: SchemaState = st
    // local shadows of the snapshot: everything below resolves against the
    // SAME state the cache key fingerprinted
    val curSchema = st.schema
    val planners = st.planners
    val aggPlanners = st.aggPlanners
    val logicLayers = st.logicLayers
    val streaming = params.get("stream").exists(_.headOption.contains("true"))
    def out(df: DataFrame, f: FormatType, src: Option[SourceMetadata]): Out =
      if (streaming) StreamOut(df, f, src, mime(f))
      else Body(Format.format(df, f, src), mime(f))
    val AggRe     = "^/cubes/([^/]+)/aggregate\\.([a-z]+)$".r
    val MembersRe = "^/cubes/([^/]+)/members\\.([a-z]+)$".r
    val DiagRe    = "^/cubes/([^/]+)/diagnosis\\.([a-z]+)$".r
    val CubeRe    = "^/cubes/([^/]+)$".r
    val DataRe    = "^/data\\.([a-z]+)$".r
    val RelRe     = "^/relations\\.([a-z]+)$".r
    val AllDiagRe = "^/diagnosis\\.([a-z]+)$".r
    val LlMembersRe = "^/members\\.([a-z]+)$".r

    path match {
      case "/" =>
        Right(Body("{\"status\":\"ok\",\"name\":\"graft\",\"version\":\"0.2.0\"}", "application/json"))
      case "/cubes" =>
        Right(Body(Metadata.schemaJson(
          curSchema.copy(cubes = curSchema.cubes.filter(auth.allowed(_, token)))), "application/json"))
      case CubeRe(cube) =>
        curSchema.cube(dec(cube)).filter(auth.allowed(_, token)) match {
          case Some(c) => Right(Body(Metadata.cubeJson(c), "application/json"))
          case None    => Left((404, s"cube '${dec(cube)}' not found"))
        }
      case AggRe(cube, fmt) =>
        withCube(dec(cube), token) { case (c, _) =>
          withFormat(fmt) { f =>
            val q = QueryParams.toCubeQuery(params)
            Right(out(aggPlanners(c.name).plan(spark, q), f, Some(sourceMeta(c))))
          }
        }
      case MembersRe(cube, fmt) =>
        withCube(dec(cube), token) { case (_, planner) =>
          withFormat(fmt) { f =>
            val level = params.get("level").flatMap(_.headOption)
              .toRight((400, "members requires ?level=")).flatMap(s =>
                LevelName.parse(s).left.map(m => (400, m)))
            level.map { ln =>
              val locale = params.get("locale").flatMap(_.headOption)
              out(planner.members(spark, ln, locale), f, None)
            }
          }
        }
      case DiagRe(cube, fmt) =>
        withCube(dec(cube), token) { case (c, _) =>
          withFormat(fmt) { f =>
            Right(out(Diagnosis.run(spark, c, st.tables), f, None))
          }
        }
      // top-level diagnosis (handlers/diagnosis.rs:79-96): ?cube= picks one,
      // otherwise every cube this token can read, tagged by cube name
      case AllDiagRe(fmt) =>
        withFormat(fmt) { f =>
          import org.apache.spark.sql.functions.lit
          params.get("cube").flatMap(_.headOption) match {
            case Some(name) =>
              withCube(name, token) { case (c, _) =>
                Right(out(Diagnosis.run(spark, c, st.tables), f, None))
              }
            case None =>
              val cs = curSchema.cubes.filter(auth.allowed(_, token))
              if (cs.isEmpty) Left((401, "no accessible cubes"))
              else Right(out(
                cs.map(c => Diagnosis.run(spark, c, st.tables).withColumn("cube", lit(c.name))
                  .select("cube", "check_name", "dimension", "n")).reduce(_ unionByName _),
                f, None))
          }
        }
      // logic-layer members (logic_layer/metadata.rs:47-148): the level is a
      // bare level name or its configured unique name, plus ?locale=
      case LlMembersRe(fmt) =>
        llEnabled { withFormat(fmt) { f =>
          (params.get("cube").flatMap(_.headOption),
            params.get("level").flatMap(_.headOption)) match {
            case (Some(rawName), Some(levelRef)) =>
              val cubeName = allCubeAliases.getOrElse(rawName, rawName)
              withCube(cubeName, token) { case (c, planner) =>
                val effNames = uniqueNames ++
                  llConf.map(_.levelNamesFor(c.name)).getOrElse(Map.empty)
                val byUnique = effNames.collectFirst {
                  case (ln, u) if u == levelRef && c.findLevel(ln).isDefined => ln
                }
                val byName = (for {
                  d <- c.dimensions; h <- d.hierarchies; l <- h.levels
                  if l.name == levelRef
                } yield LevelName(d.name, h.name, l.name)).headOption
                byUnique.orElse(byName)
                  .toRight((404, s"no level '$levelRef' in cube '$cubeName'"))
                  .map { ln =>
                    val locale = params.get("locale").flatMap(_.headOption)
                    out(planner.members(spark, ln, locale), f, None)
                  }
              }
            case _ => Left((400, "logic-layer members requires ?cube= and ?level="))
          }
        }}
      case DataRe(fmt) =>
        llEnabled { withFormat(fmt) { f =>
          params.get("cube").flatMap(_.headOption) match {
            case None => Left((400, "logic layer requires ?cube="))
            case Some(rawName) =>
              val cubeName = allCubeAliases.getOrElse(rawName, rawName)
              withCube(cubeName, token) { case (c, _) =>
                val ll = logicLayers(c.name)
                val q = QueryParams.toLogicLayerQuery(params, c)
                Right(out(ll.plan(spark, q), f, Some(sourceMeta(c))))
              }
          }
        }}
      case RelRe(fmt) =>
        llEnabled { withFormat(fmt) { f =>
          params.get("cube").flatMap(_.headOption) match {
            case None => Left((400, "relations requires ?cube="))
            case Some(cubeName) =>
              withCube(cubeName, token) { case (c, planner) =>
                // {Level}=id:op params -> rows (level, id, relation, value)
                // (reference handlers/logic_layer/relations.rs:56-130)
                val reserved = Set("cube", "token", "stream", "locale")
                val rows = params.toSeq.sortBy(_._1)
                  .filter { case (k, _) => !reserved.contains(k) }
                  .flatMap { case (k, vs) =>
                    val ln = LevelName.parse(k).toOption
                      .filter(l => c.findLevel(l).isDefined)
                      .orElse {
                        val hits = for {
                          d <- c.dimensions; h <- d.hierarchies; l <- h.levels
                          if l.name == k
                        } yield LevelName(d.name, h.name, l.name)
                        hits.headOption
                      }
                      .getOrElse(throw PlanError(s"level '$k' not found in cube '$cubeName'"))
                    vs.flatMap { v =>
                      v.split(":", 2) match {
                        case Array(id, op) =>
                          val (_, members) = planner.relatedMembers(spark, ln, id, op)
                          members.map(m => (ln.level, id, op, m))
                        case _ => throw PlanError(s"malformed relation '$v' (id:op)")
                      }
                    }
                  }
                import spark.implicits._
                val df = rows.toDF("level", "id", "relation", "value")
                Right(out(df, f, None))
              }
          }
        }}
      case "/flush" =>
        val given = params.get("secret").flatMap(_.headOption)
        if (flushSecret.isEmpty) Left((400, "flush is not configured"))
        else if (given != flushSecret) Left((403, "bad secret"))
        else {
          // a schema re-read that fails (file deleted, edit broke the
          // JSON/XML, validation error) must not take the server down or
          // half-swap: reload() only runs on a successfully parsed schema,
          // so the pre-flush state keeps serving — the reference 500s the
          // flush itself and keeps its old shared schema (flush.rs:52-56).
          // One reload per flush, of whatever schema the hook returns:
          // /flush ends with fresh tables, where new files become visible
          try {
            reload(onFlush(state.schema))
            Right(Body("{\"status\":\"flushed\"}", "application/json"))
          }
          catch {
            case scala.util.control.NonFatal(e) =>
              Left((500, s"flush failed, previous schema still active: ${e.getMessage}"))
          }
        }
      case _ => Left((404, s"no route for '$path'"))
    }
  }

  // -------------------------------------------------------------- helpers

  /** Gate for the logic-layer route family: with an ambiguous schema the
    * reference serves a duplicate-name error from every /data, /members and
    * /relations route (handlers/logic_layer/mod.rs:22-95) while the core
    * /cubes/... routes keep working; we use 400 (config-fixable) with the
    * reference's debug-mode message. */
  private def llEnabled[A](f: => Either[(Int, String), A])(implicit st: SchemaState)
      : Either[(Int, String), A] =
    st.llAmbiguity match {
      case Some((cube, name)) =>
        Left((400, s"Logic Layer duplicate name: '$name' in cube '$cube'. Level/property name must be unique."))
      case None => f
    }

  private def withCube[A](name: String, token: Option[String])
      (f: ((Cube, CubePlanner)) => Either[(Int, String), A])(implicit st: SchemaState)
      : Either[(Int, String), A] =
    st.schema.cube(name) match {
      case Some(c) if !auth.allowed(c, token) => Left((401, s"not authorized for cube '$name'"))
      case Some(c) => f((c, st.planners(c.name)))
      case None    => Left((404, s"cube '$name' not found"))
    }

  private def withFormat[A](s: String)(f: FormatType => Either[(Int, String), A])
      : Either[(Int, String), A] =
    FormatType.parse(s) match {
      case Right(fmt) => f(fmt)
      case Left(m)    => Left((400, m))
    }

  private def sourceMeta(c: Cube): SourceMetadata =
    SourceMetadata(c.name, c.measures.map(_.name),
      c.annotations.map(a => a.name -> a.text).toMap)

  private def mime(f: FormatType): String = f match {
    case FormatType.Csv => "text/csv"
    case _              => "application/json"
  }

  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Params keep FIRST-APPEARANCE order (ListMap), not hash order: the
    * logic layer takes cuts in params-iteration order and the fan-out's
    * positional consolidation keeps the first combo's headers — with a
    * hash map the header naming of a multi-level-cut response would depend
    * on the param-name hashes instead of the request's own order (the
    * reference's serde Vec preserves URL order). Because bodies are
    * therefore order-sensitive, the response-cache key preserves this
    * order too (ResponseCache.key) — differently-ordered spellings of the
    * same params are distinct requests, never one shared entry. */
  private def parseQuery(raw: String): Map[String, Seq[String]] = {
    val pairs = raw.split('&').filter(_.nonEmpty).toSeq
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => dec(k.replace("+", "%20")) -> dec(v.replace("+", "%20"))
          case Array(k)    => dec(k) -> ""
        }
      }
    val order = pairs.map(_._1).distinct
    scala.collection.immutable.ListMap(
      order.map(k => k -> pairs.collect { case (`k`, v) => v }): _*)
  }

  private def respond(ex: HttpExchange, code: Int, body: String, contentType: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType + "; charset=utf-8")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}

/** Query-string → query model translation (reference
  * handlers/aggregate.rs:144-266 AggregateQueryOpt). Both `drilldowns[]=a&
  * drilldowns[]=b` and comma-joined `drilldowns=a,b` spellings are accepted
  * for the core API's list params. */
object QueryParams {
  private def fail(m: String): Nothing = throw PlanError(m)
  private def p[A](e: Either[String, A]): A = e.fold(fail, identity)

  private def list(params: Map[String, Seq[String]], key: String): Seq[String] =
    (params.getOrElse(key, Nil) ++ params.getOrElse(key + "[]", Nil)).filter(_.nonEmpty)

  private def one(params: Map[String, Seq[String]], key: String): Option[String] =
    params.get(key).flatMap(_.headOption).filter(_.nonEmpty)

  private def flag(params: Map[String, Seq[String]], key: String): Boolean =
    one(params, key).exists(v => v == "true" || v == "1")

  def toCubeQuery(params: Map[String, Seq[String]]): CubeQuery = CubeQuery(
    drilldowns = list(params, "drilldowns").map(s => p(Drilldown.parse(s))),
    cuts = list(params, "cuts").map(s => p(CutSpec.parse(s))),
    measures = list(params, "measures").map(s => p(MeasureName.parse(s))),
    properties = list(params, "properties").map(s => p(PropertyName.parse(s))),
    filters = list(params, "filters").map(s => p(FilterQuery.parse(s))),
    captions = list(params, "captions").map(s => p(PropertyName.parse(s))),
    parents = flag(params, "parents"),
    top = one(params, "top").map(s => p(TopQuery.parse(s))),
    topWhere = one(params, "top_where").map(s => p(TopWhereQuery.parse(s))),
    sort = one(params, "sort").map(s => p(SortQuery.parse(s))),
    limit = one(params, "limit").map(s => p(LimitQuery.parse(s))),
    rca = one(params, "rca").map(s => p(RcaQuery.parse(s))),
    growth = one(params, "growth").map(s => p(GrowthQuery.parse(s))),
    rate = one(params, "rate").map(s => p(RateQuery.parse(s))),
    debug = flag(params, "debug"),
    sparse = flag(params, "sparse"),
    excludeDefaultMembers = flag(params, "exclude_default_members"))

  /** Logic-layer params: drilldowns are bare level names resolved against
    * the cube; cuts arrive as `{LevelName}={members}` params
    * (aggregate.rs:71-96 serde flatten). */
  def toLogicLayerQuery(params: Map[String, Seq[String]], cube: Cube): LogicLayerQuery = {
    val reserved = Set("cube", "drilldowns", "measures", "exclude", "time", "locale",
      "properties", "filters", "parents", "top", "top_where", "sort", "limit", "sparse",
      "debug", "stream", "token", "growth", "rca", "rate", "exclude_default_members")

    def resolveLevel(s: String): LevelName =
      LevelName.parse(s).toOption.filter(ln => cube.findLevel(ln).isDefined).getOrElse {
        // bare unique level name: search all dims/hiers (cache.rs:583-673)
        val hits = for {
          d <- cube.dimensions; h <- d.hierarchies; l <- h.levels
          if l.name == s
        } yield LevelName(d.name, h.name, l.name)
        hits match {
          case Seq(one) => one
          case Seq()    => fail(s"level '$s' not found in cube '${cube.name}'")
          case _        => fail(s"level '$s' is ambiguous in cube '${cube.name}'")
        }
      }

    val cuts = params.toSeq
      .filter { case (k, _) => !reserved.contains(k) && !k.endsWith("[]") }
      .flatMap { case (k, vs) =>
        scala.util.Try(resolveLevel(k)).toOption.map { ln =>
          CutSpec(ln, vs.flatMap(_.split(',')).filter(_.nonEmpty))
        }
      }

    LogicLayerQuery(
      drilldowns = list(params, "drilldowns").flatMap(_.split(',')).filter(_.nonEmpty)
        .map(s => Drilldown(resolveLevel(s))),
      cuts = cuts,
      measures = list(params, "measures").flatMap(_.split(',')).filter(_.nonEmpty)
        .map(s => p(MeasureName.parse(s))),
      exclude = list(params, "exclude").map { s =>
        s.split(":", 2) match {
          case Array(lvl, ids) => CutSpec(resolveLevel(lvl), ids.split(',').toSeq)
          case _ => fail(s"malformed exclude '$s' (Level:id1,id2)")
        }
      },
      time = one(params, "time").map { s =>
        val i = s.lastIndexOf('.')
        if (i < 0) fail(s"malformed time '$s' (Level.latest|oldest)")
        (resolveLevel(s.take(i)), s.drop(i + 1))
      },
      properties = list(params, "properties").map(s => p(PropertyName.parse(s))),
      filters = list(params, "filters").map(s => p(FilterQuery.parse(s))),
      parents = flag(params, "parents"),
      top = one(params, "top").map(s => p(TopQuery.parse(s))),
      topWhere = one(params, "top_where").map(s => p(TopWhereQuery.parse(s))),
      sort = one(params, "sort").map(s => p(SortQuery.parse(s))),
      limit = one(params, "limit").map(s => p(LimitQuery.parse(s))),
      growth = one(params, "growth").map(s => p(GrowthQuery.parse(s))),
      rca = one(params, "rca").map(s => p(RcaQuery.parse(s))),
      rate = one(params, "rate").map(s => p(RateQuery.parse(s))),
      locale = one(params, "locale"),
      debug = flag(params, "debug"),
      sparse = flag(params, "sparse"),
      excludeDefaultMembers = flag(params, "exclude_default_members"))
  }
}

/** Schema/cube metadata JSON (reference handlers/metadata.rs:27-77). */
object Metadata {
  import Format.jsonEscape

  /** Callers pass a schema already filtered to the cubes the request may
    * see (GraftServer's auth gate). */
  def schemaJson(s: Schema): String =
    "{\"name\":\"" + jsonEscape(s.name) + "\",\"cubes\":[" +
      s.cubes.map(cubeJson).mkString(",") + "]}"

  def cubeJson(c: Cube): String = {
    val dims = c.dimensions.map { d =>
      val hiers = d.hierarchies.map { h =>
        val lvls = h.levels.map { l =>
          "{\"name\":\"" + jsonEscape(l.name) + "\"" +
            ",\"key_column\":\"" + jsonEscape(l.keyColumn) + "\"" +
            l.nameColumn.map(n => ",\"name_column\":\"" + jsonEscape(n) + "\"").getOrElse("") +
            ",\"properties\":[" + l.properties.map(pr =>
              "{\"name\":\"" + jsonEscape(pr.name) + "\"}").mkString(",") + "]}"
        }.mkString(",")
        "{\"name\":\"" + jsonEscape(h.name) + "\",\"levels\":[" + lvls + "]}"
      }.mkString(",")
      "{\"name\":\"" + jsonEscape(d.name) + "\",\"type\":\"" + d.dimType.toString + "\"" +
        ",\"hierarchies\":[" + hiers + "]}"
    }.mkString(",")
    val meas = c.measures.map(m =>
      "{\"name\":\"" + jsonEscape(m.name) + "\",\"aggregator\":\"" +
        jsonEscape(m.aggregator.toString) + "\"}").mkString(",")
    "{\"name\":\"" + jsonEscape(c.name) + "\",\"dimensions\":[" + dims +
      "],\"measures\":[" + meas + "]}"
  }
}
