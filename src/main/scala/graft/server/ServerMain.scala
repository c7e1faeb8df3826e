package graft.server

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.core.{Schema, SchemaJson, SchemaXml}
import graft.sources.FormatResolver

/** Deployable server entrypoint — the analogue of the reference's
  * `tesseract-server/src/main.rs:43-232`: configuration comes from
  * environment variables (GRAFT_* mirroring the reference's TESSERACT_*),
  * the schema file loads by extension (.xml via the XML reader, else JSON),
  * and `/flush?secret=` re-reads the schema file and hot-swaps it.
  *
  *   GRAFT_SCHEMA_FILEPATH              required; .json or .xml schema
  *   GRAFT_DATA_DIR                     required; directory of
  *                                      `<table>.parquet` files (the
  *                                      "database url" of this engine —
  *                                      per-table format overrides go
  *                                      through sources.FormatResolver)
  *   GRAFT_ADDRESS                      host:port, default 127.0.0.1:7777
  *   GRAFT_JWT_SECRET                   enable JWT auth
  *   GRAFT_FLUSH_SECRET                 enable /flush
  *   GRAFT_LOGIC_LAYER_CONFIG_FILEPATH  logic-layer config JSON
  *   GRAFT_GEOSERVICE_URL               geoservice sidecar for Geo-dim
  *                                      `neighbors` cuts (reference
  *                                      TESSERACT_GEOSERVICE_URL); unset →
  *                                      hierarchy fallback (zero-egress)
  *   GRAFT_CACHE_DIR                    shared response-cache directory
  *                                      (replicas over NFS/EFS share one
  *                                      cache — the reference's Redis
  *                                      slot); unset → per-instance LRU
  *   GRAFT_SPARK_MASTER                 default local[*]
  *   GRAFT_SHUFFLE_PARTITIONS           default 8 (unless
  *                                      spark.sql.shuffle.partitions is set)
  *
  * The reference's TESSERACT_STREAMING_RESPONSE global switch is per-request
  * here (`stream=true`).
  */
object ServerMain {

  /** Builds a server from file-path configuration — the testable core of
    * [[main]]. The README deployment walkthrough runs through exactly this
    * path (see DeploymentSmokeSpec): schema file by extension, data dir as
    * the table source, /flush re-reading the schema file. */
  def build(
      spark: SparkSession,
      schemaPath: String,
      dataDir: String,
      flushSecret: Option[String] = None,
      jwtSecret: Option[String] = None,
      llConfigPath: Option[String] = None,
      geoserviceUrl: Option[String] = None,
      cacheDir: Option[String] = None): GraftServer = {
    def readSchema(): Schema = {
      val text = Files.readString(Paths.get(schemaPath))
      val s = if (schemaPath.endsWith(".xml")) SchemaXml.parse(text)
              else SchemaJson.parse(text)
      SchemaJson.validate(s)
    }
    new GraftServer(
      spark,
      readSchema(),
      new FormatResolver(Map.empty, fallbackParquetDir = Some(dataDir)),
      flushSecret = flushSecret,
      // /flush re-reads the schema file and swaps it atomically
      onFlush = _ => readSchema(),
      jwtSecret = jwtSecret,
      llConfigJson = llConfigPath.map(p => Files.readString(Paths.get(p))),
      geoService = geoserviceUrl.map(new graft.plan.HttpGeoService(_)),
      responseCache = cacheDir.fold[ResponseCache](new LruResponseCache())(
        d => new SharedFileResponseCache(Paths.get(d))))
  }

  /** `GRAFT_ADDRESS` as (host, port), split on the LAST `:` so an IPv6
    * host keeps its colons. */
  private[server] def parseAddress(address: String): (String, Int) = {
    def bad(why: String) = new IllegalArgumentException(
      s"GRAFT_ADDRESS must be host:port, got '$address' ($why)")
    val i = address.lastIndexOf(':')
    if (i < 0) throw bad("no ':'")
    val port = address.substring(i + 1).toIntOption
      .filter(p => p >= 0 && p <= 65535)
      .getOrElse(throw bad("port is not a number in 0-65535"))
    (address.substring(0, i), port)
  }

  def main(args: Array[String]): Unit = {
    def required(k: String): String = sys.env.getOrElse(k,
      throw new IllegalArgumentException(s"$k not set"))

    val schemaPath = required("GRAFT_SCHEMA_FILEPATH")
    val dataDir    = required("GRAFT_DATA_DIR")
    val (host, port) = parseAddress(sys.env.getOrElse("GRAFT_ADDRESS", "127.0.0.1:7777"))
    val master     = sys.env.getOrElse("GRAFT_SPARK_MASTER", "local[*]")

    val spark = {
      val b = SparkSession.builder().master(master)
        .appName("graft-server")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        // concurrent requests share the cluster fairly, mirroring the
        // reference's 100-concurrent-request pool design
        .config("spark.scheduler.mode", "FAIR")
        // a long-lived server reclaims per-query pinned frames (e.g. the
        // rca a-grain checkpoint) and shuffle metadata on a wall-clock
        // cadence, not heap pressure — the SCALING.md ops note
        .config("spark.cleaner.periodicGC.interval", "5min")
      // serving workload = many small concurrent aggregates: Spark's
      // 200-partition default multiplies task-scheduling overhead by the
      // concurrency; 8 per job measured ~2x better p95 under 32-way load
      // (SCALING.md). Deployments override via GRAFT_SHUFFLE_PARTITIONS or
      // -Dspark.sql.shuffle.partitions / spark-submit --conf (which copies
      // spark-defaults.conf into system properties; a directly-launched
      // JVM's SPARK_CONF_DIR file is NOT read here) — the serving default
      // only applies when NEITHER set it, so it never clobbers an
      // operator's explicit tuning.
      val explicit = sys.env.get("GRAFT_SHUFFLE_PARTITIONS")
        .orElse(new org.apache.spark.SparkConf().getOption("spark.sql.shuffle.partitions"))
      b.config("spark.sql.shuffle.partitions", explicit.getOrElse("8"))
        .getOrCreate()
    }
    // getOrCreate may have reused a pre-existing session, in which case the
    // spark.sql.extensions config above never ran — register imperatively.
    graft.GraftExtensions.register(spark)

    val server = build(spark, schemaPath, dataDir,
      flushSecret = sys.env.get("GRAFT_FLUSH_SECRET"),
      jwtSecret = sys.env.get("GRAFT_JWT_SECRET"),
      llConfigPath = sys.env.get("GRAFT_LOGIC_LAYER_CONFIG_FILEPATH"),
      geoserviceUrl = sys.env.get("GRAFT_GEOSERVICE_URL"),
      cacheDir = sys.env.get("GRAFT_CACHE_DIR"))

    val bound = server.start(port, host)
    println(s"graft server listening on $host:$bound (schema: $schemaPath, data: $dataDir)")
    Thread.currentThread.join() // serve until killed
  }
}
