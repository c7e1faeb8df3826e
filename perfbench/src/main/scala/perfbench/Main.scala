package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Run settings, pinned so both sides of a comparison run identically. */
final case class Settings(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    dataDir: String, workDir: String,
    cores: Int, clients: Int, shufflePartitions: Int, bumps: Int) {
  def starDir: String = s"$dataDir/star"
  def cdcDir: String = s"$dataDir/cdc"
}

object Util {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally st.close()
  }

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def json(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => "\"" + graft.server.Format.jsonEscape(k.toString) + "\":" + json(x) }
      .mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case x => "\"" + graft.server.Format.jsonEscape(String.valueOf(x)) + "\""
  }
}

/** Benchmark entry point: one workload, one seed, one JSON record on the
  * last line of stdout (`PERFBENCH {...}`), which `run.py` turns into the
  * result line. Usage:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, dataDir, workDir) = args
    val cores = Runtime.getRuntime.availableProcessors()
    val s = Settings(workload, seed.toLong, seconds.toDouble, trace == "1",
      dataDir, workDir,
      cores = cores, clients = cores, shufflePartitions = 8,
      bumps = sys.props.getOrElse("perfbench.bumps", "2").toInt)
    Files.createDirectories(Paths.get(workDir))

    // the serving configuration of ServerMain, at local[cores]
    val spark = SparkSession.builder()
      .master(s"local[${s.cores}]")
      .appName("perfbench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.cleaner.periodicGC.interval", "5min")
      .config("spark.sql.shuffle.partitions", s.shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)

    val tracer = new Tracer(s.trace)
    val stats = if (s.trace) Some(SparkStats.attach(spark, tracer)) else None
    val out =
      try workload match {
        case "olap_unique" => Workloads.olapUnique(spark, s, tracer, stats)
        case "ingest_cdc"  => Workloads.ingestCdc(spark, s, tracer, stats)
        case other         => throw new IllegalArgumentException(s"unknown workload '$other'")
      } finally {
        if (s.trace) tracer.write(Paths.get(workDir, "trace", s"${workload}_${seed}.jsonl"))
      }
    spark.stop()
    val settings = Map[String, Any](
      "workload" -> workload, "seed" -> s.seed, "seconds" -> s.seconds, "trace" -> s.trace,
      "nproc" -> cores, "spark_master" -> s"local[${s.cores}]", "scheduler" -> "FAIR",
      "shuffle_partitions" -> s.shufflePartitions, "clients" -> s.clients,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "cache_capacity" -> 256,
      "admission_permits" -> math.max(4, cores / 2), "cdc_bumps" -> s.bumps)
    println("PERFBENCH " + Util.json(out.toMap ++ Map("settings" -> settings)))
  }

  /** Seconds from JVM start to now. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
