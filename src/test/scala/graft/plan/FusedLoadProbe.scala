package graft.plan

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.SparkSession
import graft.core._

/** Measurement harness (not a spec): the fused fan-out's concurrency
  * benefit — SURVEY §7.4 risk 2's motivation was "N-way unions of
  * near-identical plans waste scheduler time at high concurrency". Runs a
  * fan-out-heavy query mix at fixed concurrency through the per-member
  * union (LogicLayer.planUnfused) and the fused plan (LogicLayer.plan)
  * and reports wall/p50/p95 per mode. Run with:
  *   sbt "Test/runMain graft.plan.FusedLoadProbe /root/testdata/sf0.1 48 16"
  */
object FusedLoadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val nReq = args.lift(1).map(_.toInt).getOrElse(48)
    val conc = args.lift(2).map(_.toInt).getOrElse(16)
    val spark = SparkSession.builder()
      .master("local[32]").appName("fused-load-probe")
      .config("spark.sql.shuffle.partitions", "8") // the LoadBench serving shape
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def die(m: String): Nothing = throw PlanError(m)
    def drill(s: String) = Drilldown.parse(s).fold(die, identity)
    def mea(s: String) = MeasureName.parse(s).fold(die, identity)
    def cut(s: String) = CutSpec.parse(s).fold(die, identity)

    // every request is a distinct 2- or 4-combo fan-out (vary the members
    // so no plan-level reuse flatters either mode)
    val mix: Seq[LogicLayerQuery] = (0 until nReq).map { i =>
      val y = 1992 + i % 7
      val r = i % 4
      val base = LogicLayerQuery(
        drilldowns = Seq(drill("Ship Date.Year")),
        cuts = Seq(cut(s"Geography.Region.$r,${r + 1}"),
          cut(s"Geography.Nation.${i % 20},${(i + 7) % 20},${(i + 13) % 20}")),
        measures = Seq(mea("Quantity")))
      if (i % 4 == 2) base.copy( // 4-combo: second multi-cut dimension
        drilldowns = Nil,
        cuts = base.cuts ++ Seq(cut(s"Ship Date.Year.$y,${y + 1}"),
          cut(s"Ship Date.Month.${1 + i % 10},${2 + i % 10}")))
      else if (i % 4 == 1) base.copy( // growth fan-out (round 13: fuses
        // as the combo-partitioned lag; declined to the union before)
        growth = Some(GrowthQuery.parse("Ship Date.Year,Quantity").fold(die, identity)))
      else if (i % 4 == 3) LogicLayerQuery( // rate fan-out (round 14:
        // fuses as the conditional-aggregate pass; declined before)
        drilldowns = Seq(drill("Customer.Segment")),
        cuts = Seq(cut(s"Ship Date.Year.$y,${y + 1}"),
          cut(s"Ship Date.Month.${1 + i % 10},${2 + i % 10}")),
        measures = Seq(mea("Quantity")),
        rate = Some(RateQuery.parse(s"Geography.Region.$r,${r + 1}").fold(die, identity)))
      else base
    }

    val planner = graft.engine.TpchStar.planner(sfDir)
    implicit val pool: scala.concurrent.ExecutionContextExecutorService =
      ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(conc))
    val ll = new LogicLayer(planner)
    def run(fused: Boolean): (Double, Double, Double) = {
      val t0 = System.nanoTime()
      val lat = Await.result(
        Future.sequence(mix.map { q =>
          Future {
            val s = System.nanoTime()
            (if (fused) ll.plan(spark, q) else ll.planUnfused(spark, q))
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - s) / 1e9
          }(pool)
        }), Duration.Inf).sorted
      val wall = (System.nanoTime() - t0) / 1e9
      (wall, lat(lat.length / 2), lat((lat.length * 95) / 100 min (lat.length - 1)))
    }
    run(fused = false) // warmup pass (codegen/JIT for both shapes)
    run(fused = true)
    for (fused <- Seq(false, true, false, true)) {
      val (wall, p50, p95) = run(fused)
      println(f"FUSEDLOAD fused=$fused n=$nReq conc=$conc wall=$wall%.2f p50=$p50%.2f p95=$p95%.2f rps=${nReq / wall}%.1f")
    }
    pool.shutdown()
    spark.stop()
  }
}
