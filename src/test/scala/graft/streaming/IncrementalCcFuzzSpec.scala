package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.PipelineOps
import graft.SparkTestSession.{spark, rowImage}

/** Adversarial fuzz for the spanning-forest certificate ([[IncrementalCc]]):
  * random graphs driven through random NODE deletions (cut vertices,
  * component minima, whole-component wipes, adjacent leaves — whatever the
  * dice produce) interleaved with random new edges (intra, merging, fresh
  * nodes, re-entering deleted ids). After every refresh the maintained
  * state must satisfy the two invariants everything downstream leans on:
  *
  *   1. CANONICALITY: maintained labels ≡ a from-scratch global CC over
  *      the maintained edge set (label = component min; isolated nodes
  *      absent). A safe-deletion false positive (a skipped rebuild that
  *      actually disconnected something) shows up here immediately.
  *   2. FOREST VALIDITY: the in_forest-flagged edges of each component
  *      form a spanning tree of exactly its members — |forest| =
  *      |members| − 1 per component and CC(forest) = CC(edges). A broken
  *      certificate wouldn't corrupt THIS bump, but would mis-certify a
  *      FUTURE deletion — so it is pinned as hard as canonicality.
  *
  * The fold applied between steps is [[DedupStream.foldPairChain]]'s edge
  * semantics verbatim (per-endpoint retirement + labelsOut epoch drop +
  * union), so the spec also guards the fold/refresh contract drift. */
class IncrementalCcFuzzSpec extends AnyFunSuite {

  import spark.implicits._

  private def ccOracle(pairs: DataFrame): DataFrame =
    PipelineOps.connectedComponents(pairs.select(col("doc_a"), col("doc_b")))

  private def assertInvariants(labels: DataFrame, pairs: DataFrame, ctx: String): Unit = {
    assert(rowImage(labels) == rowImage(ccOracle(pairs)), s"canonicality broke at $ctx")
    // forest validity: per component, spanning tree of exactly the members
    val forest = pairs.where(col("in_forest"))
    val members = labels.groupBy("label").agg(count(lit(1)).as("n"))
    val fcount = forest
      .join(labels.select(col("node").as("doc_a"), col("label")), "doc_a")
      .groupBy("label").agg(count(lit(1)).as("f"))
    val bad = members.join(fcount, Seq("label"), "left")
      .where(coalesce(col("f"), lit(0L)) =!= col("n") - 1)
    assert(bad.isEmpty, s"forest size != members-1 at $ctx: ${bad.collect().mkString(",")}")
    assert(rowImage(ccOracle(forest)) == rowImage(labels),
      s"forest does not span its components at $ctx")
  }

  private def fold(
      labels: DataFrame, pairs: DataFrame,
      retired: DataFrame, d: IncrementalCc.LabelDelta): (DataFrame, DataFrame) = {
    val r = retired.select(col("doc_id"))
    val out = d.labelsOut.select(col("node"))
    val nl = labels.join(out, Seq("node"), "left_anti").unionByName(d.labelsIn)
      .localCheckpoint(true)
    val np = pairs
      .join(r.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(r.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      .join(d.pairsOut.select(col("node").as("elabel")), Seq("elabel"), "left_anti")
      .unionByName(d.pairsIn)
      .localCheckpoint(true)
    (nl, np)
  }

  test("random deletion/merge chains keep labels canonical and the forest spanning") {
    driveChains(Seq(7L, 23L, 91L))
  }

  test("the same chains through the rebuild route (driverBound 0): each step's state ≡ initial over the folded pairs") {
    driveChains(Seq(7L, 23L), driverBound = 0, rebuildOracle = true)
  }

  test("the same chains with driverBound 2: the driver and rebuild routes interleave over each other's state") {
    val rebuilt = driveChains(Seq(91L), driverBound = 2)
    assert(rebuilt.contains(true) && rebuilt.contains(false),
      s"expected both routes, got ${rebuilt.mkString(",")}")
  }

  test("a NULL-keyed new pair is dropped at entry: the same delta as without it, on both routes") {
    val (l0, p0) = IncrementalCc.initial(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b"))
    val labels = l0.localCheckpoint(true)
    val pairs = p0.localCheckpoint(true)
    val retired = Seq(3L).toDF("doc_id")
    val np = Seq((Option(4L), Option(1L)), (Option(11L), Option(20L))).toDF("doc_a", "doc_b")
    val npNull = np.unionByName(
      Seq((Option.empty[Long], Option(2L)), (Option(5L), Option.empty[Long]))
        .toDF("doc_a", "doc_b"))
    for (bound <- Seq(IncrementalCc.DriverBound, 0)) {
      val d = IncrementalCc.refresh(labels, pairs, retired, np, driverBound = bound)
      val dn = IncrementalCc.refresh(labels, pairs, retired, npNull, driverBound = bound)
      for ((name, a, b) <- Seq(("labelsOut", d.labelsOut, dn.labelsOut),
          ("labelsIn", d.labelsIn, dn.labelsIn), ("pairsIn", d.pairsIn, dn.pairsIn),
          ("pairsOut", d.pairsOut, dn.pairsOut)))
        assert(rowImage(a) == rowImage(b), s"$name diverged under driverBound $bound")
    }
  }

  test("the same chains over the DISTRIBUTED Borůvka forest path (driver tail forced off)") {
    // every ccWithForest call inside refresh/initial takes the
    // distributed path — the shape a 100 TB initial build runs
    driveChains(Seq(7L, 23L), forestEdgeBound = 0L)
  }

  test("the same chains with a tiny driver bound (4): driver tail, Borůvka, and the HYBRID mid-loop finish all interleave") {
    driveChains(Seq(7L), forestEdgeBound = 4L)
  }

  /** `forestEdgeBound` and `driverBound` pass through to every
    * [[IncrementalCc.initial]]/[[IncrementalCc.refresh]] call. With
    * `rebuildOracle`, every folded step must ALSO equal [[IncrementalCc
    * .initial]] over its folded pairs row for row (labels and labeled
    * pairs, forest flags included). Returns, per step, whether the delta
    * exceeded `driverBound` (the rebuild route's gate). */
  private def driveChains(
      seeds: Seq[Long],
      forestEdgeBound: Long = PipelineOps.ForestEdgeBound,
      driverBound: Int = IncrementalCc.DriverBound,
      rebuildOracle: Boolean = false): Seq[Boolean] = {
    val rebuilt = Seq.newBuilder[Boolean]
    for (seed <- seeds) {
      val rnd = new scala.util.Random(seed)
      var nextId = 1000L
      // seed graph: a few cliques, a long chain, a star — the shapes that
      // stress leaves, cut vertices, and minima differently
      var edges = Seq.newBuilder[(Long, Long)]
      var base = 0L
      for (c <- 0 until 4) { // cliques of 4..7
        val n = 4 + rnd.nextInt(4)
        for (i <- 0 until n; j <- i + 1 until n) edges += ((base + i, base + j))
        base += 100
      }
      for (i <- 0 until 12) edges += ((base + i, base + i + 1)) // chain
      base += 100
      for (i <- 1 to 6) edges += ((base, base + i)) // star
      val init = edges.result().toDF("doc_a", "doc_b")
      val (labels0, pairs0) = IncrementalCc.initial(init, forestEdgeBound)
      var labels = labels0.localCheckpoint(true)
      var pairs = pairs0.localCheckpoint(true)
      assertInvariants(labels, pairs, s"seed $seed init")

      for (step <- 0 until 8) {
        val nodes = labels.select("node").as[Long].collect()
        // retire a random subset — bias toward 1-3 nodes, sometimes a
        // whole small component, sometimes a component min (the label)
        val retiredIds = rnd.nextInt(4) match {
          case 0 => Seq.empty[Long]
          case 1 => rnd.shuffle(nodes.toSeq).take(1 + rnd.nextInt(3))
          case 2 => // a component min (forces the isLabel rebuild path)
            val ls = labels.select("label").distinct().as[Long].collect()
            if (ls.isEmpty) Seq.empty[Long] else Seq(ls(rnd.nextInt(ls.length)))
          case _ => // wipe most of one component (collapse path)
            val ls = labels.select("label").distinct().as[Long].collect()
            if (ls.isEmpty) Seq.empty[Long]
            else {
              val l = ls(rnd.nextInt(ls.length))
              val mem = labels.where(col("label") === l).select("node").as[Long].collect()
              rnd.shuffle(mem.toSeq).take(math.max(1, mem.length - 1))
            }
        }
        val survivors = nodes.filterNot(retiredIds.contains)
        // new edges: intra/merging among survivors, plus fresh nodes and
        // occasionally a retired id re-entering
        val newEdges = Seq.newBuilder[(Long, Long)]
        val nNew = rnd.nextInt(4)
        for (_ <- 0 until nNew if survivors.length >= 2) {
          val a = survivors(rnd.nextInt(survivors.length))
          val b = survivors(rnd.nextInt(survivors.length))
          if (a != b) newEdges += ((math.min(a, b), math.max(a, b)))
        }
        if (rnd.nextBoolean() && survivors.nonEmpty) { // fresh node
          val f = nextId; nextId += 1
          newEdges += ((math.min(f, survivors(rnd.nextInt(survivors.length))),
            math.max(f, survivors(rnd.nextInt(survivors.length)))))
        }
        if (retiredIds.nonEmpty && survivors.nonEmpty && rnd.nextInt(3) == 0) {
          val re = retiredIds(rnd.nextInt(retiredIds.length)) // re-entering id
          val s = survivors(rnd.nextInt(survivors.length))
          newEdges += ((math.min(re, s), math.max(re, s)))
        }
        val retired = retiredIds.toDF("doc_id").localCheckpoint(true)
        val np = newEdges.result().distinct.toDF("doc_a", "doc_b").localCheckpoint(true)
        val d = IncrementalCc.refresh(labels, pairs, retired, np, forestEdgeBound, driverBound)
        rebuilt += (retiredIds.distinct.length > driverBound ||
          newEdges.result().distinct.length > driverBound)
        val (nl, nps) = fold(labels, pairs, retired, d)
        labels = nl; pairs = nps
        val ctx = s"seed $seed step $step " +
          s"(retired ${retiredIds.mkString(",")}; new ${newEdges.result().mkString(",")})"
        assertInvariants(labels, pairs, ctx)
        if (rebuildOracle) {
          val (il, ip) = IncrementalCc.initial(pairs.select("doc_a", "doc_b"), forestEdgeBound)
          assert(rowImage(labels) == rowImage(il), s"labels != initial at $ctx")
          assert(rowImage(pairs) == rowImage(ip), s"labeled pairs != initial at $ctx")
        }
      }
    }
    rebuilt.result()
  }
}
