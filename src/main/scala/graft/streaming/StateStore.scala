package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{DataType, StructType}
import graft.pipeline.ArtifactStore

/** Durable checkpoint store for the incremental-dedup carried state — the
  * "production deployment persists both to DFS parquet between refreshes"
  * contract that [[DedupStream.PairState]] and [[SemDedupStream.SemState]]
  * promise. Without it a restart loses the gram/edge history and the next
  * refresh silently degrades to a from-scratch rebuild (or, worse, a
  * partial state that yields a wrong verdict).
  *
  * A state version is a TABLE SET (one parquet relation per name) under a
  * `v{N}/` directory, committed through [[graft.pipeline.ArtifactStore]]'s
  * versioned-directory protocol (claim, write, publish the `_COMMITTED`
  * marker, resolve max committed, prune) — see its doc for the crash and
  * object-store contract. This store adds the payload: snapshot versions
  * ([[save]]) and LSM delta versions ([[saveDelta]]) chained by a `_DELTA`
  * base pointer, the chain walk ([[loadChain]]), and the prune point — a
  * snapshot commit retires everything before the previous chain's START.
  *
  * Every version records its tables' schemas in a `_SCHEMA` file (one
  * `name<TAB>schema JSON` line per table, written before `_COMMITTED`),
  * and every read passes the recorded schema to the parquet reader. An
  * inferred read runs one Spark job per table to read a footer; a chain
  * read with recorded schemas runs none. A committed version with no
  * record is refused with a [[MissingSchemaException]] — it was written
  * by an older format, and inference is not a fallback.
  *
  * StreamStateSpec kills the in-memory state between refreshes, reloads
  * from disk, and proves the final verdict identical to the
  * never-restarted run — plus the crash-before-commit,
  * two-concurrent-writers, and prune behaviors of the protocol itself. */
object StateStore {

  /** A committed version without its `_SCHEMA` record — refused rather
    * than read with inferred schemas. */
  final class MissingSchemaException(val dir: String, val version: Long)
      extends IllegalStateException(
        s"state version $dir/v$version has no _SCHEMA record — it was written by " +
        "an older on-disk format; found the state again from its source")

  private def baseOf(spark: SparkSession, dir: String, v: Long): Option[Long] =
    ArtifactStore.readText(spark, s"$dir/v$v/_DELTA").map(_.trim.toLong)

  /** The version chain ending at `v`: snapshot first, deltas in commit
    * order. A base pointer must strictly DECREASE along the walk (a
    * delta's base is always an earlier version) — a corrupted or
    * hand-edited `_DELTA` file that points at itself or forward would
    * otherwise spin this loop forever; fail fast instead. */
  private def chainOf(spark: SparkSession, dir: String, v: Long): Seq[Long] = {
    var chain = List(v)
    var base = baseOf(spark, dir, v)
    while (base.isDefined) {
      if (base.get >= chain.head)
        throw new IllegalStateException(
          s"$dir v${chain.head} has a non-decreasing _DELTA base ${base.get} — corrupt chain")
      chain = base.get :: chain
      base = baseOf(spark, dir, base.get)
    }
    chain
  }

  /** The schemas recorded for version `v`, table name → read schema. */
  private def schemasOf(spark: SparkSession, dir: String, v: Long): Map[String, StructType] =
    ArtifactStore.readText(spark, s"$dir/v$v/_SCHEMA")
      .getOrElse(throw new MissingSchemaException(dir, v))
      .linesIterator.filter(_.nonEmpty).map { line =>
        val tab = line.indexOf('\t')
        line.take(tab) -> DataType.fromJson(line.drop(tab + 1)).asInstanceOf[StructType]
      }.toMap

  /** Version `v`'s tables `names`, read with their recorded schemas. */
  private def read(spark: SparkSession, dir: String, v: Long, names: Seq[String])
      : Map[String, DataFrame] = {
    val schemas = schemasOf(spark, dir, v)
    names.map { n =>
      val schema = schemas.getOrElse(n, throw new IllegalStateException(
        s"state version $dir/v$v has no table '$n'"))
      n -> spark.read.schema(schema).parquet(s"$dir/v$v/$n.parquet")
    }.toMap
  }

  /** Persist `tables` as the next state version; returns the version.
    * `partitions` (table name → partition columns) writes those tables
    * hive-partitioned — the physical-layout knob that lets a consuming
    * probe partition-prune a state scan (the gram snapshot's `gbucket`
    * layout; see [[graft.pipeline.PipelineOps.pruneGramHistory]]). */
  def save(
      dir: String,
      tables: Map[String, DataFrame],
      partitions: Map[String, Seq[String]] = Map.empty): Long =
    commit(dir, tables, delta = false, partitions)

  /** LSM-style delta commit: persist ONLY the delta payload (new rows /
    * retirement keys — whatever the domain's fold consumes) as the next
    * version, chained onto the current one via a `_DELTA` base pointer.
    * The write is O(delta) where [[save]] rewrites the full state — the
    * difference between a CDC ingest bump paying for its delta and
    * paying corpus-state write amplification on every bump. Readers go
    * through [[loadChain]] (a [[load]] against a delta head fails fast);
    * the FOLD semantics — which tombstone table anti-joins which state
    * table, what unions in — belong to the domain (see
    * [[DedupStream.foldPairChain]]). Fold cost is read-side and lazy:
    * the chain is parquet scans under the consuming query's plan. Bound
    * the chain with a periodic [[save]] of the folded state (compaction
    * — [[chainLength]] tells you when), which prunes the chain. Delta
    * tables are delta-sized, so each is written flat as one file: a
    * partitioned layout, or one file per task, would only multiply the
    * small files every later chain read lists and opens. */
  def saveDelta(dir: String, tables: Map[String, DataFrame]): Long =
    commit(dir, tables, delta = true)

  /** Number of delta versions stacked on the current chain's snapshot —
    * 0 when the current version is itself a snapshot; the compaction
    * trigger input. */
  def chainLength(spark: SparkSession, dir: String): Int =
    ArtifactStore.currentVersion(spark, dir)
      .map(v => chainOf(spark, dir, v).length - 1).getOrElse(0)

  /** The committed chain: the snapshot version's tables (names in
    * `snapshotNames`) plus each delta version's tables (`deltaNames`) in
    * commit order, for the domain to fold. None if nothing committed. */
  def loadChain(
      spark: SparkSession,
      dir: String,
      snapshotNames: Seq[String],
      deltaNames: Seq[String]): Option[(Map[String, DataFrame], Seq[Map[String, DataFrame]])] =
    ArtifactStore.currentVersion(spark, dir).map { v =>
      val chain = chainOf(spark, dir, v)
      (read(spark, dir, chain.head, snapshotNames),
        chain.tail.map(read(spark, dir, _, deltaNames)))
    }

  /** One shared pool for the overlapped commit writes — per-commit pool
    * churn created 9+ executors per CDC chain entry, and a shared pool is
    * also what makes the drain discipline below (await EVERY write before
    * propagating a failure) straightforward. Daemon threads: the pool
    * must never hold the JVM open past SparkContext teardown. */
  private lazy val writePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(4,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"statestore-commit-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** A delta table is delta-sized: one file, not one per task. A frame
    * that reads no files — built from driver rows and pinned frames,
    * whose rows are already computed — coalesces to one task, the one
    * writer a single file needs anyway. A frame that scans files may scan
    * corpus-sized state to produce its few rows (a filter or a join over
    * the carried state), so it goes through one small shuffle and the
    * scan keeps its parallelism. */
  private def oneFile(df: DataFrame): DataFrame =
    if (df.queryExecution.analyzed.collectLeaves().forall {
          case _: LocalRelation | _: LogicalRDD => true
          case _ => false
        }) df.coalesce(1)
    else df.repartition(1)

  private def commit(
      dir: String,
      tables: Map[String, DataFrame],
      delta: Boolean,
      partitions: Map[String, Seq[String]] = Map.empty): Long = {
    require(tables.nonEmpty, "cannot checkpoint an empty table set")
    val spark = tables.head._2.sparkSession
    val fs = ArtifactStore.fsOf(spark, dir)
    val prev = ArtifactStore.currentVersion(spark, dir)
    require(!delta || prev.isDefined, "a delta commit needs a base version")
    val (next, vdir) = ArtifactStore.claimVersion(spark, dir)

    // state tables into the claimed directory; a delta also records
    // its base version — the chain pointer loadChain walks. Written
    // BEFORE the _COMMITTED marker, so a committed delta always has its
    // base. The writes are INDEPENDENT (distinct paths under the claimed
    // version dir) and mostly delta-sized, so they run overlapped from a
    // small thread pool — Spark's scheduler back-fills the tail of one
    // write's job with the next's tasks (guide §2.6); sequentially each
    // small write paid its full job latency end-to-end (measured: a
    // 9-table delta commit spent 2.8 s, ~0.3 s/table, almost all
    // scheduling floor). The _COMMITTED marker is created only after
    // EVERY write completes, so the crash contract is unchanged.
    {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.util.{Success, Try}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(writePool)
      val writes: Seq[(String, Future[Try[Unit]])] = tables.toSeq.map { case (name, df) =>
        name -> Future {
          val path = s"$vdir/$name.parquet"
          partitions.getOrElse(name, Seq.empty) match {
            case Seq() => (if (delta) oneFile(df) else df).write.mode("overwrite").parquet(path)
            case cols =>
              // Cluster on the partition key first: without it every
              // write task fans out one file into every partition
              // directory (tasks × partitions small files, and the scan
              // overhead eats the pruning win).
              df.repartition(cols.map(org.apache.spark.sql.functions.col): _*)
                .write.mode("overwrite").partitionBy(cols: _*).parquet(path)
              // a hive-partitioned write of an EMPTY frame emits no data
              // files at all, so the read-back cannot infer a schema —
              // detect that from the written directory (data lands in
              // `col=value/` subdirectories; an empty write leaves only
              // _SUCCESS) and fall back to a plain (metadata-only)
              // parquet file. One FS listing instead of the old isEmpty
              // pre-probe, which was an extra Spark job per partitioned
              // table on the hot CDC path.
              if (!fs.listStatus(new HPath(path)).exists(_.isDirectory))
                df.write.mode("overwrite").parquet(path)
          }
        }.transform(Success(_))
      }
      // Drain discipline: await EVERY write to completion before
      // propagating the first failure. `Future.sequence` returned at the
      // FIRST failed write while sibling write jobs kept running —
      // orphaned jobs racing SparkContext teardown are exactly the
      // "Task rejected from ThreadPoolExecutor[Terminated]" flake.
      val results = writes.map { case (name, f) =>
        name -> Await.result(f, scala.concurrent.duration.Duration.Inf)
      }
      results.foreach { case (name, r) =>
        r.recover { case e =>
          throw new RuntimeException(s"state write of '$name' failed", e)
        }.get
      }
    }
    // the read schemas: a hive-partitioned table reads back with its
    // partition columns last, typed as written (inference would narrow them)
    ArtifactStore.writeText(spark, s"$vdir/_SCHEMA", tables.toSeq.sortBy(_._1).map {
      case (name, df) =>
        val cols = partitions.getOrElse(name, Seq.empty)
        val schema = StructType(
          df.schema.filterNot(f => cols.contains(f.name)) ++ cols.map(df.schema(_)))
        s"$name\t${schema.json}"
    }.mkString("\n"))
    if (delta) ArtifactStore.writeText(spark, s"$vdir/_DELTA", prev.get.toString)
    ArtifactStore.publish(spark, dir, vdir)
    // prune: a SNAPSHOT commit retires the previous chain — delete
    // everything older than the previous version's chain START, so
    // in-flight readers mid-walk over that chain stay whole for one more
    // cycle (for all-snapshot stores this is exactly the "keep one prior
    // version" rule). A DELTA commit prunes nothing: every version back
    // to its snapshot IS the live state.
    if (!delta) prev.foreach(p =>
      ArtifactStore.pruneBelow(spark, dir, chainOf(spark, dir, p).head))
    next
  }

  /** Read the committed state tables, None if no version was ever committed.
    * Fails fast if the head version is a delta — a chained store must be
    * read through [[loadChain]] (reading a delta's tables as if they were
    * the full state would silently serve a fragment). */
  def load(spark: SparkSession, dir: String, names: Seq[String]): Option[Map[String, DataFrame]] =
    ArtifactStore.currentVersion(spark, dir).map { v =>
      if (baseOf(spark, dir, v).isDefined)
        throw new IllegalStateException(
          s"$dir head v$v is a delta — read the chain via loadChain")
      read(spark, dir, v, names)
    }

  /** Physical path of `name`'s parquet in the CURRENT committed version —
    * for serving layers that resolve relations by path (the Preagg
    * router's summary TableDef). Re-resolve after each save; a plan still
    * holding the previous version's path survives one save cycle (the
    * prune contract). */
  def currentTablePath(spark: SparkSession, dir: String, name: String): Option[String] =
    ArtifactStore.committedTablePath(spark, dir, name)

  // ------------------------------------------------- typed wrappers

  def savePairState(dir: String, s: DedupStream.PairState): Long =
    save(dir, Map("grams" -> s.grams, "pairs" -> s.pairs))

  def loadPairState(spark: SparkSession, dir: String): Option[DedupStream.PairState] =
    load(spark, dir, Seq("grams", "pairs")).map(m =>
      DedupStream.PairState(m("grams"), m("pairs")))

  def saveSemState(dir: String, s: SemDedupStream.SemState): Long =
    save(dir, Map("members" -> s.members, "edges" -> s.edges))

  def loadSemState(spark: SparkSession, dir: String): Option[SemDedupStream.SemState] =
    load(spark, dir, Seq("members", "edges")).map(m =>
      SemDedupStream.SemState(m("members"), m("edges")))
}
