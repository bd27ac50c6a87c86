package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for iterative / self-referencing plans, with a
  * durability switch.
  *
  * `localCheckpoint()` materializes to executor block storage — the
  * right default on local[*] where the single JVM cannot lose an
  * executor, but the blocks die with their executor, so on a real
  * cluster a lost node aborts the whole iterative job (there is no
  * lineage left to recompute from). Setting
  * `spark.graft.checkpointDir` to a durable path (HDFS / object
  * store) routes [[cut]] through reliable `checkpoint()` instead:
  * partitions are written to that path, survive executor loss, and
  * the scheduler re-reads rather than re-derives them. The conf is
  * read per call — both the mode and the directory — so one session
  * can run both modes (tests do) and a storage rotation mid-session
  * takes effect on the next cut.
  *
  * Two durable-mode disciplines callers must know:
  *  - reliable `checkpoint()` on a cold plan runs the job twice (one
  *    eager materialization + one re-run for the file write,
  *    SPARK-8582), so [[cut]] persists the input first and unpersists
  *    after — each partition computes once, the write job reads the
  *    cache;
  *  - checkpoint files are NOT reclaimed by default
  *    (`spark.cleaner.referenceTracking.cleanCheckpoints` is false):
  *    a long session of iterative cuts accumulates them without
  *    bound. The session owner calls [[releaseAll]] at a boundary
  *    where no checkpointed DataFrame is still being read — the same
  *    contract as [[SharedCache.releaseAll]] — or enables the Spark
  *    GC-driven cleaner conf for best-effort reclamation.
  */
object Checkpoints {
  /** Session conf key; when set, [[cut]] checkpoints durably here. */
  val DirKey = "spark.graft.checkpointDir"

  // Intra-run memo for driver-loop fixpoint PRODUCTS (the CC
  // labelings): SharedCache's plan canonicalization cannot share them
  // across invocations because every run cuts to FRESH checkpoint
  // files (a new LogicalRDD is never canonically equal to the last
  // one), so without a memo every consumer query re-runs the whole
  // driver recursion — even in shared mode, where the pair relation
  // underneath is already cached. Session-scoped; the map's weak keys
  // can never actually collect (r14 verdict item: each memoized
  // DataFrame strongly references its SparkSession through
  // queryExecution, so every key is reachable from its own value) —
  // entries die ONLY via [[releaseAll]] or process exit, and a
  // long-lived multi-session driver MUST releaseAll a session before
  // abandoning it. Key = caller-chosen
  // (operator, input dir); cleared by [[releaseAll]] — the SAME
  // boundary that deletes the files a memoized plan reads, so a stale
  // entry can never serve deleted files and isolate-mode per-query
  // attribution stays honest (graft.Bench calls releaseAll between
  // queries in isolate mode).
  private val memos = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]())

  /** Memoize an expensive fixpoint product for the life of the run
    * (until [[releaseAll]]). `build` runs at most once per (session,
    * key); the result MUST be an eagerly materialized (cut) relation
    * whose files only [[releaseAll]] reclaims — never one the caller
    * later [[drop]]s. */
  def memo(spark: org.apache.spark.sql.SparkSession, key: String)(
      build: => DataFrame): DataFrame =
    memos.computeIfAbsent(spark,
        _ => new java.util.concurrent.ConcurrentHashMap[String, DataFrame]())
      .computeIfAbsent(key, _ => build)

  /** Route this session's cuts through reliable file-backed
    * checkpoints, defaulting the directory to a per-session temp path
    * when the owner has not set one. UNBOUNDED iterative loops MUST
    * call this first: `localCheckpoint` truncates the visible
    * dependency graph, but each round's blocks still chain references
    * to the previous round's RDD objects, and with 3–4 references per
    * round the driver-side walk grows ~4× per round — measured on the
    * q144 connected-components loop as round times doubling from
    * ~round 18 (0.4s → 170s by round 25) on BOTH a 20k-node real graph
    * and a synthetic 1M chain, data size irrelevant. Reliable
    * checkpoints re-read files through a fresh scan RDD, severing the
    * chain: the same 28-round loop runs flat (~35s total). Bounded
    * small-round loops (q90's 2, q138's 4) are safe in local mode. */
  def ensureDurable(spark: org.apache.spark.sql.SparkSession): Unit =
    if (spark.conf.getOption(DirKey).forall(_.isEmpty)) {
      // a driver-local temp default is only sound when the driver IS
      // the executor: on a multi-node master each executor would
      // read/write file:/tmp on its OWN disk and the checkpoint is
      // silently not durable — fail loudly instead of corrupting
      require(spark.sparkContext.isLocal,
        s"unbounded iterative plans need a durable checkpoint dir on " +
          s"cluster storage (HDFS/object store): set $DirKey explicitly")
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-")
      // bound the accumulation for long-lived local sessions: whatever
      // per-loop reclamation (drop/releaseAll) missed dies with the JVM
      sys.addShutdownHook {
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      }
      spark.conf.set(DirKey, dir.toString)
    }

  /** Materialize `df` eagerly and truncate its lineage; durable iff
    * [[DirKey]] is set in the session conf, executor-local otherwise. */
  def cut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption(DirKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        // re-read per call: a changed conf re-points the context
        if (!s.sparkContext.getCheckpointDir.contains(dir))
          s.sparkContext.setCheckpointDir(dir)
        // persist-then-checkpoint: without the cache the eager
        // checkpoint computes every partition twice (SPARK-8582) —
        // silently, and only in the durable mode clusters use
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        try p.checkpoint()
        finally p.unpersist(blocking = false)
      case None => df.localCheckpoint()
    }
  }

  /** The reliable-checkpoint directory backing a [[cut]] result, when
    * it was cut in durable mode (a checkpointed Dataset's plan is a
    * LogicalRDD over the checkpointed RDD; local checkpoints have no
    * file). None for anything else — callers treat that as "nothing
    * to reclaim". */
  private def fileOf(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getCheckpointFile
      case _ => None
    }

  /** Reclaim the checkpoint files behind superseded [[cut]] results —
    * the per-round boundary of an iterative loop: once round N+1 is
    * materialized, round N's files are dead weight, and a 30-round CC
    * run would otherwise hold 30 copies of the label table on disk.
    * The caller asserts nothing will read these DataFrames again.
    * No-op per df when it has no reliable checkpoint file. */
  def drop(dfs: DataFrame*): Unit =
    dfs.foreach { df =>
      fileOf(df).foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        val fs = LocalFs.fsOf(df.sparkSession, f)
        if (fs.exists(path)) fs.delete(path, true)
      }
    }

  /** Delete everything under the durable checkpoint directory. Call
    * ONLY at a boundary where no checkpointed DataFrame from this
    * session is still consumed — a checkpointed plan READS these
    * files; this is the owner-drawn end-of-stage boundary, exactly
    * like [[SharedCache.releaseAll]]. No-op when [[DirKey]] is unset
    * or the directory does not exist. */
  def releaseAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    // memo entries read the files deleted below — drop them FIRST
    memos.remove(spark)
    spark.conf.getOption(DirKey).filter(_.nonEmpty).foreach { dir =>
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = LocalFs.fsOf(spark, dir)
      if (fs.exists(path)) {
        fs.listStatus(path).foreach(st => fs.delete(st.getPath, true))
      }
    }
  }
}
