package graft.ops

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** File-backed lineage cuts for unbounded driver loops.
  *
  * [[cut]] writes a relation as parquet under the checkpoint directory
  * and returns a fresh scan of those files. Why a file and not
  * `localCheckpoint`: a local checkpoint truncates the visible
  * dependency graph, but each round's blocks still chain references to
  * the previous round's RDD objects, and with 3–4 references per round
  * the driver-side walk grows ~4× per round. Measured on the q144
  * connected-components loop: round times doubled from ~round 18
  * (0.4 s → 170 s by round 25) on both a 20k-node graph and a
  * synthetic 1M-node chain, whatever the data size. A scan of written
  * files starts a new RDD chain: cut to files (RDD reliable
  * checkpoints at the time), the same 28-round loop ran flat (~35 s
  * total). Loops with a small, fixed number of rounds call
  * `localCheckpoint` directly.
  *
  * The directory is [[DirKey]] when the session sets it (cluster
  * storage on a cluster, where the files also survive executor loss);
  * otherwise a per-session temp directory, created on first use and
  * deleted at JVM exit. The key names a location only.
  *
  * Spark never reclaims these files. [[drop]] deletes one cut's files
  * once its caller no longer reads them; the session owner calls
  * [[releaseAll]] at a boundary where no cut relation is still read —
  * the same contract as [[SharedCache.releaseAll]].
  */
object Checkpoints {
  /** Session conf key: the directory [[cut]] writes under. */
  val DirKey = "spark.graft.checkpointDir"

  // Intra-run memo for driver-loop fixpoint PRODUCTS (the CC
  // labelings): SharedCache's plan canonicalization cannot share them
  // across invocations because every run cuts to FRESH files (a scan
  // of a new directory is never canonically equal to the last one),
  // so without a memo every consumer query re-runs the whole driver
  // recursion — even in shared mode, where the pair relation
  // underneath is already cached. Entries die ONLY via [[releaseAll]]
  // or process exit, so a long-lived multi-session driver MUST
  // releaseAll a session before abandoning it. Key = caller-chosen
  // (operator, input dir); cleared by [[releaseAll]] — the SAME
  // boundary that deletes the files a memoized plan reads, so a stale
  // entry can never serve deleted files and isolate-mode per-query
  // attribution stays honest (graft.Bench calls releaseAll between
  // queries in isolate mode).
  private val memos = new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, DataFrame]]()

  /** Memoize an expensive fixpoint product for the life of the run
    * (until [[releaseAll]]). `build` runs at most once per (session,
    * key); the result MUST be an eagerly materialized (cut) relation
    * whose files only [[releaseAll]] reclaims — never one the caller
    * later [[drop]]s. */
  def memo(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memos.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, DataFrame]())
      .computeIfAbsent(key, _ => build)

  /** The session's checkpoint directory, defaulting [[DirKey]] to a
    * fresh temp directory on first use. */
  private def dirOf(spark: SparkSession): String = spark.synchronized {
    spark.conf.getOption(DirKey).filter(_.nonEmpty).getOrElse {
      // a driver-local temp default is only sound when the driver IS
      // the executor: on a multi-node master each executor would
      // write file:/tmp on its OWN disk and the driver's read would
      // miss their files — fail loudly instead
      require(spark.sparkContext.isLocal,
        s"cut needs a checkpoint dir on cluster storage (HDFS/object store): set $DirKey")
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-")
      // whatever drop/releaseAll missed dies with the JVM
      sys.addShutdownHook {
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => () }
      }
      spark.conf.set(DirKey, dir.toString)
      dir.toString
    }
  }

  /** Write `df` once and return a scan of what was written: eager, and
    * its lineage starts at the files. The read takes `df`'s schema, so
    * it starts no inference job. */
  def cut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val path = new Path(dirOf(s), UUID.randomUUID().toString).toString
    LocalFs.write(df).parquet(path)
    s.read.schema(df.schema).parquet(path)
  }

  /** The directory a [[cut]] result scans: the single root of a file
    * relation directly under the session's checkpoint directory. None
    * for anything else — a local checkpoint, a scan of source files. */
  private def cutDir(df: DataFrame): Option[Path] = {
    val s = df.sparkSession
    for {
      dir <- s.conf.getOption(DirKey).filter(_.nonEmpty)
      root <- df.queryExecution.analyzed match {
        case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths.headOption
        case _ => None
      }
      if root.getParent == LocalFs.fsOf(s, dir).makeQualified(new Path(dir))
    } yield root
  }

  /** Delete the files behind superseded [[cut]] results — the
    * per-round boundary of an iterative loop: once round N+1 is
    * materialized, round N's files are dead weight, and a 30-round CC
    * run would otherwise hold 30 copies of the label table on disk.
    * The caller asserts nothing will read these DataFrames again.
    * No-op per df that is not a cut result. */
  def drop(dfs: DataFrame*): Unit =
    dfs.foreach { df =>
      cutDir(df).foreach(p => LocalFs.fsOf(df.sparkSession, p.toString).delete(p, true))
    }

  /** Delete everything under the checkpoint directory. Call ONLY at a
    * boundary where no cut relation from this session is still
    * consumed — a cut's plan READS these files; this is the
    * owner-drawn end-of-stage boundary, exactly like
    * [[SharedCache.releaseAll]]. No-op when [[DirKey]] is unset or
    * the directory does not exist. */
  def releaseAll(spark: SparkSession): Unit = {
    // memo entries read the files deleted below — drop them FIRST
    memos.remove(spark)
    spark.conf.getOption(DirKey).filter(_.nonEmpty).foreach { dir =>
      val path = new Path(dir)
      val fs = LocalFs.fsOf(spark, dir)
      if (fs.exists(path)) {
        fs.listStatus(path).foreach(st => fs.delete(st.getPath, true))
      }
    }
  }
}
