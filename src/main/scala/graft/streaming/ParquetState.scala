package graft.streaming

import graft.ops.{LocalFs, TableSwap}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** Parquet-backed streaming state, and the ONE exactly-once protocol
  * every whole-state streaming twin folds through ([[fold]]).
  *
  * A twin's state is one parquet relation holding row KINDS: its data
  * rows (one or more kinds, e.g. 'c' cells) and applied-batch marker
  * rows (kind = 'b', `batch_id` set, every data column null), declared
  * by one DDL that always carries `kind STRING` and `batch_id BIGINT`.
  * Data and markers republish together through one crash-safe
  * [[TableSwap]], so under at-least-once delivery a batch is either
  * fully folded (its marker present ⇒ a replay is a provable no-op) or
  * not at all (marker absent ⇒ the replay folds it).
  *
  * RECOVER BEFORE EVERY READ. The swap's delete → rename has a window
  * in which the state dir is missing and the committed new state sits
  * in the swap temp dir. Reading in that window sees NO state: a fold
  * would merge onto empty (losing everything accumulated) and miss the
  * markers (re-applying batches already folded), and a read accessor
  * would report an empty state. [[fold]], [[rows]] and [[republish]]
  * therefore finish any interrupted swap before they read.
  *
  * The bucketed layout ([[BucketedState]]) keeps its own per-bucket
  * staging but shares the marker row, the applied check and the
  * conform step defined here. Existence probes go through the Hadoop
  * FileSystem API (a java.io.File check is false for every non-local
  * scheme); recover and the probes are metadata calls, not Spark jobs.
  * Handles come from [[LocalFs.fsOf]] and state writes go through
  * [[LocalFs.write]], so a local state's files are created without a
  * forked `chmod` each.
  */
private[graft] object ParquetState {

  def exists(spark: SparkSession, dir: String): Boolean =
    LocalFs.fsOf(spark, dir).exists(new Path(dir))

  /** Read a parquet state directory, or an empty relation of the
    * declared schema when it does not exist yet. The schema is ALWAYS
    * declared on the read: an existing-but-EMPTY directory (e.g. a
    * pre-created index root) must read as zero rows, not fail parquet
    * schema inference. Does not recover — see [[rows]]. */
  def readOrEmpty(spark: SparkSession, path: String, ddl: String): DataFrame =
    if (exists(spark, path)) spark.read.schema(StructType.fromDDL(ddl)).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType.fromDDL(ddl))

  /** The whole-table swap: recover an interrupted swap of `dir`, then
    * evaluate `build` (so it reads the recovered table), write its
    * result to the swap temp dir and publish it over `dir`. `build`
    * returning None leaves the table untouched; the result says
    * whether a publish happened. */
  def republish(spark: SparkSession, dir: String)(build: => Option[DataFrame]): Boolean = {
    val fs = recovered(spark, dir)
    build.fold(false) { df =>
      LocalFs.write(df).mode("overwrite").parquet(TableSwap.tmpPath(dir).toString)
      TableSwap.publish(fs, new Path(dir), TableSwap.tmpPath(dir))
      true
    }
  }

  /** Finish an interrupted swap of `dir` (two metadata probes when
    * there is nothing to finish); returns the dir's FileSystem. */
  private def recovered(spark: SparkSession, dir: String): FileSystem = {
    val fs = LocalFs.fsOf(spark, dir)
    TableSwap.recover(fs, new Path(dir), TableSwap.tmpPath(dir))
    fs
  }

  /** Fold one micro-batch into the whole state at `stateDir`: recover,
    * read (empty state of the DDL when absent), return false when
    * `batchId`'s marker is present, else hand the non-marker rows to
    * `merge`, conform its output to the DDL ([[conform]]), append the
    * old markers plus `batchId`'s, and publish. `merge` returns the
    * COMPLETE new data rows of every kind, each with its `kind`. */
  def fold(spark: SparkSession, stateDir: String, ddl: String, batchId: Long)(
      merge: DataFrame => DataFrame): Boolean = {
    val schema = StructType.fromDDL(ddl)
    republish(spark, stateDir) {
      val st = readOrEmpty(spark, stateDir, ddl)
      if (applied(st, batchId)) None
      else Some(conform(merge(st.filter(col("kind") =!= "b")), schema)
        .unionByName(st.filter(col("kind") === "b"))
        .unionByName(markerRow(spark, schema, batchId)))
    }
  }

  /** The `kind` rows of the state at `stateDir` (recovered first),
    * data columns only. */
  def rows(spark: SparkSession, stateDir: String, ddl: String, kind: String): DataFrame = {
    recovered(spark, stateDir)
    ofKind(readOrEmpty(spark, stateDir, ddl), kind)
  }

  /** The `kind` rows of a state relation without `kind` and
    * `batch_id`, the other columns in DDL order. */
  def ofKind(st: DataFrame, kind: String): DataFrame =
    st.filter(col("kind") === kind).drop("kind", "batch_id")

  /** True when `st` holds `batchId`'s marker. One job: `isEmpty`
    * limits every partition and gathers them in the same job, where
    * `limit(1).count()` runs two under AQE and `head(1)` runs a second
    * when the first partition holds no marker. */
  def applied(st: DataFrame, batchId: Long): Boolean =
    !st.filter(col("kind") === "b" && col("batch_id") === batchId).isEmpty

  /** One marker row of `schema`: kind = 'b', `batch_id`, the `fixed`
    * columns as given, every other column null. */
  def markerRow(spark: SparkSession, schema: StructType, batchId: Long,
      fixed: (String, Any)*): DataFrame = {
    val values = (fixed :+ ("kind" -> "b") :+ ("batch_id" -> batchId)).toMap
    spark.createDataFrame(java.util.Arrays.asList(
      Row.fromSeq(schema.fieldNames.toIndexedSeq.map(values.getOrElse(_, null)))), schema)
  }

  /** `df` as rows of `schema`: columns in schema order, cast to the
    * declared types, absent ones as typed nulls. A column the schema
    * lacks, or no `kind` column, is a bug in the merge and fails. */
  def conform(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.columns.toSet
    df.columns.find(c => !schema.fieldNames.contains(c)).foreach { c =>
      throw new IllegalArgumentException(
        s"state merge returned column `$c`, which the state DDL lacks: ${schema.toDDL}")
    }
    require(have("kind"), s"state merge returned no `kind` column: ${df.columns.mkString(", ")}")
    df.select(schema.fields.toIndexedSeq.map { f =>
      (if (have(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    }: _*)
  }
}
