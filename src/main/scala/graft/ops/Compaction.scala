package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-files compaction — the operational scale tool a landing/silver
  * layout needs: incremental runs and streaming micro-batches each
  * write a few files, and after thousands of runs a 100 TB table can
  * hide millions of kilobyte files whose open/seek overhead dominates
  * every scan. Compaction rewrites a parquet directory into
  * size-targeted files with a temp-write-then-swap (same crash
  * discipline as the SCD2 target swap: the old data survives any
  * failure before the final rename).
  */
object Compaction {

  /** Rewrite `path` into ceil(bytes/targetBytes) files. Returns the
    * file count written, or 0 if the directory holds no data files.
    * `coalesce` (not repartition) — compaction must not shuffle, it
    * just concatenates partitions; row order within files may change,
    * table contents never. */
  def compactParquet(spark: SparkSession, path: String, targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val dir = new Path(path)
    val fs = LocalFs.fsOf(spark, path)
    val tmp = TableSwap.tmpPath(path)
    // finish a swap interrupted between delete and rename by a prior
    // crashed compaction — tmp then holds the only copy of the table
    TableSwap.recover(fs, dir, tmp)
    if (!fs.exists(dir)) return 0
    val dataFiles = fs.listStatus(dir).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    if (dataFiles.isEmpty) return 0
    val total = dataFiles.map(_.getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)

    LocalFs.write(spark.read.parquet(path).coalesce(n)).mode("overwrite").parquet(tmp.toString)
    TableSwap.publish(fs, dir, tmp)
    n
  }
}
