package graft

import graft.streaming.ParquetState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StringType}

/** The whole-state fold's own contract, over a toy keyed-count state:
  * the merge's output is conformed to the DDL (absent columns as typed
  * nulls, DDL column order, unknown or missing `kind` columns
  * rejected by name), a replay is refused without touching a file, and
  * every marker row is null in every data column.
  */
class ParquetStateSpec extends SparkSpec {
  import spark.implicits._

  private val Ddl = "kind STRING, k STRING, n BIGINT, d DATE, batch_id BIGINT"

  /** Keyed counts: old 'c' rows plus the batch's keys, summed. The
    * columns come out in a non-DDL order and without `d`. */
  private def countMerge(keys: Seq[String])(st: DataFrame): DataFrame =
    ParquetState.ofKind(st, "c").select("k", "n")
      .unionByName(keys.toDF("k").groupBy("k").agg(count(lit(1)).as("n")))
      .groupBy("k").agg(sum(col("n")).as("n"))
      .select(col("n"), lit("c").as("kind"), col("k"))

  private def fold(dir: String, id: Long, keys: String*): Boolean =
    ParquetState.fold(spark, dir, Ddl, id)(countMerge(keys))

  private def listing(dir: String): Seq[(String, Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val files = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listFiles(root, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
  }

  test("absent columns come back as typed nulls, written in DDL order") {
    val dir = tmpDir("ps-conform")
    fold(dir, 0L, "a", "b", "a") shouldBe true
    val onDisk = spark.read.parquet(dir)
    onDisk.columns.toSeq shouldBe Seq("kind", "k", "n", "d", "batch_id")
    onDisk.schema.map(_.dataType) shouldBe
      Seq(StringType, StringType, LongType, DateType, LongType)
    onDisk.filter(col("kind") === "c").select("k", "n", "d", "batch_id")
      .collect().map(_.toSeq).toSet shouldBe
      Set(Seq("a", 2L, null, null), Seq("b", 1L, null, null))
    ParquetState.rows(spark, dir, Ddl, "c").columns.toSeq shouldBe
      Seq("k", "n", "d")
  }

  test("a merge returning a column the DDL lacks fails, naming the column") {
    val dir = tmpDir("ps-unknown")
    val e = intercept[IllegalArgumentException] {
      ParquetState.fold(spark, dir, Ddl, 0L)(
        st => countMerge(Seq("a"))(st).withColumn("extra", lit(1L)))
    }
    e.getMessage should include("`extra`")
    listing(dir) shouldBe empty
  }

  test("a merge returning no kind column fails, naming kind") {
    val dir = tmpDir("ps-no-kind")
    val e = intercept[IllegalArgumentException] {
      ParquetState.fold(spark, dir, Ddl, 0L)(
        st => countMerge(Seq("a"))(st).drop("kind"))
    }
    e.getMessage should include("`kind`")
    listing(dir) shouldBe empty
  }

  test("a replay returns false and leaves every state file as it was") {
    val dir = tmpDir("ps-replay")
    fold(dir, 0L, "a") shouldBe true
    fold(dir, 1L, "b") shouldBe true
    val before = listing(dir)
    before should not be empty
    fold(dir, 0L, "a") shouldBe false
    fold(dir, 1L, "b") shouldBe false
    listing(dir) shouldBe before
    ParquetState.rows(spark, dir, Ddl, "c").select("k", "n")
      .collect().map(_.toSeq).toSet shouldBe Set(Seq("a", 1L), Seq("b", 1L))
  }

  test("every marker row carries nulls in every data column") {
    val dir = tmpDir("ps-markers")
    fold(dir, 0L, "a") shouldBe true
    fold(dir, 7L, "b") shouldBe true
    val markers = spark.read.parquet(dir).filter(col("kind") === "b")
    markers.select("batch_id").as[Long].collect().sorted shouldBe Array(0L, 7L)
    markers.select("k", "n", "d").collect().map(_.toSeq).toSeq shouldBe
      Seq(Seq(null, null, null), Seq(null, null, null))
  }

  test("fold and rows recover an interrupted swap before they read") {
    val dir = tmpDir("ps-crash")
    fold(dir, 0L, "a") shouldBe true
    crashMidSwap(dir)
    ParquetState.rows(spark, dir, Ddl, "c").select("k", "n")
      .collect().map(_.toSeq).toSeq shouldBe Seq(Seq("a", 1L))
    crashMidSwap(dir)
    fold(dir, 0L, "a") shouldBe false
    crashMidSwap(dir)
    fold(dir, 1L, "a") shouldBe true
    ParquetState.rows(spark, dir, Ddl, "c").select("k", "n")
      .collect().map(_.toSeq).toSeq shouldBe Seq(Seq("a", 2L))
    markerRows(dir) shouldBe 2
  }
}
