package graft

import java.nio.file.{Files, Paths}

import graft.ops.Checkpoints
import graft.queries.Graph
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Pins [[Checkpoints.cut]], the parquet write and re-read that cuts
  * the lineage of the unbounded driver loops: the cut keeps its rows
  * when its input's files change, round-trips every column shape the
  * loops could carry, [[Checkpoints.drop]] deletes only a cut's own
  * files, and only the loops that call `cut` write under the
  * checkpoint directory.
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def ckptDir: String = spark.conf.get(Checkpoints.DirKey)

  /** The directory a cut result scans. */
  private def scanDir(df: org.apache.spark.sql.DataFrame): java.nio.file.Path =
    Paths.get(new java.net.URI(df.inputFiles.head)).getParent

  test("cut severs lineage: overwriting the input's files leaves the cut's rows") {
    val src = tmpDir("ckpt-src") + "/t"
    Seq(1L, 2L, 3L).toDF("id").write.parquet(src)
    val c = Checkpoints.cut(spark.read.parquet(src))
    Seq(7L, 8L).toDF("id").write.mode("overwrite").parquet(src)
    c.as[Long].collect().sorted.toSeq shouldBe Seq(1L, 2L, 3L)
    Checkpoints.drop(c)
  }

  test("cut writes under the checkpoint dir; drop deletes only a cut's own files") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val c = Checkpoints.cut(df)
    val dir = scanDir(c)
    dir.getParent.toString shouldBe new java.io.File(ckptDir).getPath
    Files.exists(dir) shouldBe true
    Checkpoints.drop(c)
    Files.exists(dir) shouldBe false

    // a local checkpoint has no files: drop leaves it readable
    val lc = df.localCheckpoint(true)
    Checkpoints.drop(lc)
    lc.count() shouldBe 2L

    // a scan of source files is never the caller's to delete
    val src = tmpDir("ckpt-keep") + "/t"
    df.write.parquet(src)
    val scan = spark.read.parquet(src)
    Checkpoints.drop(scan)
    Files.exists(Paths.get(src)) shouldBe true
    scan.count() shouldBe 2L
  }

  test("schemas round-trip: nulls, DECIMAL(18,2), arrays, structs, empty relations") {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("amt", DecimalType(18, 2)),
      StructField("tags", ArrayType(StringType)),
      StructField("s", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType))))))
    val rows = Seq(
      Row(1L, "x", new java.math.BigDecimal("1234567890123456.78"), Seq("p", null), Row(1, "q")),
      Row(2L, null, null, null, null),
      Row(3L, "", new java.math.BigDecimal("-0.01"), Seq.empty[String], Row(null, null)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val c = Checkpoints.cut(df)
    c.schema shouldBe schema
    c.orderBy("id").collect().toSeq shouldBe rows
    Checkpoints.drop(c)

    val empty = Checkpoints.cut(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))
    empty.schema shouldBe schema
    empty.isEmpty shouldBe true
    Checkpoints.drop(empty)
  }

  test("cuts are per call site: after a connected-components run, triangleStats writes nothing") {
    Graph.connectedComponents(Seq((1L, 2L), (2L, 3L)).toDF("a", "b")).collect()
    def entries() = new java.io.File(ckptDir).list().length
    val before = entries()
    before should be > 0
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("x", "y")
    writesBy(Graph.triangleStats(k4).collect()) shouldBe empty
    entries() shouldBe before
    Checkpoints.releaseAll(spark)
  }
}
