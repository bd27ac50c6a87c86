package graft

import graft.queries.Graph

/** The connected-components kernel behind q55: min-label propagation
  * with pointer doubling over an undirected pair list. The gate checks
  * q55 end-to-end against a recursive-CTE oracle; this spec pins the
  * kernel on adversarial topologies the corpus graph may not exhibit —
  * long chains (where pointer doubling earns its keep), reversed and
  * duplicated edges, self-loops, and multiple components.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def cc(pairs: (Long, Long)*): Map[Long, Long] =
    Graph.connectedComponents(pairs.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap

  test("a long chain collapses to its minimum node id") {
    val chain = (1L until 16L).map(i => (i, i + 1))
    cc(chain: _*) shouldBe (1L to 16L).map(_ -> 1L).toMap
  }

  test("multiple components, reversed and duplicate edges, self-loops") {
    val got = cc((5L, 2L), (2L, 5L), (2L, 9L), (9L, 9L), // {2,5,9} -> 2
      (30L, 40L), (40L, 30L), // {30,40} -> 30
      (7L, 7L)) // self-loop only: singleton component
    got shouldBe Map(5L -> 2L, 2L -> 2L, 9L -> 2L, 30L -> 30L, 40L -> 30L, 7L -> 7L)
  }

  test("star and bridge topologies: min label crosses the bridge") {
    // two stars centered at 10 and 50, bridged by (19, 51): one component
    val starA = (11L to 19L).map(i => (10L, i))
    val starB = (51L to 59L).map(i => (50L, i))
    val got = cc(starA ++ starB :+ (19L, 51L): _*)
    got.values.toSet shouldBe Set(10L)
    got.keySet shouldBe ((10L to 19L) ++ (50L to 59L)).toSet
  }

  test("empty pair list yields an empty labeling") {
    cc() shouldBe empty
  }

  private def ccBlocked(pairs: (String, Long, Long)*): Map[Long, Long] =
    Graph.connectedComponentsBlocked(pairs.toDF("block", "a", "b"))
      .as[(Long, Long)].collect().toMap

  test("blocked CC agrees with generic CC when no edge crosses a block") {
    // three brands, each with its own chain/star/self-loop topology;
    // ids deliberately non-monotone along the chains
    val blocked = Seq(
      ("B1", 9L, 4L), ("B1", 4L, 11L), ("B1", 11L, 2L), // chain, min inside
      ("B2", 20L, 25L), ("B2", 20L, 23L), ("B2", 23L, 25L), // triangle
      ("B3", 31L, 31L), // self-loop singleton
      ("B3", 35L, 33L), ("B3", 33L, 35L)) // duplicate + reversed
    val generic = cc(blocked.map(t => (t._2, t._3)): _*)
    ccBlocked(blocked: _*) shouldBe generic
    generic shouldBe Map(9L -> 2L, 4L -> 2L, 11L -> 2L, 2L -> 2L,
      20L -> 20L, 25L -> 20L, 23L -> 20L,
      31L -> 31L, 35L -> 33L, 33L -> 33L)
  }

  test("blocked CC: a long within-block chain closes in the one pass") {
    // 200-node chain with shuffled ids — the adversarial shape that
    // cost the old iterative CC ~28 global rounds
    val ids = scala.util.Random.shuffle((1L to 200L).toVector)
    val pairs = ids.sliding(2).map(w => ("B", w(0), w(1))).toSeq
    val got = ccBlocked(pairs: _*)
    got.values.toSet shouldBe Set(1L)
    got.keySet shouldBe (1L to 200L).toSet
  }

  test("generic CC (contraction): shuffled long chain and nested components") {
    val ids = scala.util.Random.shuffle((101L to 228L).toVector)
    val chain = ids.sliding(2).map(w => (w(0), w(1))).toSeq
    val got = cc(chain :+ (500L, 501L): _*)
    got.filter(_._1 <= 228L).values.toSet shouldBe Set(101L)
    got(500L) shouldBe 500L
    got(501L) shouldBe 500L
  }

  test("q90b conserves rank mass; q90 (dropped dangling mass) does not") {
    val dir = "/root/testdata/sf0.001"
    val massB = Graph.q90bPageRankMass(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("rank_e9")).as[Long].first()
    // ranks are an e9-scaled probability distribution: Σ rank_e9 ≈ 1e9
    val total = 1000000000L
    // conservation up to integer floor losses: each of the two
    // iterations floors once per edge (rank div deg), once per node
    // (85·x div 100, base), once for the share — a loss far under
    // 0.1% of total mass at any sf
    math.abs(massB - total).toDouble / total should be < 0.001
    // the plain q90 leaks the sinks' damped mass — strictly below
    val massA = Graph.q90PageRank(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("rank_e9")).as[Long].first()
    massA should be < (total * 9 / 10)
  }

  test("durable-checkpoint mode (spark.graft.checkpointDir) agrees with local mode") {
    // the conf names where cuts go; the labels are the same wherever
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val expected = Map(5L -> 2L, 2L -> 2L, 9L -> 2L, 30L -> 30L, 40L -> 30L)
    spark.conf.set(graft.ops.Checkpoints.DirKey, dir)
    try {
      cc((5L, 2L), (2L, 9L), (30L, 40L)) shouldBe expected
      // the cuts wrote their parquet files under the dir
      def files() = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      files() should be > 0L
      // owner-drawn boundary: cut files are not GC'd by Spark,
      // releaseAll reclaims them once no cut DF is still read
      graft.ops.Checkpoints.releaseAll(spark)
      files() shouldBe 0L
    } finally spark.conf.unset(graft.ops.Checkpoints.DirKey)
  }

  test("Checkpoints.memo builds once per (session, key) and resets at releaseAll") {
    var builds = 0
    def build() = {
      builds += 1
      Graph.connectedComponents(Seq((1L, 2L)).toDF("a", "b"))
    }
    val a = graft.ops.Checkpoints.memo(spark, "memo-spec-key")(build())
    val b = graft.ops.Checkpoints.memo(spark, "memo-spec-key")(build())
    builds shouldBe 1 // second call served from the memo, no rebuild
    (a eq b) shouldBe true
    a.as[(Long, Long)].collect().toMap shouldBe Map(1L -> 1L, 2L -> 1L)
    // the releaseAll boundary clears the memo BEFORE deleting files, so
    // a later call rebuilds instead of serving a plan over dead files
    graft.ops.Checkpoints.releaseAll(spark)
    val c = graft.ops.Checkpoints.memo(spark, "memo-spec-key")(build())
    builds shouldBe 2
    c.as[(Long, Long)].collect().toMap shouldBe Map(1L -> 1L, 2L -> 1L)
  }
}
