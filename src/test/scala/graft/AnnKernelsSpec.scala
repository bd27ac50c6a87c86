package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pins the r15 fused ANN kernels (graft.functions.AnnKernels) against
  * the retired higher-order-function compositions they replaced: for
  * every kernel, the HOF form is rebuilt here VERBATIM (same
  * expressions the r14 query code used) and both are evaluated over
  * seeded pseudo-random vectors — including rounding .5 boundaries,
  * cosine ties, argmin ties, and the s2 = 0 NaN/∞ edge — and must
  * agree row for row. The DuckDB oracle re-gates the consumer queries
  * end to end; this spec localizes any disagreement to the kernel. */
class AnnKernelsSpec extends SparkSpec {

  VectorFunctions.register(spark)
  import spark.implicits._

  private val Dim = 8
  private val K = 4 // cells / codebook entries per subspace (small, exhaustive)
  private val Dsub = 2
  private val M = Dim / Dsub

  // seeded vectors; a few duplicated rows force cosine/argmin ties
  private def vecs(n: Int, seed: Int): Seq[(Long, Seq[Long])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val base = if (i >= 3 && i % 7 == 0) i - 1 else i // duplicate of predecessor
      val r = new scala.util.Random(seed ^ base)
      (i.toLong, Seq.fill(Dim)((r.nextInt(2001) - 1000).toLong))
    }
  }

  private def df(n: Int, seed: Int): DataFrame =
    vecs(n, seed).toDF("vec_id", "q")
      .withColumn("s2", VectorFunctions.dotLong(col("q"), col("q")))

  // the retired HOF cosE6 — verbatim from the r14 NearDup private
  private def cosE6(dot: Column, sa: Column, sb: Column): Column =
    round(lit(1e6) * dot.cast("double") /
      (sqrt(sa.cast("double")) * sqrt(sb.cast("double"))), 0).cast("long")

  private def subL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)

  test("RankCellsCos ≡ array_sort∘transform over the panel (incl. ties and s2=0)") {
    val base = df(64, 11)
    val cents = base.filter(col("vec_id") < K)
      .select(col("vec_id").as("c_id"), col("q").as("cq"), col("s2").as("cs2"))
    val panel = cents.agg(sort_array(collect_list(
      struct(col("c_id"), col("cq"), col("cs2")))).as("cents"))
    val rows = base.join(broadcast(panel))
    val hof = array_sort(transform(col("cents"), c =>
      struct((lit(0L) - cosE6(VectorFunctions.dotLong(col("q"), c.getField("cq")),
        col("s2"), c.getField("cs2"))).as("ncos"), c.getField("c_id").as("c_id"))))
    val out = rows.select(col("vec_id"), hof.as("a"),
        VectorFunctions.rankCellsCos(col("q"), col("s2"), col("cents")).as("b"))
      .collect()
    out should not be empty
    out.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"vec ${r.getLong(0)}")
    }
  }

  test("kernel cosE6 pins the LEGACY zero-norm edge (NaN→0, ∞→Long.Max)") {
    // the engine's sessions run spark.sql.ansi.enabled=false; under
    // ANSI the retired HOF form would THROW on a zero divisor instead.
    // The kernel bakes in the legacy semantics the queries ship with,
    // whatever the session's mode, so the edge is pinned at the JVM level
    assert(graft.functions.AnnKernels.cosE6(5L, 0L, 100L) == Long.MaxValue) // 5/0 → ∞
    assert(graft.functions.AnnKernels.cosE6(0L, 0L, 0L) == 0L) // 0/0 → NaN → 0
    assert(graft.functions.AnnKernels.cosE6(-5L, 0L, 100L) == Long.MinValue)
    // HALF_UP at the .5 boundary, both signs (what BigDecimal pins)
    assert(graft.functions.AnnKernels.round0(2.5) == 3.0)
    assert(graft.functions.AnnKernels.round0(-2.5) == -3.0)
    assert(graft.functions.AnnKernels.round0(2.4999999999) == 2.0)
  }

  test("QuantE4 ≡ transform(round(x * 1e4, 0) cast long), incl. .5 boundaries") {
    val rnd = new scala.util.Random(7)
    val data = (0 until 64).map { i =>
      (i.toLong, Seq.fill(Dim)(rnd.nextDouble() * 2 - 1) ++
        Seq(0.00005, -0.00005, 0.000049999, 1.23455, -1.23455))
    }
    val out = data.toDF("id", "v")
      .select(
        transform(col("v"), x => round(x.cast("double") * lit(10000.0), 0)
          .cast("long")).as("a"),
        VectorFunctions.quantE4(col("v")).as("b"))
      .collect()
    out.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    // ARRAY<FLOAT> — the real embeddings column type; the retired
    // lambda widened each element to double, the kernel must match
    val fdata = (0 until 32).map(i =>
      (i.toLong, Seq.fill(Dim)(rnd.nextFloat() * 2 - 1) ++ Seq(0.00005f, -0.12345f)))
    val fout = fdata.toDF("id", "v")
      .select(
        transform(col("v"), x => round(x.cast("double") * lit(10000.0), 0)
          .cast("long")).as("a"),
        VectorFunctions.quantE4(col("v")).as("b"))
      .collect()
    fout.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("JlProject ≡ per-dim zip_with+aggregate folds") {
    val signs = (0 until 4).map(j =>
      (0 until Dim).map(d => if (((j * 31 + d) % 3) == 0) -1L else 1L))
    val hof = array(signs.map(s =>
      aggregate(zip_with(col("q"), typedlit(s), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)): _*)
    val out = df(64, 12)
      .select(hof.as("a"), VectorFunctions.jlProj(col("q"), typedlit(signs)).as("b"))
      .collect()
    out.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("RankCellsL2 / PqEncode / PqLut / PqAdc ≡ the retired q114 HOF chain") {
    val base = df(96, 13)
    val seedRows = vecs(96, 13).filter(_._1 < K + K).sortBy(_._1)
    val cents = seedRows.filter(_._1 < K)
    def nearestCent(v: Seq[Long]): Seq[Long] =
      cents.minBy { case (cid, cv) =>
        (v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }._2
    val cbs: Seq[Seq[(Long, Seq[Long])]] = (0 until M).map { m =>
      seedRows.filter(_._1 >= K).map { case (id, v) =>
        val r = v.zip(nearestCent(v)).map { case (a, b) => a - b }
        (id - K, r.slice(m * Dsub, (m + 1) * Dsub))
      }
    }
    val centsLit = typedlit(cents)
    val flatCb = typedlit(for { m <- 0 until M; (_, sub) <- cbs(m) }
      yield (m.toLong * Dsub, sub))

    // retired HOF chain, verbatim shapes
    val hofRanked = array_sort(transform(centsLit, c =>
      struct(subL2(col("q"), c.getField("_2")).as("d2"), c.getField("_1").as("c_id"))))
    def centVec(cell: Column): Column =
      element_at(centsLit, (cell + 1).cast("int")).getField("_2")
    def residual(v: Column, cell: Column): Column =
      zip_with(v, centVec(cell), (a, b) => a - b)
    def dflatOn(v: Column): Column = transform(flatCb, en =>
      subL2(slice(v, en.getField("_1") + 1, lit(Dsub)), en.getField("_2")))
    def codeOf(m: Column): Column = {
      val block = slice(col("df"), m * K + 1, lit(K))
      array_position(block, array_min(block)).cast("int") - 1
    }
    val codes = transform(sequence(lit(0), lit(M - 1)), codeOf(_))

    val withCell = base
      .withColumn("ra", hofRanked)
      .withColumn("rb", VectorFunctions.rankCellsL2(col("q"), centsLit))
      .withColumn("cell", element_at(col("rb"), 1).getField("c_id"))
    withCell.select(col("vec_id"), col("ra"), col("rb")).collect()
      .foreach(r => assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"vec ${r.get(0)}"))

    val both = withCell
      .select(col("vec_id"), col("q"), col("cell"),
        dflatOn(residual(col("q"), col("cell"))).as("df"),
        VectorFunctions.pqLut(col("q"), col("cell"), centsLit, flatCb).as("lut"))
      .withColumn("ca", codes)
      .withColumn("cb", VectorFunctions.pqEncode(col("q"), col("cell"), centsLit, flatCb))
    val rows = both.select(col("vec_id"), col("df"), col("lut"), col("ca"), col("cb"),
        aggregate(
          transform(sequence(lit(0), lit(M - 1)), m =>
            element_at(col("lut"), m * K + element_at(col("cb"), m + 1) + 1)),
          lit(0L), (acc, x) => acc + x).as("adcA"),
        VectorFunctions.pqAdc(col("lut"), col("cb")).as("adcB"))
      .collect()
    rows should not be empty
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"lut vec ${r.get(0)}")
      assert(r.getSeq[Int](3) == r.getSeq[Int](4), s"codes vec ${r.get(0)}")
      assert(r.getLong(5) == r.getLong(6), s"adc vec ${r.get(0)}")
    }
  }

  test("PqAdc fails loudly on a malformed LUT, code or null element instead of returning a number") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val adc = graft.functions.PqAdc(Literal(null), Literal(null))
    def longs(xs: Any*) = new GenericArrayData(xs.toArray)
    val lut = longs(1L, 2L, 3L, 4L, 5L, 6L) // m = 2 subspaces, K = 3
    adc.kernel(lut, longs(2, 0)) shouldBe 3L + 4L // the well-formed input still sums
    // only the selected entries are read, so only they are checked
    adc.kernel(longs(1L, null, 3L, 4L, 5L, 6L), longs(0, 0)) shouldBe 1L + 4L
    val malformed = Seq(
      "no codes" -> (lut, longs()),
      "a LUT length that is not a multiple of m" -> (longs(1L, 2L, 3L, 4L, 5L), longs(0, 0)),
      "a code below 0" -> (lut, longs(-1, 0)),
      "a code at K" -> (lut, longs(0, 3)),
      "a null code" -> (lut, longs(0, null)),
      "a null LUT entry that a code selects" -> (longs(1L, null, 3L, 4L, 5L, 6L), longs(1, 0)))
    malformed.foreach { case (what, (l, c)) =>
      withClue(what)(an[IllegalArgumentException] should be thrownBy adc.kernel(l, c))
    }
    // through a query too, on the codegen path: the task fails
    val q = Seq((Seq(1L, 2L, 3L, 4L, 5L, 6L), Seq(0, 3))).toDF("lut", "codes")
      .select(VectorFunctions.pqAdc(col("lut"), col("codes")))
    val e = intercept[Exception](q.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("outside [0, 3)")) shouldBe true
  }

  test("kernels survive the codegen path (projection over them stays whole-stage)") {
    val base = df(32, 14)
    val cents = base.filter(col("vec_id") < K)
      .select(col("vec_id").as("c_id"), col("q").as("cq"), col("s2").as("cs2"))
    val panel = cents.agg(sort_array(collect_list(
      struct(col("c_id"), col("cq"), col("cs2")))).as("cents"))
    val out = base.join(broadcast(panel))
      .select(VectorFunctions.rankCellsCos(col("q"), col("s2"), col("cents")).as("sc"))
    out.collect() // finalize the adaptive plan so codegen spans are visible
    val plan = out.queryExecution.executedPlan.toString
    // the *(n) prefix IS the WholeStageCodegen span marker in the
    // simple plan string — the kernel's Project must carry one
    assert(plan.contains("graft_rank_cells_cos"))
    assert("""\*\(\d+\) Project \[graft_rank_cells_cos""".r
      .findFirstIn(plan).isDefined, s"kernel Project not codegen'd:\n$plan")
  }
}
