package graft.queries

import graft.Tables
import graft.functions.VectorFunctions.{dotLong, quantE4}
import graft.ops.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection and ANN variants beyond LlmPipeline's
  * MinHash-LSH (q21) and hyperplane-LSH (q24): a banded SimHash
  * near-dup join (q31), an embedding-cosine near-dup with
  * sign-pattern LSH blocking (q32), and an IVF-style cell-probed ANN
  * (q33) — the three remaining dedup/similarity modalities of a
  * training-data pipeline.
  *
  * Scale design (the 100 TB story):
  *  - q31's banding is EXACT, not approximate: 4 bands × 15 bits over
  *    a 60-bit SimHash guarantee (pigeonhole) that any pair within
  *    hamming distance 3 shares at least one intact band — so the
  *    banded plan provably equals the all-pairs filter, and the DuckDB
  *    oracle can be the INDEPENDENT quadratic restatement rather than
  *    a re-run of the same algorithm.
  *  - q32's sign-LSH is approximate (like q24); the oracle therefore
  *    replicates the banding, and the approximation is the documented
  *    contract. Recall rises steeply with similarity (per band of 8
  *    sign agreements, P ≈ (1-θ/π)^8; OR over 4 bands).
  *  - q33 assigns every vector to its nearest of K=16 deterministic
  *    centroids (the vectors with vec_id < K), probes the query's 2
  *    nearest cells. Candidate generation is an equi-join on cell id —
  *    shuffle on a bounded key, no quadratic blow-up; at real scale K
  *    grows ~√N and centroids come from a sampled k-means, but the
  *    plan shape (broadcast centroids → cell equi-join → windowed
  *    top-k) is exactly this one.
  *  - Bucket-width knobs: the band/bit and K constants here are sized
  *    for the testdata; at 100 TB you widen bands (more bits) and K so
  *    per-bucket cardinality stays bounded — the plans are unchanged.
  *  - All verification math is integer (quantized e4 dots, bit_count)
  *    or a single IEEE op over identical operands — cross-engine
  *    deterministic, same rules as LlmPipeline.
  */
object NearDup {
  private type Q = (SparkSession, String) => DataFrame

  // -- q31: SimHash near-duplicate join ------------------------------

  private val SimBits = 60 // 4 bands x 15 bits, sign-safe in an INT64
  private val SimBands = 4
  private val BandBits = SimBits / SimBands
  private val MaxHamming = 3 // < SimBands, so banding is lossless

  /** Per-doc 60-bit SimHash: token hash = two 30-bit halves of
    * md5(token); bit i of the fingerprint is the sign of the
    * frequency-weighted sum of (±1) votes from bit i of the token
    * hashes. Token counts are aggregated FIRST and md5 runs on the
    * distinct (doc, token) pairs only: a ±1 vote per occurrence sums
    * to exactly ±count per distinct token, so the fingerprint is
    * integer-identical while hashing cost scales with the vocabulary
    * footprint, not with token occurrences — natural corpora repeat
    * tokens heavily (this corpus ~20×), and at 100 TB the (doc, token)
    * pre-aggregate collapses map-side before either shuffle. */
  private[graft] def simhash60(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .select(col("doc_id"), col("c"),
        (md5Draw(col("t"), 1, 8) % (1L << 30)).as("h1"),
        (md5Draw(col("t"), 9, 8) % (1L << 30)).as("h2"))
    val bitSums = (0 until SimBits).map { i =>
      val src = if (i < 30) col("h1") else col("h2")
      sum(when(shiftright(src, i % 30).bitwiseAND(lit(1L)) === 1L, col("c")).otherwise(-col("c"))).as(s"b$i")
    }
    val sh = (0 until SimBits)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sh.as("simhash"))
  }

  /** SimHash near-dup pairs at hamming distance <= 3. Banded plan:
    * explode each doc into 4 (band, 15-bit-slice) keys, collect
    * same-key docs, expand i<j pairs in-row (the q21 pattern), verify
    * with bit_count(xor). Lossless by pigeonhole — see object doc. */
  val q31DedupSimhash: Q = (s, d) => {
    // persisted, as q21 persists its signatures: sim is referenced three
    // times (buckets, a-side, b-side) and each reference otherwise
    // replays the whole simhash60 pipeline — tokenize + (doc, token)
    // aggregate + the 60-way bit-vote aggregate, two shuffles each
    val sim = graft.ops.SharedCache.persist(
      simhash60(Tables.documents(s, d).select(col("doc_id"), col("text"))))
    val bandKeys = array((0 until SimBands).map(b =>
      concat_ws("|", lit(b),
        shiftright(col("simhash"), b * BandBits).bitwiseAND(lit((1L << BandBits) - 1)))): _*)
    val cand = bucketPairs(sim.select(col("doc_id"), explode(bandKeys).as("bkey")),
      "bkey", "doc_id", "doc_a", "doc_b")
    val a = sim.select(col("doc_id").as("a_id"), col("simhash").as("sh_a"))
    val b = sim.select(col("doc_id").as("b_id"), col("simhash").as("sh_b"))
    // cand grows with the data — keyed shuffle joins at scale; AQE
    // broadcasts at runtime when it measures small.
    cand
      .join(a, col("doc_a") === col("a_id"))
      .join(b, col("doc_b") === col("b_id"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= MaxHamming)
  }

  // -- q39: exact n-gram Jaccard join via prefix filtering -----------

  private val JaccardThresholdE6 = 500000L // t = 0.5

  /** EXACT Jaccard ≥ 0.5 near-dup join over hashed 3-gram shingle sets
    * — the lossless complement to q21's MinHash (which can miss pairs
    * whose bands never collide). Blocking is PPJoin-style prefix
    * filtering: with each doc's shingle set sorted by a global total
    * order, two sets with Jaccard ≥ t MUST share an element within
    * each one's first `n - ceil(t·n) + 1` elements — so candidates
    * sharing any prefix element are a provable superset of all
    * qualifying pairs, and the DuckDB oracle replicating the same
    * algebra is exhaustive, not approximate.
    *
    * At scale: candidate generation is a keyed equi-join on prefix
    * shingle hash (bounded per-shingle buckets — no all-pairs), and
    * the canonical order is ASCENDING GLOBAL DOCUMENT FREQUENCY
    * (true PPJoin): prefixes hold each doc's rarest shingles, so a
    * shingle shared by many docs almost never lands in a prefix and
    * hot buckets vanish. The (df, h) order is encoded as one sortable
    * BIGINT `min(df, 2^15-1)·2^48 + h` — identical in both engines;
    * capping df only reorders among very-common shingles, and ANY
    * total order keeps the filter lossless. */
  /** Per-doc hashed 3-gram shingle sets in ascending global-df order —
    * (doc_id, hs, n), persisted: every consumer fans it into 3+ plan
    * branches (prefix buckets, a-side, b-side) that would otherwise
    * each recompute the whole shingle pipeline (the q21 lesson).
    * df comes from a count-aggregate + keyed re-join, NOT from a
    * collect_set(doc_id) per shingle: a stop-shingle at corpus scale
    * would put millions of doc_ids into a single array row (the exact
    * skew PPJoin ordering exists to dodge), while groupBy(count) +
    * equi-join keeps every row bounded.
    *
    * Never unpersisted by design: the CacheManager canonicalizes by
    * logical plan, so every invocation over the same dir shares ONE
    * session-scoped entry (q39 and q71 reuse each other's
    * materialization; bench logs "already cached" on the second) —
    * this is a deliberate session-lifetime cache, not a per-call leak. */
  private def dfOrderedShingleSets(s: SparkSession, d: String): DataFrame = {
    val exh = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(ngrams(col("tk"), 3)).as("sh"))
      .select(col("doc_id"),
        md5Draw(col("sh"), 1, 12).as("h"))
      .distinct()
    // df via ONE window over the h partition: a groupBy(h) joined
    // back would shuffle the full (doc, h) relation by h for the join
    // AND pay the frequency aggregate's own exchange + the join
    // itself; the window needs just the one h-shuffle and a partition
    // count — identical df values, one fewer pass of the shingle
    // relation through an exchange
    exh.withColumn("df",
        count(lit(1)).over(Window.partitionBy("h")))
      .select(col("doc_id"),
        (least(col("df"), lit(32767L)) * lit(1L << 48) + col("h")).as("k"))
      .groupBy("doc_id").agg(sort_array(collect_list(col("k"))).as("ks"))
      .select(col("doc_id"),
        transform(col("ks"), k => k.bitwiseAND(lit((1L << 48) - 1))).as("hs"),
        size(col("ks")).cast("long").as("n"))
      .transform(graft.ops.SharedCache.persist)
  }

  val q39DedupNgramJaccard: Q = (s, d) => {
    val sets = dfOrderedShingleSets(s, d)
      // prefix length n - ceil(t*n) + 1 at t=0.5, in exact integer math
      .withColumn("plen", expr("cast(n - (n + 1) div 2 + 1 as int)"))
    val cand = bucketPairs(sets
      .select(col("doc_id"), explode(slice(col("hs"), lit(1), col("plen"))).as("h")),
      "h", "doc_id", "doc_a", "doc_b")
    LlmPipeline.jaccardAtLeastHalf(LlmPipeline.withOverlap(cand, sets))
  }

  /** q39's exact-truth pair relation, SharedCache'd: the calibration
    * family — q146 recall, q225 S-curve, q226 threshold sweep, q235
    * weighted-Jaccard, q194 cluster agreement, q237's banding sweep —
    * each consume this truth, and without the cache entry every one
    * re-runs the PPJoin verification (~2 s/query in shared mode).
    * The relation is dup-PAIR-sized
    * (five longs per qualifying pair), orders of magnitude below the
    * shingle-set cache it derives from, so registering it is strictly
    * cheaper than one recompute. Isolate mode still releases it
    * between queries, keeping per-query attribution honest. */
  private[graft] def q39Truth(s: SparkSession, d: String): DataFrame =
    q39DedupNgramJaccard(s, d).transform(graft.ops.SharedCache.persist)

  // -- q71: exact containment dedup (excerpt/quote detection) --------

  private val ContainThresholdE6 = 900000L // t = 0.9

  /** EXACT CONTAINMENT join: pairs where ≥90% of doc A's 3-gram
    * shingles also appear in doc B — the asymmetric complement of
    * q39's Jaccard (a short excerpt inside a long page has Jaccard
    * ≈ |A|/|B| ≈ 0, but containment ≈ 1; this is how quote/mirror/
    * boilerplate relationships are actually found). Blocking is the
    * ONE-SIDED prefix filter: with A's shingles in ascending global-df
    * order, any B containing ≥ ceil(t·n_A) of them must match one of
    * A's first n_A − ceil(t·n_A) + 1 elements (pigeonhole) — so
    * A-prefix ⋈ B-full-postings is a provable candidate superset and
    * the oracle restating the same algebra is exhaustive. The full
    * posting-list side is fact-sized, but the PREFIX side holds only
    * each doc's ~10% RAREST shingles (df-asc order), so per-key
    * candidate lists stay small exactly where posting lists are long;
    * shuffle payloads are 48-bit hashes + ids, never text. */
  val q71ContainmentDedup: Q = (s, d) => {
    val sets = dfOrderedShingleSets(s, d)
      // prefix length n - ceil(t*n) + 1 at t=0.9, exact integer math
      .withColumn("plen", expr("cast(n - (9 * n + 9) div 10 + 1 as int)"))
    val pref = sets
      .select(col("doc_id").as("a_id"),
        explode(slice(col("hs"), lit(1), col("plen"))).as("h"))
    val inv = sets.select(col("doc_id").as("b_id"), explode(col("hs")).as("h"))
    val cand = pref.join(inv, "h")
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id").distinct()
    val a = sets.select(col("doc_id").as("a_id"), col("n").as("na"), col("hs").as("hs_a"))
    val b = sets.select(col("doc_id").as("b_id"), col("n").as("nb"), col("hs").as("hs_b"))
    cand
      .join(a, Seq("a_id"))
      .join(b, Seq("b_id"))
      .select(col("a_id").as("doc_a"), col("b_id").as("doc_b"),
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long").as("n_inter"),
        col("na"), col("nb"))
      .withColumn("containment_e6",
        round(lit(1e6) * col("n_inter").cast("double") / col("na").cast("double"), 0)
          .cast("long"))
      .filter(col("containment_e6") >= ContainThresholdE6)
  }

  // -- shared quantized-embedding primitives (q23/q24 conventions) ---
  // quantE4 / dotLong are graft.functions' fused codegen'd kernels:
  // callers must VectorFunctions.register the session first.

  /** One-row relation holding the whole coarse-centroid panel as ONE
    * sorted struct array, the in-row cell ranking shared by
    * q33/q191/q231/q241. Scoring cells with a K-row broadcast join and
    * ranking them with `row_number` over `Window.partitionBy(vec_id)`
    * would need an Exchange + Sort over K·|V| rows, each carrying the
    * full 64-long vector — the widest shuffle in the ANN family, moved
    * only to rank K=16 constants. With the panel folded to a single
    * broadcast row,
    * ranking happens INSIDE the vector's own row (array_sort over a
    * K-element array) — zero exchange, zero sort, scan-speed at any
    * |V|. Centroids stay DATA flowing through the plan (the q33
    * contract: nothing is collected to the driver — contrast q114's
    * literal panel, which is the other declared convention). */
  private def centPanel(cents: DataFrame): DataFrame =
    cents.agg(sort_array(collect_list(
      struct(col("c_id"), col("cq"), col("cs2")))).as("cents"))

  /** Ranked (ncos, c_id) struct array over the joined `cents` panel:
    * ascending (−cos, c_id) == the window's (c_cos desc, c_id asc) —
    * identical rank order, identical cosE6 operands, so results are
    * row-for-row equal to the window formulation. The ranking is the
    * [[graft.functions.RankCellsCos]] kernel, not an
    * array_sort∘transform HOF pair (interpreted lambda bodies, never
    * codegen'd): one JIT'd loop per row, same (−cos, c_id) order, same
    * round/cast semantics, inside WholeStageCodegen. */
  private def cellsRankedCol(q: Column, s2: Column): Column =
    graft.functions.VectorFunctions.rankCellsCos(q, s2, col("cents"))

  /** (vec_id, q, s2) quantized embeddings with integer self-dot. */
  private def quantized(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    Tables.embeddings(s, d)
      .select(col("vec_id"), quantE4(col("embedding")).as("q"))
      .withColumn("s2", dotLong(col("q"), col("q")))
  }

  // -- q228: int8 scalar-quantization audit ----------------------------

  /** SCALAR-QUANTIZATION AUDIT — the third compression point on the
    * vector-storage curve (e4 fixed point = the exactness baseline,
    * q114's product quantization = the aggressive end): per-dimension
    * affine int8, code = (v − min)·255 div range, is what most vector
    * stores ship as "SQ8" — 4× smaller than float32 — and this audit
    * reports what it costs, per dimension: min/max/range of the e4
    * domain, the mean and max absolute reconstruction error, and the
    * analytic worst-case bound range div 255 + 1 that the measured max
    * must respect (spec-pinned). A dimension whose range dwarfs the
    * rest (so its step swallows everyone's precision) shows up
    * immediately — the signal for per-block or per-dim re-scaling.
    *
    * Integer contract: inputs are the shared e4 quantized vectors
    * (identical operands in both engines); code and reconstruction are
    * truncating integer ops with non-negative operands (v − min ≥ 0 by
    * construction of min). Plan: ONE posexplode pass to (dim, v) —
    * SharedCache'd — a 64-row min/max rollup broadcast back, then one
    * map-combined error aggregate; nothing after the explode exceeds
    * 64 rows. */
  val q228SqAudit: Q = (s, d) => {
    graft.functions.VectorFunctions.register(s) // the quant kernel
    val dims = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(quantE4(col("embedding"))).as(Seq("p", "v")))
      .select((col("p") + 1).cast("long").as("dim"), col("v"))
      .transform(graft.ops.SharedCache.persist)
    val ranges = dims.groupBy("dim")
      .agg(min(col("v")).as("min_e4"), max(col("v")).as("max_e4"))
      .withColumn("range_e4", col("max_e4") - col("min_e4"))
    dims.join(broadcast(ranges), "dim")
      .withColumn("code",
        expr("(v - min_e4) * 255 div greatest(range_e4, 1)"))
      .withColumn("err", abs(col("min_e4") +
        expr("code * range_e4 div 255") - col("v")))
      .groupBy("dim", "min_e4", "max_e4", "range_e4")
      .agg(count(lit(1)).as("n"),
        expr("sum(err) div count(1)").as("mean_abs_err_e4"),
        max(col("err")).as("max_err_e4"))
      .withColumn("bound_e4", expr("range_e4 div 255 + 1"))
  }

  // -- q230: Johnson–Lindenstrauss projection distortion audit ----------

  private val JlDims = 16
  private val EmbDim = 64 // testdata embedding width (TESTDATA.md)

  /** RANDOM-PROJECTION DISTORTION AUDIT — the certificate behind every
    * "project 64-d to 16-d and search there" shortcut (sign-LSH q24/
    * q32 exploit angles; this certifies DISTANCES): a ±1 Rademacher
    * projection y_j = Σ_d s_jd·x_d preserves squared distances in
    * expectation, E‖Δy‖² = k·‖Δx‖² (Achlioptas 2003 — database-
    * friendly JL), and the audit measures the realized per-pair ratio
    * ‖Δy‖²/(k·‖Δx‖²) over the deterministic consecutive-id pair
    * sample: mean/min/max ratio in e3 plus the share of pairs within
    * ±30% — the number that says whether 16 dims are enough BEFORE a
    * recall regression says it in production.
    *
    * Determinism: the 16×64 sign matrix is md5-derived at plan-build
    * time and embedded as literals in BOTH engines (the q24
    * planeWeights convention); distances are exact integer sums over
    * the shared e4 quantized vectors. The ratio is staged e3
    * (dy2·1000 div (16·dx2)) — e6 would overflow int64 at the e4
    * scale's worst case. Identical-vector pairs (dx2 = 0) are counted
    * and excluded from ratio stats.
    *
    * Plan: projection is a narrow in-row map (16 zip_with/aggregate
    * folds over literal sign arrays — zero shuffles, scan speed at
    * 100 TB); pairs are ONE self-equi-join on vec_id+1; the audit
    * collapses in one map-combined aggregate. */
  private[graft] def jlSigns(j: Int): Seq[Long] =
    (0 until EmbDim).map { d =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"jl$j|$d".getBytes("UTF-8"))
      ((md(0) & 1) * 2 - 1).toLong
    }

  /** The 16-long JL projection of an e4 vector column — shared by
    * q230 (the distortion audit) and q231 (the coarse re-rank stage).
    * One [[graft.functions.JlProject]] kernel pass over the sign
    * literals, not 16 separate zip_with+aggregate folds, which would
    * stay INTERPRETED (DotProductRewrite requires containsNull = false
    * and the quantized array type carries the parquet schema's
    * nullable elements) — and its output IS dense, so the
    * downstream coarse dot in q231 fuses to graft_dot_long via the
    * optimizer rule as well. */
  private def jlProjArr(q: Column): Column =
    graft.functions.VectorFunctions.jlProj(q,
      typedLit((0 until JlDims).map(jlSigns)))

  val q230JlDistortion: Q = (s, d) => {
    val proj = quantized(s, d)
      .select(col("vec_id"), col("q"), jlProjArr(col("q")).as("y"))
    val pairs = proj.select(col("vec_id").as("ida"), col("q").as("qa"),
        col("y").as("ya"))
      .join(proj.select((col("vec_id") - 1).as("ida"), col("q").as("qb"),
        col("y").as("yb")), "ida")
      .select(
        aggregate(zip_with(col("qa"), col("qb"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dx2"),
        aggregate(zip_with(col("ya"), col("yb"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dy2"))
      .withColumn("ratio_e3",
        when(col("dx2") > 0, expr(s"dy2 * 1000 div (${JlDims}L * dx2)")))
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dx2") === 0, 1L).otherwise(0L)).as("n_degenerate"),
        // greatest(...,1) guard: on an all-degenerate
        // corpus (every dx2 = 0) the unguarded count is 0 — Spark's
        // div yields NULL but DuckDB's // raises, an engine-behavior
        // divergence on the empty edge. Guarded, both sides agree on
        // NULL (sum is NULL, NULL div 1 = NULL in both engines).
        expr("sum(ratio_e3) div greatest(count(ratio_e3), 1)")
          .as("mean_ratio_e3"),
        min(col("ratio_e3")).as("min_ratio_e3"),
        max(col("ratio_e3")).as("max_ratio_e3"),
        count(when(abs(col("ratio_e3") - 1000) <= 300, 1)).as("n_within30"))
      .withColumn("within30_ppm",
        expr("n_within30 * 1000000 div greatest(n_pairs - n_degenerate, 1)"))
  }

  // -- q274: prefix-truncation retrieval audit --------------------------

  /** Truncation points: full width (the sanity row — recall must be
    * exactly 1e6 by construction), half, quarter. */
  private val TruncDims = Seq(64, 32, 16)
  private val TruncQueryCount = 16
  private val TruncK = 10

  /** PREFIX-TRUNCATION RETRIEVAL AUDIT (the Matryoshka question —
    * Kusupati et al. 2022: embeddings whose PREFIX is itself a usable
    * embedding) — the fourth point on the vector-compression audit
    * square: q228 measures what int8 PRECISION costs, q230 what a JL
    * PROJECTION costs, q114 what product quantization costs; this
    * measures what simply DROPPING trailing dimensions costs in
    * retrieval terms, the knob every embedding-store bill is
    * ultimately negotiated with. A deterministic 16-query panel (the
    * smallest (48-bit md5 of vec_id, vec_id) — hash-scattered, not
    * id-prefix-biased) retrieves its top-10 neighbors by exact
    * quantized cosine over the first m ∈ {64, 32, 16} dims (prefix
    * dots AND prefix norms — the truncated vector is renormalized by
    * construction of cosine), and per m the audit reports mean and
    * min recall@10 against the full-width truth.
    *
    * Determinism: the panel is hash-ordered with id tiebreak; scores
    * are the established cosE6 contract (integer e4 dot, IEEE-exact
    * double sqrt/round — identical in both engines); rankings break
    * ties by vec_id; zero-norm prefixes yield NULL scores and are
    * declared unrankable (the TopK null contract). Recall's
    * denominator is the fixed k = 10.
    *
    * Plan: the 16-row panel BROADCASTS against the corpus — one
    * linear scan computing all three prefix cosines in-row, then
    * [[graft.functions.TopK]] map-side buffers (shuffle ≤ k rows per
    * query per partition per truncation; the cross product never
    * shuffles). At 100 TB this is the q23 brute-force shape with the
    * constant panel, the audit's declared scale: linear scan,
    * bounded state, 3·|panel| output rows upstream of a 3-row
    * aggregate. */
  val q274TruncationAudit: Q = (s, d) => {
    val e = quantized(s, d)
    val probes = e
      .withColumn("hsel",
        md5Draw(col("vec_id").cast("string"), 1, 12))
      .orderBy(col("hsel"), col("vec_id")).limit(TruncQueryCount)
      .select(col("vec_id").as("q_id"), col("q").as("qq"))
    val scored = TruncDims.foldLeft(
      e.crossJoin(broadcast(probes)).filter(col("vec_id") =!= col("q_id"))) {
      (df, m) =>
        df.withColumn(s"cos_$m", cosE6(
          aggregate(zip_with(slice(col("qq"), 1, m), slice(col("q"), 1, m),
            (a, b) => a * b), lit(0L), (acc, x) => acc + x),
          aggregate(slice(col("qq"), 1, m), lit(0L),
            (acc, x) => acc + x * x),
          aggregate(slice(col("q"), 1, m), lit(0L),
            (acc, x) => acc + x * x)))
    }
      // project the arrays AWAY before the cache: what is kept for the
      // three TopK consumers is 5 integers per (query, candidate), not
      // the 16×-corpus of embedding copies the cross join carries
      .select(col("q_id") +: col("vec_id") +:
        TruncDims.map(m => col(s"cos_$m")): _*)
      .transform(graft.ops.SharedCache.persist) // one scan, three TopKs
    val tops = TruncDims.map { m =>
      graft.functions.TopK.topKPerGroup(
        scored.select(col("q_id"), col("vec_id"), col(s"cos_$m")),
        "q_id", "vec_id", s"cos_$m", TruncK)
        .groupBy("q_id")
        .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
        .withColumn("trunc_dim", lit(m.toLong))
    }
    val base = tops.head.select(col("q_id"), col("ids").as("base_ids"))
    tops.reduce(_ unionByName _)
      .join(broadcast(base), "q_id")
      .withColumn("recall_e6",
        expr(s"CAST(size(array_intersect(ids, base_ids)) AS BIGINT) " +
          s"* 1000000 div $TruncK"))
      .groupBy("trunc_dim")
      .agg(count(lit(1)).as("n_queries"),
        expr("sum(recall_e6) div count(1)").as("mean_recall_e6"),
        min(col("recall_e6")).as("min_recall_e6"))
  }

  // -- q32: embedding-cosine near-dup (sign-LSH blocked) -------------

  private val SignBands = 4
  private val SignBitsPerBand = 8 // components 0..31 -> 4 bands x 8 signs
  private val CosDupThresholdE6 = 350000L

  /** Embedding near-dup pairs: candidates share the full sign pattern
    * of at least one 8-component band (sign-random-projection LSH on
    * the coordinate axes), verified by exact quantized cosine >=
    * 0.35. Same collect-expand candidate plan as q21/q31; per-band
    * key space is 2^8 per band id. */
  val q32DedupEmbedCosine: Q = (s, d) => {
    val e = quantized(s, d)
    val bandKeys = array((0 until SignBands).map { b =>
      val sig = (0 until SignBitsPerBand).map { j =>
        when(element_at(col("q"), b * SignBitsPerBand + j + 1) >= 0, lit(1L << j))
          .otherwise(lit(0L))
      }.reduce(_ + _)
      concat_ws("|", lit(b), sig)
    }: _*)
    val cand = bucketPairs(e.select(col("vec_id"), explode(bandKeys).as("bkey")),
      "bkey", "vec_id", "vec_a", "vec_b")
    val a = e.select(col("vec_id").as("a_id"), col("q").as("qa"), col("s2").as("sa"))
    val b = e.select(col("vec_id").as("b_id"), col("q").as("qb"), col("s2").as("sb"))
    // cand grows with the data — keyed shuffle joins at scale; AQE
    // broadcasts at runtime when it measures small.
    cand
      .join(a, col("vec_a") === col("a_id"))
      .join(b, col("vec_b") === col("b_id"))
      .select(col("vec_a"), col("vec_b"),
        cosE6(dotLong(col("qa"), col("qb")), col("sa"), col("sb")).as("cos_e6"))
      .filter(col("cos_e6") >= CosDupThresholdE6)
  }

  // -- q33: IVF cell-probed ANN (oracle-checked scale path) ----------

  private val IvfCells = 16
  private val IvfProbes = 2

  /** IVF ANN: every vector is assigned to its nearest of K=16
    * deterministic centroids (the vectors with vec_id < K); each query
    * (vec_id % 25 == 0) probes its 2 nearest cells and takes the exact
    * cosine top-5 among their members. Unlike q24 this is fully
    * SQL-expressible (centroids are data, not code), so it carries a
    * real DuckDB oracle.
    *
    * Plan: the K-centroid panel is ONE broadcast row and every vector
    * ranks its cells IN-ROW (array_sort over K structs, see
    * [[centPanel]]; a window formulation would shuffle K·|V|
    * vector-carrying rows just to rank them); candidates come from an
    * equi-join on cell id. At scale the vec_id<K seed convention is
    * replaced by centroids from an actual Lloyd run — q57 below
    * implements exactly that. */
  val q33AnnIvf: Q = (s, d) => {
    val e = quantized(s, d)
    val cents = e.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("c_id"), col("q").as("cq"), col("s2").as("cs2"))
    // persisted: assign + probes both branch off it, and without the
    // old Exchange there is no reuse point — the relation IS the IVF
    // index artifact (vector, self-dot, ranked cells), |V| rows
    val ranked = e.join(broadcast(centPanel(cents)))
      .withColumn("sc", cellsRankedCol(col("q"), col("s2")))
      .transform(graft.ops.SharedCache.persist)
    val assign = ranked
      .select(col("vec_id"), col("q"), col("s2"),
        element_at(col("sc"), 1).getField("c_id").as("cell"))
    val probes = ranked.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("s2").as("qs2"),
        explode(transform(slice(col("sc"), 1, IvfProbes),
          x => x.getField("c_id"))).as("cell"))
    val scored = assign.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosE6(dotLong(col("q"), col("qq")), col("s2"), col("qs2")).as("cos_e6"))
      .dropDuplicates("q_id", "neighbor_id")
    graft.functions.TopK.topKPerGroup(scored, "q_id", "neighbor_id", "cos_e6", 5)
  }

  // -- q231: two-stage retrieval (coarse JL prune + exact re-rank) ------

  private val RerankR = 16

  /** TWO-STAGE RETRIEVAL AUDIT — the pattern every production ANN
    * serves with: a CHEAP coarse score prunes the probed candidates
    * (here the 16-d JL projected dot — 4× fewer multiplies than the
    * exact 64-d cosine, and q230 certifies the projection), then the
    * exact score re-ranks only the R = 16 survivors per query. The
    * audit prices the trade next to its own baselines: q33's
    * exact-score-every-candidate recall (what pruning can lose) and
    * q23's brute-force truth (what both are measured against). The
    * report: truth edges, IVF hits, two-stage hits, both recalls,
    * the SIGNED prune loss (subtraction only — never a negative
    * division), and the candidate→re-rank work reduction.
    *
    * Determinism: same centroid assignment as q33 (same argmax
    * tiebreak), coarse and exact top-k both (score desc, id asc) —
    * the oracle mirrors every rank. Scale: candidates come from the
    * bounded cell equi-join (q33's plan); the coarse stage is a
    * narrow 16-mult map + the map-side TopK aggregator, so the exact
    * re-rank touches R·|queries| rows no matter how hot the cells
    * get — the whole point of the pattern at 100 TB. */
  val q231TwoStageRetrieval: Q = (s, d) => {
    val e = quantized(s, d)
    // `ranked` is built EXACTLY as q33/q241 build theirs — from the
    // bare quantized relation, cents included — so CacheManager
    // plan-canonicalization lands all three (plus the q33 run this
    // audit itself triggers below for ivfTop) on ONE cache entry.
    // Threading the JL column through the ranking relation would make
    // q231's ranked a PRIVATE cache that rebuilds the whole ranking
    // pass q33 already paid; the JL projection rides its own slim
    // (vec_id, y) relation, which is all the coarse legs ever read.
    val cents = e.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("c_id"), col("q").as("cq"), col("s2").as("cs2"))
    val ranked = e.join(broadcast(centPanel(cents)))
      .withColumn("sc", cellsRankedCol(col("q"), col("s2")))
      .transform(graft.ops.SharedCache.persist) // assign + probes branch
    val proj = e.select(col("vec_id"), jlProjArr(col("q")).as("y"))
      .transform(graft.ops.SharedCache.persist) // both coarse legs
    val assign = ranked
      .select(col("vec_id"), element_at(col("sc"), 1).getField("c_id").as("cell"))
    val probes = ranked.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"),
        explode(transform(slice(col("sc"), 1, IvfProbes),
          x => x.getField("c_id"))).as("cell"))
    val cand = assign.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id")).distinct()
      .transform(graft.ops.SharedCache.persist)
    val coarse = cand
      .join(proj.select(col("vec_id").as("neighbor_id"), col("y").as("yn")),
        "neighbor_id")
      .join(proj.select(col("vec_id").as("q_id"), col("y").as("yq")), "q_id")
      .select(col("q_id"), col("neighbor_id"),
        aggregate(zip_with(col("yn"), col("yq"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("coarse"))
    val survivors = graft.functions.TopK
      .topKPerGroup(coarse, "q_id", "neighbor_id", "coarse", RerankR)
      .select(col("q_id"), col("neighbor_id"))
      .transform(graft.ops.SharedCache.persist)
    val rerank = survivors
      .join(ranked.select(col("vec_id").as("neighbor_id"), col("q").as("qn"),
        col("s2").as("sn")), "neighbor_id")
      .join(ranked.select(col("vec_id").as("q_id"), col("q").as("qq"),
        col("s2").as("sq")), "q_id")
      .select(col("q_id"), col("neighbor_id"),
        cosE6(dotLong(col("qn"), col("qq")), col("sn"), col("sq")).as("cos_e6"))
    val twoTop = graft.functions.TopK
      .topKPerGroup(rerank, "q_id", "neighbor_id", "cos_e6", 5)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("ts_hit"))
    val ivfTop = q33AnnIvf(s, d)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("ivf_hit"))
    val hits = LlmPipeline.q23AnnBruteForce(s, d)
      .select(col("q_id"), col("neighbor_id"))
      .join(twoTop, Seq("q_id", "neighbor_id"), "left")
      .join(ivfTop, Seq("q_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("ivf_hit"), lit(0L))).as("n_ivf_hit"),
        sum(coalesce(col("ts_hit"), lit(0L))).as("n_two_stage_hit"))
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val nSurv = survivors.agg(count(lit(1)).as("n_reranked"))
    // join-free scalar combine (the q221 pattern)
    hits.unionByName(nCand, allowMissingColumns = true)
      .unionByName(nSurv, allowMissingColumns = true)
      .agg(max(col("n_exact")).as("n_exact"),
        max(col("n_ivf_hit")).as("n_ivf_hit"),
        max(col("n_two_stage_hit")).as("n_two_stage_hit"),
        max(col("n_candidates")).as("n_candidates"),
        max(col("n_reranked")).as("n_reranked"))
      .select(col("n_exact"), col("n_ivf_hit"), col("n_two_stage_hit"),
        col("n_candidates"), col("n_reranked"),
        // greatest(n_exact, 1) guard: on a corpus with no brute-force
        // truth edges Spark's div returns NULL while DuckDB's //
        // errors; guarded, both report 0 recall — the
        // same guard style as n_candidates ratios in this select list
        expr("n_ivf_hit * 1000000 div greatest(n_exact, 1)")
          .as("ivf_recall_ppm"),
        expr("n_two_stage_hit * 1000000 div greatest(n_exact, 1)")
          .as("two_stage_recall_ppm"),
        (expr("n_ivf_hit * 1000000 div greatest(n_exact, 1)") -
          expr("n_two_stage_hit * 1000000 div greatest(n_exact, 1)"))
          .as("prune_loss_ppm"))
  }

  // -- q232: split semantic-shift audit ---------------------------------

  /** SPLIT SEMANTIC-SHIFT AUDIT — q213 checks the splitter LEXICALLY
    * (unigram L1); this checks it in EMBEDDING SPACE, the axis
    * semantic contamination and topic skew actually live on: per q42
    * split, the centroid of the split's vectors against the corpus
    * centroid — cosine (direction shift) and per-dim L1 (magnitude
    * shift). A hash split should sit at cos ≈ 1e6 and small L1; a
    * split whose centroid drifts means validation loss is measured on
    * a different distribution than training sees (q177's health
    * argument, turned on the split boundary).
    *
    * Integer contract: centroids are truncating means of e4 sums —
    * SIGN-DECOMPOSED (CASE on the sum's sign) because Spark's div
    * truncates toward zero while DuckDB floors; the cosine is the
    * shared one-IEEE-op formula over identical integer operands.
    *
    * Plan: ONE posexplode pass to (split, dim, v) — map-combined to
    * 3·64 split cells and 64 corpus cells (the corpus cells derive
    * from the split cells, no second scan); everything after is
    * arithmetic over ≤192 rows. */
  val q232SplitShift: Q = (s, d) => {
    graft.functions.VectorFunctions.register(s) // the quant kernel
    val signedDiv = (sv: String, n: String) =>
      s"CASE WHEN $sv >= 0 THEN $sv div $n ELSE -((-$sv) div $n) END"
    val cells = Tables.embeddings(s, d)
      .select(
        splitOf(splitBucket(col("vec_id"))).as("split"),
        posexplode(quantE4(col("embedding"))).as(Seq("p", "v")))
      .groupBy("split", "p")
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .transform(graft.ops.SharedCache.persist)
    val splitCent = cells
      .select(col("split"), col("p"), col("n"),
        expr(signedDiv("sv", "n")).as("c"))
    val corpusCent = cells.groupBy("p")
      .agg(sum(col("sv")).as("sv"), sum(col("n")).as("n"))
      .select(col("p"), expr(signedDiv("sv", "n")).as("c0"))
    splitCent.join(broadcast(corpusCent), "p")
      .groupBy("split")
      .agg(max(col("n")).as("n_vecs"),
        sum(col("c") * col("c0")).as("dot"),
        sum(col("c") * col("c")).as("s2a"),
        sum(col("c0") * col("c0")).as("s2b"),
        sum(abs(col("c") - col("c0"))).as("l1_e4"))
      .select(col("split"), col("n_vecs"),
        cosE6(col("dot"), col("s2a"), col("s2b")).as("cos_to_corpus_e6"),
        col("l1_e4"))
  }

  // -- q241: IVF probe-count sweep ---------------------------------------

  private val ProbeSweep = Seq(1, 2, 4)

  /** PROBE-COUNT SWEEP — q237's config-selection discipline applied to
    * the OTHER index family: q33 ships nprobe = 2, and this measures
    * what each candidate probe count buys — per nprobe ∈ {1, 2, 4},
    * recall of the probed top-5 against q23's brute-force truth AND
    * the candidate volume scanned (the latency axis: candidates scale
    * linearly with probes, recall saturates — the knee is the config
    * decision). Candidate sets NEST by construction (a pair generated
    * at probe rank r exists for every nprobe ≥ r), so ONE pair pass
    * with the generating probe's rank attached serves every config:
    * per-config filtering is a predicate, never a re-join.
    *
    * Determinism: q33's centroid argmax and (cos desc, id asc) top-5
    * tiebreaks verbatim per config, mirrored by the oracle. Scale:
    * q33's bounded-cell equi-join at the widest nprobe; the per-config
    * legs are TopK folds over the shared pair relation. */
  val q241ProbeSweep: Q = (s, d) => {
    val e = quantized(s, d)
    val cents = e.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("c_id"), col("q").as("cq"), col("s2").as("cs2"))
    // in-row cell ranking over the one-row centroid panel (see
    // centPanel — no K·|V|-row window shuffle); prank is the 1-based
    // position in the ranked array, identical to a row_number crank
    val ranked = e.join(broadcast(centPanel(cents)))
      .withColumn("sc", cellsRankedCol(col("q"), col("s2")))
      .transform(graft.ops.SharedCache.persist) // assign + probes branch
    val assign = ranked
      .select(col("vec_id"), col("q"), col("s2"),
        element_at(col("sc"), 1).getField("c_id").as("cell"))
    val maxProbe = ProbeSweep.max
    val probes = ranked.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("q").as("qq"), col("s2").as("qs2"),
        posexplode(transform(slice(col("sc"), 1, maxProbe),
          x => x.getField("c_id"))).as(Seq("pos", "cell")))
      .select(col("q_id"), col("qq"), col("qs2"), col("cell"),
        (col("pos") + 1).as("prank"))
    // one pair pass at the widest nprobe; mincrank = the cheapest probe
    // rank that would have generated the pair
    val pairs = assign.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id").as("neighbor_id"),
        // the cosine is a pure function of the pair, so grouping by it
        // is a no-op on cardinality — it just rides along exactly
        cosE6(dotLong(col("q"), col("qq")), col("s2"), col("qs2")).as("cos_e6"))
      .agg(min(col("prank")).as("mincrank"))
      .transform(graft.ops.SharedCache.persist)
    val truth = LlmPipeline.q23AnnBruteForce(s, d)
      .select(col("q_id"), col("neighbor_id"))
      .transform(graft.ops.SharedCache.persist)
    val legs = ProbeSweep.map { p =>
      val top = graft.functions.TopK.topKPerGroup(
        pairs.filter(col("mincrank") <= p), "q_id", "neighbor_id", "cos_e6", 5)
        .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
      val rec = truth.join(top, Seq("q_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as(s"t_$p"),
          sum(coalesce(col("hit"), lit(0L))).as(s"h_$p"))
      val cand = pairs.filter(col("mincrank") <= p)
        .agg(count(lit(1)).as(s"c_$p"))
      rec.unionByName(cand, allowMissingColumns = true)
    }
    val maxCols = ProbeSweep.flatMap(p => Seq(
      max(col(s"t_$p")).as(s"t_$p"), max(col(s"h_$p")).as(s"h_$p"),
      max(col(s"c_$p")).as(s"c_$p")))
    legs.reduce(_.unionByName(_, allowMissingColumns = true))
      .agg(maxCols.head, maxCols.tail: _*)
      .selectExpr("stack(" + ProbeSweep.length + ", " +
        ProbeSweep.map(p =>
          s"${p}L, c_$p, t_$p, h_$p, h_$p * 1000000 div greatest(t_$p, 1)")
          .mkString(", ") +
        ") as (nprobe, n_candidates, n_exact, n_hit, recall_ppm)")
  }

  // -- q191: IVF index-balance audit ----------------------------------

  /** IVF CELL-BALANCE AUDIT — the index-health report an ANN deploy
    * reads before trusting q33/q114's cell-probed recall and latency:
    * per coarse cell, member count, corpus share ppm, and the load
    * factor in e6 (n·K·1e6 div N — 1e6 = perfectly balanced; a hot
    * cell ≫ 1e6 means probe latency blows up on it, empty cells mean
    * wasted list heads and recall risk from over-concentration
    * elsewhere). Uses EXACTLY q33's deterministic assignment (same
    * centroids, same cosine, same (cos desc, id asc) argmax), so the
    * audit describes the index q33 actually probes.
    *
    * Plan: q33's bounded K-row broadcast assignment (declared
    * nested-loop, same allowance), one map-combined per-cell count,
    * then a left join of the ≤K-row centroid relation onto the counts
    * and an empty-partition window total over ≤K rows (the q189
    * discipline — no driver action, no corpus rescan). */
  val q191IvfBalance: Q = (s, d) => {
    val e = quantized(s, d)
    val cents = e.filter(col("vec_id") < IvfCells)
      .select(col("vec_id").as("c_id"), col("q").as("cq"), col("s2").as("cs2"))
    // in-row argmax assignment over the one-row centroid panel (see
    // centPanel — no K·|V|-row window shuffle)
    val counts = e.join(broadcast(centPanel(cents)))
      .select(element_at(cellsRankedCol(col("q"), col("s2")), 1)
        .getField("c_id").as("cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
    cents.select(col("c_id").as("cell"))
      .join(counts, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n_members"))
      .withColumn("n_total",
        sum(col("n_members")).over(Window.partitionBy()))
      .select(col("cell"), col("n_members"),
        expr("n_members * 1000000 div n_total").as("share_ppm"),
        expr(s"n_members * $IvfCells * 1000000 div n_total").as("load_e6"))
  }

  // -- q114: IVF-PQ ANN (compressed-index scale path) ----------------

  private val PqM = 16    // subspaces (64 dims / 4)
  private val PqDsub = 4  // dims per subspace
  private val PqK = 64    // codebook entries per subspace

  /** IVF-PQ: the compressed-index ANN the 100 TB story actually
    * deploys (FAISS's workhorse). q33's IVF probes cells but still
    * ships full 64-dim vectors through the candidate join; here the
    * index side is PRODUCT-QUANTIZED — each vector is encoded as 16
    * codebook ids (one per 4-dim subspace, 64 entries each), so a
    * candidate row is (vec_id, cell, 16 6-bit codes): the shuffled/
    * stored index is ~12 bytes of payload per vector instead of 512,
    * and distance evaluation against a query is 16 table lookups
    * (ADC — asymmetric distance computation) instead of 64 multiplies.
    * Encoding is RESIDUAL (v − its cell centroid, the FAISS IVF-PQ
    * discipline): residuals are small, so the codebook covers them
    * densely, and within a probed cell query and candidate subtract
    * the SAME centroid — ADC approximates the true distance with only
    * residual-quantization error (AnnPqSpec pins the recall).
    *
    * Deterministic-seed convention (q33): coarse centroids are the
    * vectors with vec_id < 16; subspace codebooks are the residual
    * subvectors of vec_id ∈ [16, 80). Both are CONTROL PLANE — collected once on
    * the driver (16+16 rows, the q57 centroid discipline) and carried
    * into the plan as array literals, so cell assignment, PQ encoding,
    * and the per-query 8×16 distance LUT are all pure narrow maps with
    * a CONSTANT-SIZE expression tree (the kmAssign lesson: literals
    * are data, not operators). The only shuffle is the cell equi-join
    * from probes to the compact code relation, then the map-side TopK
    * partial aggregate. At production scale the seed convention swaps
    * for trained centroids (q57's Lloyd) with the identical plan.
    *
    * Everything is exact integer math (e4 components, integer squared
    * L2, ties broken by lowest id), so the DuckDB oracle restates
    * assignment → encoding → probe → ADC relationally and must agree
    * bit-for-bit — including every PQ approximation artifact. */
  val q114AnnIvfPq: Q = (s, d) => {
    val e = quantized(s, d).select(col("vec_id"), col("q"))
    // control plane: 16 coarse centroids + 8×16 subspace codebooks
    val seeds = e.filter(col("vec_id") < IvfCells + PqK).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq.sortBy(_._1)
    val cents = seeds.filter(_._1 < IvfCells)
    // RESIDUAL codebooks (the FAISS IVF-PQ discipline): entries are
    // subvectors of (seed − its nearest coarse centroid). Residuals
    // are small, so a 32-entry codebook covers them far more densely
    // than it would raw vectors — and within a probed cell the ADC sum
    // approximates the TRUE distance, since query and candidate
    // subtract the same centroid. Computed driver-side: seeds are
    // already-collected control plane.
    def nearestCent(v: Seq[Long]): Seq[Long] =
      if (cents.isEmpty) v.map(_ => 0L)
      else cents.minBy { case (cid, cv) =>
        (v.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum, cid)
      }._2
    val cbs: Seq[Seq[(Long, Seq[Long])]] = (0 until PqM).map { m =>
      seeds.filter(_._1 >= IvfCells).map { case (id, v) =>
        val r = v.zip(nearestCent(v)).map { case (a, b) => a - b }
        (id - IvfCells, r.slice(m * PqDsub, (m + 1) * PqDsub))
      }
    }
    if (cents.size < IvfCells || cbs.head.size < PqK)
      // input smaller than the seed convention: schema-correct empty
      e.select(col("vec_id").as("q_id"), col("vec_id").as("neighbor_id"),
        lit(0L).as("adc_d2"), lit(0).as("rank")).limit(0)
    else pqQuery(e, quantized(s, d).select(col("vec_id"), col("q")), cents, cbs)
  }

  private def pqQuery(
      e: DataFrame, eQuery: DataFrame, cents: Seq[(Long, Seq[Long])],
      cbs: Seq[Seq[(Long, Seq[Long])]]): DataFrame = {
    val centsLit = typedlit(cents) // array<struct<_1: c_id, _2: 64 longs>>
    // FLAT codebook literal — (subspace start offset, 8-dim entry) in
    // (m, c) order — so every HOF below nests at most two deep (the
    // proven kmAssign shape; a transform-of-transform-of-aggregate over
    // a nested literal trips Spark 4's lambda-variable resolution)
    val flatCb = typedlit(for { m <- 0 until PqM; (_, sub) <- cbs(m) }
      yield (m.toLong * PqDsub, sub))
    // the whole per-row PQ pipeline — cell ranking, residual, the
    // 16×64 subspace-distance sweep, per-block argmin encode, and the
    // 16-lookup ADC fold — as HOF lambdas would run INTERPRETED (1024
    // zip_with+aggregate folds and ~2k transient arrays per row;
    // ArrayTransform/ArrayAggregate bodies never whole-stage-codegen).
    // Each stage is instead a fused codegen'd kernel over the
    // SAME literals with bit-identical integer math and the same
    // first-minimum tie rule — see graft.functions.{RankCellsL2,
    // PqEncode, PqLut, PqAdc}; AnnKernelsSpec pins kernel ≡ HOF on real
    // vectors and the DuckDB oracle re-gates the query end to end.
    val cellsRanked = graft.functions.VectorFunctions.rankCellsL2(col("q"), centsLit)
    val idx = e
      .select(col("vec_id"), col("q"),
        element_at(cellsRanked, 1).getField("c_id").as("cell"))
      .select(col("vec_id"), col("cell"), graft.functions.VectorFunctions
        .pqEncode(col("q"), col("cell"), centsLit, flatCb).as("codes"))
    // queries: 4% sample over a SEPARATE scan (no self-join lineage),
    // 2 nearest cells; the LUT is per probed cell (residuals are
    // relative to THAT cell's centroid — the IVF-PQ identity that
    // makes ADC approximate the true distance within the cell)
    val qs = eQuery.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("q_id"), col("q"),
        explode(transform(slice(cellsRanked, 1, IvfProbes),
          x => x.getField("c_id"))).as("cell"))
      .select(col("q_id"), col("cell"), graft.functions.VectorFunctions
        .pqLut(col("q"), col("cell"), centsLit, flatCb).as("lut"))
    // probe: equi-join on cell; ADC = Σ_m lut[m·K + code_m] — 8 lookups
    val adc = idx.join(qs, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        graft.functions.VectorFunctions
          .pqAdc(col("lut"), col("codes")).as("adc_d2"))
    graft.functions.TopK
      .topKPerGroup(adc.withColumn("neg_d2", -col("adc_d2")), "q_id", "neighbor_id", "neg_d2", 5)
      .select(col("q_id"), col("neighbor_id"), (-col("neg_d2")).as("adc_d2"), col("rank"))
  }

  // -- q57: k-means clustering (unrolled Lloyd iterations) -----------

  private val KmIters = 2

  /** K for q57/q58 is DATA-DEPENDENT: K = ⌈√N⌉ over the vector count —
    * the SemDeDup sizing rule. With K ∝ √N the expected cluster size
    * is also ~√N, so q58's within-cluster pair scan stays ~N·√N total
    * instead of going quadratic as the corpus grows (a fixed K would
    * un-bound exactly the term the method exists to bound). N comes
    * from one driver-hosted count — control plane, like the centroids
    * themselves — and both engines derive the identical integer from
    * the same IEEE sqrt/ceil, so the oracle remains exact. */
  private def kmK(n: Long): Long =
    math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)

  /** Loud-failure ceiling on the DRIVER-HOSTED centroid state: the
    * Lloyd pipeline embeds all K
    * centroids as ONE `typedlit` array (K·dim longs — data, not
    * operators, the MLlib broadcast convention), so the data path is
    * clean at any K, but past ~10⁶–10⁷ literal values the PLAN itself
    * (serialization, analysis, codegen constant pool) becomes the
    * binding resource. K = ⌈√N⌉ keeps K·dim ≈ √N·64 ≪ this cap until
    * N ≈ 10⁹ vectors (true-100-TB vector counts) — at which point the
    * engine must not degrade silently: [[kmCentroidBudget]] throws
    * with the named remediation (re-express the assignment as a
    * broadcast equi-join of a coarse-bucketed centroid RELATION — the
    * q33 IVF cell-join shape — instead of a literal), the
    * q138/BfsHorizon loud-cap discipline. 2²¹ values ≈ 16 MiB of
    * literal array: comfortably inside plan budgets, ~32× the sf1.0
    * point, and small enough that the failure fires before the driver
    * heap does. */
  private[graft] val KmCentroidLiteralCap: Long = 1L << 21

  /** Guard: called with the derived K and vector dim before any
    * centroid collect. Throws past [[KmCentroidLiteralCap]]. */
  private[graft] def kmCentroidBudget(k: Long, dim: Long): Unit =
    if (k * dim > KmCentroidLiteralCap)
      throw new IllegalStateException(
        s"k-means driver-hosted centroid literal K·dim = ${k}·${dim} = " +
          s"${k * dim} exceeds KmCentroidLiteralCap=$KmCentroidLiteralCap. " +
          "At this scale the centroid ARRAY must stop riding the plan: " +
          "switch the Lloyd assignment to a broadcast equi-join against " +
          "a coarse-bucketed centroid relation (the q33 IVF cell-join " +
          "shape) rather than raising the cap.")

  /** The same K as a DuckDB scalar subquery (oracle side of kmK). */
  private val KmKSql =
    "(SELECT greatest(CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT), 1) FROM embeddings)"

  /** One Lloyd assignment pass with DRIVER-HOSTED centroids (the
    * MLlib discipline: K×dim numbers are control plane, exactly like
    * a broadcast variable — NOT a join). ALL centroids ride in ONE
    * array-of-structs literal and the K squared-L2 distances come from
    * a `transform` over it (`zip_with` + `aggregate` in the lambda),
    * argmin via `array_min` over (dist, c_id) structs — a pure narrow
    * map: zero shuffles, zero joins, no K-fold row blow-up, and the
    * EXPRESSION TREE stays constant-size as K grows (K = ⌈√N⌉ is
    * data-dependent; per-centroid literal subtrees would make the plan
    * itself O(K·dim) and sink codegen at real scale — the literal
    * array is data, not operators, exactly like a broadcast value). */
  private def kmAssign(vecs: DataFrame, cents: Seq[(Long, Seq[Long])]): DataFrame = {
    val centsLit = typedlit(cents) // array<struct<_1: c_id, _2: cq>>
    val dists = transform(centsLit, c =>
      struct(
        aggregate(zip_with(col("q"), c.getField("_2"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("dist"),
        c.getField("_1").as("c_id")))
    vecs.withColumn("m", array_min(dists))
      .select(col("vec_id"), col("q"),
        col("m.c_id").as("cluster"), col("m.dist").as("dist"))
  }

  /** Lloyd update: per-(cluster, dimension) integer sums — ONE
    * partial-aggregated shuffle on a (K × dim)-bounded key space —
    * rounded to e4 centroid components by the engine-portable
    * round(sum/count) convention; the K result rows come back to the
    * driver (control plane, like the assignment's outbound centroids).
    * Clusters that lost all members drop out, shrinking K — the
    * standard restart-free policy, identical in the oracle. */
  private def kmUpdate(assigned: DataFrame): Seq[(Long, Seq[Long])] =
    assigned.select(col("cluster"), posexplode(col("q")).as(Seq("pos", "x")))
      .groupBy("cluster", "pos")
      .agg(sum("x").as("sx"), count(lit(1)).as("n"))
      .select(col("cluster"), col("pos"),
        round(col("sx").cast("double") / col("n").cast("double"), 0)
          .cast("long").as("c"))
      .groupBy("cluster")
      .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("cluster"), transform(col("pc"), _.getField("c")).as("cq"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .toSeq.sortBy(_._1)

  /** q57: k-means over the quantized embeddings — K = ⌈√N⌉ (see kmK),
    * two unrolled Lloyd iterations from the deterministic seed (the
    * vectors with vec_id < K), then a final assignment. Everything is
    * exact integer/portable math (e4 components, integer squared-L2,
    * one IEEE divide per centroid component), so the DuckDB oracle
    * unrolls the same two iterations relationally and must agree
    * bit-for-bit. This is the operator q33's scaladoc promises at
    * scale: IVF centroids from an actual k-means with √N sizing, not
    * a fixed-K convention. */
  /** The full two-iteration Lloyd pipeline; returns the final
    * assignment (vec_id, q, cluster, dist) — still a narrow map over
    * the scan. Shared by q57 (assignments) and q58 (semantic dedup
    * within the resulting clusters). */
  /** The trained pipeline state: the cached quantized vectors and the
    * FINAL centroids after the two Lloyd iterations. Shared by the
    * final assignment (q57/q58) and the silhouette audit (q208), which
    * needs the same centroids but a top-2 distance view. */
  private def kmFinalCentroids(s: SparkSession, d: String)
      : (DataFrame, Seq[(Long, Seq[Long])]) = {
    // persisted (SharedCache): the Lloyd pipeline probes this relation
    // ~2 times per iteration plus count/seed/final — k-means over a
    // re-scanned input would pay the parquet read per pass (the MLlib
    // convention caches the training input for exactly this reason);
    // q57, q58 and q208 canonicalize to the same entry
    val e = graft.ops.SharedCache.persist(
      quantized(s, d).select(col("vec_id"), col("q")))
    val k = kmK(e.count())
    // declared control-plane ceiling — fail loudly BEFORE the first
    // K-row collect rather than degrading plan/driver silently
    e.select(size(col("q")).cast("long").as("dim")).limit(1).collect()
      .headOption.foreach(r => kmCentroidBudget(k, r.getLong(0)))
    var cents = e.filter(col("vec_id") < k)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .toSeq.sortBy(_._1)
    if (cents.nonEmpty)
      (1 to KmIters).foreach { _ => cents = kmUpdate(kmAssign(e, cents)) }
    (e, cents)
  }

  private def kmeansAssignments(s: SparkSession, d: String): DataFrame = {
    val (e, cents) = kmFinalCentroids(s, d)
    if (cents.isEmpty) // empty input: schema-correct empty assignment
      e.select(col("vec_id"), col("q"),
        lit(null).cast("long").as("cluster"), lit(null).cast("long").as("dist"))
    else kmAssign(e, cents)
  }

  val q57KmeansCluster: Q = (s, d) =>
    kmeansAssignments(s, d).select(col("vec_id"), col("cluster"), col("dist"))

  // -- q208: simplified-silhouette clustering-quality audit -----------

  /** SILHOUETTE AUDIT of the q57 clustering — the quality gate read
    * before TRUSTING the clusters that q58's semantic dedup and q33's
    * IVF cells are built on: per cluster, the centroid-based
    * (simplified) silhouette mean and worst case, where each vector's
    * s = (b − a) / b with a = squared L2 to its OWN centroid and b =
    * to the nearest OTHER centroid (a ≤ b by the argmin, so the
    * classic max(a,b) denominator IS b; a cluster whose mean s falls
    * toward 0 is not separated from its neighbor — its q58 dedup
    * decisions and q33 probe routing are noise). Simplified silhouette
    * is the standard O(N·K) form (full silhouette is O(N²) — the
    * all-pairs cost this family exists to avoid).
    *
    * Scale shape: exactly q57's — the K distances come from ONE
    * `transform` over the centroid array literal; top-2 via
    * `sort_array` (struct order (dist, c_id) = the assignment's
    * argmin tie-break, so `cluster` here is bit-identical to q57's);
    * then one map-combined aggregate to ≤K rows. Zero joins, zero
    * extra shuffles over the cached vector relation. Integer-exact:
    * ppm by floor div, b = 0 (duplicate centroids) guarded to 1;
    * K = 1 degenerates to silhouette 0 by convention (no "other"
    * centroid exists). */
  val q208SilhouetteAudit: Q = (s, d) => {
    val (e, cents) = kmFinalCentroids(s, d)
    if (cents.isEmpty)
      e.select(lit(0L).as("cluster"), lit(0L).as("n_vecs"),
        lit(0L).as("mean_sil_ppm"), lit(0L).as("min_sil_ppm"))
        .where(lit(false))
    else {
      val centsLit = typedlit(cents)
      val dists = sort_array(transform(centsLit, c =>
        struct(
          aggregate(zip_with(col("q"), c.getField("_2"), (a, b) => (a - b) * (a - b)),
            lit(0L), (acc, x) => acc + x).as("dist"),
          c.getField("_1").as("c_id"))))
      e.withColumn("ds", dists)
        .select(
          col("ds").getItem(0).getField("c_id").as("cluster"),
          col("ds").getItem(0).getField("dist").as("a_dist"),
          when(size(col("ds")) > 1, col("ds").getItem(1).getField("dist"))
            .as("b_dist"))
        .withColumn("sil_ppm",
          when(col("b_dist").isNull, 0L).otherwise(
            expr("(b_dist - a_dist) * 1000000 div greatest(b_dist, 1)")))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_vecs"), sum(col("sil_ppm")).as("ssil"),
          min(col("sil_ppm")).as("min_sil_ppm"))
        .select(col("cluster"), col("n_vecs"),
          expr("ssil div n_vecs").as("mean_sil_ppm"), col("min_sil_ppm"))
    }
  }

  // -- q210: top principal component via distributed power iteration ---

  private val PcIters = 6
  private val PcScale = 1000000L

  /** TOP PRINCIPAL COMPONENT of the embedding space — the anisotropy
    * audit behind every cosine-based operator here (q23/q32/q33/q58):
    * contextual embeddings are notoriously anisotropic (a single
    * dominant direction eats most of the second moment, flattening
    * cosine contrast — Ethayarajh 2019; Mu & Viswanath 2018's
    * "all-but-the-top" removes exactly this component), and THIS query
    * computes that direction with 6 distributed power iterations over
    * the UNCENTERED second moment (the Gram matrix — the anisotropy
    * literature's common-direction convention).
    *
    * The scale trick: the Gram matrix is never materialized. Each
    * iteration computes C·v as Σ_r q⃗·(q⃗·v) — one narrow pass over the
    * SharedCache'd quantized vectors: the dot with the driver-held
    * 64-long v (control plane, the k-means centroid convention) is a
    * constant-size expression, then ONE posexplode + map-combined sum
    * to D rows. No D×D anything, no joins; 6 iterations = 6 cached
    * passes. Renormalization to ‖v‖∞ = 1e6 happens on the D-row
    * collect in exact BigInt (the oracle mirrors it in HUGEINT), so
    * both engines walk the identical integer trajectory. All signed
    * divisions are sign-decomposed so every `div` sees non-negative
    * operands (README div contract). Headroom: |w_i| ≤ N·1e4·D·1e4 —
    * safe in BIGINT to N ≈ 1.4e9 rows per the documented decimal
    * escape.
    *
    * Output: the unit (∞-norm) component, (pos, comp_e6), 1-based
    * positions. The surfaced relation is the driver-held final vector
    * (a LocalTableScan) — the data work happened in the 6 passes. */
  val q210TopComponent: Q = (s, d) => {
    import s.implicits._
    val e = graft.ops.SharedCache.persist(
      quantized(s, d).select(col("vec_id"), col("q")))
    val head = e.limit(1).collect()
    if (head.isEmpty)
      Seq.empty[(Long, Long)].toDF("pos", "comp_e6")
    else {
      val dim = head(0).getSeq[Long](1).length
      var v: Seq[Long] = Seq.fill(dim)(PcScale)
      (1 to PcIters).foreach { _ =>
        val w = e
          .withColumn("dot",
            aggregate(zip_with(col("q"), typedlit(v), (a, b) => a * b),
              lit(0L), (acc, x) => acc + x))
          .withColumn("sdot",
            expr(s"if(dot >= 0, dot div $PcScale, -((-dot) div $PcScale))"))
          .select(col("sdot"), posexplode(col("q")).as(Seq("pos", "x")))
          .groupBy("pos").agg(sum(expr("x * sdot")).as("w"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
        val m = math.max(w.map(p => math.abs(p._2)).max, 1L)
        v = w.map { case (_, wi) => // exact: BigInt mirror of the oracle's HUGEINT
          val a = (BigInt(wi).abs * PcScale / m).toLong
          if (wi >= 0) a else -a
        }
      }
      v.zipWithIndex.map { case (c, i) => ((i + 1).toLong, c) }
        .toDF("pos", "comp_e6")
    }
  }

  // -- q58: semantic dedup (within-cluster cosine pruning) -----------

  private val SemDupThresholdE6 = 300000L

  /** SemDeDup-style semantic deduplication: k-means partitions the
    * embedding space (q57's pipeline), then near-duplicates are
    * detected ONLY within each cluster — pairwise exact quantized
    * cosine over cluster-mates, never across the corpus. The cluster
    * equi-join bounds the quadratic term by the largest cluster: K is
    * computed as ⌈√N⌉ from the data (see kmK), so expected cluster
    * sizes stay ~√N and the total pair work is ~N·√N, which
    * is the entire trick of the method: global all-pairs cosine is
    * impossible at 100 TB, per-cluster all-pairs is routine. A vector
    * is dropped when any smaller-id cluster-mate sits at cosine ≥ the
    * threshold (one-hop rule, same keeper convention as q21/q48;
    * cluster-level transitive closure is q55's job).
    *
    * Reference: Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication" (arXiv:2303.09540) —
    * method re-expressed over Spark relational ops. */
  val q58SemanticDedup: Q = (s, d) => {
    val a = kmeansAssignments(s, d)
      .withColumn("s2", dotLong(col("q"), col("q")))
    val l = a.select(col("cluster"), col("vec_id").as("a_id"),
      col("q").as("qa"), col("s2").as("sa"))
    val r = a.select(col("cluster"), col("vec_id").as("b_id"),
      col("q").as("qb"), col("s2").as("sb"))
    val dropped = l.join(r, Seq("cluster")).filter(col("a_id") < col("b_id"))
      .select(col("b_id"),
        cosE6(dotLong(col("qa"), col("qb")), col("sa"), col("sb")).as("cos_e6"))
      .filter(col("cos_e6") >= SemDupThresholdE6)
      .select(col("b_id").as("vec_id")).distinct()
    a.select(col("vec_id"), col("cluster"))
      .join(dropped.withColumn("hit", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("hit"), lit(false)).as("is_dropped"))
  }

  // -- registry ------------------------------------------------------

  // -- q85: edit-distance-1 dedup (deletion-neighborhood blocking) ----

  /** EDIT-DISTANCE-1 DEDUP, FastSS/SymSpell-style: string pairs within
    * Levenshtein distance 1 — the typo/OCR-variant dedup modality
    * (Jaccard and SimHash both miss single-character edits in short
    * strings). Blocking is the DELETION NEIGHBORHOOD: each string maps
    * to itself plus every single-character deletion (L+1 keys, in-row
    * `transform` over char positions — `Column.substr` with dynamic
    * bounds). Two strings are within one edit iff their neighborhoods
    * intersect (substitution ⇒ both delete position i; insert/delete ⇒
    * one IS the other's deletion; equality ⇒ identity key), so the
    * equi-join on neighborhood keys is provably exhaustive — the
    * quadratic all-pairs `levenshtein` scan becomes a KEYED join whose
    * bucket sizes are bounded by neighborhood collisions, and the
    * exact `levenshtein ≤ 1` verify runs on candidates only. Keys are
    * capped (c_custkey ≤ 3000) so the sf0.1 oracle's O(n²) stays
    * tractable — the Spark plan itself has no quadratic term. The
    * DuckDB oracle is that independent quadratic restatement. */
  val q85EditDistanceDedup: Q = (s, d) => {
    val names = Tables.customer(s, d)
      .filter(col("c_custkey") <= 3000)
      .select(col("c_name")).distinct()
    def neighborhood(nm: Column): Column =
      array_union(
        array(nm),
        transform(sequence(lit(0), length(nm) - 1), i =>
          concat(nm.substr(lit(1), i), nm.substr(i + lit(2), length(nm)))))
    val keyed = names
      .select(col("c_name"), explode(neighborhood(col("c_name"))).as("nkey"))
    val a = keyed.select(col("nkey"), col("c_name").as("name_a"))
    val b = keyed.select(col("nkey"), col("c_name").as("name_b"))
    a.join(b, Seq("nkey"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b")).distinct()
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 1)
  }

  // -- q110: exact repeated-substring spans (ExactSubstr-style) -------

  private val SubW = 32 // gram width; a dup span is any shared 32+-char run

  /** EXACT REPEATED-SUBSTRING DEDUP (the suffix-array "ExactSubstr"
    * modality, re-expressed for a shuffle engine): find every maximal
    * character span that appears verbatim 2+ times in the corpus —
    * finer than whole-doc q20, stricter than Jaccard q39, and offset-
    * robust like q109 but exact. Every sliding [[SubW]]-gram is hashed
    * IN-ROW (index-aware `transform` + posexplode — text never leaves
    * the scan); a gram whose 48-bit hash occurs 2+ times corpus-wide
    * marks its [pos, pos+31] interval as duplicated, and each doc's
    * overlapping/adjacent intervals merge into MAXIMAL spans with the
    * classic running-max interval sweep (prev-frame max(end), island
    * counter — one window sort per doc, both Window nodes share it).
    * A duplicated region of length L ≥ 32 yields exactly one span of
    * exactly L chars, wherever it sits in either doc. The wide work
    * shuffles fixed-width (hash, doc, pos) triples; the frequency
    * relation prunes to dup grams BEFORE the join back, so the
    * interval sweep touches only duplicated positions — at 100 TB the
    * expected-unique gram mass never reaches a second shuffle.
    * Output: per-doc span count, duplicated chars, longest span
    * (docs with none report zeros — the corpus-health report shape). */
  val q110ExactSubstrSpans: Q = (s, d) =>
    exactSubstrSpans(Tables.documents(s, d))

  /** Same over any (doc_id, text, …) relation — the spec drives it
    * with constructed corpora to pin the maximal-span contract. */
  private[graft] def exactSubstrSpans(docs: DataFrame): DataFrame = {
    val grams = docs
      .filter(length(col("text")) >= SubW)
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(1, length(text) - ${SubW - 1}), " +
          s"i -> CAST(conv(substring(md5(substring(text, i, $SubW)), 1, 12), 16, 10) AS BIGINT))"))
          .as(Seq("idx", "h")))
      .select(col("doc_id"), (col("idx") + 1).cast("long").as("pos"), col("h"))
      // feeds the corpus-wide frequency AND the probe side of the
      // dup-gram join — without the persist the gram scan runs twice
      .transform(graft.ops.SharedCache.persist)
    val dupGrams = grams.groupBy("h")
      .agg(count(lit(1)).as("occ")).filter(col("occ") >= 2)
    val prevMax = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val run = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val spans = grams.join(dupGrams, "h")
      .withColumn("en", col("pos") + (SubW - 1))
      .withColumn("pme", max(col("en")).over(prevMax))
      .withColumn("cut",
        when(col("pme").isNull || col("pos") > col("pme") + 1, 1L).otherwise(0L))
      .withColumn("island", sum(col("cut")).over(run))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("st"), max(col("en")).as("en"))
    docs.select(col("doc_id"))
      .join(
        spans.groupBy("doc_id").agg(
          count(lit(1)).as("n_dup_spans"),
          sum(col("en") - col("st") + 1).as("dup_chars"),
          max(col("en") - col("st") + 1).as("max_span_len")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("max_span_len"), lit(0L)).as("max_span_len"))
  }

  // -- q125: sorted-neighborhood record linkage ----------------------

  private val SnWindow = 3 // neighbors compared per record
  private val SnMinJacE3 = 300L // ≥ share-a-word on 2-word names

  /** ENTITY RESOLUTION via sorted-neighborhood blocking: candidate
    * part pairs that are plausibly the same product — blocked by
    * brand, sorted by name, each record compared only against its next
    * 3 neighbors in sort order, verified by exact word-set Jaccard
    * (integer e3). This is the THIRD blocking modality in the engine:
    * hash-banded (q21/q31 LSH), prefix-filtered (q39 PPJoin), and now
    * ORDER-based — the classic merge-purge shape for dirty tabular
    * entities where lexicographic closeness is the similarity prior
    * (typos aside, variants sort together).
    *
    * Scale shape: ONE shuffle on the block key, one within-block sort,
    * and the neighbor fan-out is a CONSTANT (3 lead() taps sharing a
    * single Window sort — never a within-block self-join, whose hot
    * block would be quadratic). Verification is in-row array math on
    * the two candidate word sets. At 100 TB the block key must be
    * chosen so blocks fit a partition (brand here; composite keys or
    * multi-pass windows when they don't — documented knob, plan
    * unchanged). */
  val q125BlockedLinkage: Q = (s, d) => {
    val w = Window.partitionBy("p_brand").orderBy(col("p_name"), col("p_partkey"))
    // lead() taps materialize in a projection BEFORE the explode —
    // a generator may not contain window expressions
    val neighbors = (1 to SnWindow).map { k =>
      struct(lead(col("p_partkey"), k).over(w).as("pb"),
        lead(col("ws"), k).over(w).as("wsb"), lit(k.toLong).as("dist")).as(s"c$k")
    }
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_brand"), col("p_name"),
        array_distinct(split(col("p_name"), " ")).as("ws"))
      .select(Seq(col("p_partkey"), col("p_brand"), col("ws")) ++ neighbors: _*)
      .withColumn("cand", explode(array((1 to SnWindow).map(k => col(s"c$k")): _*)))
      .filter(col("cand.pb").isNotNull)
      .select(col("p_brand"), col("p_partkey").as("part_a"),
        col("cand.pb").as("part_b"), col("cand.dist").as("neighbor_dist"),
        (size(array_intersect(col("ws"), col("cand.wsb"))) * 1000L).as("i1000"),
        (size(col("ws")) + size(col("cand.wsb")) -
          size(array_intersect(col("ws"), col("cand.wsb")))).as("u"))
      .select(col("p_brand"), col("part_a"), col("part_b"), col("neighbor_dist"),
        expr("i1000 div u").as("jac_e3"))
      .filter(col("jac_e3") >= SnMinJacE3)
  }

  // -- q144: survivorship (golden-record consolidation) ----------------

  /** SURVIVORSHIP: the step AFTER record linkage — q125 emits "these
    * part records are the same real-world product"; this consolidates
    * each linked CLUSTER (transitive closure via the q55 pointer-
    * doubling connected components) into one GOLDEN RECORD with
    * field-level survivorship rules: the most descriptive name
    * (longest, lexicographic-max tiebreak — ties can only be the same
    * string, so the pick is order-free), the lowest observed price,
    * the largest size, and the member count for audit. The canonical
    * MDM merge-purge output.
    *
    * Plan: pairs → BLOCKED transitive closure → one keyed join back
    * to part attributes → one partial-aggregated groupBy on cluster
    * id. The closure exploits what the pair generator guarantees:
    * q125's sorted-neighborhood window is per-brand, so no component
    * ever crosses a brand — [[graft.queries.Graph
    * .connectedComponentsBlocked]] co-locates each brand's edges with
    * ONE shuffle and closes them with in-partition union-find (the
    * general iterative CC here costs 28 global rounds / 17.7 s for a
    * closure the blocking key hands us in one pass; the generic
    * contraction CC remains the fallback for unblocked pair graphs
    * like q55's). Singletons (never linked) are not emitted —
    * at scale they are the overwhelming majority and carry no merge
    * decision (q55 convention). */
  val q144Survivorship: Q = (s, d) => {
    val pairs = q125BlockedLinkage(s, d)
      .select(col("p_brand").as("block"),
        col("part_a").as("a"), col("part_b").as("b"))
    val lbl = Graph.connectedComponentsBlocked(pairs)
    lbl
      .join(Tables.part(s, d).select(col("p_partkey"), col("p_name"),
        e2(col("p_retailprice")).as("price_e2"),
        col("p_size").cast("long").as("p_size")),
        col("id") === col("p_partkey"))
      .groupBy(col("lbl").as("cluster_id"))
      .agg(
        count(lit(1)).as("n_members"),
        max_by(col("p_name"), struct(length(col("p_name")), col("p_name")))
          .as("golden_name"),
        min(col("price_e2")).as("min_price_e2"),
        max(col("p_size")).as("max_size"))
  }

  // -- q159: Jaro–Winkler fuzzy linkage ---------------------------------

  /** FUZZY NAME LINKAGE: the similarity tier q125's token-Jaccard
    * sorted-neighborhood can't express — character-level tolerance for
    * short name-like strings (transpositions, truncations, shared
    * prefixes), scored with the engine's native codegen'd
    * [[graft.functions.JaroWinkler]] expression and pinned BIT-FOR-BIT
    * against DuckDB's built-in `jaro_winkler_similarity` — a genuine
    * cross-engine oracle on a nontrivial double-valued string kernel.
    *
    * Scale shape: similarity runs over DISTINCT name VALUES, never
    * over rows — the name dictionary is orders of magnitude smaller
    * than the part table (64 distinct vs 2k rows at sf0.01, and the
    * gap widens with scale), so the quadratic-ish pair stage is
    * O(|dict|²/|blocks|) while the row tables only contribute two
    * keyed COUNT aggregates (n_a/n_b carrier counts, broadcast back).
    * Blocking = first character (the standard Jaro-Winkler block in
    * record-linkage practice: the prefix boost means cross-first-char
    * pairs rarely clear a 0.85 threshold anyway); pairs are ordered
    * (name_a < name_b) so each undirected pair appears once. */
  val q159JaroLinkage: Q = (s, d) => {
    graft.functions.StringSimFunctions.register(s)
    val nameCounts = Tables.part(s, d)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n_parts"))
      .withColumn("blk", substring(col("p_name"), 1, 1))
      .transform(graft.ops.SharedCache.persist) // both sides of the pair join
    val a = nameCounts.select(col("blk"), col("p_name").as("name_a"),
      col("n_parts").as("n_a"))
    val b = nameCounts.select(col("blk"), col("p_name").as("name_b"),
      col("n_parts").as("n_b"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw",
        graft.functions.StringSimFunctions.jaroWinkler(col("name_a"), col("name_b")))
      .filter(col("jw") >= 0.85d)
      .select(col("name_a"), col("name_b"), col("n_a"), col("n_b"), col("jw"))
  }

  // -- q146: LSH recall audit -------------------------------------------

  /** SKETCH-QUALITY AUDIT: the measured recall of the q21 MinHash-LSH
    * dedup against the EXACT q39 PPJoin truth — the governance number
    * ("are the bands missing real duplicates, and how many?") that
    * production dedup pipelines must publish before anyone trusts the
    * approximate path at 100 TB. Both operators hash the SAME word-
    * 3-gram universe to the same 48-bit keys and verify exact Jaccard
    * ≥ 0.5 on their candidates, so q21's pairs are a provable SUBSET
    * of q39's and precision is 1 by construction — the single output
    * row reports the truth size, the hits, the missed pairs, and
    * recall in ppm. Plan: the two pair relations (each already
    * bucketed candidate generation + verification) meet in one keyed
    * left join and collapse to one row — audit cost is dominated by
    * the operators being audited, as it should be. */
  val q146LshRecall: Q = (s, d) => {
    val exact = q39Truth(s, d).select(col("doc_a"), col("doc_b"))
    val lsh = LlmPipeline.q21DedupMinhashLsh(s, d)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    exact.join(lsh, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_lsh_hit"))
      .select(col("n_exact"), col("n_lsh_hit"),
        (col("n_exact") - col("n_lsh_hit")).as("n_missed"),
        expr("n_lsh_hit * 1000000 div n_exact").as("recall_ppm"))
  }

  // -- q225: LSH S-curve calibration (per-bin recall vs analytic) --------

  private val SCurveBinE6 = 50000L

  /** LSH S-CURVE CALIBRATION — q146 publishes ONE recall number; this
    * calibrates the whole operating curve: per exact-Jaccard bin
    * (width 0.05), the measured fraction of true duplicate pairs that
    * collide in at least one of q21's 8 bands, next to the ANALYTIC
    * collision probability 1 − (1 − s²)⁸ at the bin midpoint (r = 2
    * rows/band, b = 8 bands — the closed form that sizes every LSH
    * deployment, here a pure integer polynomial: staged e6 squarings
    * both engines truncate identically). The gap column is the
    * calibration verdict — where the measured curve sags under the
    * theory, the signature family is misbehaving (correlated hashes,
    * short docs) BEFORE production finds out as missed dups.
    *
    * Truth domain is q39's exact PPJoin pairs (J ≥ 0.5) — the dedup
    * CONTRACT region, the same truth q146 audits against; both sides
    * hash the identical word-3-gram universe, so per-bin recall is
    * exact, not sampled. Plan: audit cost = the two audited operators
    * (both SharedCache'd); the compare is two keyed joins of the pair
    * relation against the |docs|-row band-signature relation, an
    * in-row arrays_overlap (band index is baked into each signature
    * string), and one ≤11-bin aggregate. */
  val q225LshScurve: Q = (s, d) => {
    val sig = LlmPipeline.minhashSignatures(
        LlmPipeline.hashedShingles(Tables.documents(s, d)))
      .select(col("doc_id"), LlmPipeline.bandSigArray.as("bands"))
      .transform(graft.ops.SharedCache.persist)
    val truth = q39Truth(s, d)
      .select(col("doc_a"), col("doc_b"), col("jaccard_e6"))
    truth
      .join(sig.select(col("doc_id").as("doc_a"), col("bands").as("bands_a")),
        "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("bands").as("bands_b")),
        "doc_b")
      .withColumn("collide",
        arrays_overlap(col("bands_a"), col("bands_b")).cast("long"))
      .withColumn("bin", expr(s"jaccard_e6 div $SCurveBinE6"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_pairs"), sum(col("collide")).as("n_collide"))
      .withColumn("jacc_lo_e6", col("bin") * SCurveBinE6)
      .withColumn("mid_e6",
        least(col("bin") * SCurveBinE6 + lit(SCurveBinE6 / 2), lit(1000000L)))
      .withColumn("q", expr("mid_e6 * mid_e6 div 1000000"))
      .withColumn("m2", expr("(1000000 - q) * (1000000 - q) div 1000000"))
      .withColumn("m4", expr("m2 * m2 div 1000000"))
      .withColumn("m8", expr("m4 * m4 div 1000000"))
      .select(col("bin"), col("jacc_lo_e6"), col("n_pairs"), col("n_collide"),
        expr("n_collide * 1000000 div n_pairs").as("recall_ppm"),
        (lit(1000000L) - col("m8")).as("analytic_ppm"),
        (expr("n_collide * 1000000 div n_pairs") - (lit(1000000L) - col("m8")))
          .as("gap_ppm"))
  }

  // -- q226: dedup threshold-yield sweep ------------------------------------

  /** THRESHOLD TUNING TABLE — the decision the dedup operator's one
    * constant hides: at which Jaccard cutoff do we call a pair a
    * duplicate? Per candidate threshold τ ∈ {0.50, 0.55, …, 1.00}
    * (the q39 contract region), the sweep reports what the corpus
    * would lose: qualifying pairs, distinct documents touched by at
    * least one such pair, and their total token mass — the
    * cost-of-aggressiveness curve read before moving the production
    * threshold (loosen and you delete real data; tighten and mirrors
    * survive). The doc leg classifies each document by its MAX pair
    * similarity, so each threshold's doc/token numbers are exact
    * distinct counts, not pair-side double counts.
    *
    * Plan: rides q39's SharedCache'd exact pairs; ONE constant-width
    * conditional aggregate per leg (11 sums each — no per-threshold
    * rescan, the q173 threshold-fold discipline) + a doc-keyed join
    * for token masses, then a constant 11-row stack unpivot. Nothing
    * scales with the threshold count except literal width. */
  val q226ThresholdSweep: Q = (s, d) => {
    val pairs = q39Truth(s, d)
      .select(col("doc_a"), col("doc_b"), expr("jaccard_e6 div 50000").as("bin"))
      .transform(graft.ops.SharedCache.persist)
    val pairCols = (10 to 20).map(b => count(when(col("bin") >= b, 1)).as(s"p$b"))
    val pairAgg = pairs.agg(pairCols.head, pairCols.tail: _*)
    val docCols = (10 to 20).flatMap(b => Seq(
      count(when(col("mx") >= b, 1)).as(s"d$b"),
      sum(when(col("mx") >= b, col("n_tokens")).otherwise(0L)).as(s"t$b")))
    val docAgg = pairs.select(col("doc_a").as("doc_id"), col("bin"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"), col("bin")))
      .groupBy("doc_id").agg(max(col("bin")).as("mx"))
      .join(Tables.documents(s, d)
        .select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens")), "doc_id")
      .agg(docCols.head, docCols.tail: _*)
    // join-free scalar combine (the q221 pattern): union the two 1-row
    // legs (missing columns null) and max-fold — a literal-key join
    // would plan as a nested loop the gate bans
    val allCols = (10 to 20).map(b => max(col(s"p$b")).as(s"p$b")) ++
      (10 to 20).flatMap(b => Seq(max(col(s"d$b")).as(s"d$b"),
        max(col(s"t$b")).as(s"t$b")))
    pairAgg.unionByName(docAgg, allowMissingColumns = true)
      .agg(allCols.head, allCols.tail: _*)
      .selectExpr("stack(11, " +
        (10 to 20).map(b =>
          s"${b * 50000}L, p$b, d$b, coalesce(t$b, 0L)").mkString(", ") +
        ") as (thresh_e6, n_pairs, n_dup_docs, n_tokens_affected)")
  }

  // -- q235: weighted (multiset) Jaccard re-scoring ----------------------

  /** WEIGHTED JACCARD — the frequency-aware second opinion on q39's
    * verdicts: set Jaccard over distinct shingles treats "the the the
    * spam page" and a real document as equally similar if their
    * shingle SETS agree; the multiset similarity Σmin(fa,fb)/Σmax
    * over TOKEN counts weighs repeated content. Re-scoring exactly
    * q39's pairs (the already-verified dup candidates) gives each pair
    * both numbers and the signed delta — a large |delta| separates
    * true rewrites (set-close, weight-far) from literal mirrors
    * (both ≈ 1), the triage column for survivorship decisions.
    *
    * Exact integers throughout: Σmax = na + nb − Σmin, so one shared-
    * token Σmin pass + two totals answer everything; weighted_e6 is a
    * truncating div (non-negative operands), the delta a signed
    * SUBTRACTION only.
    *
    * Plan: rides q39's pairs; token counts are one map-combined
    * (doc, token-hash) aggregate (SharedCache'd — text dies at the
    * scan); the Σmin leg joins pairs to a-counts then equi-joins
    * (doc_b, hash) — fan-out bounded by per-doc vocabulary, pairs are
    * the dup set, never the corpus. */
  val q235WeightedJaccard: Q = (s, d) => {
    val pairs = q39Truth(s, d)
      .select(col("doc_a"), col("doc_b"), col("jaccard_e6"))
      .transform(graft.ops.SharedCache.persist)
    val counts = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        md5Draw(col("tok"), 1, 12).as("th"))
      .groupBy("doc_id", "th").agg(count(lit(1)).as("c"))
      .transform(graft.ops.SharedCache.persist)
    val totals = counts.groupBy("doc_id").agg(sum(col("c")).as("n_tok"))
    val smin = pairs.select(col("doc_a"), col("doc_b"))
      .join(counts.select(col("doc_id").as("doc_a"), col("th"),
        col("c").as("ca")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("th"),
        col("c").as("cb")), Seq("doc_b", "th"))
      .groupBy("doc_a", "doc_b").agg(sum(least(col("ca"), col("cb"))).as("smin"))
    pairs
      .join(smin, Seq("doc_a", "doc_b"), "left")
      .join(totals.select(col("doc_id").as("doc_a"), col("n_tok").as("na")),
        "doc_a")
      .join(totals.select(col("doc_id").as("doc_b"), col("n_tok").as("nb")),
        "doc_b")
      .withColumn("smin", coalesce(col("smin"), lit(0L)))
      .select(col("doc_a"), col("doc_b"), col("jaccard_e6"),
        expr("smin * 1000000 div (na + nb - smin)").as("weighted_jaccard_e6"))
      .withColumn("delta_e6", col("weighted_jaccard_e6") - col("jaccard_e6"))
  }

  // -- q219: IVF recall audit (vs the exact brute-force truth) ---------

  /** IVF RECALL AUDIT — q146's measured-recall discipline applied to
    * the OTHER index family: q146 certifies the MinHash-LSH sketch
    * against exact Jaccard truth; this certifies q33's cell-probed IVF
    * against q23's exact brute-force cosine top-5 over the same query
    * slice. The number an ANN deploy actually signs off on: of all
    * exact top-5 (query, neighbor) edges, how many does the probed
    * index return — with q191's balance audit explaining WHY recall
    * moves when cells skew. Audit cost = the two audited operators
    * (q23 is the declared-quadratic yardstick, q33 the scale path);
    * the compare itself is one keyed left join + a 1-row fold. */
  val q219IvfRecall: Q = (s, d) => {
    val exact = LlmPipeline.q23AnnBruteForce(s, d)
      .select(col("q_id"), col("neighbor_id"))
    val ivf = q33AnnIvf(s, d)
      .select(col("q_id"), col("neighbor_id"), lit(1L).as("hit"))
    exact.join(ivf, Seq("q_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_ivf_hit"))
      .select(col("n_exact"), col("n_ivf_hit"),
        (col("n_exact") - col("n_ivf_hit")).as("n_missed"),
        expr("n_ivf_hit * 1000000 div n_exact").as("recall_ppm"))
  }

  // -- q194: cluster-level agreement audit (Rand components) ----------

  /** CLUSTER-AGREEMENT AUDIT — q146 measures PAIR recall of the LSH
    * sketch; this measures what dedup actually acts on: the CLUSTERS.
    * Transitive closure can both hide and amplify pair errors (one
    * missed pair splits a cluster; one false merge glues two), so the
    * audit computes the exact Rand-index components between the q55
    * clustering (closure of q21's LSH pairs) and the closure of q39's
    * exact-Jaccard truth pairs: over the union doc universe — docs in
    * one clustering only are singletons in the other — it reports
    * same-cluster pair counts (both / LSH-only "merged" / truth-only
    * "missed") and pair precision/recall ppm. All EXACT integers: the
    * quadratic pair counts are never enumerated — they derive from the
    * label-contingency cells via Σ C(m,2) (the standard Rand identity),
    * so the audit runs on |cluster pairs| rows.
    *
    * Plan: two clusterings (each the audited operators' own plans),
    * one full-outer doc-id join, one map-combined (ca, cb) cell count
    * persisted once and consumed by the three Σ C(·,2) legs, then a
    * 4-row tagged union folded to ONE row — no scalar crossJoin, no
    * driver action. */
  val q194ClusterAgreement: Q = (s, d) => {
    val lshLbl = Graph.q55DupClusters(s, d)
      .select(col("doc_id"), col("cluster_id").as("ca"))
    val exLbl = graft.ops.Checkpoints.memo(s, s"cc:q39truth:$d") {
        Graph.connectedComponents(
          q39Truth(s, d)
            .select(col("doc_a").as("a"), col("doc_b").as("b")))
      }
      .select(col("id").as("doc_id"), col("lbl").as("cb"))
    val cells = lshLbl.join(exLbl, Seq("doc_id"), "full_outer")
      .select(coalesce(col("ca"), col("doc_id")).as("ca"),
        coalesce(col("cb"), col("doc_id")).as("cb"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("m"))
      .transform(graft.ops.SharedCache.persist) // three Σ C(·,2) legs
    val agree = cells.agg(sum(expr("m * (m - 1) div 2")).as("v"))
      .select(lit("a").as("k"), col("v"))
    val lshP = cells.groupBy("ca").agg(sum(col("m")).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).as("v"))
      .select(lit("l").as("k"), col("v"))
    val exP = cells.groupBy("cb").agg(sum(col("m")).as("n"))
      .agg(sum(expr("n * (n - 1) div 2")).as("v"))
      .select(lit("e").as("k"), col("v"))
    val docs = cells.agg(sum(col("m")).as("v"))
      .select(lit("d").as("k"), col("v"))
    docs.unionByName(agree).unionByName(lshP).unionByName(exP)
      .agg(sum(when(col("k") === "d", col("v"))).as("n_docs"),
        sum(when(col("k") === "l", col("v"))).as("lsh_pairs"),
        sum(when(col("k") === "e", col("v"))).as("exact_pairs"),
        sum(when(col("k") === "a", col("v"))).as("agree_pairs"))
      .select(col("n_docs"), col("lsh_pairs"), col("exact_pairs"),
        col("agree_pairs"),
        (col("lsh_pairs") - col("agree_pairs")).as("merged_pairs"),
        (col("exact_pairs") - col("agree_pairs")).as("missed_pairs"),
        // greatest(...,1): an empty clustering must report 0, not
        // NULL-vs-error divergence (the q178 divisor discipline)
        expr("agree_pairs * 1000000 div greatest(lsh_pairs, 1)")
          .as("pair_precision_ppm"),
        expr("agree_pairs * 1000000 div greatest(exact_pairs, 1)")
          .as("pair_recall_ppm"))
  }

  // -- q177: embedding-space health (centroid drift + tightness) -----

  /** EMBEDDING-SPACE HEALTH CHECK — the per-class geometry audit run
    * before trusting an embedding column for dedup/ANN/curation
    * decisions: per label, (a) how far its centroid drifts from the
    * corpus centroid (cosine — detects a class collapsing onto the
    * mean or escaping the manifold) and (b) how TIGHT the class is
    * (mean member-to-centroid cosine — detects classes whose vectors
    * are incoherent noise). Cosine is scale-invariant, so centroid
    * SUMS stand in for means and everything before the final cosine
    * stays in exact integer arithmetic on the e4-quantized vectors
    * (q23 convention; the cosine itself is the established
    * round-1e6-double form the q32/q168 oracles already pin).
    * BIGINT headroom: component sums overflow the s2 dot only past
    * ~3e9 vectors/label at e4 quantization — the documented decimal
    * escape applies.
    *
    * Plan: the quantized relation is persisted once and consumed by
    * both legs; centroid sums are one map-combined (label, dim)
    * aggregate (|labels|·64 rows); the per-vector cosine leg joins the
    * BROADCAST |labels|-row centroid relation and aggregates straight
    * back to |labels| rows. The global centroid is a driver-hosted
    * 64-long control-plane scalar (q57 centroid convention). */
  val q177EmbeddingHealth: Q = (s, d) => {
    graft.functions.VectorFunctions.register(s)
    val vecs = Tables.embeddings(s, d)
      .select(col("label").cast("long").as("label"),
        quantE4(col("embedding")).as("q"))
      .withColumn("s2", dotLong(col("q"), col("q")))
      .transform(graft.ops.SharedCache.persist) // sums leg + cosine leg
    val dims = vecs
      .select(col("label"), posexplode(col("q")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(sum(col("x")).as("sx"))
      .transform(graft.ops.SharedCache.persist) // centroids + global
    val cents = dims
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("pos"), col("sx")))).as("pc"))
      .select(col("label"), transform(col("pc"), _.getField("sx")).as("cq"))
      .withColumn("cs2", dotLong(col("cq"), col("cq")))
    val g = dims.groupBy("pos").agg(sum(col("sx")).as("gx"))
      .orderBy("pos").collect().map(_.getLong(1)).toSeq
    val gq = typedLit(g)
    val gs2 = lit(g.map(x => x * x).sum)
    val tight = vecs.join(broadcast(cents), Seq("label"))
      .select(col("label"),
        cosE6(dotLong(col("q"), col("cq")), col("s2"), col("cs2")).as("cosc"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"), sum(col("cosc")).as("sum_cos"))
    cents.join(tight, Seq("label"))
      .select(col("label"), col("n_vecs"),
        cosE6(dotLong(col("cq"), gq), col("cs2"), gs2).as("cos_to_global_e6"),
        expr("sum_cos div n_vecs").as("tightness_e6"))
  }

  val defs: Map[String, Q] = Map(
    "q177_embedding_health" -> q177EmbeddingHealth,
    "q159_jaro_linkage" -> q159JaroLinkage,
    "q146_lsh_recall" -> q146LshRecall,
    "q219_ivf_recall" -> q219IvfRecall,
    "q225_lsh_scurve" -> q225LshScurve,
    "q226_threshold_sweep" -> q226ThresholdSweep,
    "q228_sq_audit" -> q228SqAudit,
    "q230_jl_distortion" -> q230JlDistortion,
    "q274_truncation_audit" -> q274TruncationAudit,
    "q231_two_stage" -> q231TwoStageRetrieval,
    "q232_split_shift" -> q232SplitShift,
    "q235_weighted_jaccard" -> q235WeightedJaccard,
    "q241_probe_sweep" -> q241ProbeSweep,
    "q194_cluster_agreement" -> q194ClusterAgreement,
    "q144_survivorship" -> q144Survivorship,
    "q125_blocked_linkage" -> q125BlockedLinkage,
    "q85_edit_distance_dedup" -> q85EditDistanceDedup,
    "q110_exact_substr_spans" -> q110ExactSubstrSpans,
    "q31_dedup_simhash" -> q31DedupSimhash,
    "q32_dedup_embed_cosine" -> q32DedupEmbedCosine,
    "q33_ann_ivf" -> q33AnnIvf,
    "q191_ivf_balance" -> q191IvfBalance,
    "q114_ann_ivf_pq" -> q114AnnIvfPq,
    "q39_dedup_ngram_jaccard" -> q39DedupNgramJaccard,
    "q57_kmeans_cluster" -> q57KmeansCluster,
    "q208_silhouette_audit" -> q208SilhouetteAudit,
    "q210_top_component" -> q210TopComponent,
    "q58_semantic_dedup" -> q58SemanticDedup,
    "q71_containment_dedup" -> q71ContainmentDedup)

  // -- DuckDB oracles ------------------------------------------------

  /** q125 oracle CTE body + final select, factored so q144's
    * survivorship oracle can mount the SAME pair relation under its
    * recursive-closure WITH (the q55 `minhashPairCtes` convention). */
  private val q125OracleCtes: String =
    s"""pos AS (
       |  SELECT p_partkey, p_brand, p_name,
       |    row_number() OVER (PARTITION BY p_brand
       |      ORDER BY p_name, p_partkey) AS rn
       |  FROM part
       |), toks AS (
       |  SELECT DISTINCT p.p_partkey, u.tok
       |  FROM part p, unnest(string_split(p.p_name, ' ')) AS u(tok)
       |), tsz AS (
       |  SELECT p_partkey, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY 1
       |), cand AS (
       |  SELECT a.p_brand, a.p_partkey AS part_a, b.p_partkey AS part_b,
       |    CAST(b.rn - a.rn AS BIGINT) AS neighbor_dist
       |  FROM pos a JOIN pos b
       |    ON a.p_brand = b.p_brand AND b.rn - a.rn BETWEEN 1 AND $SnWindow
       |), isect AS (
       |  SELECT c.part_a, c.part_b, CAST(count(*) AS BIGINT) AS i
       |  FROM cand c
       |  JOIN toks ta ON ta.p_partkey = c.part_a
       |  JOIN toks tb ON tb.p_partkey = c.part_b AND tb.tok = ta.tok
       |  GROUP BY 1, 2
       |)""".stripMargin

  private val q125OracleSelect: String =
    s"""SELECT c.p_brand, c.part_a, c.part_b, c.neighbor_dist,
       |  CAST((coalesce(i.i, 0) * 1000) // (sa.n + sb.n - coalesce(i.i, 0))
       |    AS BIGINT) AS jac_e3
       |FROM cand c
       |JOIN tsz sa ON sa.p_partkey = c.part_a
       |JOIN tsz sb ON sb.p_partkey = c.part_b
       |LEFT JOIN isect i ON i.part_a = c.part_a AND i.part_b = c.part_b
       |WHERE (coalesce(i.i, 0) * 1000) // (sa.n + sb.n - coalesce(i.i, 0))
       |  >= $SnMinJacE3""".stripMargin

  private val q125Oracle: String = s"WITH $q125OracleCtes\n$q125OracleSelect"

  /** q144 oracle: the q125 pair relation + recursive min-label closure
    * (q55's independent-algorithm convention) + windowed survivorship. */
  private val q144Oracle: String =
    s"""WITH RECURSIVE $q125OracleCtes, pairs AS (
       |  $q125OracleSelect
       |), edges AS (
       |  SELECT part_a AS src, part_b AS dst FROM pairs
       |  UNION
       |  SELECT part_b AS src, part_a AS dst FROM pairs
       |), walk AS (
       |  SELECT src AS id, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst AS id, w.lbl FROM walk w JOIN edges e ON e.src = w.id
       |), comp AS (
       |  SELECT id, min(lbl) AS cluster_id FROM walk GROUP BY id
       |), mem AS (
       |  SELECT c.cluster_id, p.p_name,
       |    CAST(round(p.p_retailprice * 100, 0) AS BIGINT) AS price_e2,
       |    CAST(p.p_size AS BIGINT) AS p_size
       |  FROM comp c JOIN part p ON p.p_partkey = c.id
       |), ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY cluster_id
       |    ORDER BY length(p_name) DESC, p_name DESC) AS rn
       |  FROM mem
       |)
       |SELECT cluster_id, count(*) AS n_members,
       |  max(CASE WHEN rn = 1 THEN p_name END) AS golden_name,
       |  CAST(min(price_e2) AS BIGINT) AS min_price_e2,
       |  CAST(max(p_size) AS BIGINT) AS max_size
       |FROM ranked GROUP BY 1""".stripMargin

  /** Quantized embeddings + self-dot, shared by q32/q33 oracles. */
  private val quantCte =
    """qv AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000.0, 0) AS BIGINT)) AS q
      |  FROM embeddings
      |), ev AS (
      |  SELECT vec_id, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS s2 FROM qv
      |)""".stripMargin

  private def dotSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])) AS DOUBLE)"

  private def cosSql(dot: String, sa: String, sb: String): String =
    s"CAST(round(1e6 * $dot / (sqrt(CAST($sa AS DOUBLE)) * sqrt(CAST($sb AS DOUBLE))), 0) AS BIGINT)"

  /** q57's two unrolled Lloyd iterations as a CTE chain ending in the
    * final assignment `a3` — shared by the q57 and q58 oracles. */
  private lazy val kmeansCtes: String = {
    def assignCte(sName: String, aName: String, centRel: String): String =
      s"""$sName AS (
         |  SELECT v.vec_id, v.q, c.c_id,
         |    CAST(list_sum(list_transform(generate_series(1, len(v.q)),
         |      i -> (v.q[i] - c.cq[i]) * (v.q[i] - c.cq[i]))) AS BIGINT) AS dist
         |  FROM qv v CROSS JOIN $centRel c
         |), $aName AS (
         |  SELECT vec_id, q, c_id AS cluster, dist FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
         |    FROM $sName) t WHERE rn = 1
         |)""".stripMargin
    def updateCte(uName: String, cName: String, aName: String): String =
      s"""$uName AS (
         |  SELECT cluster, u.i AS i,
         |    CAST(round(CAST(sum(q[u.i]) AS DOUBLE) / count(*), 0) AS BIGINT) AS c
         |  FROM $aName, LATERAL unnest(generate_series(1, len(q))) u(i)
         |  GROUP BY cluster, u.i
         |), $cName AS (
         |  SELECT cluster AS c_id, list(c ORDER BY i) AS cq FROM $uName GROUP BY cluster
         |)""".stripMargin
    s"""$quantCte, c0 AS (
       |  SELECT vec_id AS c_id, q AS cq FROM qv WHERE vec_id < $KmKSql
       |), ${assignCte("s0", "a1", "c0")},
       |${updateCte("u1", "c1", "a1")},
       |${assignCte("s1", "a2", "c1")},
       |${updateCte("u2", "c2", "a2")},
       |${assignCte("s2", "a3", "c2")}""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // Same e4 quantization, same integer centroid sums via 1-based
    // lateral index unnest, same rounded-1e6-double cosines (the
    // q32/q168 restatement), same truncating integer mean.
    "q177_embedding_health" ->
      s"""WITH q AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    list_transform(embedding,
         |      x -> CAST(round(CAST(x AS DOUBLE) * 10000.0, 0) AS BIGINT)) AS qv
         |  FROM embeddings
         |), dims AS (
         |  SELECT label, u.i AS pos, CAST(sum(qv[u.i]) AS BIGINT) AS sx
         |  FROM q, LATERAL unnest(generate_series(1, len(qv))) u(i)
         |  GROUP BY 1, 2
         |), cent AS (
         |  SELECT label, list(sx ORDER BY pos) AS cq FROM dims GROUP BY 1
         |), cs AS (
         |  SELECT label, cq,
         |    CAST(list_sum(list_transform(cq, x -> x * x)) AS BIGINT) AS cs2
         |  FROM cent
         |), gl AS (
         |  SELECT pos, CAST(sum(sx) AS BIGINT) AS gx FROM dims GROUP BY 1
         |), gv AS (
         |  SELECT list(gx ORDER BY pos) AS gq,
         |    CAST(list_sum(list_transform(list(gx ORDER BY pos), x -> x * x))
         |      AS BIGINT) AS gs2
         |  FROM gl
         |), pv AS (
         |  SELECT q.vec_id, q.label, cs.cs2,
         |    CAST(sum(q.qv[u.i] * cs.cq[u.i]) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(any_value(q.qv), x -> x * x))
         |      AS BIGINT) AS s2
         |  FROM q JOIN cs USING (label),
         |    LATERAL unnest(generate_series(1, len(q.qv))) u(i)
         |  GROUP BY q.vec_id, q.label, cs.cs2
         |), tight AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |    CAST(sum(CAST(round(1e6 * CAST(dot AS DOUBLE)
         |      / (sqrt(CAST(s2 AS DOUBLE)) * sqrt(CAST(cs2 AS DOUBLE))), 0)
         |      AS BIGINT)) AS BIGINT) AS sum_cos
         |  FROM pv GROUP BY 1
         |), dg AS (
         |  SELECT cs.label,
         |    CAST(sum(cs.cq[u.i] * gv.gq[u.i]) AS BIGINT) AS dot,
         |    any_value(cs.cs2) AS cs2, any_value(gv.gs2) AS gs2
         |  FROM cs CROSS JOIN gv,
         |    LATERAL unnest(generate_series(1, len(cs.cq))) u(i)
         |  GROUP BY cs.label
         |)
         |SELECT dg.label, tight.n_vecs,
         |  CAST(round(1e6 * CAST(dg.dot AS DOUBLE)
         |    / (sqrt(CAST(dg.cs2 AS DOUBLE)) * sqrt(CAST(dg.gs2 AS DOUBLE))), 0)
         |    AS BIGINT) AS cos_to_global_e6,
         |  tight.sum_cos // tight.n_vecs AS tightness_e6
         |FROM dg JOIN tight USING (label)""".stripMargin,
    // DuckDB's NATIVE jaro_winkler_similarity — the cross-engine pin
    // of the custom JaroWinkler expression's exact double semantics.
    "q159_jaro_linkage" ->
      """WITH names AS (
        |  SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
        |    substring(p_name, 1, 1) AS blk
        |  FROM part GROUP BY 1
        |)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        |  a.n_parts AS n_a, b.n_parts AS n_b,
        |  jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        |FROM names a JOIN names b
        |  ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.85""".stripMargin,
    "q125_blocked_linkage" -> q125Oracle,
    "q144_survivorship" -> q144Oracle,
    // Truth side recomputed from the minhash CTEs' own 48-bit shingle
    // sets via a value-ordered prefix filter (ANY total order keeps
    // PPJoin lossless), so one WITH hosts both relations without
    // duplicating the q39 text; LSH side is q21's select verbatim.
    // q33's probed-index chain and q23's brute-force chain side by
    // side over the shared quantized relation, folded to the same
    // one-row recall report as q146.
    "q219_ivf_recall" ->
      s"""WITH $quantCte, cents AS (
         |  SELECT vec_id AS c_id, q AS cq, s2 AS cs2 FROM ev WHERE vec_id < $IvfCells
         |), cell_scores AS (
         |  SELECT e.vec_id, e.q, e.s2, c.c_id,
         |    ${cosSql(dotSql("e.q", "c.cq"), "e.s2", "c.cs2")} AS c_cos
         |  FROM ev e CROSS JOIN cents c
         |), iranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crank
         |  FROM cell_scores
         |), iassign AS (
         |  SELECT vec_id, q, s2, c_id AS cell FROM iranked WHERE crank = 1
         |), iprobes AS (
         |  SELECT vec_id AS q_id, q AS qq, s2 AS qs2, c_id AS cell
         |  FROM iranked WHERE vec_id % 25 = 0 AND crank <= $IvfProbes
         |), iscored AS (
         |  SELECT DISTINCT p.q_id, a.vec_id AS neighbor_id,
         |    ${cosSql(dotSql("a.q", "p.qq"), "a.s2", "p.qs2")} AS cos_e6
         |  FROM iassign a JOIN iprobes p ON a.cell = p.cell AND a.vec_id <> p.q_id
         |), itop AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |    FROM iscored
         |  ) WHERE rank <= 5
         |), bpairs AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
         |         a.q AS qa, b.q AS qb, a.s2 AS sa, b.s2 AS sb
         |  FROM ev a JOIN ev b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id % 25 = 0
         |), bdots AS (
         |  SELECT q_id, neighbor_id, CAST(sum(qa[u.i] * qb[u.i]) AS BIGINT) AS dot
         |  FROM bpairs, LATERAL unnest(generate_series(1, len(qa))) u(i)
         |  GROUP BY 1, 2
         |), bscored AS (
         |  SELECT p.q_id, p.neighbor_id,
         |    CAST(round(1e6 * CAST(d.dot AS DOUBLE)
         |      / (sqrt(CAST(p.sa AS DOUBLE)) * sqrt(CAST(p.sb AS DOUBLE))), 0) AS BIGINT) AS cos_e6
         |  FROM bpairs p JOIN bdots d ON p.q_id = d.q_id AND p.neighbor_id = d.neighbor_id
         |), btop AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |    FROM bscored
         |  ) WHERE rank <= 5
         |), j AS (
         |  SELECT b.q_id, b.neighbor_id,
         |    CASE WHEN i.q_id IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM btop b LEFT JOIN itop i
         |    ON b.q_id = i.q_id AND b.neighbor_id = i.neighbor_id
         |)
         |SELECT count(*) AS n_exact,
         |  CAST(sum(hit) AS BIGINT) AS n_ivf_hit,
         |  CAST(count(*) - sum(hit) AS BIGINT) AS n_missed,
         |  CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS recall_ppm
         |FROM j""".stripMargin,
    // q219's chains (IVF + brute truth) extended with the coarse JL
    // prune: same sign literals as q230, same (score desc, id asc)
    // ranks at both stages.
    "q231_two_stage" -> {
      val signLits = (0 until JlDims).map(j =>
        "[" + jlSigns(j).mkString(", ") + "]")
      val yExprs = signLits.map(sl =>
        s"CAST(list_sum(list_transform(generate_series(1, len(q)), i -> q[i] * ($sl)[i])) AS BIGINT)")
        .mkString(",\n    ")
      s"""WITH $quantCte, proj AS (
         |  SELECT vec_id, q, s2, [$yExprs] AS y FROM ev
         |), cents AS (
         |  SELECT vec_id AS c_id, q AS cq, s2 AS cs2 FROM ev WHERE vec_id < $IvfCells
         |), cell_scores AS (
         |  SELECT e.vec_id, e.q, e.s2, c.c_id,
         |    ${cosSql(dotSql("e.q", "c.cq"), "e.s2", "c.cs2")} AS c_cos
         |  FROM ev e CROSS JOIN cents c
         |), iranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crank
         |  FROM cell_scores
         |), iassign AS (
         |  SELECT vec_id, c_id AS cell FROM iranked WHERE crank = 1
         |), iprobes AS (
         |  SELECT vec_id AS q_id, c_id AS cell
         |  FROM iranked WHERE vec_id % 25 = 0 AND crank <= $IvfProbes
         |), cand AS (
         |  SELECT DISTINCT p.q_id, a.vec_id AS neighbor_id
         |  FROM iassign a JOIN iprobes p ON a.cell = p.cell AND a.vec_id <> p.q_id
         |), coarse AS (
         |  SELECT c.q_id, c.neighbor_id,
         |    CAST(list_sum(list_transform(generate_series(1, len(pn.y)),
         |      i -> pn.y[i] * pq.y[i])) AS BIGINT) AS coarse
         |  FROM cand c
         |  JOIN proj pn ON pn.vec_id = c.neighbor_id
         |  JOIN proj pq ON pq.vec_id = c.q_id
         |), surv AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY coarse DESC, neighbor_id) AS rank
         |    FROM coarse
         |  ) WHERE rank <= $RerankR
         |), rerank AS (
         |  SELECT s.q_id, s.neighbor_id,
         |    ${cosSql(dotSql("pn.q", "pq.q"), "pn.s2", "pq.s2")} AS cos_e6
         |  FROM surv s
         |  JOIN proj pn ON pn.vec_id = s.neighbor_id
         |  JOIN proj pq ON pq.vec_id = s.q_id
         |), tstop AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |    FROM rerank
         |  ) WHERE rank <= 5
         |), iscored AS (
         |  SELECT DISTINCT p.q_id, a.vec_id AS neighbor_id,
         |    ${cosSql(dotSql("a.q", "p.qq"), "a.s2", "p.qs2")} AS cos_e6
         |  FROM (SELECT vec_id, q, s2, c_id AS cell FROM iranked WHERE crank = 1) a
         |  JOIN (SELECT vec_id AS q_id, q AS qq, s2 AS qs2, c_id AS cell
         |        FROM iranked WHERE vec_id % 25 = 0 AND crank <= $IvfProbes) p
         |    ON a.cell = p.cell AND a.vec_id <> p.q_id
         |), itop AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |    FROM iscored
         |  ) WHERE rank <= 5
         |), bpairs AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
         |         a.q AS qa, b.q AS qb, a.s2 AS sa, b.s2 AS sb
         |  FROM ev a JOIN ev b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id % 25 = 0
         |), bdots AS (
         |  SELECT q_id, neighbor_id, CAST(sum(qa[u.i] * qb[u.i]) AS BIGINT) AS dot
         |  FROM bpairs, LATERAL unnest(generate_series(1, len(qa))) u(i)
         |  GROUP BY 1, 2
         |), bscored AS (
         |  SELECT p.q_id, p.neighbor_id,
         |    CAST(round(1e6 * CAST(d.dot AS DOUBLE)
         |      / (sqrt(CAST(p.sa AS DOUBLE)) * sqrt(CAST(p.sb AS DOUBLE))), 0) AS BIGINT) AS cos_e6
         |  FROM bpairs p JOIN bdots d ON p.q_id = d.q_id AND p.neighbor_id = d.neighbor_id
         |), btop AS (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |    FROM bscored
         |  ) WHERE rank <= 5
         |), j AS (
         |  SELECT b.q_id, b.neighbor_id,
         |    CASE WHEN i.q_id IS NOT NULL THEN 1 ELSE 0 END AS ivf_hit,
         |    CASE WHEN t.q_id IS NOT NULL THEN 1 ELSE 0 END AS ts_hit
         |  FROM btop b
         |  LEFT JOIN itop i ON b.q_id = i.q_id AND b.neighbor_id = i.neighbor_id
         |  LEFT JOIN tstop t ON b.q_id = t.q_id AND b.neighbor_id = t.neighbor_id
         |), agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_exact,
         |    CAST(sum(ivf_hit) AS BIGINT) AS n_ivf_hit,
         |    CAST(sum(ts_hit) AS BIGINT) AS n_two_stage_hit
         |  FROM j
         |), nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand
         |), ns AS (SELECT CAST(count(*) AS BIGINT) AS n_reranked FROM surv)
         |SELECT a.n_exact, a.n_ivf_hit, a.n_two_stage_hit,
         |  nc.n_candidates, ns.n_reranked,
         |  a.n_ivf_hit * 1000000 // greatest(a.n_exact, 1) AS ivf_recall_ppm,
         |  a.n_two_stage_hit * 1000000 // greatest(a.n_exact, 1) AS two_stage_recall_ppm,
         |  a.n_ivf_hit * 1000000 // greatest(a.n_exact, 1)
         |    - a.n_two_stage_hit * 1000000 // greatest(a.n_exact, 1) AS prune_loss_ppm
         |FROM agg a, nc, ns""".stripMargin
    },
    // Same e4 cells, same sign-decomposed truncating centroid means,
    // same shared-IEEE cosine.
    "q232_split_shift" ->
      s"""WITH $quantCte, cells AS (
         |  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 < 8 THEN 'train'
         |              WHEN CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 = 8 THEN 'val'
         |              ELSE 'test' END AS split,
         |    i.i AS p, q[i.i] AS v
         |  FROM qv, LATERAL unnest(generate_series(1, len(q))) i(i)
         |), sc AS (
         |  SELECT split, p, CAST(sum(v) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS n
         |  FROM cells GROUP BY 1, 2
         |), spc AS (
         |  SELECT split, p, n,
         |    CASE WHEN sv >= 0 THEN sv // n ELSE -((-sv) // n) END AS c
         |  FROM sc
         |), cc AS (
         |  SELECT p,
         |    CASE WHEN sum(sv) >= 0 THEN CAST(sum(sv) AS BIGINT) // CAST(sum(n) AS BIGINT)
         |         ELSE -(CAST(-sum(sv) AS BIGINT) // CAST(sum(n) AS BIGINT)) END AS c0
         |  FROM sc GROUP BY 1
         |), g AS (
         |  SELECT split, CAST(max(n) AS BIGINT) AS n_vecs,
         |    CAST(sum(s.c * c.c0) AS BIGINT) AS dot,
         |    CAST(sum(s.c * s.c) AS BIGINT) AS s2a,
         |    CAST(sum(c.c0 * c.c0) AS BIGINT) AS s2b,
         |    CAST(sum(abs(s.c - c.c0)) AS BIGINT) AS l1_e4
         |  FROM spc s JOIN cc c USING (p) GROUP BY 1
         |)
         |SELECT split, n_vecs,
         |  ${cosSql("CAST(dot AS DOUBLE)", "s2a", "s2b")} AS cos_to_corpus_e6,
         |  l1_e4
         |FROM g""".stripMargin,
    "q146_lsh_recall" ->
      s"""WITH ${LlmPipeline.minhashPairCtes}, lsh AS (
         |  ${LlmPipeline.minhashPairSelect}
         |), sset AS (
         |  SELECT doc_id, list_sort(hs) AS shs, n FROM sig
         |), tpre AS (
         |  SELECT doc_id, unnest(shs[1 : CAST(n - (n + 1) // 2 + 1 AS INT)]) AS h
         |  FROM sset
         |), tcand AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM tpre l JOIN tpre r ON l.h = r.h AND l.doc_id < r.doc_id
         |), truth AS (
         |  SELECT doc_a, doc_b FROM tcand
         |  JOIN sset a ON doc_a = a.doc_id
         |  JOIN sset b ON doc_b = b.doc_id
         |  WHERE CAST(round(1e6 * CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
         |    / CAST(a.n + b.n - len(list_intersect(a.shs, b.shs)) AS DOUBLE), 0)
         |    AS BIGINT) >= $JaccardThresholdE6
         |), j AS (
         |  SELECT t.doc_a, t.doc_b,
         |    CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
         |  FROM truth t LEFT JOIN lsh l
         |    ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
         |)
         |SELECT count(*) AS n_exact,
         |  CAST(sum(hit) AS BIGINT) AS n_lsh_hit,
         |  CAST(count(*) - sum(hit) AS BIGINT) AS n_missed,
         |  CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS recall_ppm
         |FROM j""".stripMargin,
    // q146's truth chain + q55's recursive min-label closure, run over
    // BOTH pair relations; the Rand components derive from the label
    // contingency via the same Σ C(m,2) identity, singletons via the
    // FULL OUTER coalesce.
    "q194_cluster_agreement" ->
      s"""WITH RECURSIVE ${LlmPipeline.minhashPairCtes}, lshp AS (
         |  ${LlmPipeline.minhashPairSelect}
         |), ledges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM lshp
         |  UNION SELECT doc_b, doc_a FROM lshp
         |), lwalk AS (
         |  SELECT src AS doc_id, src AS lbl FROM ledges
         |  UNION
         |  SELECT e.dst, w.lbl FROM lwalk w JOIN ledges e ON e.src = w.doc_id
         |), lcomp AS (
         |  SELECT doc_id, min(lbl) AS ca FROM lwalk GROUP BY 1
         |), sset AS (
         |  SELECT doc_id, list_sort(hs) AS shs, n FROM sig
         |), tpre AS (
         |  SELECT doc_id, unnest(shs[1 : CAST(n - (n + 1) // 2 + 1 AS INT)]) AS h
         |  FROM sset
         |), tcand AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM tpre l JOIN tpre r ON l.h = r.h AND l.doc_id < r.doc_id
         |), truth AS (
         |  SELECT doc_a, doc_b FROM tcand
         |  JOIN sset a ON doc_a = a.doc_id
         |  JOIN sset b ON doc_b = b.doc_id
         |  WHERE CAST(round(1e6 * CAST(len(list_intersect(a.shs, b.shs)) AS DOUBLE)
         |    / CAST(a.n + b.n - len(list_intersect(a.shs, b.shs)) AS DOUBLE), 0)
         |    AS BIGINT) >= $JaccardThresholdE6
         |), tedges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM truth
         |  UNION SELECT doc_b, doc_a FROM truth
         |), twalk AS (
         |  SELECT src AS doc_id, src AS lbl FROM tedges
         |  UNION
         |  SELECT e.dst, w.lbl FROM twalk w JOIN tedges e ON e.src = w.doc_id
         |), tcomp AS (
         |  SELECT doc_id, min(lbl) AS cb FROM twalk GROUP BY 1
         |), lab AS (
         |  SELECT COALESCE(l.ca, COALESCE(l.doc_id, t.doc_id)) AS ca,
         |    COALESCE(t.cb, COALESCE(l.doc_id, t.doc_id)) AS cb
         |  FROM lcomp l FULL OUTER JOIN tcomp t ON l.doc_id = t.doc_id
         |), cells AS (
         |  SELECT ca, cb, CAST(count(*) AS BIGINT) AS m FROM lab GROUP BY 1, 2
         |), ag AS (
         |  SELECT CAST(sum(m) AS BIGINT) AS n_docs,
         |    CAST(sum(m * (m - 1) // 2) AS BIGINT) AS agree_pairs
         |  FROM cells
         |), lp AS (
         |  SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS lsh_pairs
         |  FROM (SELECT CAST(sum(m) AS BIGINT) AS n FROM cells GROUP BY ca)
         |), ep AS (
         |  SELECT CAST(sum(n * (n - 1) // 2) AS BIGINT) AS exact_pairs
         |  FROM (SELECT CAST(sum(m) AS BIGINT) AS n FROM cells GROUP BY cb)
         |)
         |SELECT n_docs, lsh_pairs, exact_pairs, agree_pairs,
         |  lsh_pairs - agree_pairs AS merged_pairs,
         |  exact_pairs - agree_pairs AS missed_pairs,
         |  agree_pairs * 1000000 // greatest(lsh_pairs, 1) AS pair_precision_ppm,
         |  agree_pairs * 1000000 // greatest(exact_pairs, 1) AS pair_recall_ppm
         |FROM ag, lp, ep""".stripMargin,
    // Independent restatement: per-position unnest, HAVING-filtered
    // gram frequency, and the same running-max interval sweep.
    "q110_exact_substr_spans" ->
      s"""WITH d AS (
         |  SELECT doc_id, text, len(text) AS n
         |  FROM documents WHERE len(text) >= $SubW
         |), g AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    CAST('0x' || substr(md5(substr(text, CAST(i AS INT), $SubW)), 1, 12) AS BIGINT) AS h
         |  FROM (SELECT doc_id, text, unnest(range(1, n - ${SubW - 2})) AS i FROM d)
         |), f AS (
         |  SELECT h FROM g GROUP BY h HAVING count(*) >= 2
         |), dup AS (
         |  SELECT g.doc_id, g.pos, g.pos + ${SubW - 1} AS en
         |  FROM g JOIN f USING (h)
         |), marked AS (
         |  SELECT doc_id, pos, en,
         |    max(en) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
         |  FROM dup
         |), isl AS (
         |  SELECT doc_id, pos, en,
         |    sum(CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
         |  FROM marked
         |), sp AS (
         |  SELECT doc_id, island, min(pos) AS st, max(en) AS en
         |  FROM isl GROUP BY 1, 2
         |), pd AS (
         |  SELECT doc_id,
         |    count(*) AS n_dup_spans,
         |    CAST(sum(en - st + 1) AS BIGINT) AS dup_chars,
         |    CAST(max(en - st + 1) AS BIGINT) AS max_span_len
         |  FROM sp GROUP BY 1
         |)
         |SELECT doc.doc_id,
         |  coalesce(pd.n_dup_spans, 0) AS n_dup_spans,
         |  coalesce(pd.dup_chars, 0) AS dup_chars,
         |  coalesce(pd.max_span_len, 0) AS max_span_len
         |FROM documents doc LEFT JOIN pd USING (doc_id)""".stripMargin,
    // Independent quadratic restatement: all-pairs levenshtein over the
    // capped name set — the scan the deletion-neighborhood join avoids.
    "q85_edit_distance_dedup" ->
      """WITH n AS (
        |  SELECT DISTINCT c_name FROM customer WHERE c_custkey <= 3000
        |)
        |SELECT a.c_name AS name_a, b.c_name AS name_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.c_name < b.c_name
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    // Independent quadratic restatement — provably equal to the banded
    // plan because 4x15-bit banding is lossless at hamming <= 3.
    "q31_dedup_simhash" -> {
      val bitSums = (0 until SimBits).map { i =>
        val src = if (i < 30) "h1" else "h2"
        s"sum(CASE WHEN ($src >> ${i % 30}) & 1 = 1 THEN 1 ELSE -1 END) AS b$i"
      }.mkString(",\n    ")
      val sh = (0 until SimBits)
        .map(i => s"CASE WHEN b$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
        .mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
         |  FROM documents
         |), tok AS (
         |  SELECT doc_id,
         |    CAST('0x' || substr(md5(u.t), 1, 8) AS BIGINT) % ${1L << 30} AS h1,
         |    CAST('0x' || substr(md5(u.t), 9, 8) AS BIGINT) % ${1L << 30} AS h2
         |  FROM toks, LATERAL unnest(tk) u(t)
         |), bits AS (
         |  SELECT doc_id,
         |    $bitSums
         |  FROM tok GROUP BY doc_id
         |), sim AS (
         |  SELECT doc_id, CAST($sh AS BIGINT) AS sh FROM bits
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= $MaxHamming""".stripMargin
    },
    // Replicates the sign-band blocking (approximate by contract).
    "q32_dedup_embed_cosine" -> {
      val bands = (0 until SignBands).map { b =>
        val sig = (0 until SignBitsPerBand)
          .map(j => s"CASE WHEN q[${b * SignBitsPerBand + j + 1}] >= 0 THEN ${1L << j} ELSE 0 END")
          .mkString(" + ")
        s"SELECT vec_id, concat_ws('|', $b, $sig) AS bkey FROM qv"
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH $quantCte, bands AS (
         |  $bands
         |), cand AS (
         |  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
         |  FROM bands l JOIN bands r ON l.bkey = r.bkey AND l.vec_id < r.vec_id
         |)
         |SELECT vec_a, vec_b,
         |  ${cosSql(dotSql("a.q", "b.q"), "a.s2", "b.s2")} AS cos_e6
         |FROM cand
         |JOIN ev a ON vec_a = a.vec_id
         |JOIN ev b ON vec_b = b.vec_id
         |WHERE ${cosSql(dotSql("a.q", "b.q"), "a.s2", "b.s2")} >= $CosDupThresholdE6""".stripMargin
    },
    // Same prefix-filter algebra restated in SQL (lossless at t=0.5, so
    // this is the complete answer, not a candidate approximation).
    // The identical plan-time sign matrix embedded as SQL literals
    // (the q24 planeWeights convention), same staged e3 ratio and
    // consecutive-id pair sample.
    "q230_jl_distortion" -> {
      val signLits = (0 until JlDims).map(j =>
        "[" + jlSigns(j).mkString(", ") + "]")
      val yExprs = signLits.map(sl =>
        s"CAST(list_sum(list_transform(generate_series(1, len(q)), i -> q[i] * ($sl)[i])) AS BIGINT)")
        .mkString(",\n    ")
      s"""WITH $quantCte, proj AS (
         |  SELECT vec_id, q,
         |    [$yExprs] AS y
         |  FROM qv
         |), pr AS (
         |  SELECT
         |    CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i]))) AS BIGINT) AS dx2,
         |    CAST(list_sum(list_transform(generate_series(1, len(a.y)), i -> (a.y[i] - b.y[i]) * (a.y[i] - b.y[i]))) AS BIGINT) AS dy2
         |  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
         |), r AS (
         |  SELECT dx2, dy2,
         |    CASE WHEN dx2 > 0 THEN dy2 * 1000 // ($JlDims * dx2) END AS ratio_e3
         |  FROM pr
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN dx2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
         |  CAST(sum(ratio_e3) // greatest(count(ratio_e3), 1) AS BIGINT) AS mean_ratio_e3,
         |  CAST(min(ratio_e3) AS BIGINT) AS min_ratio_e3,
         |  CAST(max(ratio_e3) AS BIGINT) AS max_ratio_e3,
         |  CAST(count(CASE WHEN abs(ratio_e3 - 1000) <= 300 THEN 1 END) AS BIGINT) AS n_within30,
         |  CAST(CAST(count(CASE WHEN abs(ratio_e3 - 1000) <= 300 THEN 1 END) AS BIGINT) * 1000000
         |    // greatest(count(*) - sum(CASE WHEN dx2 = 0 THEN 1 ELSE 0 END), 1) AS BIGINT) AS within30_ppm
         |FROM r""".stripMargin
    },
    // Same hash-ordered panel, same prefix dots/norms through cosSql,
    // same (cos DESC, vec_id) tiebreak; per-m top CTEs generated from
    // the same TruncDims list (the q241 pattern), recall vs the
    // full-width CTE.
    "q274_truncation_audit" -> {
      def pdot(m: Int) =
        s"CAST(list_sum(list_transform(generate_series(1, $m), " +
          s"i -> s.qq[i] * e.q[i])) AS DOUBLE)"
      def pnorm(v: String, m: Int) =
        s"CAST(list_sum(list_transform(generate_series(1, $m), " +
          s"i -> $v[i] * $v[i])) AS BIGINT)"
      val cosCols = TruncDims.map(m =>
        s"${cosSql(pdot(m), pnorm("s.qq", m), pnorm("e.q", m))} AS cos_$m")
        .mkString(",\n    ")
      val topCtes = TruncDims.map { m =>
        s"""top$m AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT q_id, vec_id,
           |      row_number() OVER (PARTITION BY q_id
           |                         ORDER BY cos_$m DESC, vec_id) AS rk
           |    FROM scored WHERE cos_$m IS NOT NULL
           |  ) WHERE rk <= $TruncK
           |)""".stripMargin
      }.mkString(", ")
      val ovArms = TruncDims.map { m =>
        s"""SELECT $m AS trunc_dim, t.q_id, count(b.vec_id) AS ov
           |  FROM top$m t LEFT JOIN top${TruncDims.head} b
           |    ON b.q_id = t.q_id AND b.vec_id = t.vec_id
           |  GROUP BY 1, 2""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $quantCte, sel AS (
         |  SELECT vec_id AS q_id, q AS qq FROM ev
         |  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 12)
         |    AS BIGINT), vec_id
         |  LIMIT $TruncQueryCount
         |), scored AS (
         |  SELECT s.q_id, e.vec_id,
         |    $cosCols
         |  FROM ev e CROSS JOIN sel s
         |  WHERE e.vec_id <> s.q_id
         |), $topCtes, ov AS (
         |$ovArms
         |)
         |SELECT CAST(trunc_dim AS BIGINT) AS trunc_dim,
         |  count(*) AS n_queries,
         |  CAST(sum(ov * 1000000 // $TruncK) // count(*) AS BIGINT)
         |    AS mean_recall_e6,
         |  CAST(min(ov * 1000000 // $TruncK) AS BIGINT) AS min_recall_e6
         |FROM ov GROUP BY 1""".stripMargin
    },
    // Same e4 quantization, same per-dim min/max, same truncating
    // code/reconstruction arithmetic (1-based dims via generate_series).
    "q228_sq_audit" ->
      s"""WITH $quantCte, dims AS (
         |  SELECT i.i AS dim, q[i.i] AS v
         |  FROM qv, LATERAL unnest(generate_series(1, len(q))) i(i)
         |), rng AS (
         |  SELECT dim, CAST(min(v) AS BIGINT) AS min_e4,
         |    CAST(max(v) AS BIGINT) AS max_e4,
         |    CAST(max(v) - min(v) AS BIGINT) AS range_e4
         |  FROM dims GROUP BY 1
         |), errs AS (
         |  SELECT d.dim, r.min_e4, r.max_e4, r.range_e4,
         |    abs(r.min_e4 +
         |      (((d.v - r.min_e4) * 255 // greatest(r.range_e4, 1)) * r.range_e4 // 255)
         |      - d.v) AS err
         |  FROM dims d JOIN rng r ON d.dim = r.dim
         |)
         |SELECT CAST(dim AS BIGINT) AS dim, min_e4, max_e4, range_e4,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(err) // count(*) AS BIGINT) AS mean_abs_err_e4,
         |  CAST(max(err) AS BIGINT) AS max_err_e4,
         |  range_e4 // 255 + 1 AS bound_e4
         |FROM errs GROUP BY 1, 2, 3, 4""".stripMargin,
    // q219's IVF and truth chains with the generating probe rank
    // attached to each pair; per-config legs are predicates over the
    // shared pair relation, same tiebreaks.
    "q241_probe_sweep" -> {
      val maxProbe = ProbeSweep.max
      val rows = ProbeSweep.map { p =>
        s"""SELECT CAST($p AS BIGINT) AS nprobe,
           |  (SELECT CAST(count(*) AS BIGINT) FROM pairs WHERE mincrank <= $p) AS n_candidates,
           |  (SELECT CAST(count(*) AS BIGINT) FROM btop) AS n_exact,
           |  (SELECT CAST(count(*) AS BIGINT) FROM btop b JOIN top$p i
           |     ON i.q_id = b.q_id AND i.neighbor_id = b.neighbor_id) AS n_hit,
           |  (SELECT CAST(count(*) AS BIGINT) FROM btop b JOIN top$p i
           |     ON i.q_id = b.q_id AND i.neighbor_id = b.neighbor_id) * 1000000
           |    // greatest((SELECT count(*) FROM btop), 1) AS recall_ppm""".stripMargin
      }.mkString("\nUNION ALL\n")
      val topCtes = ProbeSweep.map { p =>
        s"""top$p AS (
           |  SELECT q_id, neighbor_id FROM (
           |    SELECT q_id, neighbor_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, neighbor_id) AS rank
           |    FROM pairs WHERE mincrank <= $p
           |  ) WHERE rank <= 5
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH $quantCte, cents AS (
         |  SELECT vec_id AS c_id, q AS cq, s2 AS cs2 FROM ev WHERE vec_id < $IvfCells
         |), cell_scores AS (
         |  SELECT e.vec_id, e.q, e.s2, c.c_id,
         |    ${cosSql(dotSql("e.q", "c.cq"), "e.s2", "c.cs2")} AS c_cos
         |  FROM ev e CROSS JOIN cents c
         |), iranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crank
         |  FROM cell_scores
         |), iassign AS (
         |  SELECT vec_id, q, s2, c_id AS cell FROM iranked WHERE crank = 1
         |), iprobes AS (
         |  SELECT vec_id AS q_id, q AS qq, s2 AS qs2, c_id AS cell, crank AS prank
         |  FROM iranked WHERE vec_id % 25 = 0 AND crank <= $maxProbe
         |), pairs AS MATERIALIZED (
         |  SELECT p.q_id, a.vec_id AS neighbor_id,
         |    ${cosSql(dotSql("a.q", "p.qq"), "a.s2", "p.qs2")} AS cos_e6,
         |    CAST(min(p.prank) AS BIGINT) AS mincrank
         |  FROM iassign a JOIN iprobes p ON a.cell = p.cell AND a.vec_id <> p.q_id
         |  GROUP BY 1, 2, 3
         |), bpairs AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS neighbor_id,
         |         a.q AS qa, b.q AS qb, a.s2 AS sa, b.s2 AS sb
         |  FROM ev a JOIN ev b ON b.vec_id <> a.vec_id
         |  WHERE a.vec_id % 25 = 0
         |), bdots AS (
         |  SELECT q_id, neighbor_id, CAST(sum(qa[u.i] * qb[u.i]) AS BIGINT) AS dot
         |  FROM bpairs, LATERAL unnest(generate_series(1, len(qa))) u(i)
         |  GROUP BY 1, 2
         |), bscored AS (
         |  SELECT p.q_id, p.neighbor_id,
         |    CAST(round(1e6 * CAST(d.dot AS DOUBLE)
         |      / (sqrt(CAST(p.sa AS DOUBLE)) * sqrt(CAST(p.sb AS DOUBLE))), 0) AS BIGINT) AS cos_e6
         |  FROM bpairs p JOIN bdots d ON p.q_id = d.q_id AND p.neighbor_id = d.neighbor_id
         |), btop AS MATERIALIZED (
         |  SELECT q_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |    FROM bscored
         |  ) WHERE rank <= 5
         |), $topCtes
         |$rows""".stripMargin
    },
    // Bands come verbatim from q21's minhash CTEs; the truth side is
    // q39's prefix-filter restatement built off the same exh relation
    // (h1 IS q39's 48-bit shingle hash); the analytic column is the
    // same staged e6 polynomial.
    "q225_lsh_scurve" ->
      s"""WITH ${LlmPipeline.minhashPairCtes}, dh AS (
         |  SELECT DISTINCT doc_id, h1 AS h FROM exh
         |), freq2 AS (
         |  SELECT h, CAST(count(*) AS BIGINT) AS df FROM dh GROUP BY h
         |), sets2 AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_sort(list(least(df, 32767) * ${1L << 48} + dh.h)),
         |      k -> k & ${(1L << 48) - 1}) AS hs,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM dh JOIN freq2 ON dh.h = freq2.h
         |  GROUP BY doc_id
         |), pre2 AS (
         |  SELECT doc_id, unnest(hs[1 : CAST(n - (n + 1) // 2 + 1 AS INT)]) AS h
         |  FROM sets2
         |), cand2 AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM pre2 l JOIN pre2 r ON l.h = r.h AND l.doc_id < r.doc_id
         |), truth AS (
         |  SELECT doc_a, doc_b,
         |    CAST(round(1e6 * CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
         |      / CAST(a.n + b.n - len(list_intersect(a.hs, b.hs)) AS DOUBLE), 0) AS BIGINT) AS jaccard_e6
         |  FROM cand2
         |  JOIN sets2 a ON doc_a = a.doc_id
         |  JOIN sets2 b ON doc_b = b.doc_id
         |), truth5 AS (
         |  SELECT * FROM truth WHERE jaccard_e6 >= 500000
         |), coll AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM bands l JOIN bands r
         |    ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
         |), hit AS (
         |  SELECT t.jaccard_e6,
         |    CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS collide
         |  FROM truth5 t LEFT JOIN coll c
         |    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
         |), bins AS (
         |  SELECT jaccard_e6 // $SCurveBinE6 AS bin,
         |    CAST(count(*) AS BIGINT) AS n_pairs,
         |    CAST(sum(collide) AS BIGINT) AS n_collide
         |  FROM hit GROUP BY 1
         |), c1 AS (
         |  SELECT bin, bin * $SCurveBinE6 AS jacc_lo_e6, n_pairs, n_collide,
         |    least(bin * $SCurveBinE6 + ${SCurveBinE6 / 2}, 1000000) AS mid_e6
         |  FROM bins
         |), c2 AS (SELECT *, mid_e6 * mid_e6 // 1000000 AS q FROM c1
         |), c3 AS (SELECT *, (1000000 - q) * (1000000 - q) // 1000000 AS m2 FROM c2
         |), c4 AS (SELECT *, m2 * m2 // 1000000 AS m4 FROM c3
         |), c5 AS (SELECT *, m4 * m4 // 1000000 AS m8 FROM c4)
         |SELECT bin, jacc_lo_e6, n_pairs, n_collide,
         |  n_collide * 1000000 // n_pairs AS recall_ppm,
         |  1000000 - m8 AS analytic_ppm,
         |  n_collide * 1000000 // n_pairs - (1000000 - m8) AS gap_ppm
         |FROM c5""".stripMargin,
    "q39_dedup_ngram_jaccard" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
         |  FROM documents
         |), ex AS (
         |  SELECT DISTINCT doc_id, array_to_string(tk[u.i:u.i+2], ' ') AS sh
         |  FROM toks, LATERAL unnest(generate_series(1, len(tk)-2)) u(i)
         |  WHERE len(tk) >= 3
         |), exh AS (
         |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(sh), 1, 12) AS BIGINT) AS h
         |  FROM ex
         |), freq AS (
         |  SELECT h, CAST(count(*) AS BIGINT) AS df FROM exh GROUP BY h
         |), sets AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_sort(list(least(df, 32767) * ${1L << 48} + exh.h)),
         |      k -> k & ${(1L << 48) - 1}) AS hs,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM exh JOIN freq ON exh.h = freq.h
         |  GROUP BY doc_id
         |), pre AS (
         |  SELECT doc_id, unnest(hs[1 : CAST(n - (n + 1) // 2 + 1 AS INT)]) AS h
         |  FROM sets
         |), cand AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM pre l JOIN pre r ON l.h = r.h AND l.doc_id < r.doc_id
         |), scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS n_inter,
         |    a.n AS na, b.n AS nb
         |  FROM cand
         |  JOIN sets a ON doc_a = a.doc_id
         |  JOIN sets b ON doc_b = b.doc_id
         |)
         |SELECT doc_a, doc_b, n_inter,
         |  na + nb - n_inter AS n_union,
         |  CAST(round(1e6 * CAST(n_inter AS DOUBLE)
         |    / CAST(na + nb - n_inter AS DOUBLE), 0) AS BIGINT) AS jaccard_e6
         |FROM scored WHERE CAST(round(1e6 * CAST(n_inter AS DOUBLE)
         |    / CAST(na + nb - n_inter AS DOUBLE), 0) AS BIGINT) >= $JaccardThresholdE6""".stripMargin,
    // q39's truth pairs + the same (doc, token-hash) count relation,
    // shared-token Σmin, and the na+nb−Σmin identity.
    "q235_weighted_jaccard" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
         |  FROM documents
         |), ex AS (
         |  SELECT DISTINCT doc_id, array_to_string(tk[u.i:u.i+2], ' ') AS sh
         |  FROM toks, LATERAL unnest(generate_series(1, len(tk)-2)) u(i)
         |  WHERE len(tk) >= 3
         |), exh AS (
         |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(sh), 1, 12) AS BIGINT) AS h
         |  FROM ex
         |), freq AS (
         |  SELECT h, CAST(count(*) AS BIGINT) AS df FROM exh GROUP BY h
         |), sets AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_sort(list(least(df, 32767) * ${1L << 48} + exh.h)),
         |      k -> k & ${(1L << 48) - 1}) AS hs,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM exh JOIN freq ON exh.h = freq.h
         |  GROUP BY doc_id
         |), pre AS (
         |  SELECT doc_id, unnest(hs[1 : CAST(n - (n + 1) // 2 + 1 AS INT)]) AS h
         |  FROM sets
         |), cand AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM pre l JOIN pre r ON l.h = r.h AND l.doc_id < r.doc_id
         |), tp AS (
         |  SELECT doc_a, doc_b,
         |    CAST(round(1e6 * CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
         |      / CAST(a.n + b.n - len(list_intersect(a.hs, b.hs)) AS DOUBLE), 0) AS BIGINT) AS jaccard_e6
         |  FROM cand
         |  JOIN sets a ON doc_a = a.doc_id
         |  JOIN sets b ON doc_b = b.doc_id
         |), tp5 AS (
         |  SELECT * FROM tp WHERE jaccard_e6 >= $JaccardThresholdE6
         |), cnts AS (
         |  SELECT doc_id, CAST('0x' || substr(md5(u.t), 1, 12) AS BIGINT) AS th,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM toks, LATERAL unnest(tk) u(t)
         |  GROUP BY 1, 2
         |), tot AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok FROM cnts GROUP BY 1
         |), sm AS (
         |  SELECT p.doc_a, p.doc_b, CAST(sum(least(ca.c, cb.c)) AS BIGINT) AS smin
         |  FROM tp5 p
         |  JOIN cnts ca ON ca.doc_id = p.doc_a
         |  JOIN cnts cb ON cb.doc_id = p.doc_b AND cb.th = ca.th
         |  GROUP BY 1, 2
         |)
         |SELECT p.doc_a, p.doc_b, p.jaccard_e6,
         |  coalesce(s.smin, 0) * 1000000 // (ta.n_tok + tb.n_tok - coalesce(s.smin, 0)) AS weighted_jaccard_e6,
         |  coalesce(s.smin, 0) * 1000000 // (ta.n_tok + tb.n_tok - coalesce(s.smin, 0)) - p.jaccard_e6 AS delta_e6
         |FROM tp5 p
         |LEFT JOIN sm s ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
         |JOIN tot ta ON ta.doc_id = p.doc_a
         |JOIN tot tb ON tb.doc_id = p.doc_b""".stripMargin,
    // q39's prefix-filter truth restated (same CTE chain), then the
    // same 11-threshold fold: pair counts off the pair relation, doc
    // and token counts off each doc's MAX pair bin.
    "q226_threshold_sweep" -> {
      val per = (10 to 20).map { b =>
        s"""SELECT CAST(${b * 50000} AS BIGINT) AS thresh_e6,
           |  CAST((SELECT count(*) FROM tp WHERE bin >= $b) AS BIGINT) AS n_pairs,
           |  CAST((SELECT count(*) FROM dt WHERE mx >= $b) AS BIGINT) AS n_dup_docs,
           |  CAST((SELECT coalesce(sum(n_tokens), 0) FROM dt WHERE mx >= $b) AS BIGINT) AS n_tokens_affected""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
         |  FROM documents
         |), ex AS (
         |  SELECT DISTINCT doc_id, array_to_string(tk[u.i:u.i+2], ' ') AS sh
         |  FROM toks, LATERAL unnest(generate_series(1, len(tk)-2)) u(i)
         |  WHERE len(tk) >= 3
         |), exh AS (
         |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(sh), 1, 12) AS BIGINT) AS h
         |  FROM ex
         |), freq AS (
         |  SELECT h, CAST(count(*) AS BIGINT) AS df FROM exh GROUP BY h
         |), sets AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_sort(list(least(df, 32767) * ${1L << 48} + exh.h)),
         |      k -> k & ${(1L << 48) - 1}) AS hs,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM exh JOIN freq ON exh.h = freq.h
         |  GROUP BY doc_id
         |), pre AS (
         |  SELECT doc_id, unnest(hs[1 : CAST(n - (n + 1) // 2 + 1 AS INT)]) AS h
         |  FROM sets
         |), cand AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM pre l JOIN pre r ON l.h = r.h AND l.doc_id < r.doc_id
         |), scored AS (
         |  SELECT doc_a, doc_b,
         |    CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS n_inter,
         |    a.n AS na, b.n AS nb
         |  FROM cand
         |  JOIN sets a ON doc_a = a.doc_id
         |  JOIN sets b ON doc_b = b.doc_id
         |), tp AS (
         |  SELECT doc_a, doc_b, j // 50000 AS bin FROM (
         |    SELECT doc_a, doc_b,
         |      CAST(round(1e6 * CAST(n_inter AS DOUBLE)
         |        / CAST(na + nb - n_inter AS DOUBLE), 0) AS BIGINT) AS j
         |    FROM scored)
         |  WHERE j >= $JaccardThresholdE6
         |), un AS (
         |  SELECT doc_a AS doc_id, bin FROM tp
         |  UNION ALL SELECT doc_b AS doc_id, bin FROM tp
         |), mx AS (SELECT doc_id, max(bin) AS mx FROM un GROUP BY 1
         |), dt AS (
         |  SELECT m.doc_id, m.mx, CAST(len(t.tk) AS BIGINT) AS n_tokens
         |  FROM mx m JOIN toks t ON t.doc_id = m.doc_id
         |)
         |$per""".stripMargin
    },
    // One-sided prefix-filter algebra restated in SQL (lossless at
    // t=0.9 by pigeonhole — the complete answer, like q39).
    "q71_containment_dedup" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS tk
         |  FROM documents
         |), ex AS (
         |  SELECT DISTINCT doc_id, array_to_string(tk[u.i:u.i+2], ' ') AS sh
         |  FROM toks, LATERAL unnest(generate_series(1, len(tk)-2)) u(i)
         |  WHERE len(tk) >= 3
         |), exh AS (
         |  SELECT DISTINCT doc_id, CAST('0x' || substr(md5(sh), 1, 12) AS BIGINT) AS h
         |  FROM ex
         |), freq AS (
         |  SELECT h, CAST(count(*) AS BIGINT) AS df FROM exh GROUP BY h
         |), sets AS (
         |  SELECT doc_id,
         |    list_transform(
         |      list_sort(list(least(df, 32767) * ${1L << 48} + exh.h)),
         |      k -> k & ${(1L << 48) - 1}) AS hs,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM exh JOIN freq ON exh.h = freq.h
         |  GROUP BY doc_id
         |), pre AS (
         |  SELECT doc_id, unnest(hs[1 : CAST(n - (9 * n + 9) // 10 + 1 AS INT)]) AS h
         |  FROM sets
         |), inv AS (
         |  SELECT doc_id, unnest(hs) AS h FROM sets
         |), cand AS (
         |  SELECT DISTINCT l.doc_id AS a_id, r.doc_id AS b_id
         |  FROM pre l JOIN inv r ON l.h = r.h AND l.doc_id <> r.doc_id
         |), scored AS (
         |  SELECT a_id AS doc_a, b_id AS doc_b,
         |    CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS n_inter,
         |    a.n AS na, b.n AS nb
         |  FROM cand
         |  JOIN sets a ON a_id = a.doc_id
         |  JOIN sets b ON b_id = b.doc_id
         |)
         |SELECT doc_a, doc_b, n_inter, na, nb,
         |  CAST(round(1e6 * CAST(n_inter AS DOUBLE) / CAST(na AS DOUBLE), 0) AS BIGINT) AS containment_e6
         |FROM scored
         |WHERE CAST(round(1e6 * CAST(n_inter AS DOUBLE) / CAST(na AS DOUBLE), 0) AS BIGINT) >= $ContainThresholdE6""".stripMargin,
    // The same two Lloyd iterations, unrolled relationally: every
    // Spark (assign, update) pass becomes an (sN/aN, uN/cN) CTE pair.
    // All math is integer or one IEEE divide over identical operands,
    // so the two engines must agree bit-for-bit.
    "q57_kmeans_cluster" ->
      s"WITH $kmeansCtes\nSELECT vec_id, cluster, dist FROM a3",
    // Same 6 power iterations: per round the same sign-decomposed
    // truncating dot scale-down, the same D-row C·v sums, and the
    // same exact ∞-norm renormalization (HUGEINT here = the driver's
    // BigInt) — both engines walk one integer trajectory.
    "q210_top_component" -> {
      def iter(k: Int): String = {
        val pv = if (k == 1) "it0" else s"v${k - 1}"
        s"""s_pc$k AS (
           |  SELECT q, CAST(list_sum(list_transform(generate_series(1, len(q)),
           |    i -> q[i] * v[i])) AS BIGINT) AS dot
           |  FROM qv CROSS JOIN $pv
           |), sd$k AS (
           |  SELECT q, CASE WHEN dot >= 0 THEN dot // $PcScale
           |                 ELSE -((-dot) // $PcScale) END AS sdot
           |  FROM s_pc$k
           |), w$k AS (
           |  SELECT u.i AS pos, CAST(sum(q[u.i] * sdot) AS BIGINT) AS w
           |  FROM sd$k, LATERAL unnest(generate_series(1, len(q))) u(i)
           |  GROUP BY 1
           |), m$k AS (SELECT greatest(max(abs(w)), 1) AS m FROM w$k),
           |v$k AS (
           |  SELECT list(CAST(CASE WHEN w >= 0
           |      THEN CAST(w AS HUGEINT) * $PcScale // m
           |      ELSE -(CAST(-w AS HUGEINT) * $PcScale // m) END AS BIGINT)
           |    ORDER BY pos) AS v
           |  FROM w$k CROSS JOIN m$k
           |)"""
      }
      s"""WITH $quantCte, it0 AS (
         |  SELECT list_transform(generate_series(1, (SELECT max(len(q)) FROM qv)),
         |    x -> CAST($PcScale AS BIGINT)) AS v
         |),
         |${(1 to PcIters).map(iter).mkString(",\n")}
         |SELECT CAST(u.i AS BIGINT) AS pos, v[u.i] AS comp_e6
         |FROM v$PcIters, LATERAL unnest(generate_series(1, len(v))) u(i)""".stripMargin
    },
    // q57's CTE chain; top-2 centroid distances off the same all-pairs
    // relation s2 (rn 1 = the assignment, rn 2 = nearest other), same
    // guarded floor-div ppm and the K=1 → 0 convention via LEFT JOIN.
    "q208_silhouette_audit" ->
      s"""WITH $kmeansCtes, rk AS (
         |  SELECT vec_id, c_id, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_id) AS rn
         |  FROM s2
         |), ab AS (
         |  SELECT r1.vec_id, r1.c_id AS cluster, r1.dist AS a_dist, r2.dist AS b_dist
         |  FROM rk r1 LEFT JOIN rk r2 ON r2.vec_id = r1.vec_id AND r2.rn = 2
         |  WHERE r1.rn = 1
         |), sil AS (
         |  SELECT vec_id, cluster,
         |    CASE WHEN b_dist IS NULL THEN 0
         |         ELSE (b_dist - a_dist) * 1000000 // greatest(b_dist, 1) END
         |      AS sil_ppm
         |  FROM ab
         |)
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(sil_ppm) // count(*) AS BIGINT) AS mean_sil_ppm,
         |  CAST(min(sil_ppm) AS BIGINT) AS min_sil_ppm
         |FROM sil GROUP BY 1""".stripMargin,
    // q57's CTE chain + a within-cluster pair scan — the oracle
    // restates the cluster-bounded quadratic directly.
    "q58_semantic_dedup" ->
      s"""WITH $kmeansCtes, a3s AS (
         |  SELECT vec_id, cluster, q,
         |    CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS s2
         |  FROM a3
         |), dup AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM a3s a JOIN a3s b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${cosSql(dotSql("a.q", "b.q"), "a.s2", "b.s2")} >= $SemDupThresholdE6
         |)
         |SELECT s.vec_id, s.cluster, d.vec_id IS NOT NULL AS is_dropped
         |FROM a3s s LEFT JOIN dup d ON s.vec_id = d.vec_id""".stripMargin,
    "q33_ann_ivf" ->
      s"""WITH $quantCte, cents AS (
         |  SELECT vec_id AS c_id, q AS cq, s2 AS cs2 FROM ev WHERE vec_id < $IvfCells
         |), cell_scores AS (
         |  SELECT e.vec_id, e.q, e.s2, c.c_id,
         |    ${cosSql(dotSql("e.q", "c.cq"), "e.s2", "c.cs2")} AS c_cos
         |  FROM ev e CROSS JOIN cents c
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crank
         |  FROM cell_scores
         |), assign AS (
         |  SELECT vec_id, q, s2, c_id AS cell FROM ranked WHERE crank = 1
         |), probes AS (
         |  SELECT vec_id AS q_id, q AS qq, s2 AS qs2, c_id AS cell
         |  FROM ranked WHERE vec_id % 25 = 0 AND crank <= $IvfProbes
         |), scored AS (
         |  SELECT DISTINCT p.q_id, a.vec_id AS neighbor_id,
         |    ${cosSql(dotSql("a.q", "p.qq"), "a.s2", "p.qs2")} AS cos_e6
         |  FROM assign a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id
         |)
         |SELECT q_id, neighbor_id, cos_e6, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos_e6 DESC, neighbor_id) AS rank
         |  FROM scored
         |) WHERE rank <= 5""".stripMargin,
    // q33's assignment CTEs verbatim, collapsed to per-cell counts;
    // same left join onto the centroid ids (empty cells → 0), total
    // restated as a scalar subquery over the same count relation.
    "q191_ivf_balance" ->
      s"""WITH $quantCte, cents AS (
         |  SELECT vec_id AS c_id, q AS cq, s2 AS cs2 FROM ev WHERE vec_id < $IvfCells
         |), cell_scores AS (
         |  SELECT e.vec_id, c.c_id,
         |    ${cosSql(dotSql("e.q", "c.cq"), "e.s2", "c.cs2")} AS c_cos
         |  FROM ev e CROSS JOIN cents c
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS crank
         |  FROM cell_scores
         |), cellcnt AS (
         |  SELECT c_id AS cell, CAST(count(*) AS BIGINT) AS n
         |  FROM ranked WHERE crank = 1 GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cellcnt
         |)
         |SELECT c.c_id AS cell, CAST(COALESCE(n.n, 0) AS BIGINT) AS n_members,
         |  COALESCE(n.n, 0) * 1000000 // t.n_total AS share_ppm,
         |  COALESCE(n.n, 0) * $IvfCells * 1000000 // t.n_total AS load_e6
         |FROM cents c LEFT JOIN cellcnt n ON n.cell = c.c_id, tot t""".stripMargin,
    // q114: assignment → PQ encoding → probe → ADC, restated
    // relationally; integer L2 everywhere, ties to the lowest id, so
    // every PQ approximation artifact must reproduce bit-for-bit.
    "q114_ann_ivf_pq" -> {
      def l2(n: Int, a: String, b: String): String =
        s"CAST(list_sum(list_transform(generate_series(1, $n), i -> ($a - $b) * ($a - $b))) AS BIGINT)"
      s"""WITH $quantCte, cents AS (
         |  SELECT vec_id AS c_id, q AS cq FROM ev WHERE vec_id < $IvfCells
         |), cranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c_id) AS rn
         |  FROM (
         |    SELECT e.vec_id, e.q, c.c_id, ${l2(64, "e.q[i]", "c.cq[i]")} AS d2
         |    FROM ev e CROSS JOIN cents c)
         |), assign AS (
         |  SELECT vec_id, c_id AS cell FROM cranked WHERE rn = 1
         |), cb AS (
         |  -- residual codebook: seed minus ITS nearest coarse centroid
         |  SELECT g.m, s.vec_id - $IvfCells AS c,
         |    list_transform(generate_series(1, $PqDsub),
         |      i -> s.q[g.m * $PqDsub + i] - c2.cq[g.m * $PqDsub + i]) AS sub
         |  FROM cranked s JOIN cents c2 ON c2.c_id = s.c_id,
         |       (SELECT unnest(generate_series(0, ${PqM - 1})) AS m) g
         |  WHERE s.vec_id >= $IvfCells AND s.vec_id < ${IvfCells + PqK} AND s.rn = 1
         |), codes AS (
         |  SELECT vec_id, m, c AS code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS crn
         |    FROM (
         |      SELECT e.vec_id, b.m, b.c,
         |        ${l2(PqDsub, s"e.q[b.m * $PqDsub + i] - c2.cq[b.m * $PqDsub + i]", "b.sub[i]")} AS d2
         |      FROM ev e
         |      JOIN assign a2 ON a2.vec_id = e.vec_id
         |      JOIN cents c2 ON c2.c_id = a2.cell
         |      CROSS JOIN cb b)
         |  ) WHERE crn = 1
         |), probes AS (
         |  SELECT vec_id AS q_id, q AS qq, c_id AS cell
         |  FROM cranked WHERE vec_id % 25 = 0 AND rn <= $IvfProbes
         |), adc AS (
         |  -- query residual vs the PROBED cell's centroid (pc)
         |  SELECT p.q_id, a.vec_id AS neighbor_id,
         |    CAST(sum(${l2(PqDsub, s"p.qq[b.m * $PqDsub + i] - pc.cq[b.m * $PqDsub + i]", "b.sub[i]")}) AS BIGINT) AS adc_d2
         |  FROM assign a
         |  JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.q_id
         |  JOIN cents pc ON pc.c_id = p.cell
         |  JOIN codes co ON co.vec_id = a.vec_id
         |  JOIN cb b ON b.m = co.m AND b.c = co.code
         |  GROUP BY 1, 2
         |)
         |SELECT q_id, neighbor_id, adc_d2, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adc_d2, neighbor_id) AS rank
         |  FROM adc
         |) WHERE rank <= 5""".stripMargin
    })
}
