package graft.queries

import graft.Tables
import graft.ops.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for a training-data pipeline: the steps
  * that sit BETWEEN raw crawl ingestion and the tokenizer at 100 TB —
  * intra-document repetition metrics (q46), benchmark decontamination
  * (q47), incremental batch-vs-corpus dedup (q48), deterministic
  * stratified sampling with inverse-probability weights (q49),
  * token-budget shard packing (q50), corpus-composition pivot marts
  * (q51), and a deterministic global shuffle for training order (q52).
  *
  * Scale design (the 100 TB story):
  *  - Everything derives from content-stable hashes (`md5` of the
  *    document key or text), never from row order, partitioning, or a
  *    seeded RNG — re-sharding or incrementally re-running the
  *    pipeline can never change a sample, split, shard, or training
  *    position. That property (not speed) is why `randomSplit`/
  *    `rand()` appear nowhere.
  *  - q47's inverted n-gram index join and q48's anti-join shuffle on
  *    a 48-bit gram hash / 128-bit content hash, so shuffle payloads
  *    are fixed-width keys, not document text. 5-gram df is sharply
  *    Zipf-truncated (a 5-gram is ~5× rarer than its rarest word), so
  *    bucket skew is bounded; AQE's skew-join split covers the tail.
  *  - q46's only non-narrow work is a two-phase (doc_id, token) →
  *    (doc_id) partial-aggregated count — the same Expand-free shape
  *    as q28 — joined back to the narrow metrics on doc_id.
  *  - Cross-engine determinism: all fractions are a single IEEE
  *    divide + one round to e6 integers over identical operands;
  *    gram identity is an md5 slice in BOTH engines so rare hash
  *    collisions are mirrored rather than diverging (LlmPipeline
  *    `hashedShingleSet` convention).
  *
  * Reference anchor: the reference (healthcare ETL) has no curation
  * surface — these are SURVEY §7.5(b) north-star extensions graded as
  * first-class components.
  */
object Curation {
  private type Q = (SparkSession, String) => DataFrame

  /** First 16 bits of md5(salt || key) as a long in [0, 65536) — the
    * deterministic uniform hash behind sampling/splitting/sharding.
    * Distinct salts give independent-in-practice streams, so e.g. the
    * q42 train/test split and the q49 sample never correlate. */
  private def hash16(salt: String, key: Column): Column =
    md5Draw(concat(lit(salt), key.cast("string")), 1, 4)

  private def e6Frac(num: Column, den: Column): Column =
    round(lit(1e6) * num.cast("double") / den.cast("double"), 0).cast("long")

  // -- q46: intra-document repetition metrics ------------------------

  /** Gopher-style repetition quality signals: duplicate-token and
    * duplicate-2-gram fractions (narrow array math over the scan) plus
    * the most-frequent-token share, which needs a per-(doc, token)
    * count — written as an exact two-phase aggregate (explode →
    * partial-combined count → per-doc max) instead of a per-row
    * quadratic `filter` scan of the token array, so cost stays linear
    * in corpus size even for degenerate million-token documents. The
    * final doc_id join is narrow-vs-tiny; AQE broadcasts the metric
    * side when it fits and falls back to a keyed join when not. */
  val q46RepetitionStats: Q = (s, d) => {
    val tk = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
    val narrow = tk.select(
      col("doc_id"),
      size(col("tk")).as("n_tokens"),
      size(array_distinct(col("tk"))).as("n_uniq"),
      greatest(size(col("tk")) - 1, lit(0)).as("n_2grams"),
      size(array_distinct(ngrams(col("tk"), 2))).as("n_uniq_2grams"))
    val top = tk
      .select(col("doc_id"), explode(col("tk")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_token_cnt"))
    narrow.join(top, "doc_id")
      .withColumn("dup_token_frac_e6",
        e6Frac(col("n_tokens") - col("n_uniq"), col("n_tokens")))
      .withColumn("dup_2gram_frac_e6",
        when(col("n_2grams") > 0,
          e6Frac(col("n_2grams") - col("n_uniq_2grams"), col("n_2grams")))
          .otherwise(lit(0L)))
      .withColumn("top_token_frac_e6",
        e6Frac(col("top_token_cnt"), col("n_tokens")))
      .withColumn("is_repetitive",
        col("dup_token_frac_e6") > 600000L ||
          col("dup_2gram_frac_e6") > 50000L ||
          // top-token share only judges docs long enough for the
          // share to be meaningful (a 6-token all-distinct doc is
          // 1/6 = 17% "top token" by arithmetic, not by repetition)
          (col("n_tokens") >= 10 && col("top_token_frac_e6") > 130000L))
  }

  // -- q47: benchmark decontamination --------------------------------

  private val ContamN = 5

  /** Test-set leakage scan: which training-split documents share any
    * 5-gram with a held-out (test-split) document, and how many
    * distinct 5-grams leak. The canonical pre-training decontamination
    * pass, as an inverted-index join: per-doc DISTINCT gram hashes
    * (48-bit md5 slice — fixed-width shuffle keys, text never moves),
    * the test side collapsed to a distinct gram set, one equi-join on
    * the gram hash, one count per train doc. No pairwise doc×doc
    * comparison anywhere — cost is |gram occurrences|, linear in
    * corpus size. Gram identity is the same md5 slice in the oracle,
    * so collisions (if ever) are mirrored, not divergent. */
  /** (doc_id, split-bucket, 48-bit gram hash) — per-doc DISTINCT
    * 5-gram hashes, the inverted-index relation behind q47 and q107.
    * Persisted (SharedCache): the test-side distinct and the
    * train-side probe would otherwise each re-run the
    * tokenize+5-gram+md5 scan; both queries canonicalize to the SAME
    * cache entry; the cached rows are fixed-width, never text. */
  private def contamGrams(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), splitBucket(col("doc_id")).as("b"),
        explode(array_distinct(ngrams(tokens(col("text")), ContamN))).as("g"))
      .select(col("doc_id"), col("b"),
        md5Draw(col("g"), 1, 12).as("gh"))
      .transform(graft.ops.SharedCache.persist)

  val q47Decontaminate: Q = (s, d) => {
    val grams = contamGrams(s, d)
    val testGrams = grams.filter(col("b") === 9).select("gh").distinct()
    grams.filter(col("b") < 8)
      .join(testGrams, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** q107: the SAME decontamination relation as q47, produced the way
    * a 100 TB run would: a BLOOM FILTER over the (small) test-gram set
    * prunes the (huge) train-gram side MAP-SIDE before the exact
    * equi-join, so the join shuffle carries only probable matches —
    * test-fraction + the declared ~1% false-positive rate — instead of
    * every train gram occurrence. Spark's optimizer makes this move
    * automatically only when join statistics trigger its runtime
    * filter; a curation pipeline wants it guaranteed and sized from
    * the data (items = exact test-gram count, 10 bits each). The
    * bloom is control plane: one merged filter built by a
    * constant-shuffle aggregate (per-partition blooms OR-merged, like
    * HLL), collected once, probed as a literal in a narrow map. False
    * positives only enlarge the pruned candidate set and the exact
    * join removes them, so the result — and the oracle — is
    * bit-for-bit q47's. */
  /** q171 — MEMORIZATION / OVERLAP AUDIT: the eval-side reverse of
    * q47. Decontamination asks "which TRAIN docs leak into the test
    * set"; an evaluation pipeline also needs the per-TEST-doc view:
    * what fraction of each held-out document's distinct 5-grams
    * appears ANYWHERE in the training split — the standard
    * memorization-risk / benchmark-overlap figure quoted alongside
    * eval scores. Same inverted-index shape as q47 (the SharedCache'd
    * contamGrams relation, one keyed equi-join on the 48-bit gram
    * hash, one per-doc aggregate — never doc×doc); the train side
    * collapses to a DISTINCT gram set so the left join is 1:≤1 and
    * counting stays exact. q107's bloom-prune applies here verbatim
    * when the test split is the small side at 100 TB. Test docs
    * shorter than 5 tokens have no grams and are absent by contract. */
  val q171MemorizationScan: Q = (s, d) => {
    val grams = contamGrams(s, d)
    val trainSet = grams.filter(col("b") < 8).select("gh").distinct()
      .withColumn("hit", lit(1))
    grams.filter(col("b") === 9)
      .join(trainSet, Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        expr("n_hit * 1000000 div n_grams").as("memorized_ppm"))
  }

  val q107BloomDecontaminate: Q = (s, d) => {
    graft.functions.BloomFunctions.register(s)
    val grams = contamGrams(s, d)
    val testGrams = grams.filter(col("b") === 9).select("gh").distinct()
    val nTest = math.max(testGrams.count(), 1L) // control-plane scalar
    val bloom = testGrams
      .agg(graft.functions.BloomFunctions.bloomAgg(
        col("gh"), lit(nTest), lit(nTest * 10L)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val trainPruned =
      if (bloom == null) grams.filter(lit(false)) // empty test split
      else grams.filter(col("b") < 8)
        .filter(graft.functions.BloomFunctions.mightContain(lit(bloom), col("gh")))
    trainPruned
      .join(testGrams, "gh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  // -- q48: incremental batch-vs-corpus dedup ------------------------

  /** Incremental ingestion dedup: a new crawl batch (sources src10+)
    * is anti-joined against the standing corpus (src0-src9) on the
    * q20 normalized content hash — only novel documents survive. At
    * 100 TB the corpus side is a pre-aggregated DISTINCT hash set
    * (16 bytes/doc, partial-combined map-side), and the anti-join
    * shuffles hashes, not text; run-over-run this is the only work a
    * new batch pays, independent of corpus growth per-batch. */
  val q48IncrementalDedup: Q = (s, d) => {
    val h = Tables.documents(s, d).select(
      col("doc_id"),
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
        .as("content_hash"),
      substring(col("source"), 4, 10).cast("int").as("si"))
    val corpus = h.filter(col("si") < 10).select("content_hash").distinct()
    h.filter(col("si") >= 10)
      .join(corpus, Seq("content_hash"), "left_anti")
      .select("doc_id", "content_hash")
  }

  // -- q265: dedup-state migration across a corpus re-shard ----------

  private val MigOldBuckets = 16L
  private val MigNewBuckets = 24L

  /** (content_hash, si) per document: the whitespace-normalized
    * content hash and the numeric source index (`src<si>`). Sources
    * below 10 are the existing state, the rest the incoming feed. */
  private def sourcedHashes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
        .as("content_hash"),
      substring(col("source"), 4, 10).cast("int").as("si"))

  /** The distinct content hashes of the state (sources below 10), each
    * with `h48`, the first 12 hex digits of the hash as a long. */
  private def stateHashes(s: SparkSession, d: String): DataFrame =
    sourcedHashes(s, d).filter(col("si") < 10).select("content_hash").distinct()
      .withColumn("h48",
        conv(substring(col("content_hash"), 1, 12), 16, 10).cast("long"))

  /** DEDUP-STATE MIGRATION (the operational gap between q48 and q78):
    * q48's incremental dedup consults a
    * persistent "seen" state of distinct content hashes, physically
    * laid out in routing buckets so each incoming batch's anti-join
    * only touches the buckets its hashes route to. When the layout is
    * RE-SHARDED (here 16 → 24 buckets on the same routing hash — the
    * capacity bump every long-lived dedup service eventually does),
    * the state must be migrated without losing or duplicating a
    * single hash, WHILE the next batch's inserts land directly in the
    * new layout. This query emits the migration manifest that makes
    * the move auditable and executable:
    * one row per (origin, bucket_old, bucket_new) routing cell with
    * its entry count and a 48-bit XOR content fingerprint (the q164
    * Merkle leaf convention), where origin 'm' rows are the old
    * state re-keyed (bucket_old → bucket_new routing table) and
    * origin 'i' rows are the current batch's q48 survivors landing
    * straight in the new layout (bucket_old NULL). Conservation is
    * row-derivable: per-old-bucket sums of n_entries restate the old
    * layout's totals exactly, XOR of all 'm' fingerprints equals the
    * old state's root, and the modular structure pins the fan-out —
    * h%16 and h%24 are both determined by h%48, so every old bucket
    * ships to EXACTLY lcm/16 = 3 new buckets and every new bucket
    * receives from exactly lcm/24 = 2 old ones (spec-pinned).
    *
    * Scale shape: hashes only on the wire (the q48 discipline — 128-bit
    * content hashes + 16-bit routing hashes, never text), one distinct
    * per side, one anti-join (q48's own shape), one map-combined
    * aggregate onto the ≤(16·3 + 24)-cell manifest. At 100 TB the
    * manifest stays ≤72 rows no matter the corpus; the state-sized
    * stages are the same distinct/anti-join q48 already pays. */
  val q265StateMigration: Q = (s, d) => {
    val h = sourcedHashes(s, d)
    val state = h.filter(col("si") < 10).select("content_hash").distinct()
    val inserts = h.filter(col("si") >= 10).select("content_hash").distinct()
      .join(state, Seq("content_hash"), "left_anti")
    val rh = hash16("dedupshard", col("content_hash"))
    val h48 = conv(substring(col("content_hash"), 1, 12), 16, 10)
      .cast("long")
    val migrated = state.select(
      lit("m").as("origin"), (rh % MigOldBuckets).as("bucket_old"),
      (rh % MigNewBuckets).as("bucket_new"), h48.as("h48"))
    val landed = inserts.select(
      lit("i").as("origin"), lit(null).cast("long").as("bucket_old"),
      (rh % MigNewBuckets).as("bucket_new"), h48.as("h48"))
    migrated.unionByName(landed)
      .groupBy("origin", "bucket_old", "bucket_new")
      .agg(count(lit(1)).as("n_entries"), expr("bit_xor(h48)").as("fp48"))
  }

  // -- q266: re-shard policy comparison (modulo vs consistent ring) --

  /** Virtual nodes per bucket on the consistent-hash ring. Small by
    * production standards (real rings use 100s for balance); the
    * policy COMPARISON only needs determinism, and V is the declared
    * balance knob. */
  private val RingVnodes = 8

  /** 48-bit md5 ring point for (bucket, vnode) — the exact string
    * DuckDB's md5 sees, so both engines place identical points. The
    * salt encodes ONLY the bucket identity, never the ring SIZE:
    * consistent hashing's minimal-movement property exists precisely
    * because an existing node's points do not move when nodes are
    * added — the N-bucket ring is the union of the first N buckets'
    * fixed point sets. */
  private def ringPoint(bkt: Long, v: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"ring#$bkt#$v".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 12), 16)
  }

  /** The ring for `buckets` nodes, each point encoded pt·64 + bkt —
    * ONE sorted long array, so assignment is a pure array expression
    * and ties on pt break deterministically by bucket id in BOTH
    * engines (bkt < 64 by construction). */
  private def ringEncoded(buckets: Long): Seq[Long] =
    (0L until buckets).flatMap(b =>
      (0 until RingVnodes).map(v => ringPoint(b, v) * 64L + b)).sorted

  /** RE-SHARD POLICY COMPARISON — the capacity-planning table behind
    * q265's migration: when the dedup state grows from 16 buckets,
    * how many keys MOVE under (a) modulo routing (q265's layout) vs
    * (b) a consistent-hash ring (Karger et al. 1997), for a
    * same-factor bump (16→24) and the pathological +1 bump (16→17)?
    * Modulo re-keys ~1 − preserved-residue share (16→17 moves ~16/17
    * of everything — the full-migration q265 manifests); the ring
    * moves only the share the new nodes claim (~1/17) — THE reason
    * consistent hashing exists, here measured on the engine's own
    * state rather than asserted from the paper.
    *
    * Engine-exactness: ring points are 48-bit md5 slices of
    * `salt#bkt#vnode` strings (identical bytes through DuckDB's md5),
    * encoded pt·64+bkt so the clockwise-successor argmin is ONE
    * integer array_min with deterministic tie-break; assignment =
    * min point ≥ h·64, wrapping to the global min. The Spark side
    * embeds each ring as a SORTED array literal (≤192 longs —
    * control-plane data, the kmAssign convention) and evaluates
    * assignment as a pure narrow map; the oracle re-derives the same
    * points relationally and aggregates over a keys×ring cross join
    * (bounded ×192, oracle-side only).
    *
    * Plan: one scan → distinct state hashes (q265's corpus state) →
    * narrow per-key policy flags → one map-combined 4-row aggregate
    * (policy × target size), unpivoted via stack. Zero joins. */
  val q266ReshardPolicy: Q = (s, d) => {
    val state = stateHashes(s, d)

    def ringAssign(buckets: Long): Column = {
      val ring = typedlit(ringEncoded(buckets))
      (coalesce(
        array_min(filter(ring, e => e >= col("h48") * 64L)),
        array_min(ring)) % 64L)
    }
    val moved = state
      .withColumn("mod24", (col("h48") % 16L =!= col("h48") % 24L).cast("long"))
      .withColumn("mod17", (col("h48") % 16L =!= col("h48") % 17L).cast("long"))
      .withColumn("ring24", (ringAssign(16L) =!= ringAssign(24L)).cast("long"))
      .withColumn("ring17", (ringAssign(16L) =!= ringAssign(17L)).cast("long"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("mod24")).as("m_mod24"), sum(col("mod17")).as("m_mod17"),
        sum(col("ring24")).as("m_ring24"), sum(col("ring17")).as("m_ring17"))
    moved.select(expr(
      """stack(4,
        |  'modulo', 24L, n_keys, m_mod24,
        |  'modulo', 17L, n_keys, m_mod17,
        |  'ring',   24L, n_keys, m_ring24,
        |  'ring',   17L, n_keys, m_ring17
        |) AS (policy, n_new_buckets, n_keys, n_moved)""".stripMargin))
      .withColumn("moved_ppm",
        expr("n_moved * 1000000 div greatest(n_keys, 1)"))
  }

  // -- q267: ring balance audit (the vnode knob, measured) -----------

  /** 2⁴⁸ div 10⁶ — the exact ppm divisor for arc shares (arcs sum to
    * 2⁴⁸ per ring; share·10⁶ would overflow BIGINT, so divide the arc
    * by this instead: ≤1 ppm floor loss, identical in both engines). */
  private val ArcPpmDiv = (1L << 48) / 1000000L

  /** RING BALANCE AUDIT — what the [[RingVnodes]] knob actually buys:
    * per (vnode setting, bucket), the EXACT share of the 2⁴⁸ hash
    * ring the bucket owns (a point owns the arc ENDING at it — the
    * clockwise-successor rule q266 assigns by), plus the observed key
    * count of the engine's dedup state routed by that ring. Karger's
    * balance bound says max-share → 1/N as vnodes grow; this measures
    * it for V=8 (q266's setting) vs V=64 on the IDENTICAL 24-bucket
    * ring family — expected load is the arc share, so the audit is
    * the capacity-planning companion to q266's movement table.
    *
    * Exactness: ring points are the same md5 family as q266, built
    * RELATIONALLY in both engines (Spark md5 ≡ DuckDB md5 over
    * identical strings); arcs come from one lag window over the
    * ≤1536-row point relation (domain-bounded — the q87 frequency-
    * relation allowance), the wrap arc closed by adding 2⁴⁸ − max(pt)
    * to the first point; key routing reuses q266's encoded array-min
    * (ring as a sorted literal, narrow map). Plan: points and arcs
    * are control-plane-sized; the only data-scaled stage is the state
    * distinct + one map-combined 48-cell aggregate. */
  val q267RingBalance: Q = (s, d) => {
    val state = stateHashes(s, d)
      .transform(graft.ops.SharedCache.persist) // probed once per cfg

    // the two ring families, relationally (cfg = vnodes per bucket)
    val pts = s.range(24L * 64L).select(
      (col("id") % 24L).as("bkt"), expr("id div 24L").as("v"))
      .withColumn("pt", md5Draw(
        concat(lit("ring#"), col("bkt").cast("string"), lit("#"),
          col("v").cast("string")), 1, 12))
    val ring = pts.filter(col("v") < 8L).withColumn("cfg", lit(8L))
      .unionByName(pts.withColumn("cfg", lit(64L)))

    // arcs: point i owns (prev_pt, pt]; the first point also owns the
    // wrap segment (max_pt, 2^48) ∪ [0, pt]
    val wOrd = Window.partitionBy("cfg").orderBy("pt")
    val wAll = Window.partitionBy("cfg")
    val arcs = ring
      .withColumn("arc",
        when(lag(col("pt"), 1).over(wOrd).isNull,
          col("pt") + lit(1L << 48) - max(col("pt")).over(wAll))
          .otherwise(col("pt") - lag(col("pt"), 1).over(wOrd)))
      .groupBy("cfg", "bkt")
      .agg(count(lit(1)).as("n_points"), sum(col("arc")).as("arc_sum"))

    // observed routing of the state keys under each cfg
    def assign(vn: Int): Column = {
      val r = typedlit((0L until 24L).flatMap(b =>
        (0 until vn).map(v => ringPoint(b, v) * 64L + b)).sorted)
      (coalesce(array_min(filter(r, e => e >= col("h48") * 64L)),
        array_min(r)) % 64L)
    }
    val obs = state.select(
      explode(array(
        struct(lit(8L).as("cfg"), assign(8).as("bkt")),
        struct(lit(64L).as("cfg"), assign(64).as("bkt")))).as("a"))
      .select(col("a.cfg"), col("a.bkt"))
      .groupBy("cfg", "bkt").agg(count(lit(1)).as("n_keys"))

    arcs.join(obs, Seq("cfg", "bkt"), "left")
      .select(col("cfg"), col("bkt"), col("n_points"),
        expr(s"arc_sum div ${ArcPpmDiv}L").as("arc_ppm"),
        coalesce(col("n_keys"), lit(0L)).as("n_keys"))
  }

  // -- q49: deterministic stratified sampling ------------------------

  /** Corpus-mixing sample: language-stratified Bernoulli sampling at
    * per-stratum rates (en 20%, others 50% — downweighting the head
    * language, the standard data-mixing move), decided by a salted
    * content-stable hash, with the inverse-probability weight carried
    * so downstream aggregates stay unbiased. A pure narrow filter —
    * ZERO shuffles, embarrassingly parallel at any scale, and a
    * document's membership never changes across runs or re-shards
    * (`sample()`/`rand()` guarantee neither). */
  val q49StratifiedSample: Q = (s, d) => {
    val bucket = hash16("samp", col("doc_id")) % 100
    val rate = when(col("lang") === "en", lit(20L)).otherwise(lit(50L))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), bucket.as("bucket"), rate.as("rate"))
      .filter(col("bucket") < col("rate"))
      .select(col("doc_id"), col("lang"),
        (lit(100000000L) / col("rate")).cast("long").as("weight_e6"))
  }

  // -- q50: token-budget shard packing -------------------------------

  private val ShardBudgetChars = 20000L

  /** The running frame of a per-language stream in `hk` hash order
    * (ties by doc_id): the packing order of q50 and q56. */
  private val hashOrderRun = Window.partitionBy("lang")
    .orderBy(col("hk"), col("doc_id"))
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Training-shard assignment: documents are packed into ~20k-char
    * shards per language by a running-sum window over a deterministic
    * hash order (so packing is reproducible and independent of scan
    * order). ONE shuffle on the stratum key + one in-partition sort;
    * the running sum is O(n). At 100 TB the stratum key would be
    * (lang, date-bucket) to bound partition width — same plan shape.
    * Shard boundaries use the sum EXCLUSIVE of the current document
    * (a doc starts a new shard rather than overflowing one). */
  /** The shard assignment with each doc's size retained — shared by
    * q50 (the assignment surface) and q227 (the balance audit). */
  private def shardPack(s: SparkSession, d: String): DataFrame = {
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(concat(lit("shard"), col("doc_id").cast("string"))).as("hk"))
      .withColumn("cum_chars", sum("n_chars").over(hashOrderRun))
      .withColumn("shard",
        floor((col("cum_chars") - col("n_chars")).cast("double") /
          lit(ShardBudgetChars.toDouble)).cast("long"))
  }

  val q50TokenShards: Q = (s, d) =>
    shardPack(s, d).select(col("doc_id"), col("lang"), col("cum_chars"),
      col("shard"))

  // -- q227: shard-packing balance audit -------------------------------

  /** STRAGGLER AUDIT of q50's packing — the number a training run's
    * wall-clock actually keys on: the epoch takes as long as its
    * LARGEST shard, so per language the audit reports shard count,
    * min/max/mean loads, the imbalance ratio (max/mean, ppm), and the
    * makespan ratio against the unreachable ideal ⌈total/shards⌉ —
    * read before launching a 1000-worker epoch, because a 2× max/mean
    * means half the fleet idles at the epoch barrier. Exact integer
    * ratios (loads are BIGINT char counts; div truncates identically
    * in both engines).
    *
    * Plan: q50's one window pass (shared helper), then two
    * map-combined rollups — (lang, shard) loads, |langs| summary rows.
    * Nothing after the assignment scales with corpus volume. */
  val q227ShardBalance: Q = (s, d) =>
    shardPack(s, d)
      .groupBy("lang", "shard")
      .agg(sum(col("n_chars")).as("load_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_shards"),
        sum(col("load_chars")).as("total_chars"),
        min(col("load_chars")).as("min_load"),
        max(col("load_chars")).as("max_load"))
      .select(col("lang"), col("n_shards"), col("total_chars"),
        col("min_load"), col("max_load"),
        expr("total_chars div n_shards").as("mean_load"),
        expr("max_load * 1000000 div (total_chars div n_shards)")
          .as("imbalance_ppm"),
        expr("(total_chars + n_shards - 1) div n_shards").as("ideal_makespan"),
        expr("max_load * 1000000 div ((total_chars + n_shards - 1) div n_shards)")
          .as("makespan_ppm"))

  // -- q236: shard-budget sweep ---------------------------------------

  private val ShardBudgetSweep = Seq(10000L, 20000L, 40000L)

  /** SHARD-BUDGET SWEEP — q227 audits the one shipped budget; this
    * tables the CHOICE: for each candidate shard budget (chars), the
    * per-language shard count, max load, imbalance, and makespan
    * ratio — bigger shards amortize per-file overhead but worsen the
    * epoch barrier (the max/mean straggler), and this is the curve
    * that decision reads. The key fact making it ONE pass: q50's
    * running-sum window is budget-INDEPENDENT — only the final floor
    * division depends on B — so one window pass + an in-row budget
    * explode serves every candidate; the assignment for the shipped
    * budget matches q50's exactly (floor of the same non-negative
    * operands).
    *
    * Plan: one window pass (q50's shared helper), a 3-fold in-row
    * budget expansion, then two map-combined rollups to
    * |budgets|·|langs| rows. */
  val q236ShardBudgetSweep: Q = (s, d) =>
    shardPack(s, d)
      .select(col("lang"), col("n_chars"), col("cum_chars"),
        explode(typedLit(ShardBudgetSweep)).as("budget_chars"))
      .withColumn("shard",
        expr("(cum_chars - n_chars) div budget_chars"))
      .groupBy("budget_chars", "lang", "shard")
      .agg(sum(col("n_chars")).as("load_chars"))
      .groupBy("budget_chars", "lang")
      .agg(count(lit(1)).as("n_shards"),
        sum(col("load_chars")).as("total_chars"),
        max(col("load_chars")).as("max_load"))
      .select(col("budget_chars"), col("lang"), col("n_shards"),
        col("total_chars"), col("max_load"),
        expr("max_load * 1000000 div (total_chars div n_shards)")
          .as("imbalance_ppm"),
        expr("max_load * 1000000 div ((total_chars + n_shards - 1) div n_shards)")
          .as("makespan_ppm"))

  // -- q51: corpus-composition pivot mart ----------------------------

  /** PIVOT: the lang × source-group composition matrix (doc counts and
    * char volume) every mixing decision starts from. Spark's `pivot`
    * with explicit literal values compiles to two partial-aggregated
    * phases — (lang, sg) cell aggregate, then a PivotFirst rotation on
    * lang — and BOTH shuffles carry only aggregated cells (5×4 rows),
    * never facts; explicit values keep the plan static (no driver-side
    * distinct scan to discover the pivot columns). */
  val q51MixPivot: Q = (s, d) => {
    val base = Tables.documents(s, d).select(
      col("lang"),
      (substring(col("source"), 4, 10).cast("int") % 4).as("sg"),
      col("n_chars"))
    val p = base.groupBy("lang").pivot("sg", Seq(0, 1, 2, 3))
      .agg(count(lit(1)).as("cnt"), sum("n_chars").as("chars"))
    (0 to 3).foldLeft(p) { (df, g) =>
      df.withColumnRenamed(s"${g}_cnt", s"g${g}_cnt")
        .withColumnRenamed(s"${g}_chars", s"g${g}_chars")
    }.na.fill(0L)
  }

  // -- q52: deterministic global corpus shuffle ----------------------

  private val MixShards = 32

  /** Training-order shuffle: every document gets a pseudo-random shard
    * (16-bit salted hash mod 32) and a position within the shard
    * (row_number over a second, independent hash order) — a full
    * deterministic permutation of the corpus, computed with ONE
    * shuffle + in-partition sort. This replaces `orderBy(rand())`
    * (a full global sort with non-reproducible output): shards are
    * written independently, readers stream shards in any order, and
    * the permutation is bit-identical across reruns — what a 100 TB
    * training job actually needs from "shuffle the data". */
  val q52CorpusShuffle: Q = (s, d) => {
    val w = Window.partitionBy("shard").orderBy(col("ok"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"),
        (hash16("mix", col("doc_id")) % MixShards).as("shard"),
        md5(concat(lit("ord"), col("doc_id").cast("string"))).as("ok"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
  }

  // -- q53: exact-k per-stratum sample -------------------------------

  private val SampleK = 40

  /** Fixed-SIZE stratified sample (eval-set construction): the k
    * documents with the smallest salted hash per language — exact k
    * per stratum (vs q49's fixed-RATE Bernoulli), still content-stable
    * and re-shard-proof. Runs through the map-side-combining TopK
    * `Aggregator` (functions.TopK): each input partition forwards at
    * most k rows per stratum into the shuffle, so picking 40 docs per
    * language from 100 TB shuffles k·partitions rows — NOT a window
    * row_number sort of the whole corpus. Ordering (hash asc, doc_id
    * asc) is total, so both engines agree on every ranked row. */
  val q53ExactKSample: Q = (s, d) => {
    val scored = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        // TopK keeps the LARGEST scores; negate so smallest hash wins
        (-hash16("evalk", col("doc_id"))).as("neg_h"))
    graft.functions.TopK.topKPerGroup(scored, "lang", "doc_id", "neg_h", SampleK)
      .select(col("lang"), col("doc_id"), (-col("neg_h")).as("samp_h"),
        col("rank").cast("long").as("rank"))
  }

  // -- q56: fixed-context training-sequence packing ------------------

  private val SeqLen = 64L

  /** Concat-and-chunk training prep (the step AFTER q50's shard
    * packing): documents are laid end-to-end in a deterministic hash
    * order per language stream and cut into fixed-length 64-token
    * training sequences; a document straddling a sequence boundary is
    * SPLIT, emitting one row per (doc, sequence) overlap with the
    * in-document token span [tok_begin, tok_end). The running token
    * offset is a per-stratum window running sum (one shuffle + one
    * in-partition sort — the q50 shape); chunk expansion is an in-row
    * explode over the doc's own span — integer math end-to-end, so
    * both engines agree exactly. At 100 TB the stratum key becomes
    * (lang, shard) so each stream's sort stays bounded; sequence ids
    * are stream-local, exactly how a multi-host tokenizer run works. */
  val q56SequencePack: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"),
        md5(concat(lit("seqpack"), col("doc_id").cast("string"))).as("hk"))
      .filter(col("n_tok") > 0)
      .withColumn("cum", sum("n_tok").over(hashOrderRun))
      .withColumn("tok_off", col("cum") - col("n_tok"))
      .withColumn("seq_id", explode(sequence(
        expr(s"tok_off div $SeqLen"), expr(s"(cum - 1) div $SeqLen"))))
      .select(col("doc_id"), col("lang"), col("seq_id"),
        greatest(lit(0L), col("seq_id") * SeqLen - col("tok_off")).as("tok_begin"),
        least(col("n_tok"), (col("seq_id") + lit(1L)) * SeqLen - col("tok_off")).as("tok_end"))

  // -- q59: duplicate-span (chunk-level) dedup -----------------------

  private val ChunkChars = 200

  /** Sub-document dedup, the line/paragraph-level pass of a crawl
    * pipeline (the corpus-wide complement of q46's intra-doc metrics):
    * each document is cut into consecutive 200-char chunks, a chunk
    * appearing verbatim in 2+ documents is a duplicate span, and the
    * per-document output reports how much of the text survives span
    * removal. Chunking is an in-row `transform` over the raw text (a
    * plain scan attribute, so nothing expensive is re-evaluated per
    * chunk — cf. the `ngrams` lambda-inlining note); the only wide
    * work shuffles fixed-width (md5, doc_id) pairs — document text
    * never leaves the scan — and the chunk-frequency aggregate is
    * partial-combined map-side. Cost is linear in corpus bytes. */
  val q59ChunkDedup: Q = (s, d) => {
    val nChunks = (length(col("text")) + lit(ChunkChars - 1)) / lit(ChunkChars)
    val chunks = Tables.documents(s, d)
      // empty docs must be excluded BEFORE the sequence: sequence(0, -1)
      // auto-descends to [0, -1] in Spark, fabricating two phantom
      // empty chunks the oracle's range(0, 0) never emits
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), nChunks.cast("int") - 1),
          i => col("text").substr(i * ChunkChars + 1, lit(ChunkChars))))
          .as(Seq("idx", "ch_txt")))
      .select(col("doc_id"), md5(col("ch_txt")).as("ch"),
        length(col("ch_txt")).cast("long").as("ch_len"))
      // persisted: feeds both the corpus-wide chunk frequency and the
      // per-doc survival join — unpersisted, the whole chunk+md5 scan
      // runs twice; the cached relation is (doc_id, md5, len), never text
      .transform(graft.ops.SharedCache.persist)
    val freq = chunks.groupBy("ch")
      .agg(count_distinct(col("doc_id")).as("docs"))
    chunks.join(freq, "ch")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("docs") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("docs") < 2, col("ch_len")).otherwise(0L)).as("kept_chars"))
      .withColumn("dup_span_frac_e6",
        e6Frac(col("n_dup_chunks"), col("n_chunks")))
  }

  // -- q109: content-defined chunking (CDC) dedup ---------------------

  private val CdcW = 8 // gram width driving the boundary test
  private val CdcDiv = 64 // cut when gram-hash % 64 == 0 → ~64-char chunks

  /** Content-defined chunk relation (doc_id, source, h, len): a cut
    * falls AFTER position i whenever the hash of the trailing
    * [[CdcW]]-gram ending at i is ≡ 0 mod [[CdcDiv]] — so boundaries
    * are a pure function of LOCAL content, and text shared by two
    * documents at DIFFERENT offsets still chunks identically past the
    * first boundary (the property q59's fixed 200-char stride lacks:
    * there one inserted char shifts every later chunk). Everything
    * per-document happens IN-ROW over array higher-order functions —
    * cut positions via `filter(sequence(...))`, spans + chunk hashes
    * via an index-aware `transform` — one codegen'd projection, no
    * per-position explode, document text never leaves the scan stage;
    * only fixed-width (hash, len) rows shuffle. Work is O(corpus
    * chars) with a W-byte md5 per position; at 100 TB the md5 gram
    * hash swaps for a gear/rolling-hash `Expression` (shipped: q153's
    * [[graft.functions.GearBoundaries]]) without touching
    * the plan shape. Docs shorter than W never cut (the i ≥ W
    * conjunct) and always emit their single terminal chunk. */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    val isCut = s"i >= $CdcW AND CAST(conv(substring(md5(" +
      s"substring(text, i - ${CdcW - 1}, $CdcW)), 1, 10), 16, 10) AS BIGINT)" +
      s" % $CdcDiv = 0"
    docs
      .filter(length(col("text")) > 0)
      .withColumn("ends", expr(
        s"array_sort(array_distinct(concat(" +
          s"filter(sequence(1, length(text)), i -> $isCut), " +
          "array(length(text)))))"))
      .select(col("doc_id"), col("source"),
        explode(expr(
          "transform(ends, (e, k) -> named_struct(" +
            "'h', md5(substring(text, IF(k = 0, 1, element_at(ends, k) + 1), " +
            "e - IF(k = 0, 0, element_at(ends, k)))), " +
            "'len', CAST(e - IF(k = 0, 0, element_at(ends, k)) AS BIGINT)))"))
          .as("ck"))
      .select(col("doc_id"), col("source"),
        col("ck.h").as("h"), col("ck.len").as("ch_len"))
  }

  /** CDC DEDUP PROFILE per source: chunk counts, distinct chunk
    * hashes, and the char-weighted duplicate fraction — the
    * shift-robust complement of q59 (which this query's scaladoc
    * contrasts; CdcChunkSpec pins the boundary-alignment property on
    * a shared-suffix corpus). Chunk frequency aggregates map-side
    * partial on fixed-width hashes; the per-source rollup is a
    * second bounded shuffle. */
  val q109CdcChunkDedup: Q = (s, d) => {
    // persisted: feeds both the chunk-frequency aggregate and the
    // per-source rollup join; the cached relation is (doc_id, source,
    // md5, len) — fixed-width, never text (the q59 convention)
    val chunks = cdcChunks(Tables.documents(s, d))
      .transform(graft.ops.SharedCache.persist)
    val freq = chunks.groupBy("h").agg(count(lit(1)).as("occurrences"))
    chunks.join(freq, "h")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_chunks"),
        count_distinct(col("h")).as("n_distinct_chunks"),
        sum(col("ch_len")).as("chunk_chars"),
        sum(when(col("occurrences") >= 2, col("ch_len")).otherwise(0L))
          .as("dup_chars"))
      .withColumn("dup_char_frac_e6", e6Frac(col("dup_chars"), col("chunk_chars")))
  }

  // -- q67: PII redaction ---------------------------------------------

  /** Java-regex AND RE2 compatible patterns (no backrefs/lookaround),
    * applied in a fixed order so overlapping matches resolve
    * identically in both engines. */
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}"
  private val SsnRe = "[0-9]{3}-[0-9]{2}-[0-9]{4}"

  /** PII REDACTION: the compliance pass every training corpus and
    * every healthcare export runs before data leaves the boundary —
    * mask emails, phone numbers, and SSN-shaped ids, and report
    * per-type hit counts for the audit log. The testdata carries no
    * natural PII, so the input "support notes" are synthesized
    * DETERMINISTICALLY from the customer table inside the query (the
    * q26 multimodal convention: fake payload, real machinery) — the
    * redaction chain itself (ordered regexp_replace + regexp_count,
    * identical RE2-safe patterns in both engines) is the operator
    * under test. A pure narrow map: zero shuffles at any scale; at
    * 100 TB this runs scan-speed alongside the other per-doc signals.
    * Phone masking runs BEFORE SSN so the 3-2-4 pattern can never
    * re-match inside an already-masked phone; counts are taken on the
    * raw note with the same precedence (SSN counts exclude phone
    * matches by construction since the phone pattern is anchored by
    * "+1-"). */
  val q67PiiRedact: Q = (s, d) => {
    val digits = lpad((col("c_custkey") % 10000).cast("string"), 4, "0")
    val note = concat(
      lit("Contact "), col("c_name"),
      lit(" at "), lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]+", ".")),
      lit("@example.com or +1-"),
      lpad(((col("c_custkey") * 7) % 900 + 100).cast("string"), 3, "0"),
      lit("-555-"), digits,
      lit(" re: segment "), col("c_mktsegment"),
      lit("; id on file 123-45-"), digits, lit("."))
    Tables.customer(s, d)
      .select(col("c_custkey").as("cust_id"), note.as("note"))
      .select(
        col("cust_id"),
        regexp_count(col("note"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("note"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(
          regexp_replace(col("note"), PhoneRe, "[PHONE]"), lit(SsnRe))
          .cast("long").as("n_ssns"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("note"), EmailRe, "[EMAIL]"),
            PhoneRe, "[PHONE]"),
          SsnRe, "[SSN]").as("redacted"))
  }

  // -- q68: temperature-based source mixing ----------------------------

  private val MixTargetDocs = 200L

  /** TEMPERATURE SAMPLING (α = 0.5): the Gopher/LLaMA data-mixing move
    * — sample source s proportionally to n_s^α instead of n_s, so head
    * sources are downweighted and tail sources surface. α = 0.5 makes
    * the only non-integer step a SQRT, which IEEE 754 requires
    * correctly rounded — bit-identical in both engines (pow(x, 0.7)
    * would not be). Per-source weights are quantized to integers
    * (round(sqrt(n)·1000)) BEFORE the cross-source total, so the
    * summation order can never produce float divergence; each doc's
    * inclusion is then a salted content-stable hash test against the
    * source's e6 rate (the q49 discipline — no rand(), re-shard proof).
    * Plan: one partial-aggregated count per source (tiny), the rate
    * table broadcasts back, and membership is a narrow filter — the
    * fact table is never shuffled. */
  val q68TemperatureMix: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val w = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w1000",
        round(sqrt(col("n_docs").cast("double")) * 1000.0, 0).cast("long"))
    // the cross-source total runs as an unpartitioned window over the
    // per-source relation (|sources| rows — control-plane sized), not a
    // 1-row cross join, which would plan as a nested loop
    val rates = w
      .withColumn("tot_w", sum("w1000").over(Window.partitionBy()))
      // rate in 1/65536 units so the hash16 membership test is EXACT
      // (no denominator mismatch against the 16-bit hash space).
      // The denominator divides in TWO IEEE steps (÷tot_w then ÷n_docs)
      // instead of one BIGINT multiply: tot_w·n_docs overflows int64 at
      // ~2e10-doc sources (Spark ansi=false would wrap silently where
      // DuckDB errors); sequential divides over identical operands stay
      // bit-identical in both engines at any corpus size.
      .select(col("source"), col("n_docs"),
        least(lit(65536L),
          round(lit(65536.0) * (col("w1000") * MixTargetDocs).cast("double") /
            col("tot_w").cast("double") / col("n_docs").cast("double"), 0)
            .cast("long"))
          .as("rate_b16"))
    docs.select(col("doc_id"), col("source"))
      .join(broadcast(rates), Seq("source"))
      .filter(hash16("tempmix", col("doc_id")) < col("rate_b16"))
      .select(col("doc_id"), col("source"), col("n_docs"), col("rate_b16"))
  }

  // -- q69: bigram-coverage quality score -------------------------------

  private val CoverageTopK = 200

  /** LM-COVERAGE QUALITY SCORE: the relational re-expression of the
    * KenLM-style quality filter (CCNet/Gopher) — instead of a trained
    * n-gram LM's perplexity (libm `log`, not cross-engine
    * deterministic), score each document by the fraction of its bigram
    * OCCURRENCES that fall in the corpus's top-200 bigrams by document
    * frequency. Fluent/common text scores high; gibberish, boilerplate
    * and wrong-language text score low — the same decision boundary
    * class, in exact integer ratios. Plan: per-(doc, gram-hash) counts
    * partial-combine map-side (text never shuffles — 48-bit md5 keys
    * do); the reference set comes from the map-side-combining TopK
    * aggregator (k·partitions shuffle rows, no global sort) and
    * broadcasts back; the coverage aggregate re-shuffles only (doc_id,
    * counts). At 100 TB the reference set is corpus-wide and fixed —
    * exactly how production quality filters deploy a frozen vocab. */
  val q69BigramCoverage: Q = (s, d) => {
    // persisted: perDoc fans into two plan branches (the top-200
    // reference set and the coverage join) that would otherwise each
    // re-run the tokenize+gram+md5 hot path over the whole corpus
    // (the dfOrderedShingleSets lesson); the cached relation is the
    // compact (doc_id, gh, c) triple, never text
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"), explode(ngrams(tokens(col("text")), 2)).as("g"))
      .select(col("doc_id"),
        md5Draw(col("g"), 1, 12).as("gh"))
      .groupBy("doc_id", "gh").agg(count(lit(1)).as("c"))
      .transform(graft.ops.SharedCache.persist)
    val df = perDoc.groupBy("gh").agg(count(lit(1)).as("df_docs"))
      .withColumn("grp", lit(1))
    val top = graft.functions.TopK
      .topKPerGroup(df, "grp", "gh", "df_docs", CoverageTopK)
      .select(col("gh"), lit(true).as("hit"))
    perDoc.join(broadcast(top), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_bigrams"),
        sum(when(col("hit"), col("c")).otherwise(0L)).as("n_covered"))
      .withColumn("coverage_e6", e6Frac(col("n_covered"), col("n_bigrams")))
  }

  // -- q115: cross-source shingle-overlap matrix ------------------------

  /** CORPUS GOVERNANCE: how much does each pair of ingest sources
    * overlap? For every source pair sharing at least one 5-gram, the
    * exact Jaccard similarity between the sources' distinct-shingle
    * SETS — the corpus-level complement of the document-level near-dup
    * family (q21/q39 ask "which docs repeat"; this asks "which FEEDS
    * repeat each other", the signal for dropping a mirror site or a
    * re-crawled dump before paying to dedup it doc-by-doc).
    *
    * Plan: distinct (source, gram-hash) — text collapses to 48-bit
    * keys at the scan, one shuffle; per-source set sizes are an
    * S-row broadcast; the intersection is a self-equi-join ON THE
    * GRAM HASH, so the expansion per gram is bounded by the number of
    * sources sharing it (≤ S, ~20 here) — never quadratic in rows. At
    * 100 TB: S stays small while rows grow, so the join stays a
    * hash-partitioned gram-key join; pairs with zero shared shingles
    * are absent by construction (an S×S dense matrix would need a
    * cartesian the plan gate forbids). */
  /** Distinct (source, 48-bit 5-gram hash) pairs — text collapses to
    * hashes at the scan; SharedCache'd, shared by q115 (overlap
    * matrix) and q205 (novelty curve). */
  /** The distinct (source, gram-hash) rows of a document batch —
    * shared verbatim with [[graft.streaming.StreamingKmv]] so the
    * maintained sketch hashes are the batch hashes and the q223
    * oracle transitively gates the streaming overlap estimates. */
  private[graft] def sourceGramRows(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), explode(array_distinct(
        ngrams(tokens(col("text")), ContamN))).as("g"))
      .select(col("source"),
        md5Draw(col("g"), 1, 12).as("gh"))
      .distinct()

  private def sourceGrams(s: SparkSession, d: String): DataFrame =
    sourceGramRows(Tables.documents(s, d))
      .transform(graft.ops.SharedCache.persist)

  val q115SourceOverlap: Q = (s, d) => {
    val sg = sourceGrams(s, d)
    val sizes = sg.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = sg.select(col("source").as("src_a"), col("gh"))
      .join(sg.select(col("source").as("src_b"), col("gh")), Seq("gh"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_shared"),
        e6Frac(col("n_shared"), col("n_a") + col("n_b") - col("n_shared")).as("jaccard_e6"))
  }

  // -- q242: feed mirror-direction audit ---------------------------------

  private val MirrorThresholdE6 = 900000L

  /** MIRROR-DIRECTION AUDIT — q115's Jaccard says two feeds overlap;
    * this says WHO mirrors WHOM: per overlapping source pair, the
    * asymmetric containments shared/|A| and shared/|B| — a scraper
    * feed sits almost entirely inside its origin (containment ≈ 1 one
    * way, small the other) while two siblings of a common ancestor
    * overlap symmetrically. The direction column names the verdict
    * and is_mirror flags pairs where either side is ≥ 90% contained —
    * the feed-level analog of q71's document containment, and the
    * actionable column behind q205's keep/cut reading (cut the COPY,
    * not the origin).
    *
    * Integer contract: containments are truncating e6 divisions of
    * exact set sizes. Plan: rides q115's SharedCache'd gram relation
    * verbatim — the audit is pure arithmetic over the |pairs|-row
    * overlap matrix. */
  val q242MirrorDirection: Q = (s, d) =>
    q115SourceOverlap(s, d)
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        expr("n_shared * 1000000 div n_a").as("cont_a_e6"),
        expr("n_shared * 1000000 div n_b").as("cont_b_e6"))
      .withColumn("direction",
        when(col("cont_a_e6") > col("cont_b_e6"), "a_in_b")
          .when(col("cont_b_e6") > col("cont_a_e6"), "b_in_a")
          .otherwise("balanced"))
      .withColumn("is_mirror",
        greatest(col("cont_a_e6"), col("cont_b_e6")) >= MirrorThresholdE6)

  // -- q205: per-source n-gram novelty curve ----------------------------

  /** NOVELTY CURVE — the marginal-value-of-each-feed report behind
    * every "should we license/crawl/keep this source" decision: walk
    * the sources in the declared order (lexicographic source id — the
    * deterministic stand-in for acquisition order) and ask what share
    * of each source's distinct 5-grams was NEVER seen in any earlier
    * source. A feed whose novelty_ppm collapses toward zero is
    * re-serving content the corpus already has (the q115 overlap
    * matrix says who with; THIS says what it is still worth); the
    * cumulative column is the corpus's distinct-gram growth curve —
    * the diminishing-returns chart read before adding feed N+1.
    *
    * Exactness: "first seen" = lexicographically-smallest source
    * containing the gram, a pure min — no order-dependent scan state,
    * so the answer is partitioning-independent by construction.
    *
    * Plan: rides q115's SharedCache'd distinct (source, gram-hash)
    * relation — text dies at the scan; ONE gram-key window (partition
    * sizes ≤ |sources|), one |sources|-row rollup, and the running
    * sum over the |sources|-row curve. Nothing after the distinct
    * scales with corpus volume. */
  val q205NoveltyCurve: Q = (s, d) => {
    val sg = sourceGrams(s, d)
    val per = sg
      .withColumn("first_src", min(col("source")).over(Window.partitionBy("gh")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("source") === col("first_src"), 1L).otherwise(0L))
          .as("new_grams"))
    per.select(col("source"), col("n_grams"), col("new_grams"),
        expr("new_grams * 1000000 div n_grams").as("novelty_ppm"))
      .withColumn("cum_new_grams",
        sum(col("new_grams")).over(Window.orderBy("source")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  // -- q223: KMV sketch-estimated source-overlap matrix --------------------

  private val KmvSketchK = 64

  /** Per-source bottom-k sketch of a (source, gh) relation — the k
    * smallest distinct gram hashes, via the map-side TopK aggregator
    * on negated hashes. Shared verbatim with
    * [[graft.streaming.StreamingKmv]]: bottom-k of a union equals
    * bottom-k of the merged bottom-k's (the KMV mergeable property),
    * so the twin's chunk-fold lands on this exact sketch. */
  private[graft] def kmvBottomK(grams: DataFrame): DataFrame =
    graft.functions.TopK
      .topKPerGroup(grams.withColumn("neg", -col("gh")),
        "source", "gh", "neg", KmvSketchK)
      .select(col("source"), col("gh"))

  /** Broder/Beyer bottom-k Jaccard estimate for the given (src_a,
    * src_b) pairs from a per-source sketch relation: K = the k
    * smallest hashes of the union of the two sketches, est =
    * |K ∩ A ∩ B|·1e6 div |K|. Shared verbatim between q223's estimate
    * leg and [[graft.streaming.StreamingKmv.overlapEstimate]]. */
  private[graft] def kmvPairEstimate(sk: DataFrame, pairs: DataFrame): DataFrame = {
    val legA = pairs
      .join(sk.withColumnRenamed("source", "src_a"), "src_a")
      .select(col("src_a"), col("src_b"), col("gh"),
        lit(1L).as("in_a"), lit(0L).as("in_b"))
    val legB = pairs
      .join(sk.withColumnRenamed("source", "src_b"), "src_b")
      .select(col("src_a"), col("src_b"), col("gh"),
        lit(0L).as("in_a"), lit(1L).as("in_b"))
    legA.unionByName(legB)
      .groupBy("src_a", "src_b", "gh")
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("src_a", "src_b").orderBy("gh")))
      .filter(col("rn") <= KmvSketchK)
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("k_used"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
          .as("n_shared_k"))
      .withColumn("est_jaccard_e6", expr("n_shared_k * 1000000 div k_used"))
  }

  /** SKETCH-COST GOVERNANCE — q115's overlap matrix priced for 100 TB:
    * instead of joining the full distinct-gram sets (exact, but the
    * intersection join touches every gram of every source), keep ONE
    * KMV bottom-k sketch per source — its k smallest gram hashes — and
    * estimate pairwise Jaccard from sketches alone: with K = the k
    * smallest hashes of the UNION of two sketches, J_est =
    * |K ∩ A ∩ B| / |K| (Broder's min-wise argument bottom-k style,
    * Beyer et al. 2007; rsd ≈ 1/√k). Sketches are mergeable (bottom-k
    * of a union = bottom-k of the merged bottom-k's — the same property
    * q41's KMV distinct estimator leans on), so at 100 TB each source
    * folds to 64 longs map-side and the pairwise stage is pure
    * control-plane arithmetic over |S|·k rows — the exact leg here is
    * the AUDIT (per-pair estimate vs q115's exact answer, the measured
    * rsd); production keeps the sketches and drops it.
    *
    * Integer contract: estimate = shared·1e6 div |K| with |K| =
    * min(k, union-sketch size) — exact truncating math both engines
    * restate; the exact column reuses q115's rounded-double formula
    * verbatim (shared operands ⇒ shared IEEE result).
    *
    * Plan: sketches via the map-side TopK aggregator on NEGATED hashes
    * (bottom-k = top-k of −gh; shuffle carries ≤k rows per source per
    * partition); pair legs are two equi-joins of the tiny pair list
    * against the |S|·k sketch relation; the rank window partitions by
    * pair over ≤2k rows. Pairs with no shared grams at all are absent
    * (q115's matrix domain — no dense S×S cartesian). */
  val q223KmvOverlap: Q = (s, d) => {
    val sk = kmvBottomK(sourceGrams(s, d))
      .transform(graft.ops.SharedCache.persist)
    val exact = q115SourceOverlap(s, d)
      .select(col("src_a"), col("src_b"),
        col("jaccard_e6").as("exact_jaccard_e6"))
      .transform(graft.ops.SharedCache.persist)
    val pairs = exact.select(col("src_a"), col("src_b"))
    val est = kmvPairEstimate(sk, pairs)
    est.join(exact, Seq("src_a", "src_b"))
      .select(col("src_a"), col("src_b"), col("k_used"), col("n_shared_k"),
        col("est_jaccard_e6"), col("exact_jaccard_e6"),
        abs(col("est_jaccard_e6") - col("exact_jaccard_e6")).as("err_e6"))
  }

  // -- q113: hashed-feature linear quality classifier -------------------

  private val ClsMix = 2654435761L // Knuth multiplicative mix
  private val ClsRange = 2001L     // weights span [-1000, 1000]

  /** MODEL-BASED QUALITY FILTER (the fasttext/CCNet-style linear
    * classifier, serving side): each token is hashed into one of 256
    * feature buckets (hashing trick — the vocabulary never needs a
    * join), every bucket carries a frozen weight, and the document's
    * margin is the token-count-weighted average weight. The weights
    * here are a deterministic hash-derived stand-in for trained
    * parameters (the q24 planeWeights convention) — what the operator
    * contributes is the SERVING PLAN: the whole model lives inside a
    * constant-size expression tree (`aggregate` over the token array,
    * md5 bucket + multiplicative mix per token), so scoring is a pure
    * narrow map — ZERO shuffles, no weight-table join, no UDF — and a
    * 1000-executor cluster scores 100 TB at scan speed. Swapping real
    * trained weights in means replacing the mix formula with a 256-
    * element literal array lookup — same plan.
    *
    * Integer contract: per-token shifted weight (b·mix mod 2001) ∈
    * [0, 2000] keeps every `div` operand non-negative (README div
    * contract); margin_e3 = avg·1000 − 1 000 000 recovers the signed
    * scale exactly in both engines. */
  val q113QualityClassifier: Q = (s, d) => {
    val tk = tokens(col("text"))
    val wShift = (t: Column) =>
      (md5Draw(t, 1, 2) * ClsMix) % ClsRange
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(tk).cast("long").as("n_tokens"),
        aggregate(tk, lit(0L), (acc, t) => acc + wShift(t)).as("sum_shift"))
      .select(col("doc_id"), col("n_tokens"),
        (expr("sum_shift * 1000 div n_tokens") - 1000000L).as("margin_e3"),
        (expr("sum_shift * 1000 div n_tokens") > 1000000L).as("keep"))
  }

  // -- q216: duplicate-aware preference pairs (DPO-style) -----------------

  /** PREFERENCE PAIR CONSTRUCTION — the alignment-data op completing
    * the training-pairs story q214 opened: DPO/RLHF reward training
    * needs (chosen, rejected) examples OF THE SAME CONTENT, and the
    * dedup clusters are exactly that — near-duplicate variants of one
    * underlying document. Per q55 cluster: chosen = the member with
    * the highest q113 quality margin, rejected = the lowest, with the
    * exact margin gap attached; clusters whose extremes tie (byte-dup
    * clusters — identical text scores identically) carry no preference
    * signal and are dropped by the gap > 0 filter. "Among variants of
    * the same thing, prefer the higher-quality one" — preference pairs
    * for free from operators the pipeline already runs.
    *
    * Determinism: extremes via struct order (margin, doc_id) — ties at
    * the top take the larger id, at the bottom the smaller, identical
    * in the oracle's two rank windows. Scale: q55's cost + a doc-keyed
    * join + ONE map-combined min/max aggregate per cluster; text never
    * shuffles. */
  val q216PreferencePairs: Q = (s, d) => {
    val margins = q113QualityClassifier(s, d)
      .select(col("doc_id"), col("margin_e3"))
    graft.queries.Graph.q55DupClusters(s, d)
      .select(col("doc_id"), col("cluster_id"))
      .join(margins, "doc_id")
      .groupBy("cluster_id")
      .agg(max(struct(col("margin_e3"), col("doc_id"))).as("ch"),
        min(struct(col("margin_e3"), col("doc_id"))).as("rj"))
      .select(col("cluster_id"),
        col("ch.doc_id").as("chosen_id"), col("rj.doc_id").as("rejected_id"),
        col("ch.margin_e3").as("chosen_margin_e3"),
        col("rj.margin_e3").as("rejected_margin_e3"),
        (col("ch.margin_e3") - col("rj.margin_e3")).as("gap_e3"))
      .filter(col("gap_e3") > 0)
  }

  // -- q243: soft-dedup loss weights -----------------------------------

  /** SOFT DEDUP — the alternative to DROPPING near-duplicates that
    * modern data recipes increasingly prefer: keep every document but
    * weight its training loss by 1/|dup cluster|, so each piece of
    * underlying content contributes exactly once in expectation while
    * no variant's unique phrasing is lost. Per source: raw doc/token
    * counts next to the soft-deduped effective masses (Σ 1e6/|cluster|
    * in ppm — a byte-identical pair contributes 2 × 500000 = one
    * document) — the columns a loss-weighting data loader reads, and
    * the number that reconciles with q183's hard-dedup yield (effective
    * docs = clusters + singletons, by construction).
    *
    * Exact integers: weight_ppm = 1e6 div size (truncating — a
    * 3-cluster weighs 3 × 333333 = 999999 ppm, the documented ulp);
    * token masses multiply BEFORE the div-weight product is summed.
    * Plan: q55's clustering + one window over its |clustered docs|
    * rows, a doc-keyed left join onto the narrow (doc, source, tokens)
    * projection, ONE map-combined source rollup — text never shuffles. */
  val q243SoftDedupWeights: Q = (s, d) => {
    val sizes = graft.queries.Graph.q55DupClusters(s, d)
      .select(col("doc_id"), col("cluster_id"))
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy("cluster_id")))
      .select(col("doc_id"), col("csize"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(sizes, Seq("doc_id"), "left")
      .withColumn("csize", coalesce(col("csize"), lit(1L)))
      .withColumn("w_ppm", expr("1000000 div csize"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("w_ppm")).as("eff_docs_ppm"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_tokens") * col("w_ppm")).as("eff_tokens_ppm"))
  }

  // -- q218: greedy quality-knapsack source mix ---------------------------

  /** Budget share: keep the best half of the corpus by tokens. */
  private val KnapsackBudgetPpm = 500000L

  /** Per source: `n_tokens` and `ss`, the sum over its tokens of each
    * token's classifier shift `(md5Draw(t, 1, 2) · ClsMix) % ClsRange`. */
  private def sourceShifts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), tokens(col("text")).as("tk"))
      .select(col("source"), size(col("tk")).cast("long").as("n_tok"),
        aggregate(col("tk"), lit(0L), (acc, t) =>
          acc + (md5Draw(t, 1, 2) * ClsMix) % ClsRange)
          .as("sum_shift"))
      .groupBy("source")
      .agg(sum(col("n_tok")).as("n_tokens"), sum(col("sum_shift")).as("ss"))

  /** QUALITY-KNAPSACK MIX — the third mixing policy, completing the
    * set: q68 reweights by size temperature, q184 waterfills to
    * equalize, THIS maximizes quality under a token budget — the
    * fractional-knapsack greedy (sort sources by mean q113 quality
    * margin, take whole feeds until the budget line, split exactly ONE
    * boundary feed), which is provably optimal for the fractional
    * relaxation — no search, a closed form in rank order. Output per
    * source: its quality rank, token mass, and take_ppm ∈ {1e6,
    * partial, 0} — the mixing table a quality-first curation run feeds
    * the sampler.
    *
    * Exact integers: budget = ⌊Σtokens · ppm / 1e6⌋; the boundary
    * source's partial fraction is (budget − cum_before)·1e6 div
    * n_tokens. Deterministic order: (mean margin desc, source asc).
    * Scale: one map-combined (source, Σtokens, Σshift) aggregate —
    * corpus volume touched once — then windows over the |sources|-row
    * relation (q205's curve discipline). */
  val q218QualityKnapsack: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val perSrc = sourceShifts(s, d)
      .withColumn("mean_margin_e3",
        expr("(ss * 1000 div n_tokens) - 1000000"))
    val ord = Window.orderBy(col("mean_margin_e3").desc, col("source"))
    perSrc
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum(col("n_tokens")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("budget", expr(s"total * $KnapsackBudgetPpm div 1000000"))
      .withColumn("take_ppm",
        when(col("cum_tokens") <= col("budget"), lit(1000000L))
          .when(col("cum_tokens") - col("n_tokens") >= col("budget"), lit(0L))
          .otherwise(expr(
            "(budget - (cum_tokens - n_tokens)) * 1000000 div n_tokens")))
      .select(col("source"), col("rank"), col("n_tokens"),
        col("mean_margin_e3"), col("cum_tokens"), col("take_ppm"))
  }

  // -- q220: source-ablation quality impact --------------------------------

  /** SOURCE ABLATION TABLE — the leave-one-out complement of q218's
    * greedy mix: for each feed, the corpus-wide mean q113 quality
    * margin WITH the feed REMOVED, computed exactly by subtraction
    * identities (mean-based stats need no rescan per ablation:
    * LOO = (ΣT − Σs) div (NT − Ns)) — one corpus pass, |sources|
    * ablations for free. delta_e3 > 0 means the corpus is better off
    * without the feed (it drags quality down); the ranked deltas are
    * the "which feed do we cut first" table read next to q205's
    * novelty curve (what the feed still ADDS) — keep/cut decisions
    * need both sides.
    *
    * Scale: the identical one map-combined (source, Σtokens, Σshift)
    * pass as q218, then windows over the |sources|-row relation;
    * degenerate single-source corpora guard the LOO divisor to 1
    * (documented: the ablated mean of an emptied corpus reads 0-ish,
    * flagged by n_tokens = total). */
  val q220SourceAblation: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    sourceShifts(s, d)
      .withColumn("t_ss", sum(col("ss")).over(all))
      .withColumn("t_tok", sum(col("n_tokens")).over(all))
      .select(col("source"), col("n_tokens"),
        expr("(ss * 1000 div n_tokens) - 1000000").as("mean_margin_e3"),
        expr("((t_ss - ss) * 1000 div greatest(t_tok - n_tokens, 1)) - 1000000")
          .as("mean_wo_e3"),
        (expr("((t_ss - ss) * 1000 div greatest(t_tok - n_tokens, 1)) - 1000000")
          - expr("(t_ss * 1000 div t_tok) - 1000000")).as("delta_e3"))
  }

  // -- q70: sliding-window chunking with overlap ------------------------

  private val ChunkTokens = 64
  private val ChunkStride = 48

  /** SLIDING-WINDOW CHUNKER: cut every document into 64-token chunks
    * at stride 48 (16-token overlap) — the retrieval/embedding prep
    * step (RAG indexing, long-doc encoder feeds) next to q56's packing
    * (which splits WITHOUT overlap for training) and q59's fixed
    * 200-char spans (which chunk bytes, not tokens). A pure narrow map
    * — tokenize once, explode the stride sequence in-row, slice the
    * token array per chunk — ZERO shuffles at any scale; chunk
    * identity (doc_id, chunk_id) is content-stable for downstream
    * incremental embedding. */
  val q70StrideChunk: Q = (s, d) => {
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n_tok", size(col("tk")).cast("long"))
      .filter(col("n_tok") > 0)
      // last useful start: a chunk at s only adds tokens beyond the
      // previous window's end (s−stride+64 = s+16), so stop at
      // n_tok−17 — otherwise ~1/3 of doc lengths emit a trailing
      // chunk fully contained in its predecessor (duplicate content
      // in the embedding index)
      .withColumn("start", explode(sequence(
        lit(0L),
        greatest(lit(0L), col("n_tok") - lit((ChunkTokens - ChunkStride).toLong) - 1),
        lit(ChunkStride.toLong))))
      .select(col("doc_id"),
        (col("start") / ChunkStride).cast("long").as("chunk_id"),
        col("start").as("tok_begin"),
        least(col("n_tok"), col("start") + ChunkTokens).as("tok_end"),
        array_join(slice(col("tk"), col("start").cast("int") + 1, lit(ChunkTokens)), " ")
          .as("chunk_text"))
  }

  // -- q92: URL parsing + per-domain corpus mix ------------------------

  /** URL/DOMAIN ANALYTICS: parse crawl URLs into host / path / query
    * param and aggregate the per-domain mix — the provenance profile
    * every web-corpus curation pipeline runs (domain allowlists, host
    * caps, per-site dedup all start here). URLs are synthesized
    * deterministically from `events` (q67 convention: fake payload,
    * real machinery); the operator under test is Spark's `parse_url`
    * (HOST / PATH / QUERY-with-key extraction — codegen'd narrow maps),
    * aggregated into per-host event counts, distinct users, and
    * distinct paths. One partial-aggregated shuffle on the host key;
    * the distincts ride the standard Expand. The DuckDB oracle never
    * parses: it re-derives host/path/param from the same integer
    * arithmetic the synthesizer used — extraction is checked against
    * independent CONSTRUCTION, not another URL parser. */
  val q92UrlDomains: Q = (s, d) => {
    // user_id is coalesced BEFORE the concat: a NULL would null the
    // whole URL (concat semantics) and silently move the row to a
    // NULL-host group the oracle (which derives host from event_id
    // alone) would not reproduce
    val url = concat(
      lit("https://site"), (col("event_id") % 50).cast("string"),
      lit(".example.com/p/"), (col("event_id") % 7).cast("string"),
      lit("/item?u="), coalesce(col("user_id"), lit(-1L)).cast("string"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), url.as("url"))
      .select(
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("u")).as("u_param"))
      .groupBy(col("host"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("u_param")).as("n_users"),
        countDistinct(col("path")).as("n_paths"))
  }

  // -- q102: systematic PPS sampling (distributed exact prefix sum) ----

  private val PpsK = 100L
  private val PpsShards = 64L

  /** SYSTEMATIC PPS SAMPLING: exactly-K documents drawn with
    * probability proportional to size (n_chars) — the
    * weighted-coverage QC draw ("inspect 100 docs, big docs
    * proportionally more often") that complements q49's equal-rate and
    * q53's exact-k-per-stratum samples. Deterministic end to end: docs
    * take a salted-hash total order, every doc owns the cumulative
    * interval [s, s+w), and the K fixed selection points
    * p_j = (2j+1)·T/2K pick their containing intervals — re-shard-
    * proof, re-run-proof, no RNG. The prefix sum is the DISTRIBUTED
    * two-phase form: per-shard running sums (window partitioned by the
    * hash shard) + a 64-row shard-prefix relation broadcast back —
    * never a single-partition sort of the corpus; the point test is a
    * closed-form integer comparison (2Ks ≤ (2j+1)T < 2Ke — no floats,
    * no floor ambiguity), while the ORACLE materializes the K points
    * and range-joins them, an algorithmically independent restatement.
    * T is a driver-hosted control-plane scalar (q61/q90 convention).
    * Σ n_points over the sample is exactly K: the intervals partition
    * [0, T). */
  val q102PpsSample: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars").as("w"), hash16("pps", col("doc_id")).as("h"))
      .withColumn("shard", col("h") % PpsShards)
    val inShard = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE control-plane collect of the ≤64-row shard totals serves
    // BOTH the grand total and the prefix offsets — no second corpus
    // scan, no single-partition window anywhere (and an empty corpus
    // yields total 0 / an empty sample instead of an NPE)
    val tots = base.groupBy("shard").agg(sum(col("w")).as("stot"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val total = tots.map(_._2).sum
    var acc = 0L
    val prefixRows = tots.map { case (sh, st) => val p = acc; acc += st; (sh, p) }
    import s.implicits._
    val prefixes = prefixRows.toSeq.toDF("shard", "prefix")
    val k2 = 2L * PpsK
    val t2 = math.max(2L * total, 1L) // guard div-by-zero on empty input
    base.withColumn("cum_in", sum(col("w")).over(inShard))
      .join(broadcast(prefixes), "shard")
      .withColumn("e", col("prefix") + col("cum_in"))
      .withColumn("s", col("e") - col("w"))
      .withColumn("jlo",
        when(lit(k2) * col("s") <= lit(total), 0L)
          .otherwise(expr(s"($k2 * s - $total - 1) div $t2 + 1")))
      .withColumn("jhi", expr(s"($k2 * e - $total - 1) div $t2"))
      .filter(lit(k2) * col("e") > lit(total) && col("jlo") <= col("jhi"))
      .select(col("doc_id"), col("w"), col("s"),
        (col("jhi") - col("jlo") + 1L).as("n_points"))
  }

  // -- q128: weighted bottom-k priority sample -------------------------

  private val PrioritySampleK = 200

  /** WEIGHTED SAMPLING WITHOUT REPLACEMENT via bottom-k priorities
    * (the deterministic cousin of sequential-Poisson/A-ES sampling):
    * every document gets priority = h48 div weight — a 48-bit salted
    * content hash divided by its char count — and the k smallest
    * priorities win, so a document's inclusion odds scale ~linearly
    * with its weight while the choice stays a pure function of the
    * data (no RNG; the engine's q49/q91 determinism convention).
    * Complements q102's systematic PPS: PPS strides a prefix-sum for
    * fixed-rate inclusion; bottom-k gives an EXACT sample size and is
    * MERGEABLE — the union of two shards' bottom-k is a superset of
    * the corpus bottom-k, so the plan is TakeOrderedAndProject
    * (per-partition best-k, driver merge), no global sort, no prefix
    * sum, one narrow map at any corpus size. */
  val q128PrioritySample: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5Draw(concat(lit("prio"), col("doc_id").cast("string")), 1, 12).as("h48"))
      .withColumn("priority", expr("h48 div greatest(n_chars, 1L)"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(PrioritySampleK)
      .select(col("doc_id"), col("source"), col("n_chars"), col("priority"))

  // -- q145: balanced class downsampling --------------------------------

  /** CLASS BALANCING: downsample every label stratum of the embedding
    * corpus to EXACTLY the minority-class size — the standard remedy
    * before training a classifier on skewed labels, and the
    * label-space sibling of q68's source-temperature mixing (which
    * reweights by sampling RATE; this equalizes by exact COUNT).
    * Selection is a salted-hash priority order (hash16 convention —
    * deterministic, replay-stable, uncorrelated with the q42/q49/q68
    * streams), so the kept subset is a uniform random sample of each
    * class, not a prefix of ingestion order.
    *
    * Plan: the compact (vec_id, label) projection is cached once and
    * feeds the |labels|-row count aggregate (min → driver scalar,
    * q61 convention) and the per-label rank window (q97-precedent
    * partitioned window; labels are few and big at scale — the
    * declared per-group-window limit applies). */
  val q145BalancedDownsample: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .transform(graft.ops.SharedCache.persist) // min-count scalar + rank pass
    // min over an empty label relation is NULL — null-safe read so an
    // empty input degrades to an empty sample instead of an NPE
    val minCount = emb.groupBy("label").agg(count(lit(1)).as("n"))
      .agg(min(col("n"))).head() match {
        case r if r.isNullAt(0) => 0L; case r => r.getLong(0) }
    val w = Window.partitionBy("label").orderBy(col("rk_hash"), col("vec_id"))
    emb
      .withColumn("rk_hash", hash16("balance", col("vec_id")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= minCount)
      .select("vec_id", "label", "rk")
  }

  // -- q153: native gear-hash chunk boundaries ---------------------------

  /** CDC BOUNDARIES VIA THE NATIVE EXPRESSION — discharges q109's
    * declared scale note: the md5-per-gram boundary rule swapped for
    * [[graft.functions.GearBoundaries]], a codegen'd one-pass rolling
    * hash (no per-position explode, no sliding-substring md5, no
    * intermediate arrays — the string is scanned once inside
    * whole-stage codegen). The boundary definition was chosen to be
    * SQL-restatable, so this is a FULL oracle on a custom Catalyst
    * expression: DuckDB recomputes every boundary as an 8-lag window
    * sum over per-codepoint md5 g-values. Plan: scan → narrow
    * project/generate; the only shuffle is whatever the consumer
    * adds. */
  val q153GearChunks: Q = (s, d) => {
    graft.functions.GearFunctions.register(s) // idempotent; extensions sessions already have it
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.GearFunctions.gearBoundaries(col("text"))).as("pos"))
  }

  // -- q154: distribution-matching sampling rates ------------------------

  /** MIX REPAIR RATES: for every (source, language) cell, the keep
    * rate that aligns each source's language mix to the CORPUS-WIDE
    * language distribution — rate = min(1, target_share/source_share)
    * — the per-class complement of q68's source-level temperature
    * mixing (q68 reweights whole feeds; this fixes WITHIN-feed class
    * skew, the "this crawl is 80% English but the corpus target is
    * 55%" repair). Exact-integer ppm cross-products
    * (n_lang·n_source·1e6 vs N·n_cell), capped at 1e6; expected kept
    * counts come from one more truncating multiply so downstream
    * budget math stays integer. Plan: one map-combined shuffle to
    * |S|×|L| cells, marginals as window sums over that bounded
    * relation (q137 discipline). */
  val q154MixRepairRates: Q = (s, d) => {
    val cells = Tables.documents(s, d)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_cell"))
    cells
      .withColumn("n_source", sum(col("n_cell")).over(Window.partitionBy("source")))
      .withColumn("n_lang", sum(col("n_cell")).over(Window.partitionBy("lang")))
      .withColumn("n_total", sum(col("n_cell")).over(Window.partitionBy()))
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr("n_lang * n_source * 1000000 div (n_total * n_cell)")))
      .withColumn("n_kept", expr("n_cell * rate_ppm div 1000000"))
      .select("source", "lang", "n_cell", "n_source", "n_lang", "n_total",
        "rate_ppm", "n_kept")
  }

  // -- q161: importance weights (DSIR-style unigram LLR) ----------------

  /** IMPORTANCE WEIGHTS for targeted data selection (the DSIR recipe,
    * Xie et al. 2023, made engine-exact): score every document by the
    * log-likelihood ratio of its unigrams under a TARGET distribution
    * (here the `lang='en'` slice — stand-in for "looks like the
    * high-quality domain") vs the RAW corpus distribution, with
    * add-one smoothing. High scorers are up-sampled into the training
    * mix; the generative complement of q113's discriminative
    * hashed-feature classifier.
    *
    * Determinism discipline: each vocab term's LLR is ONE double
    * expression over exact integer counts, quantized to e6 by floor()
    * BEFORE any summation, so the per-doc score is an exact integer
    * sum (order-free under Spark's nondeterministic partial-agg order
    * — the float rules at the top of Relational.scala).
    *
    * Scale shape: token explode is narrow; (doc, token) occurrence
    * counts are ONE map-combined shuffle; the vocab LLR table derives
    * from those partials (second tiny shuffle on token) and comes back
    * as a BROADCAST (vocab ≪ corpus); the per-doc score is a third
    * map-combined shuffle on doc_id. Corpus totals (N_target, N_all,
    * |V|) are three control-plane scalars — one driver action. */
  val q161ImportanceWeights: Q = (s, d) => {
    val docTok = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("n_occ"))
      .transform(graft.ops.SharedCache.persist) // vocab + probe sides
    val vocab = docTok.groupBy("tok").agg(
      sum(col("n_occ")).as("c_all"),
      sum(when(col("lang") === "en", col("n_occ")).otherwise(0L)).as("c_tgt"))
    // corpus totals: three control-plane scalars, one driver action
    val tot = vocab.agg(sum(col("c_all")), sum(col("c_tgt")), count(lit(1))).head()
    val (nAll, nTgt, v) = (tot.getLong(0), tot.getLong(1), tot.getLong(2))
    val llr = vocab.select(col("tok"),
      floor((log((col("c_tgt") + 1L).cast("double")) - log(lit((nTgt + v).toDouble))
        - log((col("c_all") + 1L).cast("double")) + log(lit((nAll + v).toDouble)))
        * 1000000d).cast("long").as("llr_e6"))
    docTok
      .join(broadcast(llr), Seq("tok"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n_occ")).as("n_tokens"),
        sum(col("n_occ") * col("llr_e6")).as("llr_e6_sum"))
  }

  // -- q165: BPE merge learning -----------------------------------------

  private val BpeSep = "\u0001" // symbol separator; never occurs in tokens
  private val BpeRounds = 2
  private val BpeTopK = 5

  /** TOKENIZER TRAINING KERNEL: the first [[BpeRounds]] merge rounds of
    * byte-pair encoding (Sennrich et al. 2016) over the corpus — each
    * round counts every adjacent symbol pair (weighted by word
    * frequency), promotes the most frequent pair (ties → lexicographic)
    * to a new merged symbol, and rewrites the dictionary. Output: the
    * top-[[BpeTopK]] pair candidates of each round with counts — rank 1
    * is the applied merge, the rest are the runners-up a tokenizer
    * trainer logs.
    *
    * The scale shape IS the classic BPE trick: after ONE pass over the
    * corpus (token explode → word-frequency dictionary, map-combined),
    * every round operates on the DICTIONARY (|vocab| rows, frequencies
    * attached) — corpus volume is never touched again, so 100 TB of
    * text costs the same per round as 100 MB once the dictionary is
    * built. Pair expansion is in-row (zip_with over shifted slices, no
    * per-position explode rows beyond the pair list), the winning pair
    * is ONE control-plane scalar per round, and the rewrite is a
    * narrow `replace` projection — both engines' replace is
    * left-to-right non-overlapping, so "aaaa" merges to (aa)(aa), the
    * BPE convention, identically (pinned by Round9OpsSpec).
    */
  /** The (frequency, separated-symbol-sequence) BPE dictionary — ONE
    * corpus pass, SharedCache'd; the base of every q165/q200 round. */
  private def bpeDict(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .withColumn("seq", array_join(split(col("w"), ""), BpeSep))
      .select(col("f"), col("seq"))
      .transform(graft.ops.SharedCache.persist) // base of every round

  /** Adjacent symbol-pair counts of a BPE dictionary, weighted by word
    * frequency — the per-round promotion relation, shared by q165
    * (merge learning) and q200 (the compression curve priced on the
    * same merges). In-row pair expansion (zip_with over shifted
    * slices); |vocab| input rows per round, never the corpus. */
  private def bpePairCounts(words: DataFrame): DataFrame = {
    val syms = split(col("seq"), BpeSep)
    words
      .select(col("f"), explode(zip_with(
        slice(syms, lit(1), size(syms) - 1),
        slice(syms, lit(2), size(syms) - 1),
        (a, b) => concat(a, lit(BpeSep), b))).as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).as("cnt"))
  }

  val q165BpeMerges: Q = (s, d) => {
    var words = bpeDict(s, d)
    val perRound = (1 to BpeRounds).map { r =>
      // TakeOrderedAndProject (map-side top-k), never a global sort
      val ranked = bpePairCounts(words)
        .orderBy(col("cnt").desc, col("pair").asc).limit(BpeTopK)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("cnt").desc, col("pair").asc)))
        .localCheckpoint(true) // tiny; winner + output read it
      // the applied merge: one control-plane scalar per round
      val top = ranked.filter(col("rank") === 1).head().getAs[String]("pair")
      words = words.withColumn("seq",
        replace(col("seq"), lit(top), lit(top.replace(BpeSep, ""))))
      ranked.select(lit(r.toLong).as("round"), col("rank").cast("long").as("rank"),
        split(col("pair"), BpeSep).getItem(0).as("left_sym"),
        split(col("pair"), BpeSep).getItem(1).as("right_sym"),
        col("cnt"))
    }
    perRound.reduce(_ unionByName _)
  }

  // -- q200: BPE compression curve --------------------------------------

  /** BPE COMPRESSION CURVE — what q165's learned merges actually BUY:
    * per merge round, the exact corpus symbol count Σ f·|seq| (the
    * number of tokens a BPE tokenizer frozen at that round would emit
    * for the whole corpus), the cumulative saving vs the character
    * baseline (round 0 = every word fully split), and symbols-per-word
    * fertility in e3. This is the curve a tokenizer trainer reads to
    * pick the merge budget — each round's marginal saving shrinks as
    * the Zipf head gets absorbed, and the flattening point IS the
    * vocabulary-size decision. Measured on the REWRITTEN dictionary
    * (not inferred from the promoted pair's count, which counts
    * overlapping occurrences the left-to-right non-overlapping rewrite
    * does not merge — "aaaa" has 3 pairs but merges twice).
    *
    * Scale shape inherited from q165: ONE corpus pass builds the
    * SharedCache'd frequency dictionary, every round costs |vocab|
    * rows — the stats rows are one map-combined aggregate per round
    * over in-row symbol counts, and the saving column is a window over
    * the ≤(rounds+1)-row curve relation. The applied merge per round
    * is the same single control-plane scalar as q165 (re-derived, so
    * the two queries stay independently runnable; shared-mode runs hit
    * the same cached dictionary). */
  val q200BpeCompressionCurve: Q = (s, d) => {
    def roundStats(words: DataFrame, r: Int): DataFrame =
      words
        .select(col("f"),
          size(split(col("seq"), BpeSep)).cast("long").as("nsym"))
        .agg(sum(col("f") * col("nsym")).as("corpus_symbols"),
          sum(col("f")).as("corpus_words"),
          count(lit(1)).as("dict_words"))
        .select(lit(r.toLong).as("round"), col("corpus_words"),
          col("dict_words"), col("corpus_symbols"))

    var words = bpeDict(s, d)
    val rows = Seq(roundStats(words, 0)) ++ (1 to BpeRounds).map { r =>
      // the applied merge: one control-plane scalar per round (q165's
      // promotion — map-side top-1, never a global sort)
      val top = bpePairCounts(words)
        .orderBy(col("cnt").desc, col("pair").asc).limit(1)
        .head().getAs[String]("pair")
      words = words.withColumn("seq",
        replace(col("seq"), lit(top), lit(top.replace(BpeSep, ""))))
      roundStats(words, r)
    }
    // baseline lookup: first_value over the ≤(rounds+1)-row curve
    val w = Window.orderBy("round")
    rows.reduce(_ unionByName _)
      .withColumn("base_symbols", first(col("corpus_symbols")).over(w))
      .select(col("round"), col("corpus_words"), col("dict_words"),
        col("corpus_symbols"),
        (col("base_symbols") - col("corpus_symbols")).as("saved_symbols"),
        expr("(base_symbols - corpus_symbols) * 1000000 div base_symbols")
          .as("saved_ppm"),
        expr("corpus_symbols * 1000 div corpus_words")
          .as("syms_per_word_e3"))
  }

  // -- q172: per-source data cards --------------------------------------

  private val CardShortChars = 100L

  /** DATA CARDS: the one-row-per-source datasheet a curation pipeline
    * publishes next to a release (model-card §data convention) —
    * volume (docs, chars, mean length), composition (language count,
    * plurality language + its share), and hygiene (short-doc rate,
    * exact-duplicate rate = rows removable by md5 dedup within the
    * source). Everything integer-exact (div / ×1e6 div) so both
    * engines agree bit-for-bit.
    *
    * Plan: THREE map-combined aggregates over one narrow projection —
    * per-source scalars, per-(source, md5) dup cells collapsed to a
    * per-source sum, per-(source, lang) counts collapsed to a
    * plurality pick via a per-source window (|sources| partitions,
    * |langs| rows each) — then two keyed joins on the |sources|-row
    * spine. Raw text never shuffles: the md5 digest (16 bytes) is the
    * widest thing that moves. */
  val q172SourceDatacard: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(col("source"), col("lang"), col("n_chars"),
        md5(col("text")).as("h"))
      .transform(graft.ops.SharedCache.persist) // three aggregate legs
    val spine = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("sum_chars"),
      sum(when(col("n_chars") < CardShortChars, 1L).otherwise(0L))
        .as("short_docs"),
      count_distinct(col("lang")).as("n_langs"))
    val dups = base.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy("source").agg(sum(col("c") - 1L).as("dup_docs"))
    val topLang = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("c").desc, col("lang"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("c").as("top_lang_docs"))
    spine.join(dups, "source").join(topLang, "source")
      .select(col("source"), col("n_docs"), col("sum_chars"),
        expr("sum_chars div n_docs").as("mean_chars"),
        expr("short_docs * 1000000 div n_docs").as("short_ppm"),
        col("n_langs"), col("top_lang"),
        expr("top_lang_docs * 1000000 div n_docs").as("top_lang_ppm"),
        col("dup_docs"),
        expr("dup_docs * 1000000 div n_docs").as("dup_ppm"))
  }

  // -- q176: per-language tokenizer fertility ----------------------------

  /** TOKENIZER FERTILITY PROFILE — the per-language budget table a
    * multilingual pretrain run plans against (how many tokens a
    * language yields per character/byte drives both tokenizer vocab
    * allocation and per-language sampling weights): per lang, docs /
    * whitespace tokens / chars / UTF-8 bytes, plus the fertility
    * ratios in e3 fixed point. Complements q172's per-SOURCE cards on
    * the language axis.
    *
    * Plan: one narrow projection computing per-row token and byte
    * counts in-row (no explode — the token ARRAY never materializes
    * into rows, only its length), then a single map-combined groupBy
    * on the ~|langs|-row key. Raw text never shuffles; at 100 TB this
    * is one scan + one tiny aggregate. */
  val q176TokenFertility: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"),
        size(tokens(col("text"))).cast("long").as("toks"),
        col("n_chars"),
        octet_length(col("text")).cast("long").as("bytes"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"), sum(col("bytes")).as("n_bytes"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_bytes"),
        expr("n_chars * 1000 div n_tokens").as("chars_per_token_e3"),
        expr("n_bytes * 1000 div n_chars").as("bytes_per_char_e3"),
        expr("n_tokens * 1000 div n_docs").as("tokens_per_doc_e3"))

  // -- q184: token-budget waterfilling ------------------------------------

  /** Budget as a fraction of the corpus: B = Σtokens div 2. */
  private val WaterfillBudgetDen = 2L

  /** TOKEN-BUDGET WATERFILLING — the allocation step between q68's
    * temperature weights and an actual training run: given per-source
    * token counts and a total budget B, cap every source at the common
    * water level c = max level with Σ min(n_s, c) ≤ B, so small
    * sources keep everything and the largest feeds absorb the cut —
    * the standard per-source contribution cap of corpus curation,
    * solved EXACTLY in integers: sort sources by n asc, prefix-sum,
    * and for each boundary k the candidate level is
    * c_k = (B − P_k) div (S − k); the valid boundary is the largest k
    * with c_k ≥ n_k, found with one window pass over the |S|-row
    * relation. The chosen level is a driver-hosted scalar (q61
    * convention) entering the allocation projection as a literal.
    *
    * Scale: one map-combined per-source token aggregate (the q176
    * leg), then everything runs on |sources| rows. */
  val q184TokenWaterfill: Q = (s, d) => {
    val perSrc = Tables.documents(s, d)
      .select(col("source"), size(tokens(col("text"))).cast("long").as("t"))
      .groupBy("source").agg(sum(col("t")).as("n_tokens"))
      .transform(graft.ops.SharedCache.persist) // level scan + allocation
    val w = Window.orderBy(col("n_tokens").asc, col("source").asc)
    // null-safe: sum over an empty corpus is NULL; 0 keeps the empty
    // relation flowing through instead of an NPE on the driver scalar
    val total = perSrc.agg(sum(col("n_tokens")))
      .head() match { case r if r.isNullAt(0) => 0L; case r => r.getLong(0) }
    val budget = total / WaterfillBudgetDen
    val nSrc = perSrc.count()
    // ascending boundary scan over the |S|-row relation (the global
    // window is declared tiny — |sources| rows, never data-sized):
    // with k = rn−1 sources fully kept below the level, the candidate
    // level is (B − P_k) div (S − k); the FIRST row whose own size the
    // level cannot reach is the waterfill boundary (standard argument:
    // earlier rows overshoot, later ones double-count the cut)
    val capRow = perSrc
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("pk", coalesce(sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("ck", expr(s"(${budget}L - pk) div (${nSrc}L - (rn - 1L))"))
      .filter(col("ck") < col("n_tokens"))
      .agg(min_by(col("ck"), col("rn")).as("cap"))
      .head()
    // B ≥ total ⇒ no boundary: nothing is capped
    val cap = if (capRow.isNullAt(0)) total else capRow.getLong(0)
    perSrc.select(col("source"), col("n_tokens"),
      least(col("n_tokens"), lit(cap)).as("alloc_tokens"),
      (col("n_tokens") > cap).as("is_capped"),
      lit(cap).as("water_level"),
      expr(s"least(n_tokens, ${cap}L) * 1000000 div ${total}L")
        .as("alloc_share_ppm"))
  }

  // -- q189: length-bucketed batching padding audit ------------------------

  /** Bucket granularity in tokens (sequences pad up to the next
    * multiple; 64 matches common attention-kernel tile sizes). */
  private val PadBucket = 64L

  /** PADDING-EFFICIENCY AUDIT — the batching-policy report between
    * q56's fixed-context packing and an actual training run: when
    * sequences are batched by length bucket (pad-to-bucket, the
    * standard dynamic-batching compromise), how many pad tokens does
    * each bucket burn? Per 64-token bucket: docs, real tokens, bucket
    * capacity n·bucket_len, padding ppm — and `naive_pad_ppm`, what
    * the same docs would waste under pad-to-global-max, so the report
    * directly prices the bucketing policy against the naive collator
    * (the headline number a data-loader owner acts on).
    *
    * Plan: one narrow in-row projection (token count only — the token
    * array never materializes into rows), one map-combined groupBy on
    * the ≤|max_len/64|-row bucket key, then the global max rides an
    * empty-partition window OVER THAT TINY RELATION (single-partition
    * window over ≤|max_len/64| aggregated rows — no join node, no
    * second corpus scan, unlike a crossJoin'd scalar aggregate which
    * plans as a BroadcastNestedLoopJoin and re-reads the source). Raw
    * text never shuffles; nothing after the first partial aggregate
    * scales with rows. */
  val q189PaddingAudit: Q = (s, d) => {
    val buckets = Tables.documents(s, d)
      .select(size(tokens(col("text"))).cast("long").as("t"))
      .select(col("t"),
        expr(s"((t - 1L) div ${PadBucket}L) * ${PadBucket}L + " +
          s"${PadBucket}L").as("bucket_len"))
      .groupBy("bucket_len")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens"))
    buckets
      .withColumn("max_bucket", max(col("bucket_len")).over(Window.partitionBy()))
      .select(col("bucket_len"), col("n_docs"), col("n_tokens"),
        (col("n_docs") * col("bucket_len")).as("capacity"),
        expr("(n_docs * bucket_len - n_tokens) * 1000000 " +
          "div (n_docs * bucket_len)").as("pad_ppm"),
        expr("(n_docs * max_bucket - n_tokens) * 1000000 " +
          "div (n_docs * max_bucket)").as("naive_pad_ppm"))
  }

  // -- q190: per-source vocabulary concentration profile -------------

  /** Head-coverage rank cutoffs for the concentration report. */
  private val VocabHeadRanks = Seq(1L, 10L, 100L)

  /** VOCABULARY CONCENTRATION — the corpus-linguistics health panel a
    * curation run reads per source before trusting it: type-token
    * ratio (low = templated/repetitive feed), head coverage (what
    * share of all tokens the top-1/10/100 types absorb — boilerplate
    * and stopword saturation), and hapax rates (high hapax share =
    * noisy OCR/spam tails; near-zero = de-duplicated boilerplate).
    * All ratios exact integer ppm — no logs, no floats — so the
    * report is engine-exact where a Zipf-slope fit would be libm-
    * dependent.
    *
    * Plan: raw text dies at the first map-combined (source, token)
    * count; the rank window runs per source OVER THE VOCAB RELATION
    * (Zipf-small — the q60/q149 declared per-group window limit), and
    * the final aggregate is |sources| rows. Head-cutoff ties are
    * deterministic by the (count desc, token asc) rank order, so both
    * engines pick the same boundary token. */
  val q190VocabConcentration: Q = (s, d) => {
    val tf = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("source", "tok").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("source").orderBy(col("cnt").desc, col("tok").asc)
    val headAggs = VocabHeadRanks.map { r =>
      sum(when(col("rnk") <= r, col("cnt")).otherwise(0L)).as(s"top$r")
    }
    val aggs = Seq(sum(col("cnt")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax")) ++ headAggs
    tf.withColumn("rnk", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("source"), col("n_tokens"), col("vocab"),
        expr("vocab * 1000000 div n_tokens").as("ttr_ppm"),
        expr("top1 * 1000000 div n_tokens").as("top1_ppm"),
        expr("top10 * 1000000 div n_tokens").as("top10_ppm"),
        expr("top100 * 1000000 div n_tokens").as("top100_ppm"),
        expr("hapax * 1000000 div n_tokens").as("hapax_tok_ppm"),
        expr("hapax * 1000000 div vocab").as("hapax_vocab_ppm"))
  }

  // -- q192: context-length policy sweep ------------------------------

  /** Candidate training context lengths (tokens). */
  private val CtxLengths = Seq(512L, 1024L, 2048L, 4096L, 8192L)

  /** CONTEXT-LENGTH POLICY SWEEP — the one table a training-run owner
    * reads when choosing the context window: for each candidate L,
    * what does each collator policy cost on THIS corpus?
    *  - truncate-to-L: docs that fit whole, docs cut, tokens LOST
    *    (trunc ppm — the irreversible one);
    *  - pad-to-L (one doc per sequence): pad-token waste ppm of the
    *    padded capacity n_docs·L;
    *  - concat-and-chunk packing (q56's policy, split allowed): exact
    *    sequence count ⌈Σt/L⌉ and its tail-waste ppm.
    * Sibling of q189 (which prices bucketing at fixed 64-grain); this
    * prices the WINDOW SIZE itself across policies.
    *
    * Plan: one narrow token-count projection, ONE scalar map-combined
    * aggregate folding every L (conditional sums — the q173 finalizer
    * discipline), then a constant-width stack unpivot to |L| rows.
    * Nothing after the first partial aggregate scales with rows. */
  val q192ContextSweep: Q = (s, d) => {
    val t = Tables.documents(s, d)
      .select(size(tokens(col("text"))).cast("long").as("t"))
    val perL = CtxLengths.flatMap { l => Seq(
      sum(when(col("t") <= l, 1L).otherwise(0L)).as(s"fit$l"),
      sum(when(col("t") > l, col("t") - l).otherwise(0L)).as(s"trunc$l"),
      sum(lit(l) - least(col("t"), lit(l))).as(s"pad$l")) }
    val aggs = Seq(count(lit(1)).as("n_docs"), sum(col("t")).as("n_tokens")) ++ perL
    val stackArgs = CtxLengths
      .map(l => s"${l}L, fit$l, trunc$l, pad$l").mkString(", ")
    t.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${CtxLengths.size}, $stackArgs) " +
        "AS (ctx_len, fit_docs, trunc_tokens, pad_tokens)",
        "n_docs", "n_tokens")
      .select(col("ctx_len"), col("n_docs"), col("n_tokens"),
        col("fit_docs"), (col("n_docs") - col("fit_docs")).as("cut_docs"),
        col("trunc_tokens"),
        expr("trunc_tokens * 1000000 div n_tokens").as("trunc_ppm"),
        col("pad_tokens"),
        expr("pad_tokens * 1000000 div (n_docs * ctx_len)").as("pad_waste_ppm"),
        expr("(n_tokens + ctx_len - 1) div ctx_len").as("packed_seqs"),
        expr("(((n_tokens + ctx_len - 1) div ctx_len) * ctx_len - n_tokens) " +
          "* 1000000 div (((n_tokens + ctx_len - 1) div ctx_len) * ctx_len)")
          .as("pack_waste_ppm"))
  }

  // -- q197: per-language mix diversity ---------------------------------

  /** MIX-DIVERSITY REPORT — the language-axis governance table behind
    * q68's mixing weights: per language, how CONCENTRATED is the feed
    * mix? Reports the inverse-Simpson EFFECTIVE SOURCE COUNT
    * ((Σn)²/Σn², e3 — the "as if this many equal sources" number;
    * 1.0 = a monoculture pretending to be multi-source) and the
    * top-source share ppm — both EXACT integers where the Shannon
    * form (exp of entropy) would be libm-dependent. A language whose
    * effective count ≪ its source count is dominated by one feed and
    * inherits its biases regardless of the mixing weights.
    * BIGINT headroom: (Σn)²·1e3 overflows past ~9.6e7 docs per
    * language; the documented decimal escape applies beyond that.
    *
    * Plan: one map-combined (lang, source) count, then a |langs|-row
    * rollup — nothing after the first partial aggregate scales with
    * rows. */
  val q197MixDiversity: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_sources"),
        sum(col("n") * col("n")).as("sumsq"),
        max(col("n")).as("top_n"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        expr("n_docs * n_docs * 1000 div sumsq").as("eff_sources_e3"),
        expr("top_n * 1000000 div n_docs").as("top_source_ppm"))

  val defs: Map[String, Q] = Map(
    "q223_kmv_overlap" -> q223KmvOverlap,
    "q242_mirror_direction" -> q242MirrorDirection,
    "q243_soft_dedup_weights" -> q243SoftDedupWeights,
    "q205_novelty_curve" -> q205NoveltyCurve,
    "q200_bpe_compression" -> q200BpeCompressionCurve,
    "q197_mix_diversity" -> q197MixDiversity,
    "q192_context_sweep" -> q192ContextSweep,
    "q190_vocab_concentration" -> q190VocabConcentration,
    "q189_padding_audit" -> q189PaddingAudit,
    "q184_token_waterfill" -> q184TokenWaterfill,
    "q176_token_fertility" -> q176TokenFertility,
    "q172_source_datacard" -> q172SourceDatacard,
    "q165_bpe_merges" -> q165BpeMerges,
    "q161_importance_weights" -> q161ImportanceWeights,
    "q154_mix_repair_rates" -> q154MixRepairRates,
    "q153_gear_chunks" -> q153GearChunks,
    "q145_balanced_downsample" -> q145BalancedDownsample,
    "q128_priority_sample" -> q128PrioritySample,
    "q102_pps_sample" -> q102PpsSample,
    "q92_url_domains" -> q92UrlDomains,
    "q59_chunk_dedup" -> q59ChunkDedup,
    "q109_cdc_chunk_dedup" -> q109CdcChunkDedup,
    "q67_pii_redact" -> q67PiiRedact,
    "q68_temperature_mix" -> q68TemperatureMix,
    "q69_bigram_coverage" -> q69BigramCoverage,
    "q70_stride_chunk" -> q70StrideChunk,
    "q113_quality_classifier" -> q113QualityClassifier,
    "q216_preference_pairs" -> q216PreferencePairs,
    "q218_quality_knapsack" -> q218QualityKnapsack,
    "q220_source_ablation" -> q220SourceAblation,
    "q115_source_overlap" -> q115SourceOverlap,
    "q53_exact_k_sample" -> q53ExactKSample,
    "q56_sequence_pack" -> q56SequencePack,
    "q46_repetition_stats" -> q46RepetitionStats,
    "q47_decontaminate" -> q47Decontaminate,
    "q171_memorization_scan" -> q171MemorizationScan,
    "q107_bloom_decontaminate" -> q107BloomDecontaminate,
    "q48_incremental_dedup" -> q48IncrementalDedup,
    "q265_state_migration" -> q265StateMigration,
    "q266_reshard_policy" -> q266ReshardPolicy,
    "q267_ring_balance" -> q267RingBalance,
    "q49_stratified_sample" -> q49StratifiedSample,
    "q50_token_shards" -> q50TokenShards,
    "q227_shard_balance" -> q227ShardBalance,
    "q236_shard_budget_sweep" -> q236ShardBudgetSweep,
    "q51_mix_pivot" -> q51MixPivot,
    "q52_corpus_shuffle" -> q52CorpusShuffle)

  // -- DuckDB oracles ------------------------------------------------

  private val toksCte =
    """toks AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
      |  FROM documents
      |)""".stripMargin

  /** DuckDB 2-grams/5-grams via 1-based inclusive list slices. */
  private def gramsSql(n: Int): String =
    s"CASE WHEN len(tk) >= $n THEN " +
      s"[array_to_string(tk[i:i+${n - 1}], ' ') for i in range(1, len(tk) - ${n - 2})] " +
      "ELSE [] END"

  private val splitBucketSql =
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10"

  private def hash16Sql(salt: String, key: String): String =
    s"CAST('0x' || substr(md5('$salt' || CAST($key AS VARCHAR)), 1, 4) AS BIGINT)"

  /** The BPE dictionary-build + per-round promote/rewrite CTE chain,
    * shared by the q165 and q200 oracles (same words → s0 → pN/rN/sN
    * lineage; q165 reads the rN rankings, q200 the sN dictionaries). */
  private lazy val bpeOracleCtes: String = {
    val roundCtes = (1 to BpeRounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, CAST(sum(f) AS BIGINT) AS cnt FROM (
         |    SELECT t.f, t.syms[u.i] || chr(1) || t.syms[u.i + 1] AS pair
         |    FROM (SELECT f, string_split(seq, chr(1)) AS syms FROM s${r - 1}) t,
         |      LATERAL unnest(generate_series(1, len(t.syms) - 1)) u(i))
         |  GROUP BY 1
         |), r$r AS MATERIALIZED (
         |  SELECT pair, cnt, rn FROM (
         |    SELECT pair, cnt,
         |      row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rn
         |    FROM p$r) WHERE rn <= $BpeTopK
         |), s$r AS MATERIALIZED (
         |  SELECT f, replace(seq, (SELECT pair FROM r$r WHERE rn = 1),
         |    replace((SELECT pair FROM r$r WHERE rn = 1), chr(1), '')) AS seq
         |  FROM s${r - 1}
         |)""".stripMargin
    }.mkString(",\n")
    s"""words AS MATERIALIZED (
       |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
       |    FROM documents) WHERE tok <> '' GROUP BY 1
       |), s0 AS MATERIALIZED (
       |  SELECT f, array_to_string(string_split(w, ''), chr(1)) AS seq FROM words
       |),
       |$roundCtes""".stripMargin
  }

  /** Shared by q47 and q107 (same relation, different plan). */
  private lazy val decontamOracleSql: String =
    s"""WITH $toksCte, grams AS (
       |  SELECT doc_id, $splitBucketSql AS b,
       |    CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) AS gh
       |  FROM (SELECT doc_id, unnest(list_distinct(${gramsSql(ContamN)})) AS g FROM toks)
       |), test_g AS (
       |  SELECT DISTINCT gh FROM grams WHERE b = 9
       |)
       |SELECT doc_id, count(*) AS n_shared_grams
       |FROM grams WHERE b < 8 AND gh IN (SELECT gh FROM test_g)
       |GROUP BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    // Same dictionary build, same in-row adjacent-pair expansion, same
    // (cnt desc, pair asc) promotion and left-to-right non-overlapping
    // rewrite — the winning pair rides a scalar subquery instead of the
    // engine's control-plane collect.
    "q165_bpe_merges" -> {
      val rounds = (1 to BpeRounds).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS round, CAST(rn AS BIGINT) AS rank,
           |  split_part(pair, chr(1), 1) AS left_sym,
           |  split_part(pair, chr(1), 2) AS right_sym, cnt
           |FROM r$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $bpeOracleCtes
         |$rounds""".stripMargin
    },
    // Same dictionary + rewrite chain as q165's oracle; per-round
    // Σ f·|symbols| measured on the rewritten dictionary, baseline via
    // the same first_value window over the curve relation.
    "q200_bpe_compression" -> {
      val stats = (0 to BpeRounds).map { r =>
        s"""SELECT CAST($r AS BIGINT) AS round,
           |  CAST(sum(f) AS BIGINT) AS corpus_words,
           |  CAST(count(*) AS BIGINT) AS dict_words,
           |  CAST(sum(f * len(string_split(seq, chr(1)))) AS BIGINT)
           |    AS corpus_symbols
           |FROM s$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $bpeOracleCtes,
         |curve AS ($stats)
         |SELECT round, corpus_words, dict_words, corpus_symbols,
         |  first_value(corpus_symbols) OVER (ORDER BY round)
         |    - corpus_symbols AS saved_symbols,
         |  (first_value(corpus_symbols) OVER (ORDER BY round)
         |    - corpus_symbols) * 1000000
         |    // first_value(corpus_symbols) OVER (ORDER BY round) AS saved_ppm,
         |  corpus_symbols * 1000 // corpus_words AS syms_per_word_e3
         |FROM curve""".stripMargin
    },
    // Same add-one LLR per vocab term (identical ln/sub/add order),
    // floor-quantized to e6 BEFORE summation — per-doc sums are exact
    // integers on both engines.
    "q161_importance_weights" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tok
        |  FROM documents
        |), dt AS (
        |  SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS n_occ
        |  FROM tok WHERE tok <> '' GROUP BY 1, 2, 3
        |), vocab AS (
        |  SELECT tok, CAST(sum(n_occ) AS BIGINT) AS c_all,
        |    CAST(sum(CASE WHEN lang = 'en' THEN n_occ ELSE 0 END) AS BIGINT) AS c_tgt
        |  FROM dt GROUP BY 1
        |), s AS (
        |  SELECT CAST(sum(c_all) AS BIGINT) AS n_all,
        |    CAST(sum(c_tgt) AS BIGINT) AS n_tgt,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM vocab
        |), llr AS (
        |  SELECT tok,
        |    CAST(floor((ln(CAST(c_tgt + 1 AS DOUBLE)) - ln(CAST(n_tgt + v AS DOUBLE))
        |      - ln(CAST(c_all + 1 AS DOUBLE)) + ln(CAST(n_all + v AS DOUBLE)))
        |      * 1000000) AS BIGINT) AS llr_e6
        |  FROM vocab, s
        |)
        |SELECT doc_id, lang, CAST(sum(n_occ) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_occ * llr_e6) AS BIGINT) AS llr_e6_sum
        |FROM dt JOIN llr USING (tok)
        |GROUP BY 1, 2""".stripMargin,
    // Same marginal windows and capped integer cross-products.
    "q154_mix_repair_rates" ->
      """WITH cells AS (
        |  SELECT source, lang, count(*) AS n_cell FROM documents GROUP BY 1, 2
        |), m AS (
        |  SELECT *,
        |    CAST(sum(n_cell) OVER (PARTITION BY source) AS BIGINT) AS n_source,
        |    CAST(sum(n_cell) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
        |    CAST(sum(n_cell) OVER () AS BIGINT) AS n_total
        |  FROM cells
        |), r AS (
        |  SELECT *,
        |    least(1000000,
        |      CAST(n_lang * n_source * 1000000 // (n_total * n_cell) AS BIGINT))
        |      AS rate_ppm
        |  FROM m
        |)
        |SELECT source, lang, n_cell, n_source, n_lang, n_total, rate_ppm,
        |  CAST(n_cell * rate_ppm // 1000000 AS BIGINT) AS n_kept
        |FROM r""".stripMargin,
    // The gear definition restated relationally: per-codepoint g from
    // the same md5, the 8-tap window as explicit lags — agreement
    // gates the native expression's ring buffer bit-for-bit.
    "q153_gear_chunks" -> {
      val taps = (0 until 8)
        .map(k => if (k == 0) "g" else s"lag(g, $k) OVER w * ${1L << k}")
        .mkString(" + ")
      s"""WITH chars AS (
         |  SELECT doc_id, CAST(t.i AS BIGINT) AS i,
         |    unicode(substr(text, CAST(t.i AS INT), 1)) % 256 AS b
         |  FROM documents, LATERAL unnest(generate_series(1, length(text))) t(i)
         |), gv AS (
         |  SELECT doc_id, i,
         |    CAST('0x' || substr(md5(CAST(b AS VARCHAR)), 1, 12) AS BIGINT) AS g
         |  FROM chars
         |), h AS (
         |  SELECT doc_id, i, $taps AS h
         |  FROM gv WINDOW w AS (PARTITION BY doc_id ORDER BY i)
         |)
         |SELECT doc_id, i AS pos FROM h WHERE i >= 8 AND h % 64 = 0""".stripMargin
    },
    // Same salted-hash priority and scalar min; the 1-row min relation
    // mounts as a cross join (oracle side only).
    "q145_balanced_downsample" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    ${hash16Sql("balance", "vec_id")} AS rk_hash
         |  FROM embeddings
         |), m AS (
         |  SELECT min(n) AS mn FROM (
         |    SELECT count(*) AS n FROM e GROUP BY label
         |  )
         |), r AS (
         |  SELECT vec_id, label,
         |    CAST(row_number() OVER (PARTITION BY label
         |      ORDER BY rk_hash, vec_id) AS BIGINT) AS rk
         |  FROM e
         |)
         |SELECT vec_id, label, rk FROM r, m WHERE rk <= mn""".stripMargin,
    "q128_priority_sample" ->
      s"""SELECT doc_id, source, n_chars,
         |  CAST('0x' || substr(md5('prio' || CAST(doc_id AS VARCHAR)), 1, 12)
         |    AS BIGINT) // greatest(n_chars, 1) AS priority
         |FROM documents
         |ORDER BY priority, doc_id
         |LIMIT $PrioritySampleK""".stripMargin,
    // Independent restatement: materialize the K selection points and
    // RANGE-JOIN them into the cumulative intervals (the Spark side
    // inverts the same comparison in closed form).
    "q102_pps_sample" ->
      s"""WITH b AS (
         |  SELECT doc_id, n_chars AS w, ${hash16Sql("pps", "doc_id")} AS h
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, w,
         |    sum(w) OVER (ORDER BY h % $PpsShards, h, doc_id ROWS UNBOUNDED PRECEDING) AS e
         |  FROM b
         |), t AS (SELECT CAST(sum(w) AS BIGINT) AS tot FROM b
         |), pts AS (SELECT unnest(range(0, $PpsK)) AS j)
         |SELECT c.doc_id, CAST(c.w AS BIGINT) AS w,
         |  CAST(c.e - c.w AS BIGINT) AS s,
         |  CAST(count(*) AS BIGINT) AS n_points
         |FROM c, t, pts
         |WHERE (2 * j + 1) * tot >= 2 * $PpsK * (c.e - c.w)
         |  AND (2 * j + 1) * tot < 2 * $PpsK * c.e
         |GROUP BY 1, 2, 3""".stripMargin,
    // Independent CONSTRUCTION: host/path/param re-derived from the
    // synthesizer's arithmetic — no URL parsing on the oracle side.
    "q92_url_domains" ->
      """WITH u AS (
        |  SELECT
        |    'site' || CAST(event_id % 50 AS VARCHAR) || '.example.com' AS host,
        |    '/p/' || CAST(event_id % 7 AS VARCHAR) || '/item' AS path,
        |    CAST(coalesce(user_id, -1) AS VARCHAR) AS u_param
        |  FROM events
        |)
        |SELECT host, count(*) AS n_events,
        |  CAST(count(DISTINCT u_param) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT path) AS BIGINT) AS n_paths
        |FROM u GROUP BY 1""".stripMargin,
    "q67_pii_redact" -> {
      // RE2-safe patterns, same masking order as the Spark chain.
      val em = EmailRe
      s"""WITH notes AS (
         |  SELECT c_custkey AS cust_id,
         |    'Contact ' || c_name || ' at ' ||
         |    lower(regexp_replace(c_name, '[^A-Za-z0-9]+', '.', 'g')) ||
         |    '@example.com or +1-' ||
         |    lpad(CAST((c_custkey * 7) % 900 + 100 AS VARCHAR), 3, '0') ||
         |    '-555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') ||
         |    ' re: segment ' || c_mktsegment ||
         |    '; id on file 123-45-' ||
         |    lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || '.' AS note
         |  FROM customer
         |)
         |SELECT cust_id,
         |  CAST(len(regexp_extract_all(note, '$em')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(note, '$PhoneRe')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(note, '$PhoneRe', '[PHONE]', 'g'), '$SsnRe')) AS BIGINT) AS n_ssns,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(note, '$em', '[EMAIL]', 'g'),
         |      '$PhoneRe', '[PHONE]', 'g'),
         |    '$SsnRe', '[SSN]', 'g') AS redacted
         |FROM notes""".stripMargin
    },
    "q69_bigram_coverage" ->
      s"""WITH $toksCte, pd AS (
         |  SELECT doc_id, CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) AS gh,
         |    count(*) AS c
         |  FROM (SELECT doc_id, unnest(${gramsSql(2)}) AS g FROM toks)
         |  GROUP BY 1, 2
         |), dfreq AS (
         |  SELECT gh, count(*) AS df_docs FROM pd GROUP BY 1
         |), top AS (
         |  SELECT gh FROM (
         |    SELECT gh, row_number() OVER (ORDER BY df_docs DESC, gh ASC) AS rn
         |    FROM dfreq) WHERE rn <= $CoverageTopK
         |)
         |SELECT p.doc_id,
         |  CAST(sum(p.c) AS BIGINT) AS n_bigrams,
         |  CAST(sum(CASE WHEN t.gh IS NOT NULL THEN p.c ELSE 0 END) AS BIGINT) AS n_covered,
         |  CAST(round(1e6 * CAST(sum(CASE WHEN t.gh IS NOT NULL THEN p.c ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(p.c) AS DOUBLE), 0) AS BIGINT) AS coverage_e6
         |FROM pd p LEFT JOIN top t USING (gh)
         |GROUP BY 1""".stripMargin,
    // Same per-source aggregate; the LOO means restated with the same
    // subtraction identities and guarded divisor.
    "q220_source_ablation" ->
      s"""WITH $toksCte, per AS (
         |  SELECT source, CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
         |    CAST(sum(sh) AS BIGINT) AS ss
         |  FROM (SELECT source, tk,
         |          CAST(list_sum(list_transform(tk,
         |            t -> (CAST('0x' || substr(md5(t), 1, 2) AS BIGINT) * $ClsMix) % $ClsRange))
         |            AS BIGINT) AS sh
         |        FROM toks)
         |  GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(ss) AS BIGINT) AS t_ss,
         |    CAST(sum(n_tokens) AS BIGINT) AS t_tok
         |  FROM per
         |)
         |SELECT source, n_tokens,
         |  (ss * 1000 // n_tokens) - 1000000 AS mean_margin_e3,
         |  ((t_ss - ss) * 1000 // greatest(t_tok - n_tokens, 1)) - 1000000
         |    AS mean_wo_e3,
         |  (((t_ss - ss) * 1000 // greatest(t_tok - n_tokens, 1)) - 1000000)
         |    - ((t_ss * 1000 // t_tok) - 1000000) AS delta_e3
         |FROM per, tot""".stripMargin,
    // Same per-source (tokens, shift-sum) aggregate, same greedy rank
    // order and exact boundary split.
    "q218_quality_knapsack" ->
      s"""WITH $toksCte, per AS (
         |  SELECT source, CAST(sum(len(tk)) AS BIGINT) AS n_tokens,
         |    CAST(sum(sh) AS BIGINT) AS ss
         |  FROM (SELECT source, tk,
         |          CAST(list_sum(list_transform(tk,
         |            t -> (CAST('0x' || substr(md5(t), 1, 2) AS BIGINT) * $ClsMix) % $ClsRange))
         |            AS BIGINT) AS sh
         |        FROM toks)
         |  GROUP BY 1
         |), r AS (
         |  SELECT source, n_tokens,
         |    (ss * 1000 // n_tokens) - 1000000 AS mean_margin_e3,
         |    CAST(row_number() OVER (ORDER BY (ss * 1000 // n_tokens) DESC, source)
         |      AS BIGINT) AS rank,
         |    CAST(sum(n_tokens) OVER (ORDER BY (ss * 1000 // n_tokens) DESC, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum_tokens,
         |    CAST(sum(n_tokens) OVER () AS BIGINT) AS total
         |  FROM per
         |)
         |SELECT source, rank, n_tokens, mean_margin_e3, cum_tokens,
         |  CAST(CASE
         |    WHEN cum_tokens <= total * $KnapsackBudgetPpm // 1000000 THEN 1000000
         |    WHEN cum_tokens - n_tokens >= total * $KnapsackBudgetPpm // 1000000 THEN 0
         |    ELSE ((total * $KnapsackBudgetPpm // 1000000) - (cum_tokens - n_tokens))
         |      * 1000000 // n_tokens END AS BIGINT) AS take_ppm
         |FROM r""".stripMargin,
    // q55's closure (LlmPipeline's shared pair CTEs) + q113's margin,
    // extremes via the two rank windows matching the struct order.
    // q55's recursive closure + the same 1e6 div size weights and
    // source rollup (singletons weigh 1e6 via the left-join coalesce).
    "q243_soft_dedup_weights" ->
      s"""WITH RECURSIVE ${LlmPipeline.minhashPairCtes}, pairs AS (
         |  ${LlmPipeline.minhashPairSelect}
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), walk AS (
         |  SELECT src AS doc_id, src AS lbl FROM edges
         |  UNION
         |  SELECT e.dst AS doc_id, w.lbl FROM walk w
         |  JOIN edges e ON e.src = w.doc_id
         |), comp AS (
         |  SELECT doc_id, min(lbl) AS cluster_id FROM walk GROUP BY doc_id
         |), sz AS (
         |  SELECT doc_id,
         |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS csize
         |  FROM comp
         |), tokc AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tokens
         |  FROM documents
         |), j AS (
         |  SELECT t.source, t.n_tokens, coalesce(s.csize, 1) AS csize
         |  FROM tokc t LEFT JOIN sz s USING (doc_id)
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  CAST(sum(1000000 // csize) AS BIGINT) AS eff_docs_ppm,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_tokens * (1000000 // csize)) AS BIGINT) AS eff_tokens_ppm
         |FROM j GROUP BY 1""".stripMargin,
    "q216_preference_pairs" ->
      s"""WITH RECURSIVE ${LlmPipeline.minhashPairCtes}, pairs AS (
         |  ${LlmPipeline.minhashPairSelect}
         |), edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION
         |  SELECT doc_b AS src, doc_a AS dst FROM pairs
         |), walk AS (
         |  SELECT src AS doc_id, src AS lbl FROM edges
         |  UNION
         |  SELECT e.dst AS doc_id, w.lbl FROM walk w
         |  JOIN edges e ON e.src = w.doc_id
         |), comp AS (
         |  SELECT doc_id, min(lbl) AS cluster_id FROM walk GROUP BY doc_id
         |), marg AS (
         |  SELECT doc_id,
         |    (CAST(sum((CAST('0x' || substr(md5(u.t), 1, 2) AS BIGINT) * $ClsMix) % $ClsRange) AS BIGINT)
         |      * 1000 // count(*)) - 1000000 AS margin_e3
         |  FROM toks, LATERAL unnest(tk) u(t)
         |  GROUP BY doc_id
         |), r AS (
         |  SELECT c.cluster_id, c.doc_id, g.margin_e3,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY g.margin_e3 DESC, c.doc_id DESC) AS rc,
         |    row_number() OVER (PARTITION BY c.cluster_id
         |      ORDER BY g.margin_e3 ASC, c.doc_id ASC) AS rr
         |  FROM comp c JOIN marg g USING (doc_id)
         |)
         |SELECT ch.cluster_id, ch.doc_id AS chosen_id, rj.doc_id AS rejected_id,
         |  ch.margin_e3 AS chosen_margin_e3, rj.margin_e3 AS rejected_margin_e3,
         |  ch.margin_e3 - rj.margin_e3 AS gap_e3
         |FROM (SELECT * FROM r WHERE rc = 1) ch
         |JOIN (SELECT * FROM r WHERE rr = 1) rj USING (cluster_id)
         |WHERE ch.margin_e3 > rj.margin_e3""".stripMargin,
    "q113_quality_classifier" ->
      s"""WITH $toksCte, tok AS (
         |  SELECT doc_id,
         |    (CAST('0x' || substr(md5(u.t), 1, 2) AS BIGINT) * $ClsMix) % $ClsRange AS wshift
         |  FROM toks, LATERAL unnest(tk) u(t)
         |), sc AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(wshift) AS BIGINT) AS sum_shift
         |  FROM tok GROUP BY doc_id
         |)
         |SELECT doc_id, n_tokens,
         |  (sum_shift * 1000 // n_tokens) - 1000000 AS margin_e3,
         |  (sum_shift * 1000 // n_tokens) > 1000000 AS keep
         |FROM sc""".stripMargin,
    // Same distinct (source, gram-hash) relation, same min-source
    // first-seen identity, same running sum over the source order.
    "q205_novelty_curve" ->
      s"""WITH $toksCte, sg AS (
         |  SELECT DISTINCT source, CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) AS gh
         |  FROM (SELECT source, unnest(list_distinct(${gramsSql(ContamN)})) AS g FROM toks)
         |), fo AS (
         |  SELECT source, min(source) OVER (PARTITION BY gh) AS first_src
         |  FROM sg
         |), per AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN source = first_src THEN 1 ELSE 0 END) AS BIGINT)
         |      AS new_grams
         |  FROM fo GROUP BY 1
         |)
         |SELECT source, n_grams, new_grams,
         |  new_grams * 1000000 // n_grams AS novelty_ppm,
         |  CAST(sum(new_grams) OVER (ORDER BY source) AS BIGINT) AS cum_new_grams
         |FROM per""".stripMargin,
    // Same gram relation, same bottom-64 sketches (rank over gh), same
    // union-rank estimate, and q115's exact formula verbatim for the
    // audit column.
    "q223_kmv_overlap" ->
      s"""WITH $toksCte, sg AS (
         |  SELECT DISTINCT source, CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) AS gh
         |  FROM (SELECT source, unnest(list_distinct(${gramsSql(ContamN)})) AS g FROM toks)
         |), sk AS (
         |  SELECT source, gh FROM (
         |    SELECT source, gh, row_number() OVER (PARTITION BY source ORDER BY gh) AS rn FROM sg)
         |  WHERE rn <= $KmvSketchK
         |), sizes AS (
         |  SELECT source, count(*) AS n FROM sg GROUP BY 1
         |), inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         |  FROM sg a JOIN sg b ON a.gh = b.gh AND a.source < b.source
         |  GROUP BY 1, 2
         |), exact AS (
         |  SELECT i.src_a, i.src_b,
         |    CAST(round(1e6 * CAST(i.n_shared AS DOUBLE)
         |      / CAST(sa.n + sb.n - i.n_shared AS DOUBLE), 0) AS BIGINT) AS exact_jaccard_e6
         |  FROM inter i
         |  JOIN sizes sa ON sa.source = i.src_a
         |  JOIN sizes sb ON sb.source = i.src_b
         |), un AS (
         |  SELECT e.src_a, e.src_b, s.gh,
         |    max(CASE WHEN s.source = e.src_a THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN s.source = e.src_b THEN 1 ELSE 0 END) AS in_b
         |  FROM exact e JOIN sk s ON s.source = e.src_a OR s.source = e.src_b
         |  GROUP BY 1, 2, 3
         |), rk AS (
         |  SELECT src_a, src_b, in_a, in_b,
         |    row_number() OVER (PARTITION BY src_a, src_b ORDER BY gh) AS rn
         |  FROM un
         |), est AS (
         |  SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS k_used,
         |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_k
         |  FROM rk WHERE rn <= $KmvSketchK GROUP BY 1, 2
         |)
         |SELECT e.src_a, e.src_b, s.k_used, s.n_shared_k,
         |  s.n_shared_k * 1000000 // s.k_used AS est_jaccard_e6,
         |  e.exact_jaccard_e6,
         |  abs(s.n_shared_k * 1000000 // s.k_used - e.exact_jaccard_e6) AS err_e6
         |FROM est s JOIN exact e USING (src_a, src_b)""".stripMargin,
    // q115's matrix + truncating asymmetric containments and the
    // direction/mirror verdicts.
    "q242_mirror_direction" ->
      s"""WITH $toksCte, sg AS (
         |  SELECT DISTINCT source, CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) AS gh
         |  FROM (SELECT source, unnest(list_distinct(${gramsSql(ContamN)})) AS g FROM toks)
         |), sizes AS (
         |  SELECT source, count(*) AS n FROM sg GROUP BY 1
         |), inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         |  FROM sg a JOIN sg b ON a.gh = b.gh AND a.source < b.source
         |  GROUP BY 1, 2
         |), m AS (
         |  SELECT i.src_a, i.src_b,
         |    CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
         |    CAST(i.n_shared AS BIGINT) AS n_shared,
         |    CAST(i.n_shared AS BIGINT) * 1000000 // sa.n AS cont_a_e6,
         |    CAST(i.n_shared AS BIGINT) * 1000000 // sb.n AS cont_b_e6
         |  FROM inter i
         |  JOIN sizes sa ON sa.source = i.src_a
         |  JOIN sizes sb ON sb.source = i.src_b
         |)
         |SELECT src_a, src_b, n_a, n_b, n_shared, cont_a_e6, cont_b_e6,
         |  CASE WHEN cont_a_e6 > cont_b_e6 THEN 'a_in_b'
         |       WHEN cont_b_e6 > cont_a_e6 THEN 'b_in_a'
         |       ELSE 'balanced' END AS direction,
         |  greatest(cont_a_e6, cont_b_e6) >= $MirrorThresholdE6 AS is_mirror
         |FROM m""".stripMargin,
    "q115_source_overlap" ->
      s"""WITH $toksCte, sg AS (
         |  SELECT DISTINCT source, CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) AS gh
         |  FROM (SELECT source, unnest(list_distinct(${gramsSql(ContamN)})) AS g FROM toks)
         |), sizes AS (
         |  SELECT source, count(*) AS n FROM sg GROUP BY 1
         |), inter AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         |  FROM sg a JOIN sg b ON a.gh = b.gh AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT i.src_a, i.src_b, sa.n AS n_a, sb.n AS n_b, i.n_shared,
         |  CAST(round(1e6 * CAST(i.n_shared AS DOUBLE)
         |    / CAST(sa.n + sb.n - i.n_shared AS DOUBLE), 0) AS BIGINT) AS jaccard_e6
         |FROM inter i
         |JOIN sizes sa ON sa.source = i.src_a
         |JOIN sizes sb ON sb.source = i.src_b""".stripMargin,
    "q70_stride_chunk" ->
      s"""WITH $toksCte, b AS (
         |  SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tok
         |  FROM toks WHERE len(tk) > 0
         |), e AS (
         |  SELECT doc_id, n_tok, tk,
         |    unnest(generate_series(0, greatest(0, n_tok - ${ChunkTokens - ChunkStride} - 1), $ChunkStride)) AS start
         |  FROM b
         |)
         |SELECT doc_id,
         |  CAST(start // $ChunkStride AS BIGINT) AS chunk_id,
         |  CAST(start AS BIGINT) AS tok_begin,
         |  CAST(least(n_tok, start + $ChunkTokens) AS BIGINT) AS tok_end,
         |  array_to_string(tk[start + 1 : least(n_tok, start + $ChunkTokens)], ' ') AS chunk_text
         |FROM e""".stripMargin,
    "q68_temperature_mix" ->
      s"""WITH w AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1000.0, 0) AS BIGINT) AS w1000
         |  FROM documents GROUP BY source
         |), tot AS (
         |  SELECT CAST(sum(w1000) AS BIGINT) AS tot_w FROM w
         |), rates AS (
         |  SELECT source, n_docs,
         |    least(65536, CAST(round(65536.0 * CAST(w1000 * $MixTargetDocs AS DOUBLE)
         |      / CAST(tot_w AS DOUBLE) / CAST(n_docs AS DOUBLE), 0) AS BIGINT)) AS rate_b16
         |  FROM w CROSS JOIN tot
         |)
         |SELECT d.doc_id, d.source, r.n_docs, r.rate_b16
         |FROM documents d JOIN rates r ON d.source = r.source
         |WHERE ${hash16Sql("tempmix", "d.doc_id")} < r.rate_b16""".stripMargin,
    // Independent restatement of the same content-defined boundaries:
    // per-position unnest + window lag (the Spark side instead stays
    // in-row over array HoFs — no per-position rows ever materialize).
    "q109_cdc_chunk_dedup" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, text, len(text) AS n
         |  FROM documents WHERE len(text) > 0
         |), pos AS (
         |  SELECT doc_id, source, text,
         |    unnest(range($CdcW, n + 1)) AS i
         |  FROM d
         |), cuts AS (
         |  SELECT doc_id, source, text, CAST(i AS BIGINT) AS e
         |  FROM pos
         |  WHERE CAST('0x' || substr(md5(substr(text, CAST(i AS INT) - ${CdcW - 1}, $CdcW)), 1, 10)
         |    AS BIGINT) % $CdcDiv = 0
         |  UNION
         |  SELECT doc_id, source, text, CAST(n AS BIGINT) FROM d
         |), spans AS (
         |  SELECT doc_id, source,
         |    md5(substr(text,
         |      CAST(coalesce(lag(e) OVER w, 0) + 1 AS INT),
         |      CAST(e - coalesce(lag(e) OVER w, 0) AS INT))) AS h,
         |    e - coalesce(lag(e) OVER w, 0) AS ch_len
         |  FROM cuts
         |  WINDOW w AS (PARTITION BY doc_id ORDER BY e)
         |), f AS (
         |  SELECT h, count(*) AS occ FROM spans GROUP BY 1
         |)
         |SELECT source,
         |  count(*) AS n_chunks,
         |  CAST(count(DISTINCT s.h) AS BIGINT) AS n_distinct_chunks,
         |  CAST(sum(ch_len) AS BIGINT) AS chunk_chars,
         |  CAST(sum(CASE WHEN occ >= 2 THEN ch_len ELSE 0 END) AS BIGINT) AS dup_chars,
         |  CAST(round(1e6 * CAST(sum(CASE WHEN occ >= 2 THEN ch_len ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(ch_len) AS DOUBLE), 0) AS BIGINT) AS dup_char_frac_e6
         |FROM spans s JOIN f USING (h)
         |GROUP BY source""".stripMargin,
    "q59_chunk_dedup" ->
      s"""WITH ch AS (
         |  SELECT doc_id, md5(c) AS ch, CAST(len(c) AS BIGINT) AS ch_len
         |  FROM (
         |    SELECT doc_id,
         |      unnest([substr(text, i * $ChunkChars + 1, $ChunkChars)
         |              for i in range(0, CAST((len(text) + ${ChunkChars - 1}) // $ChunkChars AS INT))]) AS c
         |    FROM documents)
         |), f AS (
         |  SELECT ch, count(DISTINCT doc_id) AS docs FROM ch GROUP BY 1
         |)
         |SELECT c.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
         |  CAST(sum(CASE WHEN docs < 2 THEN ch_len ELSE 0 END) AS BIGINT) AS kept_chars,
         |  CAST(round(1e6 * CAST(sum(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 0) AS BIGINT) AS dup_span_frac_e6
         |FROM ch c JOIN f USING (ch)
         |GROUP BY 1""".stripMargin,
    "q53_exact_k_sample" ->
      s"""WITH h AS (
         |  SELECT lang, doc_id, ${hash16Sql("evalk", "doc_id")} AS samp_h
         |  FROM documents
         |), r AS (
         |  SELECT lang, doc_id, samp_h,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY samp_h, doc_id) AS BIGINT) AS rank
         |  FROM h
         |)
         |SELECT lang, doc_id, samp_h, rank FROM r WHERE rank <= $SampleK""".stripMargin,
    "q56_sequence_pack" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |    CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_tok,
         |    md5('seqpack' || CAST(doc_id AS VARCHAR)) AS hk
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, lang, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY hk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |  FROM b WHERE n_tok > 0
         |), e AS (
         |  SELECT doc_id, lang, n_tok, cum - n_tok AS tok_off,
         |    unnest(generate_series((cum - n_tok) // $SeqLen, (cum - 1) // $SeqLen)) AS seq_id
         |  FROM c
         |)
         |SELECT doc_id, lang, CAST(seq_id AS BIGINT) AS seq_id,
         |  CAST(greatest(0, seq_id * $SeqLen - tok_off) AS BIGINT) AS tok_begin,
         |  CAST(least(n_tok, (seq_id + 1) * $SeqLen - tok_off) AS BIGINT) AS tok_end
         |FROM e""".stripMargin,
    "q46_repetition_stats" ->
      s"""WITH $toksCte, m AS (
         |  SELECT doc_id, len(tk) AS n_tokens, len(list_distinct(tk)) AS n_uniq,
         |    greatest(len(tk) - 1, 0) AS n_2grams,
         |    len(list_distinct(${gramsSql(2)})) AS n_uniq_2grams
         |  FROM toks
         |), cnt AS (
         |  SELECT doc_id, tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks) GROUP BY 1, 2
         |), top AS (
         |  SELECT doc_id, max(c) AS top_token_cnt FROM cnt GROUP BY 1
         |)
         |SELECT m.doc_id, n_tokens, n_uniq, n_2grams, n_uniq_2grams, top_token_cnt,
         |  CAST(round(1e6 * CAST(n_tokens - n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0) AS BIGINT) AS dup_token_frac_e6,
         |  CASE WHEN n_2grams > 0 THEN CAST(round(1e6 * CAST(n_2grams - n_uniq_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE), 0) AS BIGINT) ELSE 0 END AS dup_2gram_frac_e6,
         |  CAST(round(1e6 * CAST(top_token_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0) AS BIGINT) AS top_token_frac_e6,
         |  (CAST(round(1e6 * CAST(n_tokens - n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0) AS BIGINT) > 600000
         |   OR (CASE WHEN n_2grams > 0 THEN CAST(round(1e6 * CAST(n_2grams - n_uniq_2grams AS DOUBLE) / CAST(n_2grams AS DOUBLE), 0) AS BIGINT) ELSE 0 END) > 50000
         |   OR (n_tokens >= 10 AND CAST(round(1e6 * CAST(top_token_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE), 0) AS BIGINT) > 130000)) AS is_repetitive
         |FROM m JOIN top ON m.doc_id = top.doc_id""".stripMargin,
    "q47_decontaminate" -> decontamOracleSql,
    // Same per-source token sums, same ascending boundary scan and
    // first-infeasible-row level pick (min_by over rn), same
    // truncating allocation math; the engine's driver-hosted scalars
    // (B, S, cap) are recomputed as CTEs here.
    // Same (lang, source) cells, same exact inverse-Simpson integers.
    "q197_mix_diversity" ->
      s"""WITH cells AS (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
         |  FROM documents GROUP BY 1, 2
         |), agg AS (
         |  SELECT lang, CAST(sum(n) AS BIGINT) AS n_docs,
         |    CAST(count(*) AS BIGINT) AS n_sources,
         |    CAST(sum(n * n) AS BIGINT) AS sumsq,
         |    CAST(max(n) AS BIGINT) AS top_n
         |  FROM cells GROUP BY 1
         |)
         |SELECT lang, n_docs, n_sources,
         |  n_docs * n_docs * 1000 // sumsq AS eff_sources_e3,
         |  top_n * 1000000 // n_docs AS top_source_ppm
         |FROM agg""".stripMargin,
    // Same tokenizer, same (count desc, token asc) deterministic rank,
    // same head cutoffs and truncating ppm ratios.
    "q190_vocab_concentration" ->
      s"""WITH tf AS (
         |  SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT source,
         |      unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
         |    FROM documents)
         |  WHERE len(tok) > 0 GROUP BY 1, 2
         |), ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY cnt DESC, tok ASC) AS BIGINT) AS rnk
         |  FROM tf
         |), agg AS (
         |  SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS vocab,
         |    CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
         |    CAST(sum(CASE WHEN rnk <= 1 THEN cnt ELSE 0 END) AS BIGINT) AS top1,
         |    CAST(sum(CASE WHEN rnk <= 10 THEN cnt ELSE 0 END) AS BIGINT) AS top10,
         |    CAST(sum(CASE WHEN rnk <= 100 THEN cnt ELSE 0 END) AS BIGINT) AS top100
         |  FROM ranked GROUP BY 1
         |)
         |SELECT source, n_tokens, vocab,
         |  vocab * 1000000 // n_tokens AS ttr_ppm,
         |  top1 * 1000000 // n_tokens AS top1_ppm,
         |  top10 * 1000000 // n_tokens AS top10_ppm,
         |  top100 * 1000000 // n_tokens AS top100_ppm,
         |  hapax * 1000000 // n_tokens AS hapax_tok_ppm,
         |  hapax * 1000000 // vocab AS hapax_vocab_ppm
         |FROM agg""".stripMargin,
    // Same tokenizer, same per-L conditional sums, same ceil-division
    // ⌈Σt/L⌉ packing identity and truncating ppm; the engine's stack
    // unpivot is restated as UNION ALL rows over the 1-row aggregate.
    "q192_context_sweep" -> {
      val perL = CtxLengths.map { l =>
        s"""SELECT CAST($l AS BIGINT) AS ctx_len, n_docs, n_tokens, fit$l AS fit_docs,
           |  n_docs - fit$l AS cut_docs, trunc$l AS trunc_tokens,
           |  trunc$l * 1000000 // n_tokens AS trunc_ppm,
           |  pad$l AS pad_tokens,
           |  pad$l * 1000000 // (n_docs * $l) AS pad_waste_ppm,
           |  (n_tokens + $l - 1) // $l AS packed_seqs,
           |  (((n_tokens + $l - 1) // $l) * $l - n_tokens) * 1000000
           |    // (((n_tokens + $l - 1) // $l) * $l) AS pack_waste_ppm
           |FROM agg""".stripMargin
      }.mkString("\nUNION ALL\n")
      val sums = CtxLengths.map { l =>
        s"""CAST(sum(CASE WHEN t <= $l THEN 1 ELSE 0 END) AS BIGINT) AS fit$l,
           |    CAST(sum(CASE WHEN t > $l THEN t - $l ELSE 0 END) AS BIGINT) AS trunc$l,
           |    CAST(sum($l - least(t, $l)) AS BIGINT) AS pad$l""".stripMargin
      }.mkString(",\n    ")
      s"""WITH toks AS (
         |  SELECT CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS t
         |  FROM documents
         |), agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(t) AS BIGINT) AS n_tokens,
         |    $sums
         |  FROM toks
         |)
         |$perL""".stripMargin
    },
    // Same tokenizer, same next-multiple-of-64 bucket, same truncating
    // ppm; the engine's empty-partition window max is restated here as
    // a 1-row CTE joined back (values identical either way).
    "q189_padding_audit" ->
      s"""WITH toks AS (
         |  SELECT CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS t
         |  FROM documents
         |), buckets AS (
         |  SELECT ((t - 1) // $PadBucket) * $PadBucket + $PadBucket AS bucket_len,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(t) AS BIGINT) AS n_tokens
         |  FROM toks GROUP BY 1
         |), mx AS (
         |  SELECT CAST(max(bucket_len) AS BIGINT) AS max_bucket FROM buckets
         |)
         |SELECT bucket_len, n_docs, n_tokens,
         |  n_docs * bucket_len AS capacity,
         |  (n_docs * bucket_len - n_tokens) * 1000000
         |    // (n_docs * bucket_len) AS pad_ppm,
         |  (n_docs * max_bucket - n_tokens) * 1000000
         |    // (n_docs * max_bucket) AS naive_pad_ppm
         |FROM buckets, mx""".stripMargin,
    "q184_token_waterfill" ->
      s"""WITH per AS (
         |  SELECT source,
         |    CAST(sum(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1
         |), tot AS (
         |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
         |    CAST(count(*) AS BIGINT) AS s
         |  FROM per
         |), lv AS (
         |  SELECT p.n_tokens,
         |    CAST(row_number() OVER (ORDER BY p.n_tokens ASC, p.source ASC)
         |      AS BIGINT) AS rn,
         |    CAST(coalesce(sum(p.n_tokens) OVER (
         |      ORDER BY p.n_tokens ASC, p.source ASC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS pk,
         |    t.total, t.s
         |  FROM per p CROSS JOIN tot t
         |), cap AS (
         |  SELECT coalesce(
         |    (SELECT min_by(ck, rn) FROM (
         |       SELECT rn, n_tokens,
         |         ((total // $WaterfillBudgetDen) - pk) // (s - (rn - 1)) AS ck
         |       FROM lv) WHERE ck < n_tokens),
         |    (SELECT total FROM tot)) AS cap
         |)
         |SELECT p.source, p.n_tokens,
         |  least(p.n_tokens, c.cap) AS alloc_tokens,
         |  p.n_tokens > c.cap AS is_capped,
         |  c.cap AS water_level,
         |  least(p.n_tokens, c.cap) * 1000000 // t.total AS alloc_share_ppm
         |FROM per p CROSS JOIN cap c CROSS JOIN tot t""".stripMargin,
    // Same in-row token length (len of the same split), strlen for
    // UTF-8 bytes (DuckDB's byte-length of VARCHAR, = Spark's
    // octet_length), same e3 floor-division ratios.
    "q176_token_fertility" ->
      s"""WITH base AS (
         |  SELECT lang,
         |    len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS toks,
         |    n_chars, strlen(text) AS bytes
         |  FROM documents
         |), agg AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(toks) AS BIGINT) AS n_tokens,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |    CAST(sum(bytes) AS BIGINT) AS n_bytes
         |  FROM base GROUP BY 1
         |)
         |SELECT lang, n_docs, n_tokens, n_chars, n_bytes,
         |  n_chars * 1000 // n_tokens AS chars_per_token_e3,
         |  n_bytes * 1000 // n_chars AS bytes_per_char_e3,
         |  n_tokens * 1000 // n_docs AS tokens_per_doc_e3
         |FROM agg""".stripMargin,
    // Same three aggregates + plurality window + integer ratios.
    "q172_source_datacard" ->
      s"""WITH base AS (
         |  SELECT source, lang, n_chars, md5(text) AS h FROM documents
         |), spine AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |    CAST(sum(CASE WHEN n_chars < $CardShortChars THEN 1 ELSE 0 END)
         |      AS BIGINT) AS short_docs,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |  FROM base GROUP BY 1
         |), dups AS (
         |  SELECT source, CAST(sum(c - 1) AS BIGINT) AS dup_docs FROM (
         |    SELECT source, h, count(*) AS c FROM base GROUP BY 1, 2)
         |  GROUP BY 1
         |), top_lang AS (
         |  SELECT source, lang AS top_lang, CAST(c AS BIGINT) AS top_lang_docs
         |  FROM (
         |    SELECT source, lang, count(*) AS c,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY count(*) DESC, lang) AS rk
         |    FROM base GROUP BY source, lang)
         |  WHERE rk = 1
         |)
         |SELECT s.source, s.n_docs, s.sum_chars,
         |  CAST(s.sum_chars // s.n_docs AS BIGINT) AS mean_chars,
         |  CAST(s.short_docs * 1000000 // s.n_docs AS BIGINT) AS short_ppm,
         |  s.n_langs, t.top_lang,
         |  CAST(t.top_lang_docs * 1000000 // s.n_docs AS BIGINT) AS top_lang_ppm,
         |  d.dup_docs,
         |  CAST(d.dup_docs * 1000000 // s.n_docs AS BIGINT) AS dup_ppm
         |FROM spine s JOIN dups d USING (source) JOIN top_lang t USING (source)""".stripMargin,
    // Same gram relation as q47; per-TEST-doc coverage via the same
    // 1:<=1 left join against the distinct train-gram set.
    "q171_memorization_scan" ->
      s"""WITH $toksCte, grams AS (
         |  SELECT doc_id, $splitBucketSql AS b,
         |    CAST('0x' || substr(md5(g), 1, 12) AS BIGINT) AS gh
         |  FROM (SELECT doc_id, unnest(list_distinct(${gramsSql(ContamN)})) AS g FROM toks)
         |), train_g AS (
         |  SELECT DISTINCT gh FROM grams WHERE b < 8
         |)
         |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN t.gh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN t.gh IS NULL THEN 0 ELSE 1 END) * 1000000
         |    // count(*) AS BIGINT) AS memorized_ppm
         |FROM (SELECT doc_id, gh FROM grams WHERE b = 9) g
         |LEFT JOIN train_g t ON g.gh = t.gh
         |GROUP BY 1""".stripMargin,
    // q107: the bloom only PRUNES the train side ahead of the exact
    // join (false positives are removed by it), so the relation — and
    // therefore the oracle — is exactly q47's
    "q107_bloom_decontaminate" -> decontamOracleSql,
    "q48_incremental_dedup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
        |    CAST(substr(source, 4) AS INT) AS si
        |  FROM documents
        |)
        |SELECT doc_id, content_hash FROM h
        |WHERE si >= 10
        |  AND content_hash NOT IN (SELECT content_hash FROM h WHERE si < 10)""".stripMargin,
    "q265_state_migration" ->
      s"""WITH h AS (
         |  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
         |    CAST(substr(source, 4) AS INT) AS si
         |  FROM documents
         |), state AS (
         |  SELECT DISTINCT content_hash FROM h WHERE si < 10
         |), keyed AS (
         |  SELECT 'm' AS origin, content_hash FROM state
         |  UNION ALL
         |  SELECT 'i', content_hash FROM (
         |    SELECT DISTINCT content_hash FROM h WHERE si >= 10
         |  ) WHERE content_hash NOT IN (SELECT content_hash FROM state)
         |), routed AS (
         |  SELECT origin,
         |    CASE WHEN origin = 'm'
         |      THEN ${hash16Sql("dedupshard", "content_hash")} % $MigOldBuckets
         |    END AS bucket_old,
         |    ${hash16Sql("dedupshard", "content_hash")} % $MigNewBuckets AS bucket_new,
         |    CAST('0x' || substr(content_hash, 1, 12) AS BIGINT) AS h48
         |  FROM keyed
         |)
         |SELECT origin, bucket_old, bucket_new,
         |  CAST(count(*) AS BIGINT) AS n_entries,
         |  CAST(bit_xor(h48) AS BIGINT) AS fp48
         |FROM routed GROUP BY 1, 2, 3""".stripMargin,
    "q266_reshard_policy" ->
      s"""WITH h AS (
         |  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
         |    CAST(substr(source, 4) AS INT) AS si
         |  FROM documents
         |), keys AS (
         |  SELECT content_hash,
         |    CAST('0x' || substr(content_hash, 1, 12) AS BIGINT) AS h48
         |  FROM (SELECT DISTINCT content_hash FROM h WHERE si < 10)
         |), ringall AS (
         |  SELECT CAST('0x' || substr(md5('ring#' || CAST(rb.range AS VARCHAR)
         |    || '#' || CAST(rv.range AS VARCHAR)), 1, 12) AS BIGINT) * 64
         |    + rb.range AS e
         |  FROM range(24) rb, range($RingVnodes) rv
         |), ring16 AS (SELECT e FROM ringall WHERE e % 64 < 16
         |), ring24 AS (SELECT e FROM ringall
         |), ring17 AS (SELECT e FROM ringall WHERE e % 64 < 17
         |), a16 AS (
         |  SELECT k.content_hash,
         |    coalesce(min(e) FILTER (WHERE e >= k.h48 * 64), min(e)) % 64 AS b
         |  FROM keys k CROSS JOIN ring16 GROUP BY 1, k.h48
         |), a24 AS (
         |  SELECT k.content_hash,
         |    coalesce(min(e) FILTER (WHERE e >= k.h48 * 64), min(e)) % 64 AS b
         |  FROM keys k CROSS JOIN ring24 GROUP BY 1, k.h48
         |), a17 AS (
         |  SELECT k.content_hash,
         |    coalesce(min(e) FILTER (WHERE e >= k.h48 * 64), min(e)) % 64 AS b
         |  FROM keys k CROSS JOIN ring17 GROUP BY 1, k.h48
         |), tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         |    CAST(sum(CASE WHEN k.h48 % 16 <> k.h48 % 24 THEN 1 ELSE 0 END) AS BIGINT) AS m_mod24,
         |    CAST(sum(CASE WHEN k.h48 % 16 <> k.h48 % 17 THEN 1 ELSE 0 END) AS BIGINT) AS m_mod17,
         |    CAST(sum(CASE WHEN a16.b <> a24.b THEN 1 ELSE 0 END) AS BIGINT) AS m_ring24,
         |    CAST(sum(CASE WHEN a16.b <> a17.b THEN 1 ELSE 0 END) AS BIGINT) AS m_ring17
         |  FROM keys k
         |  JOIN a16 USING (content_hash)
         |  JOIN a24 USING (content_hash)
         |  JOIN a17 USING (content_hash)
         |), rows4 AS (
         |  SELECT 'modulo' AS policy, CAST(24 AS BIGINT) AS n_new_buckets,
         |    n_keys, m_mod24 AS n_moved FROM tot
         |  UNION ALL SELECT 'modulo', 17, n_keys, m_mod17 FROM tot
         |  UNION ALL SELECT 'ring', 24, n_keys, m_ring24 FROM tot
         |  UNION ALL SELECT 'ring', 17, n_keys, m_ring17 FROM tot
         |)
         |SELECT policy, n_new_buckets, n_keys, n_moved,
         |  CAST(n_moved * 1000000 // greatest(n_keys, 1) AS BIGINT) AS moved_ppm
         |FROM rows4""".stripMargin,
    "q267_ring_balance" ->
      s"""WITH h AS (
         |  SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
         |    CAST(substr(source, 4) AS INT) AS si
         |  FROM documents
         |), keys AS (
         |  SELECT content_hash,
         |    CAST('0x' || substr(content_hash, 1, 12) AS BIGINT) AS h48
         |  FROM (SELECT DISTINCT content_hash FROM h WHERE si < 10)
         |), pts AS (
         |  SELECT rb.range AS bkt, rv.range AS v,
         |    CAST('0x' || substr(md5('ring#' || CAST(rb.range AS VARCHAR)
         |      || '#' || CAST(rv.range AS VARCHAR)), 1, 12) AS BIGINT) AS pt
         |  FROM range(24) rb, range(64) rv
         |), ring AS (
         |  SELECT CAST(8 AS BIGINT) AS cfg, bkt, pt FROM pts WHERE v < 8
         |  UNION ALL
         |  SELECT CAST(64 AS BIGINT), bkt, pt FROM pts
         |), arcs AS (
         |  SELECT cfg, bkt,
         |    CASE WHEN lag(pt) OVER w IS NULL
         |      THEN pt + ${1L << 48} - max(pt) OVER (PARTITION BY cfg)
         |      ELSE pt - lag(pt) OVER w END AS arc
         |  FROM ring WINDOW w AS (PARTITION BY cfg ORDER BY pt)
         |), arcagg AS (
         |  SELECT cfg, bkt, CAST(count(*) AS BIGINT) AS n_points,
         |    CAST(sum(arc) AS BIGINT) AS arc_sum
         |  FROM arcs GROUP BY 1, 2
         |), ring_e AS (
         |  SELECT cfg, pt * 64 + bkt AS e FROM ring
         |), asg AS (
         |  SELECT r.cfg, k.content_hash,
         |    coalesce(min(r.e) FILTER (WHERE r.e >= k.h48 * 64), min(r.e)) % 64 AS bkt
         |  FROM keys k CROSS JOIN ring_e r GROUP BY 1, 2, k.h48
         |), obs AS (
         |  SELECT cfg, bkt, CAST(count(*) AS BIGINT) AS n_keys
         |  FROM asg GROUP BY 1, 2
         |)
         |SELECT a.cfg, a.bkt, a.n_points,
         |  CAST(a.arc_sum // $ArcPpmDiv AS BIGINT) AS arc_ppm,
         |  CAST(coalesce(o.n_keys, 0) AS BIGINT) AS n_keys
         |FROM arcagg a LEFT JOIN obs o ON a.cfg = o.cfg AND a.bkt = o.bkt""".stripMargin,
    "q49_stratified_sample" ->
      s"""SELECT doc_id, lang,
         |  CAST(100000000 / (CASE WHEN lang = 'en' THEN 20 ELSE 50 END) AS BIGINT) AS weight_e6
         |FROM documents
         |WHERE ${hash16Sql("samp", "doc_id")} % 100 <
         |  (CASE WHEN lang = 'en' THEN 20 ELSE 50 END)""".stripMargin,
    "q50_token_shards" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, n_chars,
         |    md5('shard' || CAST(doc_id AS VARCHAR)) AS hk
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, lang, n_chars,
         |    CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY hk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
         |  FROM h
         |)
         |SELECT doc_id, lang, cum_chars,
         |  CAST(floor(CAST(cum_chars - n_chars AS DOUBLE) / $ShardBudgetChars.0) AS BIGINT) AS shard
         |FROM c""".stripMargin,
    // q50's window restated once, the same 3-budget expansion, and
    // q227's rollup/ratio math per (budget, lang).
    "q236_shard_budget_sweep" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, n_chars,
         |    md5('shard' || CAST(doc_id AS VARCHAR)) AS hk
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, lang, n_chars,
         |    CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY hk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
         |  FROM h
         |), a AS (
         |  SELECT lang, n_chars,
         |    b.b AS budget_chars,
         |    (cum_chars - n_chars) // b.b AS shard
         |  FROM c, (SELECT unnest([${ShardBudgetSweep.mkString(", ")}]) AS b) b
         |), loads AS (
         |  SELECT budget_chars, lang, shard, CAST(sum(n_chars) AS BIGINT) AS load_chars
         |  FROM a GROUP BY 1, 2, 3
         |), summ AS (
         |  SELECT budget_chars, lang, CAST(count(*) AS BIGINT) AS n_shards,
         |    CAST(sum(load_chars) AS BIGINT) AS total_chars,
         |    CAST(max(load_chars) AS BIGINT) AS max_load
         |  FROM loads GROUP BY 1, 2
         |)
         |SELECT CAST(budget_chars AS BIGINT) AS budget_chars, lang, n_shards,
         |  total_chars, max_load,
         |  max_load * 1000000 // (total_chars // n_shards) AS imbalance_ppm,
         |  max_load * 1000000 // ((total_chars + n_shards - 1) // n_shards) AS makespan_ppm
         |FROM summ""".stripMargin,
    // q50's window restated, then the same two rollups and truncating
    // ratio math.
    "q227_shard_balance" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, n_chars,
         |    md5('shard' || CAST(doc_id AS VARCHAR)) AS hk
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, lang, n_chars,
         |    CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY hk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
         |  FROM h
         |), a AS (
         |  SELECT doc_id, lang, n_chars,
         |    CAST(floor(CAST(cum_chars - n_chars AS DOUBLE) / $ShardBudgetChars.0) AS BIGINT) AS shard
         |  FROM c
         |), loads AS (
         |  SELECT lang, shard, CAST(sum(n_chars) AS BIGINT) AS load_chars
         |  FROM a GROUP BY 1, 2
         |), summ AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_shards,
         |    CAST(sum(load_chars) AS BIGINT) AS total_chars,
         |    CAST(min(load_chars) AS BIGINT) AS min_load,
         |    CAST(max(load_chars) AS BIGINT) AS max_load
         |  FROM loads GROUP BY 1
         |)
         |SELECT lang, n_shards, total_chars, min_load, max_load,
         |  total_chars // n_shards AS mean_load,
         |  max_load * 1000000 // (total_chars // n_shards) AS imbalance_ppm,
         |  (total_chars + n_shards - 1) // n_shards AS ideal_makespan,
         |  max_load * 1000000 // ((total_chars + n_shards - 1) // n_shards) AS makespan_ppm
         |FROM summ""".stripMargin,
    "q51_mix_pivot" -> {
      val cells = (0 to 3).map { g =>
        s"count(*) FILTER (WHERE si % 4 = $g) AS g${g}_cnt, " +
          s"CAST(coalesce(sum(n_chars) FILTER (WHERE si % 4 = $g), 0) AS BIGINT) AS g${g}_chars"
      }.mkString(",\n  ")
      s"""SELECT lang,
         |  $cells
         |FROM (SELECT lang, CAST(substr(source, 4) AS INT) AS si, n_chars FROM documents)
         |GROUP BY lang""".stripMargin
    },
    "q52_corpus_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${hash16Sql("mix", "doc_id")} % $MixShards AS shard,
         |    md5('ord' || CAST(doc_id AS VARCHAR)) AS ok
         |  FROM documents
         |)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id) AS BIGINT) AS pos
         |FROM h""".stripMargin)
}
