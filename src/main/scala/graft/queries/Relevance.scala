package graft.queries

import graft.Tables
import graft.functions.VectorFunctions.quantE4
import graft.ops.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranked-retrieval relevance scoring over the document corpus:
  * per-document TF-IDF keyword extraction (q60) and BM25-style query
  * scoring (q61). These are the indexing-side primitives a
  * training-data pipeline uses for topic tagging, source triage, and
  * retrieval-based eval-set construction.
  *
  * Scale design:
  *  - Both queries aggregate to the (doc, term) level FIRST — one
  *    partial-combined shuffle of fixed-width (doc_id, token) counts;
  *    raw text never shuffles.
  *  - Document frequency is a second partial-combined aggregate over
  *    the already-deduplicated (doc, term) rows, joined back BY TERM —
  *    a keyed equi-join whose build side is the vocabulary (Zipf-small
  *    relative to the corpus; AQE broadcasts it when it fits).
  *  - All scores are integer math (floor-division idf, e6 rounding at
  *    the very end) so ranking ties and hash comparisons are
  *    bit-identical across engines — no `ln()` whose libm rounding
  *    could differ between JVM and DuckDB.
  *  - The corpus size N is a driver-hosted scalar (same pattern as the
  *    q57 centroids / q14 watermark): one count() action, then a
  *    literal in the plan — not a 1-row cross join in the hot path.
  *
  * Reference anchor: the reference has no text-relevance surface;
  * SURVEY §7.5(b) north-star extension.
  */
object Relevance {
  private type Q = (SparkSession, String) => DataFrame

  // -- q60: per-document TF-IDF keywords -----------------------------

  private val TopTerms = 3

  /** Top-3 TF-IDF terms per document. idf_e6 = (1e6 * N) div df —
    * integer floor division (monotone in N/df, so ranking matches the
    * usual log formulation for equal tf) — and score = tf * idf_e6.
    * The per-doc top-k runs as one Window over rows that are already
    * one-per-(doc, distinct term), totally ordered by
    * (score desc, term asc). */
  val q60TfidfTerms: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val nDocs = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf_e6").desc, col("tok").asc)
    tf.join(df, "tok")
      .withColumn("idf_e6", expr(s"(${1000000L * nDocs}L div df)"))
      .withColumn("tfidf_e6", col("tf") * col("idf_e6"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopTerms)
      .select("doc_id", "tok", "tf", "df", "tfidf_e6", "rank")
  }

  // -- q61: BM25-style query scoring ---------------------------------

  private val BmQuery = Seq("spark", "query", "join")
  private val BmK1E3 = 1200L // k1 = 1.2
  private val BmBE3 = 750L // b = 0.75

  /** BM25 retrieval for a fixed 3-term query: classic Robertson
    * saturation tf * idf with length normalization, every factor an
    * e3/e6-scaled integer ratio so both engines agree bit-for-bit
    * (idf uses the raw (N - df + 0.5)/(df + 0.5) odds WITHOUT the log
    * — same sign and ranking behavior, no libm). Docs scoring 0 (no
    * query term) are dropped. avgdl is corpus-global, carried as a
    * second driver scalar. Output is one row per matching doc with
    * the total score and per-term contributions summed. */
  val q61Bm25Search: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val nDocs = docs.count()
    val tf = docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"),
        explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(BmQuery: _*))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val avgDlE3 = docs
      .select(size(tokens(col("text"))).cast("long").as("dl"))
      .agg(expr("(1000L * sum(dl)) div count(1)"))
      .head() match { // div by count(1)=0 is NULL on an empty corpus
        case r if r.isNullAt(0) => 1L; case r => r.getLong(0) }
    // idf_e6 = 1e6 * (N - df + 0.5) / (df + 0.5)  (integer: ×2 both sides)
    val idfE6 = expr(s"((${2 * nDocs}L - 2L*df + 1L) * 1000000L) div (2L*df + 1L)")
    // norm_e3 = k1 * ((1-b) + b * dl/avgdl), all e3-scaled
    val normE3 = expr(
      s"($BmK1E3 * ((1000 - $BmBE3) + ($BmBE3 * 1000L * dl) div $avgDlE3)) div 1000")
    // term score_e6 = idf_e6 * tf * (k1+1) / (tf + norm/1000)  (e3 lifted)
    val scoreE6 = expr(
      s"(idf_e6 * tf * (${BmK1E3 + 1000L})) div (tf * 1000L + norm_e3)")
    tf.join(df, "tok")
      .withColumn("idf_e6", idfE6)
      .withColumn("norm_e3", normE3)
      .withColumn("term_score_e6", scoreE6)
      .groupBy("doc_id")
      .agg(sum("term_score_e6").as("bm25_e6"),
        count(lit(1)).as("n_query_terms"),
        first("dl").as("dl"))
  }

  // -- q124: PMI collocation mining ----------------------------------

  private val PmiMinCount = 5
  private val PmiTopK = 50

  /** COLLOCATION EXTRACTION: the corpus's top-50 bigrams by pointwise
    * mutual information — the phrase-mining primitive behind tokenizer
    * vocabulary construction and stop-phrase lists, ranking bigrams by
    * how much MORE often the words co-occur than independence predicts
    * (q44 ranks raw document frequency; PMI surfaces "new york", not
    * "of the"). The log in PMI is monotone, so ranking by the raw
    * lift ratio needs no libm: lift_e3 = 1000·n_ab·T² / (B·n_a·n_b),
    * all integer with nested floor division — both engines run the
    * SAME division sequence, so ties and hashes are bit-equal. The
    * magnitude bound: n_ab·T ≤ T² ≈ 6×10¹² at sf0.1 and the running
    * product never exceeds n_ab·T·1000 < 2⁶³ for corpora below ~10¹²
    * tokens per partition-local vocabulary (declared limit).
    *
    * Plan: tokens collapse to (w1, w2) counts in one partial-combined
    * shuffle (adjacent pairs are built IN-ROW by zipping the token
    * array with its own tail — no positional explode + self-join);
    * unigram counts join back BY WORD (vocabulary-sized, AQE
    * broadcasts); T and B are driver-hosted scalars (q61 convention);
    * the final top-50 lowers to TakeOrderedAndProject. */
  val q124PmiCollocations: Q = (s, d) => {
    val base = Tables.documents(s, d)
      .select(tokens(col("text")).as("tk0"))
      .select(expr("filter(tk0, t -> length(t) > 0)").as("tk"))
      .transform(graft.ops.SharedCache.persist) // unigram + bigram branches
    val uni = base.select(explode(col("tk")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
      .transform(graft.ops.SharedCache.persist) // totals scalar + two joins
    val nTokens = uni.agg(sum(col("n_w"))).head() match { // null-safe: empty corpus
      case r if r.isNullAt(0) => 0L; case r => r.getLong(0) }
    val bi = base.select(explode(expr(
        """filter(zip_with(tk, slice(tk, 2, greatest(size(tk) - 1, 0)),
          |  (a, b) -> struct(a AS w1, b AS w2)), p -> p.w2 IS NOT NULL)"""
          .stripMargin)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .transform(graft.ops.SharedCache.persist) // totals scalar + scoring
    val nBigrams = bi.agg(sum(col("n_ab"))).head() match { // null-safe: empty corpus
      case r if r.isNullAt(0) => 0L; case r => r.getLong(0) }
    bi.filter(col("n_ab") >= PmiMinCount)
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_b")), "w2")
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        expr(s"(((((n_ab * ${nTokens}L) div n_a) * ${nTokens}L) div n_b)" +
          s" * 1000L) div ${nBigrams}L").as("lift_e3"))
      .orderBy(col("lift_e3").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  // -- q168: reciprocal-rank-fusion hybrid retrieval ------------------

  private val RrfK = 60L // the standard RRF damping constant
  private val RrfTopN = 20

  /** The fusion step alone, spec-testable on hand-built rank lists:
    * RRF(d) = Σ_legs 1e6 div (k + rank_leg(d)), absent legs contribute
    * 0 — the score that makes two incomparable score scales (BM25 vs
    * cosine) combinable using only their rankings. */
  private[graft] def rrfFuse(lex: DataFrame, sem: DataFrame): DataFrame =
    lex.join(sem, Seq("id"), "full_outer")
      .select(col("id").as("doc_id"), col("lex_rank"), col("sem_rank"),
        (coalesce(expr(s"1000000 div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + sem_rank)"), lit(0L)))
          .as("rrf_e6"))

  /** HYBRID SEARCH: fuse the lexical BM25 ranking (q61's scorer) with
    * a semantic cosine ranking (query = embedding 0, q23's exact
    * quantized dot) by Reciprocal Rank Fusion — the standard
    * score-free merge behind production hybrid retrieval (RAG recall
    * stacks): ranks, not raw scores, so neither scale dominates.
    *
    * Scale shape: each leg ends in the map-side [[graft.functions.TopK]]
    * aggregator under a constant group — the shuffle carries ≤ N
    * rows per input partition, never the full score stream — and the
    * fusion joins two ≤ N-row relations. The BM25 leg prices the
    * corpus once (same plan as q61); the semantic leg is one
    * broadcast-1-row hash join + narrow dot products. */
  val q168RrfFusion: Q = (s, d) => {
    graft.functions.VectorFunctions.register(s)
    val lex = graft.functions.TopK.topKPerGroup(
      q61Bm25Search(s, d).select(lit(0L).as("g"), col("doc_id"), col("bm25_e6")),
      "g", "doc_id", "bm25_e6", RrfTopN)
      .select(col("doc_id").as("id"), col("rank").cast("long").as("lex_rank"))
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), quantE4(col("embedding")).as("q"))
      .withColumn("s2",
        graft.functions.VectorFunctions.dotLong(col("q"), col("q")))
    // the query vector is a driver-hosted control-plane scalar (q57
    // centroid convention): ONE 64-long row collected once, inlined as
    // a literal — not a 1-row join that Catalyst would constant-fold
    // into a nested-loop
    val q0 = e.filter(col("vec_id") === 0L).select("q", "s2").head()
    val qq = typedLit(q0.getSeq[Long](0))
    val qs2 = lit(q0.getLong(1))
    val sem0 = e.filter(col("vec_id") =!= 0L)
      .select(lit(0L).as("g"), col("vec_id"),
        round(lit(1e6) * graft.functions.VectorFunctions
          .dotLong(col("q"), qq).cast("double") /
          (sqrt(col("s2").cast("double")) * sqrt(qs2.cast("double"))), 0)
          .cast("long").as("cos_e6"))
    val sem = graft.functions.TopK
      .topKPerGroup(sem0, "g", "vec_id", "cos_e6", RrfTopN)
      .select(col("vec_id").as("id"), col("rank").cast("long").as("sem_rank"))
    rrfFuse(lex, sem)
  }

  // -- q174: unigram-LM surprisal quality score ----------------------

  /** Docs averaging more than this many e3-scaled bits/token are
    * flagged as distribution outliers (rare-token-heavy: garbled or
    * off-domain text under a unigram model of the corpus). */
  private val SurprisalFlagBitsE3 = 12000L

  /** LM-BASED QUALITY SCORING — the perplexity-filtering primitive of
    * production pretrain curation (CCNet-style: score each document by
    * how surprising its tokens are under a corpus language model; here
    * the model is the corpus's own unigram distribution), restated
    * engine-exact: per token instance, surprisal ≈ −log2 p(t) is
    * computed as ilog2(T) − ilog2(C(t)) where ilog2(x) =
    * length(bin(x)) − 1 is the INTEGER floor log2 — no libm, so both
    * engines agree bit-for-bit. A doc's score is the token-count-
    * weighted mean in e3 bits; far-tail docs get `is_suspect`.
    *
    * Plan shape (the q60 discipline): one map-combined (doc, token)
    * count — raw text never shuffles — then token totals as a second
    * partial aggregate over the already-collapsed rows, joined back BY
    * TOKEN (Zipf-small vocabulary; AQE broadcasts it when it fits),
    * then one per-doc aggregate. The corpus token total T is a
    * driver-hosted scalar (q61's avgdl convention): its ilog2 enters
    * the plan as a literal. */
  val q174LmSurprisal: Q = (s, d) => {
    val tf = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("tok").agg(sum(col("tf")).as("cnt"))
    // null-safe: sum over an empty vocabulary is NULL; clamp to 1 so
    // ilog2 stays defined (the relation below is empty anyway)
    val totalT = vocab.agg(sum(col("cnt")))
      .head() match { case r if r.isNullAt(0) => 1L; case r => math.max(1L, r.getLong(0)) }
    val ilogT = 63 - java.lang.Long.numberOfLeadingZeros(totalT)
    tf.join(vocab, "tok")
      .withColumn("bits",
        col("tf") * (lit(ilogT.toLong) - (length(bin(col("cnt"))) - 1)
          .cast("long")))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"), sum(col("bits")).as("bits"))
      .select(col("doc_id"), col("n_tokens"), col("bits"),
        expr("bits * 1000 div n_tokens").as("bits_e3"),
        (expr("bits * 1000 div n_tokens") > SurprisalFlagBitsE3)
          .as("is_suspect"))
  }

  val defs: Map[String, Q] = Map(
    "q60_tfidf_terms" -> q60TfidfTerms,
    "q61_bm25_search" -> q61Bm25Search,
    "q124_pmi_collocations" -> q124PmiCollocations,
    "q168_rrf_fusion" -> q168RrfFusion,
    "q174_lm_surprisal" -> q174LmSurprisal)

  private val toksCte =
    """toks AS (
      |  SELECT doc_id,
      |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS tk
      |  FROM documents
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // Same (doc, token) counts, same integer floor-log2 via the binary
    // string length, same e3 mean and flag threshold; the corpus total
    // T is recomputed in SQL where the engine hosts it driver-side.
    "q174_lm_surprisal" ->
      s"""WITH $toksCte, tf AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks) GROUP BY 1, 2
         |), vocab AS (
         |  SELECT tok, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
         |), tot AS (
         |  SELECT length(bin(CAST(sum(cnt) AS BIGINT))) - 1 AS ilog_t
         |  FROM vocab
         |), perdoc AS (
         |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         |    CAST(sum(tf.tf * (tot.ilog_t - (length(bin(vocab.cnt)) - 1)))
         |      AS BIGINT) AS bits
         |  FROM tf JOIN vocab USING (tok) CROSS JOIN tot
         |  GROUP BY 1
         |)
         |SELECT doc_id, n_tokens, bits,
         |  bits * 1000 // n_tokens AS bits_e3,
         |  bits * 1000 // n_tokens > $SurprisalFlagBitsE3 AS is_suspect
         |FROM perdoc""".stripMargin,
    "q60_tfidf_terms" ->
      s"""WITH $toksCte, tf AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks) GROUP BY 1, 2
         |), dfreq AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
         |), n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
         |    tf.tf * ((1000000 * n.n_docs) // dfreq.df) AS tfidf_e6,
         |    CAST(row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY tf.tf * ((1000000 * n.n_docs) // dfreq.df) DESC, tf.tok ASC)
         |      AS BIGINT) AS rank
         |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
         |)
         |SELECT doc_id, tok, tf, df, CAST(tfidf_e6 AS BIGINT) AS tfidf_e6, rank
         |FROM scored WHERE rank <= $TopTerms""".stripMargin,
    "q61_bm25_search" -> {
      val inList = BmQuery.map(t => s"'$t'").mkString(", ")
      s"""WITH $toksCte, tf AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf,
         |    CAST(min(dl) AS BIGINT) AS dl
         |  FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS tok FROM toks)
         |  WHERE tok IN ($inList) GROUP BY 1, 2
         |), dfreq AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
         |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |avgdl AS (
         |  SELECT CAST((1000 * sum(len(tk))) // count(*) AS BIGINT) AS avgdl_e3
         |  FROM toks
         |), scored AS (
         |  SELECT tf.doc_id, tf.dl,
         |    ((2 * n.n_docs - 2 * dfreq.df + 1) * 1000000) // (2 * dfreq.df + 1) AS idf_e6,
         |    ($BmK1E3 * ((1000 - $BmBE3) + ($BmBE3 * 1000 * tf.dl) // avgdl.avgdl_e3)) // 1000 AS norm_e3,
         |    tf.tf
         |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n CROSS JOIN avgdl
         |)
         |SELECT doc_id,
         |  CAST(sum((idf_e6 * tf * ${BmK1E3 + 1000}) // (tf * 1000 + norm_e3)) AS BIGINT) AS bm25_e6,
         |  CAST(count(*) AS BIGINT) AS n_query_terms,
         |  CAST(min(dl) AS BIGINT) AS dl
         |FROM scored GROUP BY 1""".stripMargin
    },
    // Independent restatement: positional tokens via lateral index
    // unnest and an adjacency SELF-JOIN on (doc, pos+1) — the
    // formulation the Spark plan avoids by zipping in-row. Same nested
    // floor-division sequence, parenthesized identically.
    "q124_pmi_collocations" ->
      s"""WITH $toksCte, pos AS (
         |  SELECT t.doc_id, t.tk[u.i] AS tok, u.i AS ord
         |  FROM toks t, unnest(range(1, len(t.tk) + 1)) AS u(i)
         |  WHERE length(t.tk[u.i]) > 0
         |), uni AS (
         |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS n_w FROM pos GROUP BY 1
         |), tot AS (SELECT CAST(sum(n_w) AS BIGINT) AS t FROM uni),
         |bi AS (
         |  SELECT a.tok AS w1, b.tok AS w2, CAST(count(*) AS BIGINT) AS n_ab
         |  FROM pos a JOIN pos b
         |    ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
         |  GROUP BY 1, 2
         |), btot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS b FROM bi)
         |SELECT bi.w1, bi.w2, bi.n_ab, ua.n_w AS n_a, ub.n_w AS n_b,
         |  CAST((((((bi.n_ab * tot.t) // ua.n_w) * tot.t) // ub.n_w) * 1000)
         |    // btot.b AS BIGINT) AS lift_e3
         |FROM bi
         |JOIN uni ua ON ua.w = bi.w1
         |JOIN uni ub ON ub.w = bi.w2
         |CROSS JOIN tot CROSS JOIN btot
         |WHERE bi.n_ab >= $PmiMinCount
         |ORDER BY lift_e3 DESC, bi.w1, bi.w2
         |LIMIT $PmiTopK""".stripMargin,
    // BM25 leg = q61's oracle CTEs + a rank window; semantic leg =
    // q23's quantized-cosine restatement against embedding 0; fusion
    // by the same integer 1e6 // (k + rank) sums.
    "q168_rrf_fusion" -> {
      val inList = BmQuery.map(t => s"'$t'").mkString(", ")
      s"""WITH $toksCte, tf AS (
         |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf,
         |    CAST(min(dl) AS BIGINT) AS dl
         |  FROM (SELECT doc_id, len(tk) AS dl, unnest(tk) AS tok FROM toks)
         |  WHERE tok IN ($inList) GROUP BY 1, 2
         |), dfreq AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
         |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |avgdl AS (
         |  SELECT CAST((1000 * sum(len(tk))) // count(*) AS BIGINT) AS avgdl_e3
         |  FROM toks
         |), scored AS (
         |  SELECT tf.doc_id,
         |    ((2 * n.n_docs - 2 * dfreq.df + 1) * 1000000) // (2 * dfreq.df + 1) AS idf_e6,
         |    ($BmK1E3 * ((1000 - $BmBE3) + ($BmBE3 * 1000 * tf.dl) // avgdl.avgdl_e3)) // 1000 AS norm_e3,
         |    tf.tf
         |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n CROSS JOIN avgdl
         |), bm AS (
         |  SELECT doc_id,
         |    CAST(sum((idf_e6 * tf * ${BmK1E3 + 1000}) // (tf * 1000 + norm_e3)) AS BIGINT) AS bm25_e6
         |  FROM scored GROUP BY 1
         |), lex AS (
         |  SELECT doc_id AS id, lex_rank FROM (
         |    SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25_e6 DESC, doc_id)
         |      AS BIGINT) AS lex_rank
         |    FROM bm) WHERE lex_rank <= $RrfTopN
         |), q AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000.0, 0) AS BIGINT)) AS qv
         |  FROM embeddings
         |), sq AS (
         |  SELECT vec_id, qv, CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS s2 FROM q
         |), q0 AS (SELECT qv AS qv0, s2 AS s20 FROM sq WHERE vec_id = 0),
         |dots AS (
         |  SELECT b.vec_id, b.s2, q0.s20,
         |    CAST(sum(b.qv[u.i] * q0.qv0[u.i]) AS BIGINT) AS dot
         |  FROM sq b CROSS JOIN q0,
         |    LATERAL unnest(generate_series(1, len(b.qv))) u(i)
         |  WHERE b.vec_id <> 0
         |  GROUP BY 1, 2, 3
         |), semscore AS (
         |  SELECT vec_id,
         |    CAST(round(1e6 * CAST(dot AS DOUBLE)
         |      / (sqrt(CAST(s2 AS DOUBLE)) * sqrt(CAST(s20 AS DOUBLE))), 0) AS BIGINT) AS cos_e6
         |  FROM dots
         |), sem AS (
         |  SELECT vec_id AS id, sem_rank FROM (
         |    SELECT vec_id, CAST(row_number() OVER (ORDER BY cos_e6 DESC, vec_id)
         |      AS BIGINT) AS sem_rank
         |    FROM semscore) WHERE sem_rank <= $RrfTopN
         |)
         |SELECT coalesce(lex.id, sem.id) AS doc_id, lex_rank, sem_rank,
         |  coalesce(1000000 // ($RrfK + lex_rank), 0)
         |    + coalesce(1000000 // ($RrfK + sem_rank), 0) AS rrf_e6
         |FROM lex FULL JOIN sem ON lex.id = sem.id""".stripMargin
    })
}
