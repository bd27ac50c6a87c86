package graft.queries

import graft.ops.Exact._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicate-cluster graph analytics — the stage AFTER pair-emitting
  * near-dup detection. q21/q31/q32/q39 all end at "pairs (a, b) are
  * near-duplicates", but a curation pipeline must act on CLUSTERS:
  * if a~b and b~c, keeping "one of each pair" would still keep two
  * copies of the cluster {a,b,c}. q55 closes that gap: connected
  * components over the near-dup pair graph, one keeper per component.
  *
  * Two closure algorithms, chosen by what the pair generator
  * guarantees: [[connectedComponents]] is the general graph-
  * contraction fixpoint (hook → jump → contract → recurse, geometric
  * shrink per level — see its scaladoc); [[connectedComponentsBlocked]]
  * exploits a blocking key that components provably never cross
  * (q125's per-brand window) to close everything in ONE shuffle +
  * per-partition union-find. Lineage of the iterative path is cut
  * per level by [[graft.ops.Checkpoints.cut]]: a parquet write under
  * `spark.graft.checkpointDir` and a fresh scan of it.
  *
  * Oracle: an independent DuckDB restatement — WITH RECURSIVE
  * min-label reachability over the same pair relation (q21's oracle
  * CTEs, mounted unchanged) — so the Spark fixpoint is checked against
  * a different algorithm, not a re-run of itself.
  */
object Graph {
  private type Q = (SparkSession, String) => DataFrame

  /** Connected components of an undirected graph given as (a, b)
    * pairs; returns (id, lbl) with lbl = min node id reachable.
    *
    * GRAPH CONTRACTION. A min-label + pointer-jump loop needs ~28
    * rounds / 17.7 s on q144's merge chains, because a jump lands on
    * the ARGMIN of the covered window, which is its own fixpoint
    * almost immediately: measured, extra jumps beyond the second make
    * zero additional progress, so every round degenerates to the
    * one-hop hook — flood fill in disguise. Per LEVEL:
    *   1. hook: m(v) = min(v, neighbors(v)) — one map-combined
    *      aggregate over the symmetric edge list, no join (the first
    *      hook's labels are the identity, so the usual edge⋈label
    *      propagation join is algebraically a rename);
    *   2. two label-chasing jumps m∘m — each ONE 1:1 equi-join, no
    *      aggregate (every label IS a node id with an entry and
    *      m(j) ≤ j monotonically, so min(m, m∘m) = m∘m);
    *   3. CONTRACT: collapse each label group to a super-node and
    *      recurse on the strictly smaller graph of cross-group edges;
    *      on unwind, one join composes the child's component labels
    *      onto this level's.
    * Each group is a connected star (a node and its label share an
    * edge), so contraction preserves components exactly; a chain
    * shrinks ≥4× per level (collapse factor ≈ 2 + jumps) and real
    * dedup/linkage graphs collapse 10–50×, so levels are
    * O(log diameter) with GEOMETRICALLY decreasing work — the per-unit
    * scale shape of the alternating-star family (Kiveris et al.,
    * MapReduce CC), not 28 flat full-size rounds. q144 measured
    * 4 levels where the pointer-jump loop ran 30 rounds.
    *
    * Lineage discipline: the driver recursion is control plane
    * (depth = levels, one isEmpty scalar each). Each level's
    * contracted edge list is cut to files (severs the cross-level RDD
    * object chain that grows the driver's work per round — see
    * [[graft.ops.Checkpoints]]) and its files are reclaimed as soon
    * as the child level returns; within a level the
    * hooked labels use a LAZY localCheckpoint (plan-tree truncation
    * for the self-joins, no extra job, lineage ends at the level's
    * own file scan). Only the final composed labeling keeps files. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    // materialized BEFORE symmetrization: the union references it
    // twice, and without the checkpoint the whole upstream
    // pair-detection plan (q21's joins, for q55) would run per leg
    val p = pairs.select(col("a"), col("b")).transform(graft.ops.Checkpoints.cut)
    val sym0 = p.select(col("a").as("src"), col("b").as("dst"))
      .union(p.select(col("b").as("src"), col("a").as("dst")))
      .distinct()
      .transform(graft.ops.Checkpoints.cut)
    graft.ops.Checkpoints.drop(p) // sym materialized; p is dead
    // sym: symmetric, distinct, self-loop-free is NOT assumed (self
    // loops hook to themselves and contract away). Returns (id, lbl).
    def level(sym: DataFrame): DataFrame = {
      // hook over identity labels = plain neighbor-min aggregate;
      // every node appears as dst of the symmetric list
      val m = sym.groupBy(col("dst").as("id")).agg(min(col("src")).as("mn"))
        .select(col("id"), least(col("id"), col("mn")).as("lbl"))
        .localCheckpoint(false) // self-joined below; lazy, no job
      def jump(x: DataFrame): DataFrame =
        x.join(x.select(col("id").as("pid"), col("lbl").as("plbl")),
            col("lbl") === col("pid"))
          .select(col("id"), col("plbl").as("lbl"))
      val lbl = jump(jump(m)).localCheckpoint(false) // read 3× below
      val contracted = sym
        .join(lbl.select(col("id").as("src"), col("lbl").as("ls")), "src")
        .join(lbl.select(col("id").as("dst"), col("lbl").as("ld")), "dst")
        .filter(col("ls") =!= col("ld"))
        .select(col("ls").as("src"), col("ld").as("dst"))
        .distinct() // already symmetric: (u,v)+(v,u) were both present
        .transform(graft.ops.Checkpoints.cut)
      if (contracted.isEmpty) { graft.ops.Checkpoints.drop(contracted); lbl }
      else {
        val up = level(contracted) // labels of the super-nodes
        graft.ops.Checkpoints.drop(contracted) // child consumed it
        // compose: groups untouched by cross edges keep their label
        lbl.join(up.select(col("id").as("l2"), col("lbl").as("l3")),
            col("lbl") === col("l2"), "left")
          .select(col("id"), coalesce(col("l3"), col("lbl")).as("lbl"))
      }
    }
    val out = level(sym0).transform(graft.ops.Checkpoints.cut)
    graft.ops.Checkpoints.drop(sym0) // only the final labels keep files
    out
  }

  /** Connected components of a BLOCKED linkage graph: (block, a, b)
    * pairs where the pair-generation contract guarantees no edge ever
    * crosses a block (q125's sorted-neighborhood window is per-brand,
    * so every component lives inside one brand). That guarantee turns
    * CC from an iterative global fixpoint into ONE shuffle: co-locate
    * each block's edges (hash-partition on the block key), then run
    * in-memory union-find per partition — the classic MDM merge-purge
    * closure. The per-partition memory contract is EXACTLY the one
    * q125 already declares for its Window blocks ("blocks fit a
    * partition; composite keys when they don't"), so this adds no new
    * scale assumption: a partition holds whole blocks (hash
    * partitioning never splits one) and union-find state is two longs
    * per distinct node in the partition's blocks. Returns (id, lbl)
    * with lbl = min node id of the component, identical to
    * [[connectedComponents]] on any blocked input. */
  private[graft] def connectedComponentsBlocked(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    pairs.select(col("block"), col("a").cast("long"), col("b").cast("long"))
      .repartition(col("block")) // whole blocks co-locate
      .select(col("a"), col("b")).as[(Long, Long)]
      .mapPartitions { it =>
        // union-find with path-halving; attaching the larger root
        // under the smaller makes every root the component min, and
        // keeps trees shallow in practice (linkage blocks are small)
        val parent = scala.collection.mutable.LongMap.empty[Long]
        val seen = scala.collection.mutable.LongMap.empty[Boolean]
        def find(x0: Long): Long = {
          var x = x0
          var px = parent.getOrElse(x, x)
          while (px != x) { // path-halving walk to the root
            val ppx = parent.getOrElse(px, px)
            parent(x) = ppx
            x = ppx; px = parent.getOrElse(x, x)
          }
          x
        }
        it.foreach { case (a, b) =>
          seen(a) = true; seen(b) = true
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        seen.keysIterator.map(id => (id, find(id)))
      }.toDF("id", "lbl")
  }

  /** q55: near-duplicate clusters over the q21 MinHash-verified pair
    * graph. One row per clustered document: its component id (= the
    * smallest doc_id in the component — the canonical keeper), the
    * component size, and the keep/drop verdict. Documents in no pair
    * are implicitly singleton keepers and are not emitted (at corpus
    * scale they are the overwhelming majority; emitting them would be
    * an O(corpus) append of trivial rows). */
  val q55DupClusters: Q = (s, d) => {
    val pairs = LlmPipeline.q21DedupMinhashLsh(s, d)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    // memoized: the contraction's cut output can't be shared by plan
    // canonicalization (fresh files per run), so without the memo the
    // ~9 consumer queries each re-run the whole driver recursion even
    // in shared mode; the memo serves one labeling per (session, dir)
    // until the Checkpoints.releaseAll boundary
    val lbl = graft.ops.Checkpoints.memo(s, s"cc:q21pairs:$d") {
      connectedComponents(pairs)
    }
    val sizes = lbl.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    lbl.join(sizes, "lbl")
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"), (col("id") === col("lbl")).as("is_keeper"))
  }

  // -- q90: PageRank (two unrolled iterations, integer e9) -------------

  /** PAGERANK over the supplier→customer shipment graph (who supplies
    * whom, from lineitem⋈orders): the iterative NUMERIC graph compute
    * next to q55's iterative LABEL propagation — the
    * importance/centrality score behind seed-quality weighting of
    * link-graph corpus curation. Two Jacobi iterations unrolled (no
    * driver loop — the oracle restates them as chained CTEs), damping
    * 0.85, dangling mass dropped (documented simplification; customers
    * are sinks here). ALL math is integer e9 with floor division —
    * identical in both engines, no float accumulation order anywhere.
    * Per iteration: one keyed equi-join of ranks onto the static
    * (src, dst, outdeg) edge relation + one partial-aggregated
    * inflow sum — linear in edges, nothing quadratic, the classic
    * scale shape (edges re-read per round from a checkpoint; the
    * node-count scalar is driver-hosted control plane like q61's
    * corpus stats). */
  /** The static shipment-graph relations shared by q90/q90b: the
    * distinct edge list, the node universe, and the degree-annotated
    * edges. Registered in [[graft.ops.SharedCache]] (not checkpointed):
    * the two consumers build byte-identical plans, so Spark's
    * CacheManager canonicalizes them onto ONE cache entry each and
    * q90b reuses q90's materialized graph instead of re-deriving it —
    * the same cross-query sharing as the shingle/gram relations. The
    * 2-iteration unroll keeps lineage bounded, so no lineage cut is
    * needed (q144's unbounded-loop discipline doesn't apply). */
  private def shipmentGraph(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import graft.Tables
    val edges = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("s"), col("l_suppkey")).as("src"),
        concat(lit("c"), col("o_custkey")).as("dst"))
      .distinct()
      .transform(graft.ops.SharedCache.persist) // reused by nodes, outdeg, both iterations, and q90b
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .transform(graft.ops.SharedCache.persist)
    val wedges = edges
      .join(edges.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .transform(graft.ops.SharedCache.persist) // static (src, dst, deg), built once
    (edges, nodes, wedges)
  }

  /** One PageRank Jacobi step at damping 0.85, integer e9:
    * rank'(v) = base + 85·(inflow(v) + dShare) div 100, where dShare
    * is the per-node redistributed dangling mass (0 for the plain
    * q90 form). */
  private def prStep(nodes: DataFrame, wedges: DataFrame, base: Long,
      dShare: Long)(r: DataFrame): DataFrame = {
    val inflow = wedges.join(r, col("src") === col("node"))
      .select(col("dst"), expr("rank_e9 div deg").as("c"))
      .groupBy("dst").agg(sum(col("c")).as("inflow"))
    nodes.join(inflow, col("node") === col("dst"), "left")
      .select(col("node"),
        (lit(base) + expr(s"85 * (coalesce(inflow, 0) + $dShare) div 100"))
          .as("rank_e9"))
  }

  val q90PageRank: Q = (s, d) => {
    val (_, nodes, wedges) = shipmentGraph(s, d)
    val n = nodes.count() // control-plane scalar (q61 convention)
    val r0 = 1000000000L / n
    val base = 150000000L / n // (1 - 0.85) * 1e9 / N, floor
    val step = prStep(nodes, wedges, base, 0L) _
    step(step(nodes.select(col("node"), lit(r0).as("rank_e9"))))
  }

  /** q90b: the TEXTBOOK-COMPLETE PageRank — same two unrolled Jacobi
    * iterations as q90 but with the DANGLING MASS REDISTRIBUTED
    * instead of dropped: every customer node is a sink here, so q90
    * leaks 85% of roughly half the mass per iteration; q90b hands
    * each iteration's dangling mass back uniformly
    * (dShare = D div N, folded into the damped term), which is what
    * makes Σ rank_e9 ≈ 1e9 hold — the ranks are an e9-scaled
    * probability distribution (GraphSpec pins conservation to within
    * the floor-division loss bound, and pins that q90 leaks). The per-iteration cost of
    * completeness is ONE scalar aggregate: iteration 1's dangling sum
    * is a closed form of the uniform start (r0·|dangling| div N, no
    * job at all); iteration 2's is a single anti-join + sum on the
    * checkpointed rank-1 relation — a driver-hosted control-plane
    * scalar like the node count (q61 convention). Everything else —
    * plan shape, integer e9 floor math, oracle restatement as chained
    * CTEs with scalar subqueries — is q90's. */
  val q90bPageRankMass: Q = (s, d) => {
    val (edges, nodes, wedges) = shipmentGraph(s, d)
    val n = nodes.count()
    val r0 = 1000000000L / n
    val base = 150000000L / n
    val srcs = edges.select(col("src").as("node")).distinct()
      .transform(graft.ops.SharedCache.persist) // both dangling passes; derives from the cached edges
    val nDangling = nodes.join(srcs, Seq("node"), "left_anti").count()
    val share1 = r0 * nDangling / n // uniform start: closed form
    val r1 = prStep(nodes, wedges, base, share1)(
        nodes.select(col("node"), lit(r0).as("rank_e9")))
      .localCheckpoint(true) // read by d2 sum + step 2
    val d2 = r1.join(srcs, Seq("node"), "left_anti")
      .agg(coalesce(sum(col("rank_e9")), lit(0L)).as("s"))
      .first().getLong(0)
    prStep(nodes, wedges, base, d2 / n)(r1)
  }

  // -- q264: HITS hubs & authorities (two unrolled iterations) ----------

  /** HITS (Kleinberg 1999) over the supplier→customer shipment graph
    * — the centrality PageRank can't express on a BIPARTITE flow:
    * q90 scores every node on one axis, but a procurement graph has
    * two distinct roles, and HITS scores them jointly — a good HUB
    * (supplier) ships to many good authorities, a good AUTHORITY
    * (customer) buys from many good hubs. The mutual-reinforcement
    * fixpoint is the other classic link-analysis eigenproblem, and on
    * this graph it is the supplier-coverage / customer-demand ranking
    * read next to q90's importance.
    *
    * Two full mutual iterations unrolled (h₀ uniform → a₁ → h₁ → a₂
    * → h₂; no driver loop — the oracle restates them as chained
    * CTEs). Normalization is L1 in integer e9 — score·1e9 div Σscore
    * after every half-step (DECLARED variant: textbook HITS uses L2,
    * whose sqrt would put a float in the fold; L1 differs from L2
    * only by a positive per-vector scalar, so every iteration's
    * RANKING is identical and the fixpoint direction is the same
    * principal eigenvector) — identical floor math in both engines,
    * no float anywhere. Norm sums are driver-hosted control-plane
    * scalars (q90b's dangling-mass convention; the oracle uses 1-row
    * CTEs). Overflow: every vector sums to ≤1e9 after normalization
    * and in-edges are distinct, so raw ≤ 1e9 and raw·1e9 ≤ 1e18 —
    * exact at any graph size.
    *
    * Plan: per half-step ONE keyed equi-join of the score vector onto
    * the SharedCache'd static edge relation + one map-combined
    * inflow/outflow sum — linear in edges, nothing quadratic, the
    * q90 scale shape; the four raw relations are node-sized and
    * SharedCache'd so the norm scalars don't recompute the chain. */
  val q264Hits: Q = (s, d) => {
    val (edges, _, _) = shipmentGraph(s, d)
    def cache(df: DataFrame) = graft.ops.SharedCache.persist(df)
    def normScalar(raw: DataFrame): Long = math.max(
      raw.agg(coalesce(sum(col("raw")), lit(0L))).first().getLong(0), 1L)
    val nHubs = math.max(edges.select(col("src")).distinct().count(), 1L)
    val h0 = 1000000000L / nHubs
    // a-step: authority raw = inflow of hub scores over in-edges
    val a1raw = cache(edges.groupBy("dst").agg(sum(lit(h0)).as("raw")))
    val a1 = a1raw.select(col("dst"),
      expr(s"raw * 1000000000 div ${normScalar(a1raw)}L").as("a_e9"))
    // h-step: hub raw = outflow sum of authority scores
    val h1raw = cache(edges.join(a1, "dst")
      .groupBy("src").agg(sum(col("a_e9")).as("raw")))
    val h1 = h1raw.select(col("src"),
      expr(s"raw * 1000000000 div ${normScalar(h1raw)}L").as("h_e9"))
    val a2raw = cache(edges.join(h1, "src")
      .groupBy("dst").agg(sum(col("h_e9")).as("raw")))
    val a2 = a2raw.select(col("dst"),
      expr(s"raw * 1000000000 div ${normScalar(a2raw)}L").as("a_e9"))
    val h2raw = cache(edges.join(a2, "dst")
      .groupBy("src").agg(sum(col("a_e9")).as("raw")))
    val h2 = h2raw.select(col("src"),
      expr(s"raw * 1000000000 div ${normScalar(h2raw)}L").as("h_e9"))
    h2.select(lit("hub").as("kind"), col("src").as("node"),
        col("h_e9").as("score_e9"))
      .unionByName(a2.select(lit("authority").as("kind"),
        col("dst").as("node"), col("a_e9").as("score_e9")))
  }

  // -- q121: triangle counting (degree-ordered compact-forward) --------

  private val TriMinSupport = 2

  /** TRIANGLE COUNTING over the part co-purchase graph (parts bought
    * together in ≥2 orders, the support floor that separates affinity
    * from coincidence): per-node triangle participation and the local
    * clustering coefficient in integer e6 — the cohesion metric next
    * to q55's reachability and q90's centrality, and the standard
    * community-density signal for link-graph corpus weighting.
    *
    * Scale shape is the compact-forward algorithm: orient every edge
    * from its (degree, id)-smaller endpoint to the larger, so each
    * triangle {u<v<w in that total order} is generated EXACTLY once as
    * a wedge at its lowest-order corner and closed by one equi-join —
    * and, critically, wedge fan-out at a hub is bounded by its
    * FORWARD degree (max O(√m) after orientation), not its raw degree:
    * the celebrity node that would explode a naive wedge join
    * contributes almost nothing because nearly all its edges point
    * INTO it. Edge building reuses q96's in-row pair expansion (one
    * shuffle on l_orderkey, no self-join on raw lineitem); the edge
    * relation is checkpointed once and re-read by the degree pass
    * and all three join legs. Everything downstream is equi-joins and
    * partial-aggregated counts on bounded keys — no cartesian, no
    * driver-side state. */
  /** Core of q121: per-node (deg, n_triangles, clustering_e6) for an
    * undirected simple graph given as (x, y) pairs with x ≠ y, each
    * edge listed once. Exposed for spec fixtures (K4, paths). */
  private[graft] def triangleStats(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("x"), col("y"))
      .localCheckpoint(true) // reused: degrees + three join legs
    val deg = edges.select(col("x").as("node"))
      .union(edges.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true) // reused: orientation + final join
    // (deg, id) total order; struct comparison is lexicographic in both
    // engines (DuckDB row-value compare in the oracle)
    val xFirst = struct(col("dx"), col("x")) < struct(col("dy"), col("y"))
    val oriented = edges
      .join(deg.select(col("node").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), "y")
      .select(
        when(xFirst, col("x")).otherwise(col("y")).as("src"),
        when(xFirst, col("y")).otherwise(col("x")).as("dst"),
        when(xFirst, col("dy")).otherwise(col("dx")).as("ddeg"))
      .localCheckpoint(true) // three self-join legs below
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          struct(col("e1.ddeg"), col("e1.dst")) <
            struct(col("e2.ddeg"), col("e2.dst")))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    val corners = wedges
      .join(oriented.as("e3"),
        col("b") === col("e3.src") && col("c") === col("e3.dst"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          expr("2 * coalesce(n_triangles, 0L) * 1000000 div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("clustering_e6"))
  }

  /** The COUNTED co-purchase pair relation (x, y, n_orders), built
    * with the in-row pair expansion — one shuffle on l_orderkey, no
    * self-join on raw lineitem — and SharedCache'd: FOUR graph
    * queries derive their edge list from it (q121 triangles and
    * q162 LPA and q175 modularity at ≥[[TriMinSupport]] support, q138
    * k-core at all pairs), and without the registration each one
    * re-runs the basket expansion; the cached relation is three longs
    * per distinct pair — key-space-sized, never lineitem-sized.
    * Isolate mode releases it between queries as always. */
  private[graft] def copurchasePairCounts(s: SparkSession, d: String): DataFrame =
    basketItems(s, d)
      .filter(size(col("items")) >= 2)
      .select(explode(pairs(col("items"))).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).as("n_orders"))
      .transform(graft.ops.SharedCache.persist)

  /** Per order (`l_orderkey`), the sorted distinct `items` (part keys)
    * of its lines: one partial-aggregated shuffle on the order key,
    * `collect_set` deduplicating map-side. */
  private[graft] def basketItems(s: SparkSession, d: String): DataFrame =
    graft.Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("items"))

  /** The support-floored part co-purchase graph (parts bought together
    * in ≥ minSupport orders) — a filter over the shared pair counts. */
  private[graft] def copurchaseEdges(s: SparkSession, d: String, minSupport: Int): DataFrame =
    copurchasePairCounts(s, d)
      .filter(col("n_orders") >= minSupport)
      .select(col("x"), col("y"))

  val q121TriangleCount: Q = (s, d) =>
    triangleStats(copurchaseEdges(s, d, TriMinSupport)).withColumnRenamed("node", "p_partkey")

  // -- q248: degree assortativity ----------------------------------------

  /** DEGREE ASSORTATIVITY of the co-purchase graph (Newman 2002): the
    * Pearson correlation of endpoint degrees over the edge list — do
    * hub products attach to other hubs (r > 0, a dense core the
    * degree distribution alone can't see) or to the periphery (r < 0,
    * the hub-and-spoke shape most retail graphs have)? One number that
    * tells you which graph ALGORITHMS will behave: positive
    * assortativity keeps a k-core deep and tight (q138), negative
    * spreads triangles thin (q121) — the structural audit read before
    * trusting either.
    *
    * Newman's per-edge form: with j,k the endpoint degrees over the M
    * undirected edges, r = [4M·Σjk − (Σ(j+k))²] / [2M·Σ(j²+k²) −
    * (Σ(j+k))²] — numerator/denominator are EXACT BIGINTs over the
    * integer moments (each edge counted once; the ½ factors of the
    * textbook form cancel in the 4M/2M cross-multiplication), and the
    * signed ratio becomes one fixed-shape IEEE double rounded to e6
    * (the q150 signed-statistic convention — never a signed integer
    * div, which floors differently across engines). Denominator = 0
    * ⟺ every node has equal degree (a regular graph has no
    * assortativity) — CASE-guarded NULL in both engines.
    *
    * Plan: the SharedCache'd pair counts (q121's relation), a
    * symmetrized map-combined degree aggregate, two equi-joins to
    * attach dx/dy (key-partitioned shuffle joins — degree relations
    * are node-sized, deliberately NOT broadcast-hinted so the plan is
    * the one that survives a 10⁹-node graph; AQE broadcasts them at
    * test scale on its own), then ONE scalar aggregate. Moment
    * overflow: Σ(j²+k²) ≤ 2M·d²max, 2M·Σ(j²+k²) ≤ 4M²d²max — exact
    * past 10⁹ edges at retail-shaped degree caps (q224 convention). */
  val q248DegreeAssortativity: Q = (s, d) => {
    val e = copurchaseEdges(s, d, TriMinSupport)
    val deg = e.select(col("x").as("node"))
      .unionAll(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    e.join(deg.select(col("node").as("x"), col("deg").as("dx")), Seq("x"))
      .join(deg.select(col("node").as("y"), col("deg").as("dy")), Seq("y"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("dx") * col("dy")).as("sum_jk"),
        sum(col("dx") + col("dy")).as("sum_jpk"),
        sum(col("dx") * col("dx") + col("dy") * col("dy")).as("sum_j2k2"))
      .select(col("n_edges"), col("sum_jk"), col("sum_jpk"), col("sum_j2k2"),
        expr("""CASE WHEN 2 * n_edges * sum_j2k2 - sum_jpk * sum_jpk > 0 THEN
               | CAST(round(
               |   CAST(4 * n_edges * sum_jk - sum_jpk * sum_jpk AS DOUBLE)
               |   / (2 * n_edges * sum_j2k2 - sum_jpk * sum_jpk)
               |   * 1000000, 0) AS BIGINT)
               | END""".stripMargin).as("assort_e6"))
  }

  private val RaMaxBasket = 64
  private val RaMinShared = 2

  /** LINK PREDICTION via the Resource-Allocation index (Zhou, Lü &
    * Zhang 2009): for every part pair, Σ over shared orders of
    * 1/|order| — the degree-penalized common-neighbor score that beats
    * raw co-occurrence counting (q96) because a 2-item basket is far
    * stronger evidence of affinity than co-appearing in a 50-item
    * megabasket. RA is the log-free sibling of Adamic-Adar (1/log deg
    * would break the README libm rule; RA is equally standard and
    * integer-exact: weight = 1e6 div basket size, summed as BIGINTs).
    *
    * Plan: same in-row pair expansion as q121 — one map-combined
    * shuffle to per-order item sets, pairs generated INSIDE the row
    * with the order's weight attached, one partial-aggregated shuffle
    * on the pair key. No self-join on raw lineitem, no wedge
    * explosion: the basket cap (≤64 items ⇒ ≤2016 pairs/order,
    * declared — TPC-H baskets are ≤7) bounds per-row fan-out, and hub
    * PARTS cost nothing extra because the aggregation key is the pair,
    * not the part. ≥2-shared-orders floor keeps the output the
    * affinity shortlist, not the quadratic noise tail. */
  val q136LinkPrediction: Q = (s, d) => {
    basketItems(s, d)
      .filter(size(col("items")).between(2, RaMaxBasket))
      .select(expr("1000000 div size(items)").as("w_e6"),
        explode(pairs(col("items"))).as("p"))
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).as("shared_orders"), sum(col("w_e6")).as("ra_e6"))
      .filter(col("shared_orders") >= RaMinShared)
  }

  private val KCoreK = 80
  /** Unroll depth of the q138 ORACLE only — the Spark side peels to
    * convergence (below). Rounds past convergence are exact no-ops
    * (the edge set is stable), so the oracle over-unrolling is free;
    * if a dataset ever cascades deeper than this, the gate fails
    * LOUDLY (Spark fully peeled vs oracle under-peeled) instead of
    * both silently under-peeling — then bump this constant. The
    * current testdata converges in 4 rounds at every sf. */
  private val KCoreOracleRounds = 8

  /** Core of q138: k-core peeling to the FIXPOINT — drop every node
    * with degree < k, delete its edges, recompute, repeat until a
    * round deletes nothing — over an undirected simple graph given as
    * (x, y) pairs, each edge listed once. Returns surviving nodes
    * with their residual in-core degree. Exposed for spec fixtures.
    *
    * INCREMENTAL DEGREES: re-aggregating degrees over the FULL edge
    * list and semi-joining it twice against the (large) keep set every
    * round costs O(|E|) shuffle work × rounds, though a round
    * typically removes a sliver (measured 5.8 s against ~1.5 s for
    * this peel at sf0.1). This loop maintains the degree relation
    * incrementally — per round:
    *   1. dropped = deg < k (typically TINY after round 1; AQE
    *      broadcasts it, so the edge pass is map-side, no |E| shuffle);
    *   2. one pass over e LEFT-flags each endpoint against dropped:
    *      both clear → edge survives; exactly one dropped → the other
    *      endpoint loses a degree (the per-node loss is the only
    *      aggregate, and it's delta-sized);
    *   3. deg' = (deg minus dropped) − delta, e' = surviving edges.
    * The maintained deg ≡ degrees(e) is the loop invariant (pinned by
    * GraphSpec's cascade fixtures), so the final answer needs no
    * closing re-aggregate either. Driver state: one isEmpty scalar per
    * round. Lineage: e is cut to files once; deg' localCheckpoints
    * eagerly on shallow rounds (the driver-side RDD-chain growth
    * [[graft.ops.Checkpoints]] describes only bites past ~18) and is
    * cut to files on pathological cascades, as in
    * [[connectedComponents]]. */
  private[graft] def kcorePeel(edges0: DataFrame, k: Int): DataFrame = {
    val e = edges0.transform(graft.ops.Checkpoints.cut) // immutable, scanned per round
    var deg = e.select(col("x").as("node")).union(e.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    var round = 0
    var done = false
    while (!done) {
      round += 1
      val newly = deg.filter(col("deg") < k).select("node")
        .localCheckpoint(true) // read by 3 joins below; eager, tiny
      val nNewly = newly.count()
      if (nNewly == 0L) done = true
      else {
        // a checkpointed relation carries no size stats, so without a
        // hint the planner sort-merge-joins the full edge list against
        // a sliver; the driver KNOWS the count — broadcast while it
        // fits, fall back to shuffle joins on a genuinely huge peel
        val hint: DataFrame => DataFrame =
          if (nNewly <= 2000000L) broadcast else identity
        // one map-side pass over the IMMUTABLE edge list: flag each
        // endpoint against the newly-dropped sliver; an edge with
        // exactly one flagged endpoint costs the other endpoint a
        // degree. Edges into PREVIOUSLY dropped nodes need no care:
        // their delta rows miss the deg join below and vanish.
        val delta = e
          .join(hint(newly.select(col("node").as("x"), lit(1).as("fx"))),
            Seq("x"), "left")
          .join(hint(newly.select(col("node").as("y"), lit(1).as("fy"))),
            Seq("y"), "left")
          .filter(col("fx").isNull =!= col("fy").isNull)
          .select(when(col("fx").isNotNull, col("y")).otherwise(col("x"))
            .as("node"))
          .groupBy("node").agg(count(lit(1)).as("d"))
        val nextDeg0 = deg
          .join(hint(newly), Seq("node"), "left_anti")
          .join(delta, Seq("node"), "left")
          .select(col("node"),
            (col("deg") - coalesce(col("d"), lit(0L))).as("deg"))
        // shallow rounds take the cheap in-memory cut (the driver-side
        // RDD-chain growth only bites past ~18 rounds); pathological
        // cascades fall back to file-backed cuts. Both are eager, so
        // the superseded deg is safe to drop.
        val nextDeg =
          if (round <= 12) nextDeg0.localCheckpoint(true)
          else nextDeg0.transform(graft.ops.Checkpoints.cut)
        graft.ops.Checkpoints.drop(deg)
        deg = nextDeg
      }
    }
    // one greppable line per peel: the ScaleGen certification reads
    // this to show the DRIVER ROUND COUNT stays flat as data scales
    // (the cascade depth is a property of the graph's degeneracy
    // structure, not its size)
    System.err.println(s"[kcore] k=$k driver_rounds=$round " +
      s"peel_rounds=${round - 1}")
    deg.select(col("node"), col("deg").as("deg_in_core"))
  }


  /** K-CORE DECOMPOSITION (80-core, peeled to the FIXPOINT): the
    * maximal subgraph where every part keeps ≥80 co-purchase
    * neighbors — the density backbone that separates a genuinely
    * cohesive product community from stars and chains that triangle
    * counts (q121) and centrality (q90) each miss in their own way
    * (the support-floored q121 graph is near-forest at sf0.1, hence
    * ALL pairs here). Peeling is the textbook Matula–Beck reduction,
    * run by [[kcorePeel]] as a true convergence loop (four fixed
    * rounds would silently under-peel: full convergence here takes 5
    * cascades at sf0.01/sf0.1, and k=90 peels to EMPTY once run to
    * fixpoint, the measured co-purchase degeneracy being 82–84;
    * k=80 keeps a real core of
    * ~1.9k/18.9k parts). The oracle restates [[KCoreOracleRounds]]
    * unrolled CTE rounds — past-convergence rounds are exact no-ops,
    * and a dataset cascading deeper than the unroll fails the gate
    * LOUDLY instead of matching a shared under-peel. */
  val q138KCore: Q = (s, d) =>
    kcorePeel(copurchaseEdges(s, d, 1), KCoreK)
      .withColumnRenamed("node", "p_partkey")

  // -- q162: label-propagation communities ------------------------------

  /** Fixed synchronous LPA round count — the DEFINED semantics, not a
    * convergence approximation, because a fixpoint does not exist for
    * synchronous LPA: Raghavan et al. 2007 §3 show label oscillation
    * on (near-)bipartite structures, and it is measured here — at
    * sf0.01 the co-purchase graph 2-cycles indefinitely (~1700 labels
    * flip between consecutive rounds from round 5 on, lag-2 diff ~300
    * and slowly decaying; a deterministic self-vote damping was tried
    * and rejected — through the doubled adjacency the node's own label
    * gets two votes and LPA freezes into the identity at round 1). 4
    * rounds is the measured FIXPOINT at sf0.001 (round 5 is a no-op —
    * Round9OpsSpec pins that witness so deeper community structure in
    * regenerated testdata fails loudly, the q138 lesson) and the
    * documented fixed-round contract at larger sf, the q90
    * fixed-iteration convention. */
  private[graft] val LpaRounds = 4

  /** Synchronous deterministic label propagation over an undirected
    * edge relation: every node starts as its own label; each round it
    * adopts the MOST FREQUENT label among its neighbors, ties broken
    * by smallest label — the determinism fix that makes classic LPA
    * (Raghavan et al. 2007, which breaks ties randomly and so cannot
    * be oracle-checked) engine-exact. Fixed [[LpaRounds]] synchronous
    * rounds, mirrored by unrolled CTEs in the oracle.
    *
    * Per round: ONE keyed join (adjacency ⋈ labels on the neighbor
    * key) + one map-combined (node, label) count + one per-node argmax
    * window — all shuffles on node ids, nothing driver-side, label
    * relation always |V| rows. The adjacency is persisted once and
    * reused every round (the q90 static-relation discipline). */
  private[graft] def labelPropagate(edges: DataFrame, rounds: Int): DataFrame = {
    val adj = edges.select(col("x").as("node"), col("y").as("nbr"))
      .unionByName(edges.select(col("y").as("node"), col("x").as("nbr")))
      .transform(graft.ops.SharedCache.persist) // reused by every round
    var lbl = adj.select(col("node")).distinct().withColumn("lbl", col("node"))
    (1 to rounds).foreach { _ =>
      val w = Window.partitionBy("node").orderBy(col("cnt").desc, col("nlbl").asc)
      lbl = adj
        .join(lbl.select(col("node").as("nbr"), col("lbl").as("nlbl")), Seq("nbr"))
        .groupBy(col("node"), col("nlbl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("node"), col("nlbl").as("lbl"))
    }
    // the final label relation is persisted — q175
    // consumes it through THREE plan branches (both intra-edge endpoint
    // maps + the degree join), each of which otherwise replays all
    // `rounds` join+aggregate+window rounds; the relation is |V| rows
    // of two longs. q162's single pass shares the same cache entry by
    // plan canonicalization. Isolate/bench boundaries release it.
    lbl.transform(graft.ops.SharedCache.persist)
  }

  /** COMMUNITY DETECTION: [[LpaRounds]]-round deterministic LPA over the q121
    * co-purchase graph — the mesoscale complement of the family: q55
    * finds CONNECTED components (too coarse — one giant blob), q138
    * the dense CORE (too strict — one subgraph), LPA the frequency-
    * driven middle: locally cohesive product communities. */
  val q162LabelProp: Q = (s, d) => {
    val lbl = labelPropagate(copurchaseEdges(s, d, TriMinSupport), LpaRounds)
    lbl
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("lbl")).cast("long"))
      .select(col("node").as("p_partkey"), col("lbl").as("community"),
        col("n_members"))
  }

  // -- q175: community modularity audit ---------------------------------

  /** MODULARITY AUDIT — scores the q162 partition with Newman–Girvan
    * modularity, the standard "are these communities real" check a
    * pipeline runs before acting on a clustering: per community c,
    * contribution Q_c = intra_c/m − (deg_c/2m)², all in floor-division
    * e6 fixed point (engine-exact; headroom: deg_c·1e6 ≤ 2m·1e6
    * overflows only past m ≈ 9e12 edges — far beyond the ~1.5e9 of
    * the 100 TB contract; decimal mode is the documented escape).
    * Σ Q_c over the output rows is the partition's modularity.
    *
    * Plan: the persisted edge relation is consumed three times (LPA
    * rounds, intra-edge labeling, degrees) — one materialization, no
    * rescan; intra-edges = two keyed joins label-mapping both
    * endpoints then a |communities|-row count; degrees = one
    * map-combined count over the doubled endpoint projection joined to
    * the |V|-row label relation. m is a driver scalar (q61 avgdl
    * convention), entering the plan as a literal. */
  val q175Modularity: Q = (s, d) => {
    val edges = graft.ops.SharedCache.persist(
      copurchaseEdges(s, d, TriMinSupport))
    val lbl = labelPropagate(edges, LpaRounds)
    val m = edges.count()
    val intra = edges
      .join(lbl.select(col("node").as("x"), col("lbl").as("lx")), Seq("x"))
      .join(lbl.select(col("node").as("y"), col("lbl").as("ly")), Seq("y"))
      .filter(col("lx") === col("ly"))
      .groupBy(col("lx")).agg(count(lit(1)).as("intra_edges"))
      .select(col("lx").as("community"), col("intra_edges"))
    val deg = edges.select(col("x").as("node"))
      .unionByName(edges.select(col("y").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.join(lbl, "node")
      .groupBy(col("lbl"))
      .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("n_members"))
      .select(col("lbl").as("community"), col("n_members"), col("deg_sum"))
      .join(intra, Seq("community"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .select(col("community"), col("n_members"), col("intra_edges"),
        col("deg_sum"),
        expr(s"intra_edges * 1000000 div $m - " +
          s"((deg_sum * 1000000 div (2 * $m)) * " +
          s"(deg_sum * 1000000 div (2 * $m))) div 1000000")
          .as("q_contrib_e6"))
  }

  // -- q183: dup-cluster size profile ------------------------------------

  /** DEDUP YIELD REPORT — the histogram a curation run publishes after
    * clustering (q55): for each cluster size, how many clusters, how
    * many documents they hold, and how many rows dedup will REMOVE
    * (size−1 per cluster) — the number the storage/budget forecast
    * actually needs, and the distribution whose heavy tail flags
    * template/mirror explosions. Rides q55's keeper rows (exactly one
    * per cluster, carrying the size), so the profile is one
    * map-combined aggregate over |clusters| rows.
    *
    * Per the q55 contract, unpaired singleton documents are not
    * clustered and so not counted — the report covers the documents
    * dedup would touch. */
  val q183ClusterProfile: Q = (s, d) =>
    q55DupClusters(s, d)
      .filter(col("is_keeper"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).as("n_removable"))

  // -- q207: cluster-aware split-leakage audit -----------------------------

  /** SPLIT-LEAKAGE AUDIT — the eval-integrity check that joins the two
    * halves of the curation story: q42 assigns train/val/test by
    * doc-id hash, q55 clusters near-duplicates — and a cluster that
    * STRADDLES splits is test-set contamination the q47/q171
    * n-gram decontaminators can't name (the duplicate is semantic,
    * not verbatim). Per split: the clustered docs it holds, how many
    * of them sit in a cluster that also appears in ANOTHER split
    * (leaky docs / clusters), and the leak rate ppm. The fix is one
    * line — assign splits by cluster_id hash instead of doc_id hash,
    * so a cluster moves as a unit — and THIS report is the number
    * that decides whether the re-split is worth the re-shuffle.
    *
    * Scale: rides q55's cluster relation (near-dup clusters only —
    * singletons can't leak); the straddle flag is one collect_set
    * window over cluster_id partitions (bounded by cluster size —
    * the q144 survivorship discipline), then an Expand-free two-level
    * aggregate: (split, cluster) → split. Nothing after q55 touches
    * text or scales with corpus volume. */
  val q207SplitLeakage: Q = (s, d) => {
    val withSplit = q55DupClusters(s, d)
      .withColumn("bucket", splitBucket(col("doc_id")))
      .withColumn("split", splitOf(col("bucket")))
      .withColumn("leaky",
        (size(collect_set(col("split"))
          .over(Window.partitionBy("cluster_id"))) > 1).cast("long"))
    withSplit
      .groupBy("split", "cluster_id")
      .agg(count(lit(1)).as("docs"), max(col("leaky")).as("leaky"))
      .groupBy("split")
      .agg(sum(col("docs")).as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum(col("docs") * col("leaky")).as("leaky_docs"),
        sum(col("leaky")).as("leaky_clusters"))
      .select(col("split"), col("n_docs"), col("n_clusters"),
        col("leaky_docs"), col("leaky_clusters"),
        expr("leaky_docs * 1000000 div n_docs").as("leak_ppm"))
  }

  // -- q217: incremental connected-components maintenance --------------------

  /** INCREMENTAL CC MAINTENANCE — the ops reality behind q55 at 100 TB:
    * the corpus grows daily, and re-running connected components over
    * EVERY edge ever seen is the cost this operator deletes. The
    * standard contraction argument: with base labels L already
    * computed, new edges only need CC over the CONTRACTED graph —
    * base endpoints map to their labels, so the incremental run's
    * node universe is (touched base clusters + delta docs), orders of
    * magnitude smaller than the corpus. Label identity is PRESERVED
    * exactly: a base label is the min doc id of its sub-cluster, so
    * the contracted component's min over (labels ∪ delta ids) is the
    * true global min — the output is BIT-IDENTICAL to a full q55-style
    * recompute, and the oracle (a full-recompute reachability closure)
    * gates exactly that.
    *
    * Delta convention: doc_id % 10 = 0 plays the newly-arrived batch
    * (the q48 incremental-dedup convention); base labels are computed
    * here for self-containment — a production run reads them from the
    * previous snapshot, paying ONLY the contracted run per batch.
    * Pair generation stays shared with q21's cached signatures. */
  val q217IncrementalCc: Q = (s, d) => {
    val isDelta = (c: org.apache.spark.sql.Column) => c % 10 === 0
    val pairs = LlmPipeline.q21DedupMinhashLsh(s, d)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
      .transform(graft.ops.SharedCache.persist)
    val baseLbl = graft.ops.Checkpoints.memo(s, s"cc:q217base:$d") {
      connectedComponents(
        pairs.filter(!isDelta(col("a")) && !isDelta(col("b"))))
    }.transform(graft.ops.SharedCache.persist)
    val contracted = pairs
      .filter(isDelta(col("a")) || isDelta(col("b")))
      .join(baseLbl.select(col("id").as("a"), col("lbl").as("la")),
        Seq("a"), "left")
      .join(baseLbl.select(col("id").as("b"), col("lbl").as("lb")),
        Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("a"),
        coalesce(col("lb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
    val merged = connectedComponents(contracted)
      .transform(graft.ops.SharedCache.persist)
    val baseFinal = baseLbl
      .join(merged.select(col("id").as("lbl"), col("lbl").as("mlbl")),
        Seq("lbl"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("mlbl"), col("lbl")).as("cluster_id"))
    // nodes the contracted run saw that are NOT relabeled base docs:
    // delta docs + base docs that were unpaired within the base
    val others = merged
      .join(baseLbl.select(col("id")), Seq("id"), "left_anti")
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
    baseFinal.unionByName(others)
  }

  // -- q211: leakage-free cluster-aware splits ------------------------------

  /** LEAKAGE-FREE SPLITS — the one-line fix q207's audit prices: assign
    * train/val/test by the hash of each document's dedup-cluster
    * REPRESENTATIVE (min doc_id = q55's cluster_id; the doc itself for
    * singletons), so a near-duplicate cluster moves between splits AS A
    * UNIT and the q207 leak rate is zero by construction. Keeps q42's
    * split proportions in expectation (the representative hash is the
    * same 16-bit md5 uniform) and q42's exact assignment for every
    * unclustered document — only members of multi-doc clusters can
    * move, and `moved` marks exactly the rows whose training-set
    * membership changes (the re-shuffle cost q207 weighs).
    *
    * Scale: one left join of the doc universe onto q55's cluster
    * relation (doc_id-keyed, text never shuffles), then narrow hash
    * math — nothing beyond q55's own cost. */
  val q211LeakFreeSplits: Q = (s, d) => {
    graft.Tables.documents(s, d).select(col("doc_id"))
      .join(q55DupClusters(s, d).select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("unit", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("unit"),
        splitOf(splitBucket(col("unit"))).as("split"),
        (splitOf(splitBucket(col("unit"))) =!=
          splitOf(splitBucket(col("doc_id")))).as("moved"))
  }

  // -- q193: dedup token-yield forecast ----------------------------------

  /** DEDUP TOKEN-YIELD FORECAST — q183 counts removable ROWS; this
    * prices them in the unit the training budget is written in:
    * per source, how many TOKENS dedup will remove (the non-keeper
    * rows of q55's clusters) and the yield ppm — the number that
    * decides whether a feed's dedup pass pays for itself, and the
    * per-source mirror-share signal (a feed whose token yield ≫ its
    * doc yield is mirroring its LONGEST documents).
    *
    * Plan: one narrow (doc_id, source, token count) projection — raw
    * text never leaves the scan — left-joined BY DOC ID to q55's
    * non-keeper rows (the cluster relation is |clustered docs|, far
    * smaller than the corpus; AQE broadcasts it when it fits), then
    * one map-combined |sources|-row aggregate. The cluster derivation
    * itself rides q21's SharedCache'd signature relations. */
  val q193DedupYield: Q = (s, d) => {
    val toks = graft.Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("t"))
    val removable = q55DupClusters(s, d)
      .filter(!col("is_keeper"))
      .select(col("doc_id"), lit(1L).as("rm"))
    toks.join(removable, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("t")).as("n_tokens"),
        sum(when(col("rm").isNotNull, 1L).otherwise(0L)).as("removable_docs"),
        sum(when(col("rm").isNotNull, col("t")).otherwise(0L))
          .as("removable_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("removable_docs"), col("removable_tokens"),
        expr("removable_docs * 1000000 div n_docs").as("doc_yield_ppm"),
        expr("removable_tokens * 1000000 div n_tokens").as("token_yield_ppm"))
  }

  // -- q203: landmark BFS hop histogram ---------------------------------

  /** Declared BFS horizon: hop distances are exact up to this depth,
    * anything deeper reports as unreachable (−1). The shipment graph's
    * measured eccentricity from the landmark set is ≤4 at every test
    * sf (Round10bOpsSpec pins max dist ≪ horizon, the q138
    * loud-failure discipline), so 12 is pure headroom. */
  private[graft] val BfsHorizon = 12

  /** LANDMARK BFS — the hop-distance histogram from a landmark set,
    * the missing REACHABILITY-WITH-DISTANCE member of the graph
    * family (q55 answers "same component?", q90 "how central?", this
    * "how FAR?"): multi-source breadth-first search over the
    * undirected supplier↔customer shipment graph from the declared
    * landmark suppliers (s_suppkey ≡ 1 mod 50 — 1/2/20 landmarks at
    * the test sfs), reporting (dist, n_nodes) with unreachable nodes
    * at −1. The landmark-distance sketch is the standard building
    * block for graph radius estimates and routing-locality audits.
    *
    * Scale shape is frontier iteration, NOT all-pairs: per round ONE
    * keyed join of the (shrinking) frontier onto the persisted
    * undirected adjacency + one anti-join against settled nodes —
    * each edge is expanded at most once per endpoint over the whole
    * run, so total work is O(E) like one PageRank iteration, and the
    * loop exits the round the frontier empties (true fixpoint, the
    * q138 lesson; [[BfsHorizon]] is a loud-failure cap, not the
    * semantics driver at test scale). Driver state: one frontier
    * count per round (bounded by graph diameter); the count doubles
    * as the k-core-style broadcast hint for the frontier side. */
  val q203BfsHops: Q = (s, d) => {
    val (edges, nodes, _) = shipmentGraph(s, d)
    val und = edges.select(col("src").as("a"), col("dst").as("b"))
      .unionByName(edges.select(col("dst").as("a"), col("src").as("b")))
      .transform(graft.ops.SharedCache.persist) // scanned per round
    val landmarks = graft.Tables.supplier(s, d)
      .filter(col("s_suppkey") % 50 === 1)
      .select(concat(lit("s"), col("s_suppkey")).as("node"))
    var dist = landmarks.withColumn("dist", lit(0L)).localCheckpoint(true)
    var frontier = dist
    var nFrontier = frontier.count()
    var r = 0
    while (nFrontier > 0 && r < BfsHorizon) {
      r += 1
      // checkpointed slivers carry no stats (the k-core discipline):
      // the driver KNOWS the frontier count — broadcast while it fits
      val hint: DataFrame => DataFrame =
        if (nFrontier <= 2000000L) broadcast else identity
      val next = und
        .join(hint(frontier.select(col("node").as("a"))), Seq("a"))
        .select(col("b").as("node")).distinct()
        .join(dist.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(r.toLong).as("dist"))
        .localCheckpoint(true) // read by the union AND next round's joins
      nFrontier = next.count()
      if (nFrontier > 0) {
        dist = dist.unionByName(next).localCheckpoint(true)
        frontier = next
      }
    }
    nodes.join(dist, Seq("node"), "left")
      .select(coalesce(col("dist"), lit(-1L)).as("dist"))
      .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
  }

  val defs: Map[String, Q] = Map(
    "q203_bfs_hops" -> q203BfsHops,
    "q193_dedup_yield" -> q193DedupYield,
    "q183_cluster_profile" -> q183ClusterProfile,
    "q207_split_leakage" -> q207SplitLeakage,
    "q211_leakfree_splits" -> q211LeakFreeSplits,
    "q217_incremental_cc" -> q217IncrementalCc,
    "q175_modularity" -> q175Modularity,
    "q55_dup_clusters" -> q55DupClusters,
    "q90_pagerank" -> q90PageRank,
    "q90b_pagerank_mass" -> q90bPageRankMass,
    "q264_hits" -> q264Hits,
    "q121_triangle_count" -> q121TriangleCount,
    "q136_link_prediction" -> q136LinkPrediction,
    "q248_degree_assortativity" -> q248DegreeAssortativity,
    "q138_kcore" -> q138KCore,
    "q162_label_prop" -> q162LabelProp)

  /** Shared oracle prefix for q162/q175: the co-purchase edge build +
    * [[LpaRounds]] unrolled synchronous LPA rounds as MATERIALIZED
    * CTEs (the q138 discipline), same (count desc, label asc) argmax
    * tiebreak as [[labelPropagate]]. Final labels are in r`LpaRounds`. */
  private def lpaOracleCtes: String = {
    val rounds = (1 to LpaRounds).map { r =>
      s"""r$r AS MATERIALIZED (
         |  SELECT node, nlbl AS lbl FROM (
         |    SELECT a.node, l.lbl AS nlbl, count(*) AS cnt,
         |      row_number() OVER (PARTITION BY a.node
         |        ORDER BY count(*) DESC, l.lbl ASC) AS rn
         |    FROM adj a JOIN r${r - 1} l ON l.node = a.nbr
         |    GROUP BY a.node, l.lbl)
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |  SELECT a.l_partkey AS x, b.l_partkey AS y
       |  FROM li a JOIN li b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport
       |), adj AS MATERIALIZED (
       |  SELECT x AS node, y AS nbr FROM e UNION ALL SELECT y, x FROM e
       |), r0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM adj),
       |$rounds""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q162_label_prop" ->
      s"""WITH $lpaOracleCtes
         |SELECT node AS p_partkey, lbl AS community,
         |  CAST(count(*) OVER (PARTITION BY lbl) AS BIGINT) AS n_members
         |FROM r$LpaRounds""".stripMargin,
    // Same LPA labels, then the same three relations: per-community
    // intra-edge counts over the (x<y) edge set, degree sums over the
    // doubled adjacency, and the identical floor-division e6 formula.
    "q175_modularity" ->
      s"""WITH $lpaOracleCtes,
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
         |        FROM adj GROUP BY 1),
         |intra AS (
         |  SELECT l1.lbl AS community, CAST(count(*) AS BIGINT) AS intra_edges
         |  FROM e
         |  JOIN r$LpaRounds l1 ON l1.node = e.x
         |  JOIN r$LpaRounds l2 ON l2.node = e.y
         |  WHERE l1.lbl = l2.lbl GROUP BY 1
         |), degc AS (
         |  SELECT l.lbl AS community, CAST(sum(d.deg) AS BIGINT) AS deg_sum,
         |    CAST(count(*) AS BIGINT) AS n_members
         |  FROM deg d JOIN r$LpaRounds l USING (node) GROUP BY 1
         |)
         |SELECT dc.community, dc.n_members,
         |  CAST(coalesce(i.intra_edges, 0) AS BIGINT) AS intra_edges,
         |  dc.deg_sum,
         |  coalesce(i.intra_edges, 0) * 1000000 // m.m
         |    - ((dc.deg_sum * 1000000 // (2 * m.m))
         |       * (dc.deg_sum * 1000000 // (2 * m.m))) // 1000000
         |    AS q_contrib_e6
         |FROM degc dc LEFT JOIN intra i USING (community) CROSS JOIN m""".stripMargin,
    // The same four peel rounds as chained CTEs over the self-join
    // edge restatement (q121 oracle convention for the edge builder).
    // Every round's CTEs are multi-referenced by later rounds, so they
    // MUST be AS MATERIALIZED: DuckDB otherwise inlines each reference
    // and the re-evaluation tree grows exponentially across rounds
    // (observed: temp-disk exhaustion at sf0.1).
    "q138_kcore" -> {
      val rounds = (1 to KCoreOracleRounds).map { r =>
        s"""d${r - 1} AS MATERIALIZED (
           |  SELECT node, count(*) AS deg FROM (
           |    SELECT x AS node FROM e${r - 1} UNION ALL SELECT y FROM e${r - 1}
           |  ) GROUP BY 1
           |), k${r - 1} AS MATERIALIZED (SELECT node FROM d${r - 1} WHERE deg >= $KCoreK),
           |e$r AS MATERIALIZED (
           |  SELECT e.x, e.y FROM e${r - 1} e
           |  JOIN k${r - 1} a ON e.x = a.node
           |  JOIN k${r - 1} b ON e.y = b.node
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
         |  FROM li a JOIN li b
         |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |),
         |$rounds
         |SELECT node AS p_partkey, CAST(count(*) AS BIGINT) AS deg_in_core FROM (
         |  SELECT x AS node FROM e$KCoreOracleRounds UNION ALL SELECT y FROM e$KCoreOracleRounds
         |) GROUP BY 1""".stripMargin
    },
    // Independent restatement: distinct-item self-join (a < b) against
    // the in-row pair expansion; same basket cap, weight, and floor.
    "q136_link_prediction" ->
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
         |), osize AS (
         |  SELECT l_orderkey, count(*) AS n_items
         |  FROM items GROUP BY 1
         |  HAVING count(*) BETWEEN 2 AND $RaMaxBasket
         |), pairs AS (
         |  SELECT a.l_partkey AS x, b.l_partkey AS y,
         |    CAST(1000000 // o.n_items AS BIGINT) AS w_e6
         |  FROM items a
         |  JOIN items b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_partkey < b.l_partkey
         |  JOIN osize o ON a.l_orderkey = o.l_orderkey
         |)
         |SELECT x, y, count(*) AS shared_orders,
         |  CAST(sum(w_e6) AS BIGINT) AS ra_e6
         |FROM pairs GROUP BY 1, 2
         |HAVING count(*) >= $RaMinShared""".stripMargin,
    // q90's chained-CTE restatement plus the dangling-mass scalars:
    // iteration 1's share in closed form off the uniform start,
    // iteration 2's as a scalar subquery over r1 — the same integer
    // e9 floor arithmetic as the Spark side, term for term.
    "q90b_pagerank_mass" ->
      """WITH e AS (
        |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
        |    'c' || CAST(o_custkey AS VARCHAR) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), nodes AS (
        |  SELECT src AS node FROM e UNION SELECT dst FROM e
        |), nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |dang AS (SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM e)),
        |s1 AS (
        |  SELECT (1000000000 // n) * (SELECT count(*) FROM dang) // n AS share
        |  FROM nn
        |),
        |r0 AS (SELECT node, 1000000000 // n AS rank_e9 FROM nodes CROSS JOIN nn),
        |i1 AS (
        |  SELECT e.dst, sum(r.rank_e9 // d.deg) AS inflow
        |  FROM e JOIN deg d ON e.src = d.src JOIN r0 r ON r.node = e.src
        |  GROUP BY 1
        |), r1 AS MATERIALIZED (
        |  SELECT node,
        |    150000000 // n + 85 * (coalesce(inflow, 0) + share) // 100 AS rank_e9
        |  FROM nodes CROSS JOIN nn CROSS JOIN s1 LEFT JOIN i1 ON i1.dst = node
        |), s2 AS (
        |  SELECT coalesce((SELECT sum(rank_e9) FROM r1
        |    WHERE node IN (SELECT node FROM dang)), 0) // n AS share
        |  FROM nn
        |), i2 AS (
        |  SELECT e.dst, sum(r.rank_e9 // d.deg) AS inflow
        |  FROM e JOIN deg d ON e.src = d.src JOIN r1 r ON r.node = e.src
        |  GROUP BY 1
        |), r2 AS (
        |  SELECT node,
        |    150000000 // n + 85 * (coalesce(inflow, 0) + share) // 100 AS rank_e9
        |  FROM nodes CROSS JOIN nn CROSS JOIN s2 LEFT JOIN i2 ON i2.dst = node
        |)
        |SELECT node, CAST(rank_e9 AS BIGINT) AS rank_e9 FROM r2""".stripMargin,
    // Independent restatement: a recursive CTE explores (node, depth)
    // pairs to the same declared horizon, min(depth) per node is the
    // hop distance — the engine's frontier loop must agree exactly,
    // including which nodes stay at −1.
    "q203_bfs_hops" ->
      s"""WITH RECURSIVE und AS (
         |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS a,
         |    'c' || CAST(o_custkey AS VARCHAR) AS b
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  UNION
         |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR),
         |    's' || CAST(l_suppkey AS VARCHAR)
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |), reach(node, dd) AS (
         |  SELECT 's' || CAST(s_suppkey AS VARCHAR), 0
         |  FROM supplier WHERE s_suppkey % 50 = 1
         |  UNION
         |  SELECT u.b, r.dd + 1
         |  FROM reach r JOIN und u ON u.a = r.node
         |  WHERE r.dd < $BfsHorizon
         |), dmin AS (
         |  SELECT node, min(dd) AS dist FROM reach GROUP BY 1
         |), nodes AS (
         |  SELECT DISTINCT a AS node FROM und
         |)
         |SELECT CAST(coalesce(m.dist, -1) AS BIGINT) AS dist,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM nodes n LEFT JOIN dmin m ON m.node = n.node
         |GROUP BY 1""".stripMargin,
    // The same two unrolled iterations as chained CTEs — integer e9
    // floor arithmetic reproduces exactly (q57 unrolled-Lloyd
    // convention for iterative algorithms).
    "q90_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
        |    'c' || CAST(o_custkey AS VARCHAR) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), nodes AS (
        |  SELECT src AS node FROM e UNION SELECT dst FROM e
        |), nn AS (SELECT count(*) AS n FROM nodes),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node, 1000000000 // n AS rank_e9 FROM nodes CROSS JOIN nn),
        |i1 AS (
        |  SELECT e.dst, sum(r.rank_e9 // d.deg) AS inflow
        |  FROM e JOIN deg d ON e.src = d.src JOIN r0 r ON r.node = e.src
        |  GROUP BY 1
        |), r1 AS (
        |  SELECT node, 150000000 // n + 85 * coalesce(inflow, 0) // 100 AS rank_e9
        |  FROM nodes CROSS JOIN nn LEFT JOIN i1 ON i1.dst = node
        |), i2 AS (
        |  SELECT e.dst, sum(r.rank_e9 // d.deg) AS inflow
        |  FROM e JOIN deg d ON e.src = d.src JOIN r1 r ON r.node = e.src
        |  GROUP BY 1
        |), r2 AS (
        |  SELECT node, 150000000 // n + 85 * coalesce(inflow, 0) // 100 AS rank_e9
        |  FROM nodes CROSS JOIN nn LEFT JOIN i2 ON i2.dst = node
        |)
        |SELECT node, CAST(rank_e9 AS BIGINT) AS rank_e9 FROM r2""".stripMargin,
    // Same distinct bipartite edges, same L1-normalized integer e9
    // half-steps restated as chained CTEs with 1-row norm CTEs where
    // the Spark plan holds driver scalars — identical floor math.
    "q264_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
        |    'c' || CAST(o_custkey AS VARCHAR) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |), hn AS (
        |  SELECT greatest(count(DISTINCT src), 1) AS nh FROM e
        |), a1raw AS (
        |  SELECT dst, CAST(sum(1000000000 // nh) AS BIGINT) AS raw
        |  FROM e CROSS JOIN hn GROUP BY 1
        |), sa1 AS (SELECT greatest(coalesce(sum(raw), 0), 1) AS sv FROM a1raw),
        |a1 AS (
        |  SELECT dst, CAST(raw * 1000000000 // sv AS BIGINT) AS a_e9
        |  FROM a1raw CROSS JOIN sa1
        |), h1raw AS (
        |  SELECT e.src, CAST(sum(a.a_e9) AS BIGINT) AS raw
        |  FROM e JOIN a1 a ON a.dst = e.dst GROUP BY 1
        |), sh1 AS (SELECT greatest(coalesce(sum(raw), 0), 1) AS sv FROM h1raw),
        |h1 AS (
        |  SELECT src, CAST(raw * 1000000000 // sv AS BIGINT) AS h_e9
        |  FROM h1raw CROSS JOIN sh1
        |), a2raw AS (
        |  SELECT e.dst, CAST(sum(h.h_e9) AS BIGINT) AS raw
        |  FROM e JOIN h1 h ON h.src = e.src GROUP BY 1
        |), sa2 AS (SELECT greatest(coalesce(sum(raw), 0), 1) AS sv FROM a2raw),
        |a2 AS (
        |  SELECT dst, CAST(raw * 1000000000 // sv AS BIGINT) AS a_e9
        |  FROM a2raw CROSS JOIN sa2
        |), h2raw AS (
        |  SELECT e.src, CAST(sum(a.a_e9) AS BIGINT) AS raw
        |  FROM e JOIN a2 a ON a.dst = e.dst GROUP BY 1
        |), sh2 AS (SELECT greatest(coalesce(sum(raw), 0), 1) AS sv FROM h2raw),
        |h2 AS (
        |  SELECT src, CAST(raw * 1000000000 // sv AS BIGINT) AS h_e9
        |  FROM h2raw CROSS JOIN sh2
        |)
        |SELECT 'hub' AS kind, src AS node, h_e9 AS score_e9 FROM h2
        |UNION ALL
        |SELECT 'authority' AS kind, dst AS node, a_e9 AS score_e9 FROM a2""".stripMargin,
    // Independent restatement: plain a<b pair expansion via self-join
    // (no in-row expansion), the same (deg, id) orientation via
    // DuckDB row-value comparison, and the same wedge-close join.
    "q121_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS x, b.l_partkey AS y
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT x AS node FROM e UNION ALL SELECT y FROM e
        |  ) GROUP BY 1
        |), o AS (
        |  SELECT
        |    CASE WHEN (da.deg, e.x) < (db.deg, e.y) THEN e.x ELSE e.y END AS src,
        |    CASE WHEN (da.deg, e.x) < (db.deg, e.y) THEN e.y ELSE e.x END AS dst,
        |    CASE WHEN (da.deg, e.x) < (db.deg, e.y) THEN db.deg ELSE da.deg END AS ddeg
        |  FROM e JOIN deg da ON da.node = e.x JOIN deg db ON db.node = e.y
        |), tri AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM o e1
        |  JOIN o e2 ON e1.src = e2.src AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)
        |  JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst
        |), corners AS (
        |  SELECT node, count(*) AS n_triangles FROM (
        |    SELECT a AS node FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri
        |  ) GROUP BY 1
        |)
        |SELECT deg.node AS p_partkey, deg.deg,
        |  coalesce(corners.n_triangles, 0) AS n_triangles,
        |  CASE WHEN deg.deg >= 2
        |    THEN 2 * coalesce(corners.n_triangles, 0) * 1000000
        |           // (deg.deg * (deg.deg - 1))
        |    ELSE 0 END AS clustering_e6
        |FROM deg LEFT JOIN corners ON corners.node = deg.node""".stripMargin,
    // q121's edge + degree CTEs verbatim; the same exact integer
    // moments and the identical rounded IEEE ratio.
    "q248_degree_assortativity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        |  SELECT a.l_partkey AS x, b.l_partkey AS y
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |    SELECT x AS node FROM e UNION ALL SELECT y FROM e
        |  ) GROUP BY 1
        |), m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |    CAST(sum(da.deg * db.deg) AS BIGINT) AS sum_jk,
        |    CAST(sum(da.deg + db.deg) AS BIGINT) AS sum_jpk,
        |    CAST(sum(da.deg * da.deg + db.deg * db.deg) AS BIGINT) AS sum_j2k2
        |  FROM e JOIN deg da ON da.node = e.x JOIN deg db ON db.node = e.y
        |)
        |SELECT n_edges, sum_jk, sum_jpk, sum_j2k2,
        |  CASE WHEN 2 * n_edges * sum_j2k2 - sum_jpk * sum_jpk > 0 THEN
        |    CAST(round(
        |      CAST(4 * n_edges * sum_jk - sum_jpk * sum_jpk AS DOUBLE)
        |      / (2 * n_edges * sum_j2k2 - sum_jpk * sum_jpk)
        |      * 1000000, 0) AS BIGINT)
        |  END AS assort_e6
        |FROM m""".stripMargin,
    // q55's closure CTEs verbatim; non-keepers are the clustered docs
    // whose id is not their component's min label; same tokenizer as
    // every token query, same truncating ppm.
    // The FULL-RECOMPUTE closure over all docs: the oracle states the
    // equivalence the contraction argument proves — incremental
    // maintenance must land on exactly the from-scratch labels.
    "q217_incremental_cc" ->
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
         |)
         |SELECT doc_id, min(lbl) AS cluster_id FROM walk GROUP BY doc_id""".stripMargin,
    // q55's closure + the same representative-hash split on
    // coalesce(cluster_id, doc_id); `moved` restated by comparing both
    // split cases.
    "q211_leakfree_splits" ->
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
         |), u AS (
         |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS unit
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
         |), sp AS (
         |  SELECT doc_id, unit,
         |    CASE WHEN CAST('0x' || substr(md5(CAST(unit AS VARCHAR)), 1, 4) AS BIGINT) % 10 < 8 THEN 'train'
         |         WHEN CAST('0x' || substr(md5(CAST(unit AS VARCHAR)), 1, 4) AS BIGINT) % 10 = 8 THEN 'val'
         |         ELSE 'test' END AS split,
         |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 < 8 THEN 'train'
         |         WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 = 8 THEN 'val'
         |         ELSE 'test' END AS own_split
         |  FROM u
         |)
         |SELECT doc_id, unit, split, split <> own_split AS moved
         |FROM sp""".stripMargin,
    // q55's reachability-closure oracle + q42's split hash; the straddle
    // flag restated as a per-cluster distinct-split count.
    "q207_split_leakage" ->
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
         |), sp AS (
         |  SELECT doc_id, cluster_id,
         |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 < 8 THEN 'train'
         |         WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10 = 8 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM comp
         |), lk AS (
         |  SELECT cluster_id,
         |    CASE WHEN count(DISTINCT split) > 1 THEN 1 ELSE 0 END AS leaky
         |  FROM sp GROUP BY 1
         |), per AS (
         |  SELECT s.split, s.cluster_id, CAST(count(*) AS BIGINT) AS docs,
         |    CAST(max(l.leaky) AS BIGINT) AS leaky
         |  FROM sp s JOIN lk l ON l.cluster_id = s.cluster_id
         |  GROUP BY 1, 2
         |)
         |SELECT split, CAST(sum(docs) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(docs * leaky) AS BIGINT) AS leaky_docs,
         |  CAST(sum(leaky) AS BIGINT) AS leaky_clusters,
         |  CAST(sum(docs * leaky) * 1000000 // sum(docs) AS BIGINT) AS leak_ppm
         |FROM per GROUP BY 1""".stripMargin,
    "q193_dedup_yield" ->
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
         |), rm AS (
         |  SELECT doc_id FROM comp WHERE doc_id <> cluster_id
         |), ytoks AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS t
         |  FROM documents
         |), agg AS (
         |  SELECT k.source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(k.t) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS removable_docs,
         |    CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN k.t ELSE 0 END) AS BIGINT) AS removable_tokens
         |  FROM ytoks k LEFT JOIN rm r ON r.doc_id = k.doc_id
         |  GROUP BY 1
         |)
         |SELECT source, n_docs, n_tokens, removable_docs, removable_tokens,
         |  removable_docs * 1000000 // n_docs AS doc_yield_ppm,
         |  removable_tokens * 1000000 // n_tokens AS token_yield_ppm
         |FROM agg""".stripMargin,
    // q55's reachability-closure oracle, collapsed to per-size rows
    // over the one-keeper-per-cluster relation.
    "q183_cluster_profile" ->
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
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM comp GROUP BY 1
         |)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs,
         |  CAST((cluster_size - 1) * count(*) AS BIGINT) AS n_removable
         |FROM sz GROUP BY 1""".stripMargin,
    // Reachability fixpoint per node (recursive CTE), then min label —
    // algorithmically independent of the Spark pointer-doubling loop.
    "q55_dup_clusters" ->
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
         |)
         |SELECT c.doc_id, c.cluster_id, s.cluster_size,
         |  c.doc_id = c.cluster_id AS is_keeper
         |FROM comp c JOIN (
         |  SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY 1
         |) s ON s.cluster_id = c.cluster_id""".stripMargin)


}
