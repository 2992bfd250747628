package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics over relationship tables (beyond the
  * connected-components fixpoint in Dedup): weighted PageRank on the
  * supplier↔customer bipartite graph induced by lineitem+orders.
  * The reference has no graph surface; a complete engine needs the
  * iterative-propagation shape — it is the same loop PageRank-style
  * quality weighting runs over web-crawl link graphs when scoring
  * pretraining documents.
  */
object Graph {

  /** Weighted PageRank, 3 synchronous iterations, damping 0.85.
    *
    * Graph: node ids keep the two sides disjoint by sign — customers
    * as c_custkey (≥ 0), suppliers as -(s_suppkey+1) (< 0). Each
    * (supplier, customer) pair that co-occurs on a lineitem
    * contributes an edge in BOTH directions weighted by the
    * co-occurrence count, so every node has out-degree > 0 (no
    * dangling-mass correction needed).
    *
    * Determinism is the engineered part: the per-target sum of
    * neighbor contributions is a SUM over doubles, which is
    * order-dependent — so each contribution is scaled to an exact
    * integer (round(r·w/outdeg · 1e12)) and the shuffle sums BIGINTs
    * (order-independent, overflow-safe: contributions ≤ 1e12, edge
    * count bounds the sum far under 2^63). One double multiply/add
    * per node closes the iteration: r' = 0.15/N + 0.85·(S/1e12),
    * identical operand structure in the DuckDB oracle → bit-exact
    * ranks after all 3 rounds.
    *
    * Scale shape per iteration: one shuffle keyed by dst (the
    * contribution sum); ranks and degrees join edges by src — at
    * 100 TB that is a co-partitioned join on the same key the next
    * round shuffles anyway. The rounds run through `Iterate`.
    */
  def pagerank(s: SparkSession, dir: String, iterations: Int = 3)
      : DataFrame =
    // pooled like the CC labels: the rank loop's job cascade is the
    // cost (the rank table itself is |nodes| rows) — one build per
    // (session, dir, iterations), later invocations read the table
    graft.CachePool.cached(s, s"graph.pagerank:$dir:$iterations") {
      pagerankBuild(s, dir, iterations)
    }

  /** Bounded-round k-core peel over the co-purchase graph: repeatedly
    * remove nodes with degree < k and the edges they carry — the
    * density filter that isolates a graph's stable core (spam/bot
    * subgraph mining, community seeding, the preprocessing cut before
    * expensive per-node graph features). Removing a weak node lowers
    * its neighbors' degrees, so the peel CASCADES across rounds
    * (measured at sf0.01: 865 → 505 → 245 surviving nodes).
    *
    * The threshold is DATA-RELATIVE, derived in-plan: k = lower-median
    * initial degree + 1 (an absolute k cannot transfer across
    * densities — this same graph's median degree is 23 at sf0.001 and
    * 3 at sf0.01). The median comes from the bounded degree-VALUE
    * histogram: cumulative counts via a ≤ self-join on that
    * (distinct-degrees)-row table — never a global window (the
    * single-partition shape this engine bans) — then min deg with
    * cum ≥ (n+1) div 2, all integers (the MAD gate's lower-median
    * discipline).
    *
    * Rounds are FIXED (the lpa/pagerank bounded-round form): a
    * production fixpoint loops the same two jobs until no node falls.
    * The emitted table is the state after `rounds` rounds and the
    * oracle replays the SAME bounded unrolling, so the gate checks
    * the iteration exactly, not just its limit. Per round: one
    * map-side-combined degree count + two equi-joins keyed by the
    * endpoints, run through `Iterate`. No floats anywhere.
    */
  def kcore(s: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    // pooled like pagerank/lpa: the peel's job cascade (threshold
    // derivation + one checkpointed prune per round) is the cost, the
    // result is |core| rows — one build per (session, dir, rounds)
    graft.CachePool.cached(s, s"graph.kcore:$dir:$rounds") {
      kcoreEdges(bothWays(pooledEdges(s, dir)), rounds)
    }

  /** The peel core over any symmetric edge set (both directions
    * present) — split out so specs can drive it with hand-built
    * graphs, like triangleCountEdges.
    */
  private[operators] def kcoreEdges(sym: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"kcore needs at least one round, got $rounds")
    val d0 = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    val degCounts = d0.groupBy("deg").agg(count(lit(1)).as("cnt"))
    val n1 = d0.agg(count(lit(1)).as("n"))
    val cum = degCounts.select(col("deg"))
      .join(broadcast(degCounts.select(col("deg").as("d2"),
        col("cnt"))), col("d2") <= col("deg"))
      .groupBy("deg").agg(sum(col("cnt")).as("cum"))
    val kk = cum.crossJoin(broadcast(n1))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .agg(min(col("deg")).as("med"))
      .select((col("med") + 1).as("k"))
      .localCheckpoint() // 1 row, read every round
    def prune(edges: DataFrame): DataFrame = {
      // keep is read twice below but BOTH reads live in the round's
      // single job over the checkpointed prior edge set — a cheap
      // re-aggregation, not worth its own eager checkpoint job
      // (measured: the per-round keep checkpoints were most of the
      // query's wall time at sf0.1)
      val keep = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .crossJoin(broadcast(kk))
        .filter(col("deg") >= col("k"))
        .select(col("src").as("kn"))
      edges
        .join(keep, col("src") === col("kn")).drop("kn")
        .join(keep.select(col("kn").as("kn2")), col("dst") === col("kn2"))
        .drop("kn2")
    }
    // round 1 prunes the caller's edges, so its output seeds the loop
    val edges = Iterate.rounds(prune(sym), rounds - 1)((e, _) => prune(e))
    Iterate.release(kk)
    edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .orderBy("node")
  }

  /** The signed-id bipartite edge set (see pagerank's doc) is shared
    * by PageRank and label propagation — pooled so a session running
    * both pays the lineitem⋈orders build once.
    */
  private def bipartiteEdges(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"graph.bipartiteEdges:$dir") {
      val pair = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy( // a = supplier node, b = customer node
          (-(col("l_suppkey") + 1)).as("a"), col("o_custkey").as("b"))
        .agg(count(lit(1)).as("w"))
      bothWays(pair, col("w")).localCheckpoint()
    }

  /** The bipartite edges' out-degrees, and the edges annotated with
    * their source's degree ONCE (checkpointed: re-joining degrees
    * inside the rank loop would repeat a full edge-table join every
    * round for a value that never changes).
    */
  private def degreeEdges(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val edges = bipartiteEdges(s, dir)
    val outdeg = edges.groupBy("src").agg(sum(col("w")).as("outdeg"))
    (outdeg, edges.join(outdeg, Seq("src")).localCheckpoint())
  }

  /** Each edge's share of its source's rank, scaled to an exact
    * integer (see pagerank's doc).
    */
  private def contributions(edgesDeg: DataFrame, ranks: DataFrame)
      : DataFrame =
    edgesDeg.join(ranks, edgesDeg("src") === ranks("node"))
      .select(col("dst"),
        round(col("rank") * col("w") / col("outdeg") * lit(1e12))
          .cast("long").as("c"))

  private def pagerankBuild(s: SparkSession, dir: String,
      iterations: Int): DataFrame = {
    val (outdeg, edgesDeg) = degreeEdges(s, dir)
    val n = outdeg.count() // node set = all edge sources (both sides)
    val init = outdeg.select(col("src").as("node"),
      (lit(1.0) / n).as("rank"))
    val ranks = Iterate.rounds(init, iterations) { (ranks, _) =>
      contributions(edgesDeg, ranks).groupBy(col("dst").as("node"))
        .agg((lit(0.15) / n +
          lit(0.85) * (sum(col("c")) / lit(1e12))).as("rank"))
    }
    Iterate.release(edgesDeg)
    ranks.orderBy("node")
  }

  /** Personalized PageRank (Haveliwala 2002): teleport mass
    * concentrated on a SEED COHORT instead of spread uniformly —
    * r = 0.15·e_S + 0.85·P·r — so the stationary mass ranks nodes by
    * relevance TO THAT COHORT, not global popularity: the
    * recommendation form of the rank loop ("which suppliers matter
    * to nation-1 customers"), and at corpus scale the seeded variant
    * that scores crawl pages against a trusted-domain seed set.
    * Same determinism engineering as pagerank (contributions scaled
    * to 1e12 BIGINTs, one double multiply/add closing each round,
    * identical operand structure in the chained-CTE oracle), but the
    * teleport enters via a full outer join with the seed table —
    * non-seed nodes get walk mass only, nodes the walk hasn't
    * reached keep their teleport share (mass leaks out of dead ends
    * exactly like the textbook defines for a restart vector). Output
    * = the supplier side's top-20 under (rank desc, key) — a
    * deterministic TakeOrderedAndProject.
    */
  def personalizedPagerank(s: SparkSession, dir: String,
      iterations: Int = 3, topN: Int = 20): DataFrame =
    graft.CachePool.cached(s, s"graph.ppr:$dir:$iterations") {
      pprBuild(s, dir, iterations, topN)
    }

  private def pprBuild(s: SparkSession, dir: String, iterations: Int,
      topN: Int): DataFrame = {
    val (outdeg, edgesDeg) = degreeEdges(s, dir)
    val seeds = Tables.customer(s, dir)
      .filter(col("c_nationkey") === 1)
      .select(col("c_custkey").as("node"))
      .join(outdeg.select(col("src").as("node")), Seq("node"),
        "left_semi")
      .localCheckpoint()
    val nS = seeds.count()
    val init = seeds.select(col("node"), (lit(1.0) / nS).as("rank"))
    val ranks = Iterate.rounds(init, iterations) { (ranks, _) =>
      val walk = contributions(edgesDeg, ranks)
        .groupBy(col("dst").as("node"))
        .agg((lit(0.85) * (sum(col("c")) / lit(1e12))).as("walk"))
      walk
        .join(seeds.select(col("node"), lit(1).as("is_seed")),
          Seq("node"), "full_outer")
        .select(col("node"),
          (when(col("is_seed").isNotNull, lit(0.15) / nS)
            .otherwise(lit(0.0)) +
            coalesce(col("walk"), lit(0.0))).as("rank"))
    }
    Iterate.release(edgesDeg)
    Iterate.release(seeds)
    ranks.filter(col("node") < 0)
      .select((-col("node") - 1).as("s_suppkey"), col("rank"))
      .orderBy(col("rank").desc, col("s_suppkey"))
      .limit(topN)
  }

  /** Community detection by synchronous label propagation (Raghavan
    * et al. 2007), 3 rounds, over the same signed-id bipartite graph
    * as pagerank — the community primitive training-data curation
    * uses to find template farms and spam rings in document link
    * graphs. Each round every node adopts the label with the highest
    * total incident edge weight among its neighbors, tie-broken by
    * SMALLEST label — weights are exact BIGINT co-occurrence counts
    * and the tie-break totally orders candidates, so the fixed-round
    * sync schedule is fully deterministic and the DuckDB oracle
    * replays it round by round (chained CTEs, like pagerank's).
    *
    * Scale shape per round: one shuffle keyed (dst, lbl) for the
    * score sums + one keyed dst for the argmax — both partial-
    * aggregated map-side; labels join edges by src, the same key the
    * next round shuffles (co-partitioned at scale). The argmax rides
    * max(struct(score, -lbl)) — an ordinary aggregate, no window, no
    * single-partition choke. The rounds run through `Iterate`.
    */
  def labelPropagation(s: SparkSession, dir: String,
      iterations: Int = 3): DataFrame =
    graft.CachePool.cached(s, s"graph.lpa:$dir:$iterations") {
      lpaBuild(s, dir, iterations)
    }

  private def lpaBuild(s: SparkSession, dir: String,
      iterations: Int): DataFrame =
    lpaRounds(bipartiteEdges(s, dir), iterations)

  /** The synchronous LPA round loop over any symmetric weighted edge
    * table (src, dst, w) — split out so the modularity scorer can run
    * it on the UNIPARTITE co-purchase graph (on a bipartite graph,
    * identity-initialized synchronous LPA provably never mixes the
    * two sides — label spaces alternate sides each round — so
    * cross-side community scores are structurally degenerate there;
    * measured: Newman Q −0.27, Barber Q exactly 0).
    */
  private[operators] def lpaRounds(edges: DataFrame,
      iterations: Int): DataFrame = {
    val init = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    val labels = Iterate.rounds(init, iterations) { (labels, _) =>
      edges.join(labels, edges("src") === labels("node"))
        .groupBy(col("dst"), col("lbl"))
        .agg(sum(col("w")).as("score"))
        .groupBy(col("dst").as("node"))
        .agg(max(struct(col("score"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("lbl"))
    }
    labels.select(col("node"), col("lbl").as("community"))
      .orderBy("node")
  }

  /** Weighted modularity of LPA communities on the UNIPARTITE
    * co-purchase graph — the EVALUATION the community detector itself
    * never provides: Q = Σ_c [w_in_c/m − (d_c/2m)²], the gap between
    * observed in-community weight and the degree-preserving random
    * expectation (Newman 2004). In the symmetric-edge representation
    * everything is one integer identity: with S = Σ_sym w (= 2m),
    * Q = Σ_c (S·sym_in_c − d_c²) / S² — per-community numerators
    * exact BIGINT, and the one division is IEEE on two < 2⁵³ exact
    * integers (bit-identical both engines; no ppm floor because Q
    * can be negative and the engines' integer divisions disagree on
    * negative floors).
    *
    * Why the co-purchase graph and not the bipartite one the LPA
    * query runs on: identity-initialized synchronous LPA on a
    * bipartite graph NEVER mixes sides (see lpaRounds), so cross-
    * side modularity is degenerate by construction — measured Newman
    * −0.27 / Barber exactly 0. On the unipartite graph the score is
    * honest: ~+0.005 here, i.e. the detector correctly finds almost
    * no structure in a uniform co-occurrence graph — a measurement,
    * not a failure.
    *
    * Shape: labels join each edge endpoint (two hash joins on the
    * pooled symmetric edges), in-community weight and degree sums
    * are map-side-combining groupBys, and everything after is
    * |communities| rows. The label build pools under its own tag.
    */
  def modularity(s: SparkSession, dir: String,
      iterations: Int = 3): DataFrame =
    modularityCore(s, pooledWeighted(s, dir),
      s"graph.lpaUni:$dir:$iterations", iterations)

  /** The LPA + modularity readout over any weighted undirected edge
    * set (a, b, sup) — shared by the full co-purchase graph and the
    * sampled-subgraph companion; `lpaKey` pools the label rounds.
    */
  private def modularityCore(s: SparkSession, und: DataFrame,
      lpaKey: String, iterations: Int): DataFrame = {
    val edges = bothWays(und, col("sup").as("w"))
    val lbl = graft.CachePool.cached(s, lpaKey) {
      lpaRounds(edges, iterations)
    }.select(col("node"), col("community"))
    val byComm = edges.groupBy("src").agg(sum(col("w")).as("k"))
      .join(lbl.withColumnRenamed("node", "src"), "src")
      .groupBy("community")
      .agg(sum(col("k")).as("d_c"), count(lit(1)).as("n_nodes"))
    val winC = edges
      .join(lbl.select(col("node").as("src"),
        col("community").as("c_src")), "src")
      .join(lbl.select(col("node").as("dst"),
        col("community").as("c_dst")), "dst")
      .filter(col("c_src") === col("c_dst"))
      .groupBy(col("c_src").as("community"))
      .agg(sum(col("w")).as("w_in_sym"))
    val total = edges.agg(sum(col("w")).as("s2m"))
    val per = byComm.join(winC, Seq("community"), "left")
      .na.fill(0L, Seq("w_in_sym"))
      .crossJoin(broadcast(total))
      .withColumn("contrib_num",
        expr("s2m * w_in_sym - d_c * d_c"))
    per.crossJoin(broadcast(
        per.agg(sum(col("contrib_num")).as("q_num"))))
      .select(col("community"), col("n_nodes"), col("d_c"),
        col("w_in_sym"), col("contrib_num"), col("s2m"), col("q_num"),
        (col("q_num").cast("double") /
          (col("s2m") * col("s2m")).cast("double")).as("q"))
      .orderBy("community")
  }

  /** Triangle counting over the part co-purchase graph (parts that
    * share an order are adjacent) — the graph-motif primitive behind
    * clustering coefficients and community features.
    *
    * Scale design — DEGREE-ORDERED compact-forward, not the naive
    * a<b<c self-join: nodes are ranked by (degree, id) and every edge
    * is oriented low-rank → high-rank, so each node's OUT-degree is
    * O(√m) regardless of how hot a hub is, and the wedge join
    * (out-edges paired per source) cannot quadratically explode on a
    * celebrity node — the exact failure mode of id-ordering at
    * 100 TB. Every triangle is counted exactly once (at its
    * lowest-rank vertex); GraphSpec proves equality with the naive
    * orientation, and the DuckDB oracle replays the naive form.
    * Joins: 2 relabel, 1 wedge (equi on src), 1 closing equi-join —
    * all shuffle-partitioned, nothing driver-side.
    */
  def triangleCount(s: SparkSession, dir: String): DataFrame =
    pooledTriangles(s, dir)

  /** The 1-row triangle/edge/node count is itself pooled: clustering
    * coefficient consumes the identical counting pipeline, so a session
    * running both queries pays the orientation + wedge + closing joins
    * once, not twice.
    */
  private def pooledTriangles(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"graph.triangles:$dir") {
      triangleCountEdges(pooledEdges(s, dir))
    }

  /** The support-pruned co-purchase edge set is a shared intermediate
    * (triangle count + clustering coefficient) — pooled like the
    * dedup pair graph; the bench tags its consumers `pooled` and
    * reports their cold build.
    */
  private def pooledEdges(s: SparkSession, dir: String): DataFrame =
    pooledWeighted(s, dir).select("a", "b")

  /** Both directions of an undirected (a, b) edge set, as (src, dst)
    * plus `extra` columns computed on each copy.
    */
  private[operators] def bothWays(und: DataFrame, extra: Column*): DataFrame =
    und.select(col("a").as("src") +: col("b").as("dst") +: extra: _*)
      .unionByName(
        und.select(col("b").as("src") +: col("a").as("dst") +: extra: _*))

  /** The pooled build keeps the support column so weighted consumers
    * (SSSP) share the same cached table as the unweighted ones —
    * dropping `sup` is a free row-local projection on top.
    */
  private def pooledWeighted(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"graph.coPurchase:$dir") {
      coPurchaseWeighted(s, dir)
    }

  /** Deterministic ¼-node induced subgraph of the co-purchase graph
    * (both endpoints ≡ 0 mod 4) — the sampled-replay substrate for
    * the third-decade gate (round-12, closing the round-11 sf1.0
    * exclusions): the FULL graph's bounded-round oracles are
    * prohibitive for a single-node recursive replay at sf1.0 (DuckDB
    * needs >64 GB RAM or >46 GiB spill on the 160k-node graph), but
    * the same operator code over the induced subgraph replays in
    * seconds at every sf. Filtering the support-pruned EDGE set on
    * its endpoints equals inducing on sampled nodes with unchanged
    * edge supports (dropping other parts can't change how often two
    * surviving parts co-occur), so the companion queries run exactly
    * the production operator on a smaller graph — same rounds, same
    * data-relative thresholds, same total orders — not a variant
    * algorithm. Node ids are l_partkey hash-draws, so id mod 4 is an
    * unbiased ~1/16 edge sample.
    */
  private def sampledWeighted(s: SparkSession, dir: String): DataFrame =
    pooledWeighted(s, dir)
      .filter(pmod(col("a"), lit(4)) === 0 && pmod(col("b"), lit(4)) === 0)

  /** kcore over the sampled subgraph (see sampledWeighted): gates the
    * peel's exact bounded unrolling at scale factors where the full
    * graph's oracle is prohibitive. k is re-derived from the SAMPLED
    * graph's own degree median — the operator's data-relative
    * threshold contract, exercised end-to-end.
    */
  def kcoreSample(s: SparkSession, dir: String, rounds: Int = 3)
      : DataFrame =
    graft.CachePool.cached(s, s"graph.kcoreSample:$dir:$rounds") {
      kcoreEdges(bothWays(sampledWeighted(s, dir)), rounds)
    }

  /** BFS over the sampled subgraph — same seed convention
    * (node % 50 == 0) and level-synchronous rounds as bfsHops.
    */
  def bfsHopsSample(s: SparkSession, dir: String, rounds: Int = 3)
      : DataFrame =
    graft.CachePool.cached(s, s"graph_bfsSample:$dir:$rounds") {
      bfsHopsEdges(sampledWeighted(s, dir).select("a", "b"), rounds)
    }

  /** LPA + modularity over the sampled subgraph — the same lpaRounds
    * and readout as modularity, pooled under its own key.
    */
  def modularitySample(s: SparkSession, dir: String,
      iterations: Int = 3): DataFrame =
    modularityCore(s, sampledWeighted(s, dir),
      s"graph.lpaUniSample:$dir:$iterations", iterations)

  /** Global clustering coefficient: 3·triangles / wedges — how much
    * of the graph's open-wedge structure actually closes (the
    * transitivity statistic community detection starts from). Wedge
    * count needs only the degree table (Σ d·(d-1)/2 — row-local
    * arithmetic after the degree groupBy); triangles reuse the
    * degree-ordered counter. The ratio divides two exact BIGINTs once.
    */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val e = pooledEdges(s, dir)
    val tri = pooledTriangles(s, dir).select(col("n_triangles"))
    val wedges = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .agg(sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_wedges"))
    tri.crossJoin(broadcast(wedges))
      .select(col("n_triangles"), col("n_wedges"),
        (col("n_triangles") * lit(3.0) / col("n_wedges"))
          .as("global_coeff"))
  }

  /** Per-node LOCAL clustering coefficient — the node-grain form of
    * the global transitivity statistic: lcc(v) = triangles through v
    * / C(deg v, 2), the "how clique-like is this node's
    * neighborhood" number behind spam/bot neighborhood detection
    * (bots sit in star-shaped neighborhoods, lcc ≈ 0; organic
    * co-purchase neighborhoods close). Same degree-ordered wedge
    * machinery as the global counter, but the closing join is INNER
    * (not semi) with all three corners kept, so each triangle
    * explodes into exactly 3 incidence rows; the coefficient lands
    * by the div-ppm law (2·10⁶·tri div d(d−1)); degree-1 nodes get
    * 0 by definition. Output |nodes| rows.
    */
  def localClustering(s: SparkSession, dir: String): DataFrame =
    localClusteringEdges(pooledEdges(s, dir))

  private[operators] def localClusteringEdges(e: DataFrame)
      : DataFrame = {
    val (deg, er, wedges) = orientedWedges(e)
    // INNER close (er rows unique per pair, so multiplicity is 1)
    val tri = wedges.join(er.select(col("src").as("v"),
      col("dst").as("w")), Seq("v", "w"))
    val incid = tri
      .select(explode(array(col("ctr"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(incid, deg("v") === incid("node"), "left")
      .select(col("v").as("node"), col("d").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"))
      .withColumn("lcc_ppm", when(col("degree") >= 2,
        expr("n_triangles * 2000000L div (degree * (degree - 1))"))
        .otherwise(0L))
      .orderBy("node")
  }

  /** The degree-ordered wedge machinery of both triangle counters,
    * over a distinct undirected edge set (a < b): the degree table
    * (v, d); the edges oriented low → high (src, dst, dstd = dst's
    * degree), checkpointed because the wedge join and its close read
    * them three times; and the wedges (ctr, v, w), each pair of a
    * center's out-edges once. Orientation needs only a TOTAL ORDER on
    * nodes, not a materialized global rank (which would be a
    * single-partition window — the shape this engine bans): (degree,
    * id) tuples are compared row-locally after attaching each
    * endpoint's degree.
    */
  private def orientedWedges(e: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val deg = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val aLow = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val er = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(aLow, col("a")).otherwise(col("b")).as("src"),
        when(aLow, col("b")).otherwise(col("a")).as("dst"),
        when(aLow, col("db")).otherwise(col("da")).as("dstd"))
      .localCheckpoint()
    val wedges = er.as("f")
      .join(er.as("g"), col("f.src") === col("g.src") &&
        (col("f.dstd") < col("g.dstd") ||
          (col("f.dstd") === col("g.dstd") && col("f.dst") < col("g.dst"))))
      .select(col("f.src").as("ctr"), col("f.dst").as("v"),
        col("g.dst").as("w"))
    (deg, er, wedges)
  }

  /** The counting core over any distinct undirected edge set (a < b,
    * one row per unordered pair) — split out so specs can drive it
    * with hand-built graphs.
    */
  private[operators] def triangleCountEdges(e: DataFrame): DataFrame = {
    val (deg, er, wedges) = orientedWedges(e)
    // semi join: each WEDGE ROW (one per (u,v,w) triple — different
    // u's over the same (v,w) are different triangles and stay
    // separate rows) survives iff the closing edge exists; left-semi
    // preserves left multiplicity while letting the build side stop
    // at first match
    val closed = wedges.join(er.select(col("src").as("v"),
      col("dst").as("w")), Seq("v", "w"), "left_semi")
    val out = closed.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(broadcast(er.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      // eager 1-row checkpoint: the oriented edge blocks are dead the
      // moment the counts exist, so they are released here instead of
      // stranding a corpus-proportional checkpoint until GC
      .localCheckpoint()
    Iterate.release(er)
    out
  }

  /** Distinct part-part co-occurrence edges (a < b) with SUPPORT
    * PRUNING: an edge needs ≥ `minSupport` co-occurrences. Per-order
    * pair expansion is bounded by order size (≤ items² per order),
    * never corpus-wide — and the support threshold is what keeps a
    * co-occurrence graph from degenerating into quadratic noise at
    * scale (one shared order between random parts is coincidence, not
    * affinity; the market-basket standard). minSupport=1 yields the
    * raw co-occurrence graph for specs that want density.
    */
  private[operators] def coPurchaseEdges(s: SparkSession, dir: String,
      minSupport: Int = 2): DataFrame =
    coPurchaseWeighted(s, dir, minSupport).select("a", "b")

  private[operators] def coPurchaseWeighted(s: SparkSession, dir: String,
      minSupport: Int = 2): DataFrame = {
    // distinct FIRST: support counts co-occurring ORDERS, so an order
    // that carries the same part on two lines must contribute one —
    // not two — to every pair it participates in (otherwise a single
    // shared order defeats the minSupport coincidence filter)
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    // direct self-join + pair groupBy — measured FASTER here than
    // Dedup.pairCounts' adaptive group-expand (3.6 s vs 4.7 s at
    // sf0.1): order groups are uniformly tiny (≤7 items), so the
    // hot-key sampling pass pairCounts pays to protect against
    // skewed groups buys nothing; keys this uniform don't need it.
    // On a source with unbounded basket sizes, switch to pairCounts.
    li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .groupBy(col("x.pk").as("a"), col("y.pk").as("b"))
      .agg(count(lit(1)).as("sup"))
      .filter(col("sup") >= minSupport)
  }

  /** Link prediction by the resource-allocation index (Zhou, Lü &
    * Zhang 2009): for each NON-adjacent pair (u,v), score =
    * Σ_{w ∈ N(u)∩N(v)} 1/deg(w) — common neighbors, each discounted
    * by how promiscuous it is (a shared hub says little; a shared
    * rare neighbor says a lot). The recommendation primitive over the
    * co-purchase graph ("parts bought together with the same third
    * parts"), and of the classic local indices the one that
    * benchmarks best (beats common-neighbors and Adamic-Adar on most
    * graphs) while staying EXACT here: contributions are
    * 1000000 div deg(w) BIGINTs, so the per-pair sum is
    * order-independent and the DuckDB oracle replays it to the digit
    * (Adamic-Adar's 1/ln(deg) would drag libm across engines).
    *
    * Shape: wedge generation through each center w — the SAME
    * Σ d(w)² pair space the clustering coefficient walks, generated
    * from the symmetric adjacency self-joined on the center with
    * u < v — then one (u,v) groupBy, an anti join dropping pairs
    * already adjacent, and a TakeOrderedAndProject top-N under the
    * total order (score desc, a, b) so the cut is deterministic.
    * Support pruning bounds degrees (max 13 at sf0.01), which bounds
    * the wedge fan-out; on a heavy-tailed graph cap or sample
    * hub centers first — the standard RA/AA approximation — before
    * this exact form.
    */
  def linkPrediction(s: SparkSession, dir: String, topN: Int = 100)
      : DataFrame =
    linkPredictionEdges(pooledEdges(s, dir), topN)

  /** The scoring core over any distinct undirected edge set (a < b) —
    * split out so specs can drive it with hand-built graphs.
    */
  private[operators] def linkPredictionEdges(e: DataFrame, topN: Int)
      : DataFrame = {
    val sym = bothWays(e).toDF("w", "v")
    val deg = sym.groupBy("w").agg(count(lit(1)).as("d"))
    // contrib depends only on the CENTER's degree — attach it before
    // the wedge join so the self-join carries no ambiguous column
    val adj = sym.join(deg, "w")
      .select(col("w"), col("v"), expr("1000000L div d").as("contrib"))
    val wedges = adj.as("x").join(adj.as("y"),
        col("x.w") === col("y.w") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("b"), col("x.contrib"))
    wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum(col("contrib")).as("ra_score"))
      .join(e, Seq("a", "b"), "left_anti")
      .orderBy(col("ra_score").desc, col("a"), col("b"))
      .limit(topN)
  }

  /** Multi-source BFS hop distance over the co-purchase graph: every
    * node's minimum hop count from a seed set (parts with
    * partkey % 50 == 0 here — in production the seed set is an input:
    * known-bad suppliers, flagged documents, verified accounts), up
    * to `rounds` hops. The reachability primitive behind blast-radius
    * audits ("what is within 3 hops of a recalled part") and
    * label-spreading from a trusted whitelist.
    *
    * Level-synchronous frontier expansion — the textbook distributed
    * BFS (Pregel's canonical example): each round joins the CURRENT
    * frontier (not the visited set, and never all pairs) against the
    * adjacency, anti-joins out already-visited nodes, and tags
    * survivors with the round number. Per-round cost is
    * O(frontier-adjacent edges) shuffled on node id; the rounds run
    * through `Iterate`, one checkpoint each: the frontier is read
    * back off the visited set (dist = round − 1), so only visited
    * needs materializing. Frontier and visited sets are node-sized
    * DataFrames — nothing collects to the driver. Distances are
    * integers; the DuckDB oracle replays the identical rounds as
    * unrolled CTEs, so the row set is exact, not approximate.
    */
  def bfsHops(s: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    graft.CachePool.cached(s, s"graph_bfs:$dir:$rounds") {
      bfsHopsEdges(pooledEdges(s, dir), rounds)
    }

  /** Weighted single-source shortest paths by `rounds` Bellman–Ford
    * relaxations over the co-purchase graph — BFS's weighted sibling.
    * Edge length is 1000000 div sup (integer: strong co-purchase =
    * short edge), so path lengths are exact BIGINT sums and min() is
    * deterministic under any partitioning. After round r the table
    * holds the EXACT shortest distance among paths of ≤ r edges (the
    * Bellman–Ford invariant) — the declared semantics, which the
    * DuckDB oracle replays as r unrolled CTE rounds. Each round is
    * one dist ⋈ edges shuffle + one min groupBy (O(E) per round, the
    * distributed-SSSP standard — Pregel without the framework), run
    * through `Iterate` like pagerank/LPA/BFS.
    * Same seed convention as BFS (node % 50 == 0).
    */
  def sssp(s: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    graft.CachePool.cached(s, s"graph_sssp:$dir:$rounds") {
      ssspEdges(pooledWeighted(s, dir), rounds)
    }

  private[operators] def ssspEdges(e: DataFrame, rounds: Int)
      : DataFrame = {
    val sym = bothWays(e, expr("1000000L div sup").as("w"))
    Iterate.rounds(seeded(sym, lit(0L)), rounds) { (dist, _) =>
      val relaxed = dist.join(sym, dist("node") === sym("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist.unionByName(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist"))
    }.orderBy("node")
  }

  /** The seed set of BFS and SSSP (every node ≡ 0 mod 50) at
    * distance `zero`.
    */
  private def seeded(sym: DataFrame, zero: Column): DataFrame =
    sym.select(col("src").as("node")).distinct()
      .filter(col("node") % 50 === 0).withColumn("dist", zero)

  /** The frontier loop over any distinct undirected edge set (a < b) —
    * split out so specs can drive it with hand-built graphs.
    */
  private[operators] def bfsHopsEdges(e: DataFrame, rounds: Int)
      : DataFrame = {
    val sym = bothWays(e)
    Iterate.rounds(seeded(sym, lit(0)), rounds) { (visited, round) =>
      val frontier = visited.filter(col("dist") === round.n - 1)
        .select("node")
      visited.unionByName(frontier.join(sym, frontier("node") === sym("src"))
        .select(col("dst").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(round.n)))
    }.orderBy("node")
  }

  /** Item-item collaborative filtering over the co-purchase matrix:
    * for each part, the top-`k` most similar parts by the cosine of
    * their order-membership vectors — the "customers who bought X
    * also bought Y" primitive, computed batch-side the way item-based
    * recommenders precompute their similarity lists.
    *
    * With binary membership vectors, cos(i,j) = c_ij / √(c_i·c_j)
    * where c_i counts orders containing i and c_ij orders containing
    * both. The √ is libm, so the emitted statistic is the exact
    * rational SQUARE as parts-per-million:
    * cos2_ppm = ⌊c_ij²·10⁶ / (c_i·c_j)⌋ — monotone in cosine, so the
    * ranking is the cosine ranking. The numerator c_ij²·10⁶ runs in
    * decimal(38,0) (BIGINT would overflow once c_ij > ~3M at real
    * scale) and the floor-division is provably exact: the quotient's
    * distance from any integer is either 0 or ≥ 1/(c_i·c_j) ≫ the
    * decimal division's 1e-20-scale rounding. The DuckDB oracle runs
    * the same law in HUGEINT.
    *
    * Shape: pair space is co-occurrence-bounded (Σ basket² — never
    * |parts|²; the support-≥2 prune drops coincidence pairs), the
    * top-k window partitions by the source item (per-item lists are
    * basket-bounded), and ties break on (cos2_ppm desc, sup desc,
    * item asc) — a total order, so the cut is deterministic.
    */
  def itemCf(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val itemCnt = li.groupBy(col("pk")).agg(count(lit(1)).as("c"))
    val scored = bothWays(coPurchaseWeighted(s, dir), col("sup"))
      .join(itemCnt.select(col("pk").as("src"), col("c").as("c_a")), "src")
      .join(itemCnt.select(col("pk").as("dst"), col("c").as("c_b")), "dst")
      .select(col("src").as("item"), col("dst").as("neighbor"),
        col("sup"), col("c_a").as("c_item"), col("c_b").as("c_neighbor"),
        expr("CAST(floor(CAST(sup AS DECIMAL(38,0)) * sup * 1000000" +
          " / (c_a * c_b)) AS BIGINT)").as("cos2_ppm"))
    val w = Window.partitionBy("item")
      .orderBy(col("cos2_ppm").desc, col("sup").desc, col("neighbor"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("item", "rank")
  }
}
