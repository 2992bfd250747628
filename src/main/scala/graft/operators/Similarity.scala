package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.functions.VectorExpressions

/** Similarity search over embedding columns (SURVEY.md §2.10):
  * brute-force cosine top-k as the baseline, LSH (random-hyperplane)
  * bucketed ANN as the scale path, and a cosine near-dup pair scan.
  *
  * Scale design: the probe set is small and broadcast; the corpus side
  * streams. The inner product is the custom codegen expression
  * `vector_dot` (graft.functions.VectorDot) — a fused loop over the
  * float arrays instead of per-element interpreted HOF lambdas, which
  * is what makes the 10⁶+-pair scans tractable. Cosine similarities
  * are rounded to 3 decimals BEFORE ranking with an id tie-break, so
  * rankings are stable across engines/float orders.
  */
object Similarity {

  private def dot(a: Column, b: Column): Column =
    call_function("vector_dot", a, b)

  /** Corpus with precomputed L2 norm, pooled through graft.CachePool:
    * every similarity query reads it at least twice (probe side + full
    * side), four queries plus the recall specs share it within one
    * session, and the pool's LRU unpersists it instead of letting each
    * query's private cache pile up in executor storage (the measured
    * round-2 slowdown). At 100 TB this is the deliberate working-set
    * choice — the normed corpus is the table every ANN probe touches.
    */
  private[operators] def corpus(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"sim.corpus:$dir") {
      VectorExpressions.ensureRegistered(s)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    }

  /** Exact L2 top-k baseline (the PQ searches' ground truth): probe
    * rows broadcast against the full corpus, TRUE squared-L2 ranked.
    * Same bounded-probe broadcast shape as bruteForceTopK; distances
    * go through the same `vector_argmin_l2` 1-codeword kernel as
    * adcRerank so the two paths are bit-identical. Feeds the
    * recall assertions in Assertions (sim_pq_topk / sim_ivfpq_topk).
    */
  private[graft] def exactL2TopK(s: SparkSession, dir: String,
      kNn: Int = 5, nProbes: Int = 8): DataFrame = {
    val c = corpus(s, dir)
    val probes = c.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("query_id"),
        col("v").cast("array<double>").as("qv"))
    val scored = c.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        round(element_at(call_function("vector_argmin_l2",
          col("v").cast("array<double>"), col("qv"),
          typedlit(Seq(0.0))), 1), 6).as("dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("dist"), col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNn)
      .select(col("query_id"), col("cand_id"), col("dist"), col("rank"))
  }

  /** Brute-force cosine top-k: probe rows (vec_id < 8) broadcast
    * against the full corpus; rank by rounded sim desc, id asc.
    *
    * Broadcast bound: the hint is safe because the probe set is
    * BOUNDED BY THE CALLER (a fixed probe list, here 8 ids), not by
    * the corpus — at any data scale the build side is |probes| × dim
    * floats (8 × 64 × 4 B here; even 10k probes × 1k dims ≈ 40 MB).
    * Callers probing with a data-proportional set should use the ANN
    * paths (lshTopK / ivfTopK), which bucket-join instead; this op is
    * their exactness baseline by design.
    */
  def bruteForceTopK(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    // pooled: this is the exactness baseline every ANN/recall query
    // joins against (the NN-descent curve alone reads it once per
    // round's hit count) — |probes|·k rows, the cheapest cache in
    // the pool
    graft.CachePool.cached(s, s"sim.bruteTopk:$dir:$k") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      probeCosines(s, dir, nProbes = 8)
        .withColumnRenamed("cand_id", "neighbor_id")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .orderBy("query_id", "rank")
    }

  /** The shared broadcast-probe cosine kernel: probes (vec_id <
    * nProbes) against the pooled normed corpus, 3-decimal-rounded
    * similarity, self-pairs excluded. bruteForceTopK ranks it for the
    * exact-baseline query; hybridRrf's semantic leg ranks it for the
    * fusion pool — ONE implementation, so the rounding/tie-break
    * convention cannot drift between the two (their agreement is
    * spec-pinned). mmrRerank's pool deliberately differs (BIGINT
    * round(cos·1000) scaling for the integer greedy) and stays
    * separate.
    */
  private[operators] def probeCosines(s: SparkSession, dir: String,
      nProbes: Int): DataFrame = {
    val c = corpus(s, dir)
    val probes = c.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    c.join(broadcast(probes), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 3)
          .as("sim"))
  }

  /** Random-hyperplane LSH bucket id: 6 sign bits of dot products with
    * ±1 planes derived deterministically from xxhash64(plane*64+dim).
    * Takes the vector column NAME (the expression is built as SQL text,
    * so a Column object could not be spliced in safely).
    */
  private def lshBucket(vecColName: String): Column = expr(
    s"""aggregate(sequence(0, 5), 0L, (acc, p) ->
       |  acc + if(aggregate(sequence(0, 63), cast(0.0 as double), (a2, d) ->
       |    a2 + element_at($vecColName, d + 1) *
       |      if((xxhash64(p * 64 + d) & 1) = 1, 1.0d, -1.0d)) >= 0d,
       |    shiftleft(1L, p), 0L))""".stripMargin)

  /** LSH-bucketed ANN with Hamming-1 multi-probe: candidates sit in
    * the probe's bucket or in one of the 6 buckets that differ from it
    * in one sign bit (equi-join on bucket id — at 100 TB this is a
    * hash-partitioned join over ~7·|corpus|/64 rows per probe instead
    * of a cross join), then exact cosine top-3 over them. A probe
    * alone in its own bucket still gets candidates from the
    * neighbouring ones.
    */
  def annLsh(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val c = corpus(s, dir).withColumn("bucket", lshBucket("v"))
    val probes = c.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"),
        explode(array(col("bucket") +:
          (0 until 6).map(b => col("bucket").bitwiseXOR(1L << b)): _*))
          .as("bucket"))
    val sims = c.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 3)
          .as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** IVF-flat ANN: coarse quantizer = a deterministic sample of corpus
    * rows as centroids (vec_id ≡ 0 mod 127); every vector is assigned
    * to its max-cosine centroid (inverted lists); a query searches its
    * top-⌈√cells⌉ closest cells (data-relative multi-probe — see the
    * nProbe note in the body). At 100 TB the assignment is one
    * broadcast join (centroid set is tiny) and the search is an
    * equi-join on cent_id — per-query work is ⌈√cells⌉·|cell| ≈
    * √(n/127)·127 rows, sublinear in |corpus|. Recall/overlap vs the
    * brute-force baseline asserted in NorthStarSpec.
    */
  def annIvf(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val assigned = ivfAssignment(s, dir)
    // Probe width scales as ⌈√cells⌉ (min 2), the same nprobe ≈ √nlist
    // rule as ivfPqTopK: a single-cell search covers a vanishing
    // corpus fraction as fixed-occupancy cells multiply with n
    // (measured recall 0.58 at 4 cells → 0.33 at 63 with one cell).
    // The probe side is a BOUNDED query set (8 ids), so the widened
    // fan-out is per-query work — ⌈√cells⌉·127 candidates, sublinear
    // in n — never an all-node expansion.
    val nCells = corpus(s, dir)
      .filter(col("vec_id") % 127 === 0).count()
    val nProbe = math.max(2, math.ceil(math.sqrt(nCells.toDouble)).toInt)
    val probes = ivfProbeAssignment(s, dir, nProbe)
      .filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("cent_id"),
        col("v").as("qv"), col("nrm").as("qn"))
    val sims = assigned.join(broadcast(probes), Seq("cent_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 3)
          .as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** Mutual-kNN graph over the WHOLE corpus — the edge structure
    * behind graph-based corpus curation (SemDeDup-style cluster
    * pruning, SNN clustering, kNN-graph label propagation): every
    * node keeps its k nearest neighbors; an edge survives only if
    * BOTH endpoints keep each other, which drops hub and noise edges
    * without any similarity threshold. Unlike annIvf (a bounded probe
    * set against the corpus) this ranks neighbors for EVERY vector.
    *
    * Production path (`restricted = true`): candidates are the
    * node's own IVF cell, so the pair space is Σ|cell|² ≈ (corpus ⁄
    * 127)·127² = 127·n rows — LINEAR at the fixed expected cell size,
    * the cells are the shuffle partitioning, and no global pair
    * space ever materializes. The exact path (`restricted = false`,
    * the assertion ground truth) ranks the full n² pair space —
    * test-scale only. Ranking uses the 3-decimal-rounded cosine with
    * a dst tie-break: the rounded values are the cross-engine-stable
    * currency dedup_cosine already hash-pins, so the DuckDB replay
    * ranks identically. The directed kNN set is pooled — the mutual
    * self-join reads it twice.
    */
  def knnGraph(s: SparkSession, dir: String, k: Int = 5,
      restricted: Boolean = true): DataFrame = {
    val base = if (restricted) {
      // multi-probe (nprobe = 2, the FAISS recall lever): the PROBE
      // side ranks its top-2 coarse cells, the INDEX side keeps its
      // single best cell — so each node's candidate list is the union
      // of two inverted lists (2·expected-cell-size per node, still
      // linear), and no candidate repeats (an index vector lives in
      // exactly one cell)
      val probe = ivfProbeAssignment(s, dir, nProbe = 2)
      val index = ivfAssignment(s, dir)
      probe.as("a").join(index.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") =!= col("b.vec_id"))
    } else {
      val c = corpus(s, dir)
      c.as("a").join(c.as("b"), col("a.vec_id") =!= col("b.vec_id"))
    }
    val sims = base.select(col("a.vec_id").as("src"),
      col("b.vec_id").as("dst"),
      round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")),
        3).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    val knn = graft.CachePool.cached(s,
      s"sim.knn:$restricted:$k:$dir") {
      sims.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("src"), col("dst"), col("sim"))
    }
    mutualPairs(knn)
  }

  /** The directed IVF-candidate top-k list the kNN graph and the
    * NN-descent round both start from — same pooled tag, so the two
    * queries share one build.
    */
  private[operators] def directedKnn(s: SparkSession, dir: String,
      k: Int = 5): DataFrame = {
    val probe = ivfProbeAssignment(s, dir, nProbe = 2)
    val index = ivfAssignment(s, dir)
    val base = probe.as("a").join(index.as("b"),
      col("a.cent_id") === col("b.cent_id") &&
        col("a.vec_id") =!= col("b.vec_id"))
    val sims = base.select(col("a.vec_id").as("src"),
      col("b.vec_id").as("dst"),
      round(dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")),
        3).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    graft.CachePool.cached(s, s"sim.knn:true:$k:$dir") {
      sims.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
        .select(col("src"), col("dst"), col("sim"))
    }
  }

  private def mutualPairs(knn: DataFrame): DataFrame =
    knn.as("x").join(knn.as("y"),
        col("x.src") === col("y.dst") && col("x.dst") === col("y.src")
          && col("x.src") < col("x.dst"))
      .select(col("x.src").as("vec_a"), col("x.dst").as("vec_b"),
        col("x.sim"))
      .orderBy("vec_a", "vec_b")

  /** One NN-descent refinement round (Dong, Moses & Li 2011) over
    * the IVF-seeded kNN graph: a node's neighbors' neighbors (in the
    * UNDIRECTED relation — reverse links too, the paper's key trick)
    * are better candidates than random cells, so rescoring that
    * 2-hop set exactly and keeping the best k strictly improves the
    * list without ever touching the O(n²) pair space. Candidate
    * volume is Σ deg² ≈ n·(2k)² — linear in n for fixed k.
    *
    * The eval plane (vec_id < 8 probes, like every sim query): the
    * refined list's hits against the exact top-k, next to the seed
    * list's. Monotonicity is a THEOREM here — the refined list is
    * the exact-scored top-k of a SUPERSET of the seed list — so
    * per-probe `monotone_ok` is a law, not a measurement; the
    * measured part (recall strictly improves for ≥1 probe) lives in
    * the spec where a failure can explain itself.
    */
  def nnDescentRound(s: SparkSession, dir: String, k: Int = 5,
      withCounts: Boolean = false): DataFrame = {
    val Seq(knn, refined) = refinedChain(s, dir, k, 1)
    val counted = probeHitCurve(s, dir, k,
      Seq("seed_hits" -> knn, "refined_hits" -> refined))
    val out =
      if (withCounts) counted
      else counted.select(col("vec_id"),
        (col("refined_hits") >= col("seed_hits")).as("monotone_ok"),
        (col("refined_hits") >= 1L).as("found_any"))
    out.orderBy("vec_id")
  }

  /** NN-descent run to a BOUNDED number of rounds (the k-core/LPA
    * discipline: a fixed round budget, one keyed shuffle family per
    * round, a localCheckpoint lineage cut between rounds — never an
    * unbounded driver loop). Each round rescores the current graph's
    * 2-hop candidate set exactly and keeps the best k, so per-probe
    * recall is nondecreasing round over round BY CONSTRUCTION (each
    * list is the exact-scored top-k of a superset of the previous
    * one — Dong, Moses & Li 2011's convergence argument), and the
    * per-round candidate volume stays Σ deg² ≈ n·(2k)² because the
    * degree is re-capped at k every round.
    *
    * Output: the per-probe recall CURVE — hits against the exact
    * top-k after 0 (seed), 1, …, `rounds` refinements. Assertion
    * form ships the monotone/found laws; the spec takes
    * withCounts = true and pins the measured curve.
    */
  def nnDescent(s: SparkSession, dir: String, k: Int = 5,
      rounds: Int = 2, withCounts: Boolean = false): DataFrame = {
    require(rounds >= 1, "nnDescent: need at least one round")
    // intermediate rounds are POOLED, not localCheckpoint'ed: the cut
    // serves the same purpose (step r+1 and the hit eval both read
    // round r without re-executing it), but a checkpoint re-ran the
    // whole refine pipeline on EVERY invocation while the pool builds
    // it once per (dir, k, r) — and round 1 is byte-identical to
    // nnDescentRound's refined list, so the two NN-descent queries now
    // share one build (the directedKnn-seed discipline, one level up).
    // The FINAL round's list is consumed once by the hit eval, so
    // materializing it would be pure extra cost either way.
    val chain = refinedChain(s, dir, k, rounds - 1)
    val lists = chain :+ refineOnce(s, dir, chain.last, k)
    val named = lists.zipWithIndex.map { case (l, r) =>
      s"hits_r$r" -> l }
    val counted = probeHitCurve(s, dir, k, named)
    val out =
      if (withCounts) counted
      else counted.select(col("vec_id") +:
        (1 to rounds).map(r =>
            (col(s"hits_r$r") >= col(s"hits_r${r - 1}"))
              .as(s"monotone_r$r")) :+
          (col(s"hits_r$rounds") >= 1L).as("found_any"): _*)
    out.orderBy("vec_id")
  }

  /** The canonical NN-descent chain: the directedKnn(dir, k) seed
    * followed by pooled refinement rounds 1..`rounds`, each derived
    * here from its predecessor — so (dir, k, r), all the pool tag
    * holds, determines every round's plan. Each round's plan is built
    * OUTSIDE the pool's build closure (a nested cached() inside it
    * would run jobs under the memo lock; round-13 ADVICE class).
    */
  private def refinedChain(s: SparkSession, dir: String, k: Int,
      rounds: Int): Seq[DataFrame] =
    (1 to rounds).scanLeft(directedKnn(s, dir, k)) { (prev, r) =>
      val next = refineOnce(s, dir, prev, k)
      graft.CachePool.cached(s, s"sim.nndRound:$dir:$k:$r")(next)
    }

  /** One NN-descent refinement: rescore the undirected 2-hop
    * candidate set of `list` (∪ the list itself) exactly and keep
    * the best k per source — the step nnDescentRound and the
    * multi-round nnDescent share.
    */
  private def refineOnce(s: SparkSession, dir: String,
      list: DataFrame, k: Int): DataFrame = {
    val und = list.select("src", "dst")
      .unionByName(list.select(col("dst").as("src"),
        col("src").as("dst"))).distinct()
    val cands = und.as("x").join(und.as("y"),
        col("x.dst") === col("y.src") && col("x.src") =!= col("y.dst"))
      .select(col("x.src").as("src"), col("y.dst").as("dst"))
      .unionByName(list.select("src", "dst"))
      .distinct()
    val c = corpus(s, dir)
    val scored = cands
      .join(c.as("a"), col("src") === col("a.vec_id"))
      .join(c.as("b"), col("dst") === col("b.vec_id"))
      .select(col("src"), col("dst"),
        round(dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm")), 3).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("sim").desc, col("dst"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"), col("sim"))
  }

  /** Per-probe (vec_id < 8) hit counts of each named candidate list
    * against the exact top-k — the shared eval plane of the
    * NN-descent queries. Counts are IVF-dependent, so they ride the
    * oracle only as law booleans; specs assert the raw numbers.
    */
  private def probeHitCurve(s: SparkSession, dir: String, k: Int,
      lists: Seq[(String, DataFrame)]): DataFrame = {
    val exact = bruteForceTopK(s, dir, k)
      .select(col("query_id"), col("neighbor_id"))
    def hits(list: DataFrame, name: String): DataFrame =
      list.filter(col("src") < 8)
        .join(exact, col("src") === col("query_id") &&
          col("dst") === col("neighbor_id"))
        .groupBy(col("src").as("vec_id"))
        .agg(count(lit(1)).as(name))
    val probes = Tables.embeddings(s, dir).filter(col("vec_id") < 8)
      .select("vec_id")
    lists.foldLeft(probes) { case (acc, (name, l)) =>
      acc.join(hits(l.select("src", "dst"), name), Seq("vec_id"), "left")
    }.select(col("vec_id") +: lists.map { case (name, _) =>
      coalesce(col(name), lit(0L)).as(name) }: _*)
  }

  /** Top-nProbe coarse-cell assignment for multi-probe searches: the
    * same broadcast-centroid kernel as ivfAssignment, keeping the
    * nProbe best cells per vector (rank window over the per-vector
    * centroid scores — the partition is one vector's |centroids|
    * rows). Kept separate from the pooled top-1 assignment: that one
    * is the INDEX (each vector lives in exactly one inverted list);
    * this one is the QUERY fan-out. Pooled per (nProbe, dir): the
    * kNN graph, NN-descent and the multi-probe ANN searches all rank
    * the same corpus×centroids scoring pass — one materialized copy
    * each probe width. (The conditionless broadcast join inside the
    * build is the quantizer scoring pattern, bounded by construction:
    * the build side is the |corpus|/127 centroid sample, so per-row
    * work is O(cells), never O(n) — same legality class as
    * ivfAssignment's pooled build.)
    */
  /** Pooled corpus cardinality — a bounded driver scalar every
    * data-relative parameter rule (√n shortlists, occupancy bounds)
    * reads; memoized so repeated invocations share one count job
    * (round-13 verdict ask #6's memoization discipline).
    */
  private def corpusCount(s: SparkSession, dir: String): Long =
    graft.CachePool.memoized(s, s"sim.corpusN:$dir")(
      java.lang.Long.valueOf(corpus(s, dir).count())).longValue

  /** The IVF coarse-centroid table (deterministic corpus sample,
    * vec_id ≡ 0 mod 127) with its MEMOIZED cardinality — one cached
    * scalar per (session, dir) shared by every IVF consumer
    * (round-13 verdict ask #6: cellsPerProbe re-ran `cents.count()`
    * per invocation). Build the pair OUTSIDE any CachePool.cached
    * closure: the count is a Spark job and must not run inside the
    * pool's memo lock.
    */
  private def ivfCentroids(s: SparkSession, dir: String): (DataFrame, Long) = {
    val cents = corpus(s, dir).filter(col("vec_id") % 127 === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nrm").as("cn"))
    val n = graft.CachePool.memoized(s, s"sim.ivfCells:$dir")(
      java.lang.Long.valueOf(cents.count())).longValue
    (cents, n)
  }

  /** The centroid broadcast, bound-guarded (round-13 verdict ask #2):
    * unlike the shortlist/candidate sides this table GROWS with the
    * corpus (n/127 rows of dim-double vectors), so its bound is a
    * BYTE budget — the session's broadcast threshold over a ~512 B/row
    * estimate (32-dim doubles + row overhead). Crossing it means the
    * fixed-occupancy geometry has outgrown a broadcastable quantizer
    * (≈2.5M vectors at the 10 MB default) — the fix at that scale is
    * nlist ~ √n with a distributed coarse assignment, and the guard
    * makes that boundary a loud failure instead of a driver OOM.
    */
  private def centsBroadcast(s: SparkSession, dir: String,
      what: String): DataFrame = {
    val (cents, n) = ivfCentroids(s, dir)
    graft.Broadcasts.bounded(cents, graft.Broadcasts.rowBudget(s, 512L),
      what, knownRows = n)
  }

  private def ivfProbeAssignment(s: SparkSession, dir: String,
      nProbe: Int): DataFrame = {
    val centsB = centsBroadcast(s, dir, "ivfProbeAssignment.cents")
    graft.CachePool.cached(s, s"sim.ivfProbe:$nProbe:$dir") {
      val c = corpus(s, dir)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("cent_id"))
      c.join(centsB, lit(true))
        .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
          (dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("csim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= nProbe)
        .select(col("vec_id"), col("cent_id"), col("v"), col("nrm"))
    }
  }

  /** The IVF inverted-list assignment (vec → max-cosine coarse cell),
    * pooled: annIvf's probe and corpus sides, ivfPqTopK's cell
    * restriction, and the recall specs all read it — one materialized
    * copy, released by the pool's LRU. Coarse centroids are a
    * deterministic corpus sample (vec_id ≡ 0 mod 127), broadcast
    * (bounded: |corpus|/127 rows of dim floats).
    */
  private def ivfAssignment(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir)
    val centsB = centsBroadcast(s, dir, "ivfAssignment.cents")
    graft.CachePool.cached(s, s"sim.ivfAssigned:$dir") {
      c.join(centsB, lit(true))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("cent_id"),
          (dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("csim"))
        .groupBy("vec_id")
        .agg(max(struct(col("csim"), col("cent_id"))).as("m"),
          first(col("v")).as("v"), first(col("nrm")).as("nrm"))
        .select(col("vec_id"), col("m.cent_id").as("cent_id"),
          col("v"), col("nrm"))
    }
  }

  /** Scalar int8 quantization of the embedding column: per-vector
    * max-abs scale, v_q[i] = round(127 * v[i] / scale) — the standard
    * 4× memory compression for ANN corpora at 100 TB (the quantized
    * table is what you'd persist + bucket; exact rescoring reads the
    * float vectors only for the final candidates). Row-local HOFs, no
    * shuffle; rows-only checked (float rounding is not
    * oracle-portable), with reconstruction-error and top-k-overlap
    * specs in AdvancedSpec.
    */
  def quantize(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("scale",
        expr("aggregate(v, cast(0.0 as double), (m, x) -> greatest(m, abs(x)))"))
      .withColumn("qv", expr( // greatest() guards the all-zero vector
        "transform(v, x -> cast(round(127.0d * x / greatest(scale, 1e-30d)) as tinyint))"))
      // scalar summaries in the OUTPUT (array cells break generic
      // sort/compare tooling — the round-1 mm_features lesson): the
      // quantized array itself stays internal; downstream ops join on
      // vec_id to fetch it
      .select(col("vec_id"), col("scale"),
        expr("aggregate(qv, 0L, (a, q) -> a + abs(cast(q as bigint)))")
          .as("q_l1"),
        expr("aggregate(zip_with(v, qv, (x, q) -> " +
          "abs(x - q * scale / 127.0d)), cast(0.0 as double), " +
          "(m, e) -> greatest(m, e))").as("max_recon_err"))
      .orderBy("vec_id")

  /** Embedding-cosine near-dup pair scan: all pairs with cosine ≥ 0.4.
    * Exact over the pair space here (corpus side is small); at 100 TB
    * gate behind `annLsh` bucketing so the pair space is per-bucket.
    *
    * Physical shape: the stream side is fanned out across cores (one
    * small parquet file would otherwise make the O(n²) scan
    * single-threaded) and the similarity predicate lives in the JOIN
    * CONDITION, so the nested-loop join evaluates it on the wrapped
    * JoinedRow and only the surviving pairs (a handful) are ever
    * materialized as output rows — not all n²/2 array-carrying rows.
    */
  def cosineNearDup(s: SparkSession, dir: String): DataFrame = {
    val c = corpus(s, dir) // pooled cache — see corpus()
    val a = Tables.fanOut(c.select(col("vec_id").as("vec_a"),
      col("v").as("va"), col("nrm").as("na")))
    val b = c.select(col("vec_id").as("vec_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    val sim = round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 3)
    a.join(broadcast(b), col("vec_a") < col("vec_b") && sim >= 0.4)
      .select(col("vec_a"), col("vec_b"), sim.as("sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** Per-label embedding centroids (the k-means M-step / class
    * prototype computation): elementwise mean of every label's
    * vectors, long format (label, dim, centroid) — scalar columns
    * compare cleanly across engines (the round-1 `mm_features` array
    * lesson).
    *
    * Scale shape: posexplode → partial-aggregatable sum on
    * (label, dim) — map-side combine collapses each input split to at
    * most |labels|×|dims| rows before the one shuffle, so the
    * exchange volume is independent of corpus size. Each float is
    * scaled to an exact integer (×1e6, round) before summing: integer
    * sums are associative-exact, so the mean is bit-identical however
    * Spark or the oracle orders the additions — float accumulation
    * order would differ in the last bits between any two engines.
    */
  /** Hard-negative mining for retrieval training (the DPR recipe):
    * for each probe, the top-k most-similar vectors with a DIFFERENT
    * label — near the query in embedding space but wrong by label, the
    * negatives that teach a retriever the decision boundary (random
    * negatives are too easy). Same broadcast-probes × streamed-corpus
    * shape as bruteForceTopK with the label inequality riding the join
    * condition, so same-label rows never materialize; at 100 TB the
    * candidate stream comes from annLsh buckets instead of the full
    * corpus, label filter unchanged.
    */
  def hardNegatives(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val lbl = Tables.embeddings(s, dir).select(col("vec_id"), col("label"))
    val c = corpus(s, dir).join(lbl, "vec_id")
    val probes = c.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("label").as("q_label"))
    val sims = c.join(broadcast(probes),
        col("vec_id") =!= col("query_id") && col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("negative_id"),
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 3)
          .as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("negative_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** MMR diversified re-ranking (maximal marginal relevance,
    * Carbonell/Goldstein '98): greedily select k of a pool of
    * candidates so each pick trades query relevance against redundancy
    * with what is already picked — score(c) = λ·rel(c) −
    * (1−λ)·max_{s∈selected} sim(c, s). The selection step behind
    * diversified retrieval results and diverse training-batch
    * construction (diverseSubset is the cluster-quota cousin; MMR is
    * the order-sensitive greedy).
    *
    * Spark-first shape: the POOL construction is the only corpus-scale
    * pass (broadcast probes × streamed corpus, or the annLsh bucket
    * path for data-proportional probe sets); everything after it is
    * bounded by construction at probes·pool² rows. The greedy itself
    * runs DRIVER-SIDE over the collected pool — the
    * `DriverState.collectBounded` legality class (Bradley–Terry's MM
    * fixpoint, the classifier-weight re-entries): the k-step argmax
    * recurrence over ≤ probes·pool integer rows as ~5 distributed
    * argmax jobs with localCheckpoint lineage cuts was pure scheduler
    * latency (measured 2.8 s of wall for ≤ 80 rows of state at sf0.1,
    * round 14; the unrolled-plan history is in git). The similarity
    * integers are COLLECTED FROM THE PLAN (round(cos·1000) computed by
    * the same pooled pairwise pass as before), so no float ever
    * recomputes on the driver — the greedy is pure BIGINT arithmetic
    * on plan-produced values and lands on identical picks.
    *
    * Cross-engine determinism: every score is integer arithmetic —
    * similarities become round(cos·1000) BIGINTs, λ=0.7 becomes the
    * 700/300 split, so score_m = 700·rel_m − 300·maxsim_m is exact in
    * both engines and the DuckDB oracle replays the greedy
    * stepwise-identically (fixed k unrolls to k CTEs).
    */
  def mmrRerank(s: SparkSession, dir: String, k: Int = 5,
      pool: Int = 20, nProbes: Int = 4): DataFrame = {
    val c = corpus(s, dir)
    val probes = c.filter(col("vec_id") < nProbes)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rel_m").desc, col("cand_id"))
    // candidate pool: top `pool` by integer-scaled cosine; pooled
    // because every greedy step re-reads it (k anti-joins + scoring).
    // Tags embed pool+nProbes — every parameter that shapes the plan
    val poolDf = graft.CachePool.cached(s,
      s"sim.mmrPool:$dir:$pool:$nProbes") {
      c.join(broadcast(probes), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"),
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm"))
            * lit(1000)).cast("long").as("rel_m"),
          col("v"), col("nrm"))
        .withColumn("prank", row_number().over(wp))
        .filter(col("prank") <= pool)
        .select(col("query_id"), col("cand_id"), col("rel_m"),
          col("v"), col("nrm"))
    }
    // pairwise sims within each pool (pool² per query, pool-bounded)
    val simMat = graft.CachePool.cached(s,
      s"sim.mmrSimMat:$dir:$pool:$nProbes") {
      val a = poolDf.select(col("query_id"), col("cand_id").as("a_cand"),
        col("v").as("va"), col("nrm").as("na"))
      val b = poolDf.select(col("query_id"), col("cand_id").as("b_cand"),
        col("v").as("vb"), col("nrm").as("nb"))
      a.join(b, Seq("query_id")).filter(col("a_cand") =!= col("b_cand"))
        .select(col("query_id"), col("a_cand"), col("b_cand"),
          round(dot(col("va"), col("vb")) / (col("na") * col("nb"))
            * lit(1000)).cast("long").as("sim_m"))
    }
    val cands = poolDf.select("query_id", "cand_id", "rel_m")
    // driver-side greedy, bounds structural: ≤ probes·pool candidate
    // rows and ≤ probes·pool·(pool−1) sim rows — constants of the
    // operator, never data-proportional. Both tables come out of the
    // SAME pooled plans the unrolled form read, so every integer the
    // greedy compares is plan-produced.
    val candRows = graft.DriverState.collectBounded(cands,
      nProbes * pool, "mmrRerank.pool")
    val simRows = graft.DriverState.collectBounded(simMat,
      nProbes * pool * pool, "mmrRerank.simMat")
    val simByKey = simRows.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    val picks = candRows.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .flatMap { case (q, rows) =>
        var remaining = rows.map(r => (r.getLong(1), r.getLong(2))).toList
        var selected = List.empty[Long]
        (1 to math.min(k, remaining.size)).map { step =>
          // argmax with min-cand_id tie-break: lexicographic max over
          // (score, −cand) — the struct(score_m, nc) order of the
          // unrolled plan. Every remaining candidate has a sim row to
          // every selected one (the pool pair table is complete minus
          // self-pairs), so the map lookup is total.
          val best = remaining.map { case (c, rm) =>
            val ms =
              if (selected.isEmpty) 0L
              else selected.map(sel => simByKey.getOrElse((q, c, sel),
                sys.error(s"mmrRerank: missing sim row ($q,$c,$sel) — " +
                  "pool pair table incomplete"))).max
            (c, rm, ms, 700L * rm - 300L * ms)
          }.maxBy { case (c, _, _, sc) => (sc, -c) }
          selected ::= best._1
          remaining = remaining.filterNot(_._1 == best._1)
          (q, step, best._1, best._2, best._3, best._4)
        }
      }
    import s.implicits._
    picks.toDF("query_id", "step", "cand_id", "rel_m", "maxsim_m",
      "score_m").orderBy("query_id", "step")
  }

  /** Distributed k-means (Lloyd) over the embedding corpus — the
    * "train the IVF coarse quantizer" step that annIvf presupposes.
    * A fixed iteration count (default 2) with deterministic seeding
    * (the first k vectors by vec_id) keeps the run oracle-replayable;
    * a production fit loops the same two jobs until centroid shift
    * < eps.
    *
    * Scale shape per iteration: centroids are TINY (k × dim doubles),
    * so assignment is a broadcast — here a literal array the executors
    * fold over row-locally via `array_min` of (dist, id) structs,
    * never materializing the N×k pair table; the update is one
    * (cluster, dim) groupBy whose partial aggregation absorbs the
    * skew of popular clusters. Driver holds only k×dim numbers.
    *
    * Cross-engine determinism: vectors widen float→double (lossless),
    * distances fold in ascending-dim order (IEEE addition order
    * pinned), argmin tie-breaks on cluster id, and centroid means use
    * the labelCentroids scaled-int trick — sum of round(x·1e6) as
    * BIGINT is order-independent, so the new centroids are
    * bit-identical in any engine and the next iteration's distances
    * stay comparable.
    */
  def kmeans(s: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2): DataFrame = {
    val emb = graft.CachePool.cached(s, s"sim.embDouble:$dir") {
      Tables.embeddings(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    }
    // (dist, id) as a 2-element double array from the fused
    // vector_argmin_l2 kernel (graft.functions.VectorArgminL2) — the
    // HOF formulation (array_min of transform/zip_with/aggregate)
    // computes the identical floats but pays k·dim interpreted lambda
    // evaluations per row, ~40× slower at 64 dims. The id survives
    // the double round trip exactly (k is tiny).
    VectorExpressions.ensureRegistered(s)
    def best(centroids: Seq[(Int, Seq[Double])]): Column =
      call_function("vector_argmin_l2", col("v"),
        typedlit(centroids.flatMap(_._2)),
        typedlit(centroids.map(_._1.toDouble)))
    // seed = the first k vectors by vec_id (NOT `vec_id < k`, which
    // silently under-seeds when ids are sparse or offset)
    var centroids: Seq[(Int, Seq[Double])] = emb.orderBy("vec_id").limit(k)
      .collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Double](1))
      .toIndexedSeq
      .sortBy(_._1)
    require(centroids.nonEmpty, "kmeans: empty embedding corpus")
    for (_ <- 1 until iters) {
      centroids = emb
        .select(element_at(best(centroids), 2).cast("int").as("cluster"),
          posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(sum(round(col("x") * 1e6).cast("long")).as("scaled_sum"),
          count(lit(1)).as("n"))
        .select(col("cluster"), col("dim"),
          (col("scaled_sum") / (col("n") * lit(1e6))).as("mu"))
        .collect()
        .groupBy(_.getAs[Int]("cluster"))
        .map { case (ck, rs) =>
          ck -> rs.sortBy(_.getAs[Int]("dim"))
            .map(_.getAs[Double]("mu")).toSeq
        }
        .toSeq.sortBy(_._1)
    }
    val b = best(centroids)
    emb.select(col("vec_id"),
        element_at(b, 2).cast("int").as("cluster"),
        round(element_at(b, 1), 6).as("dist_sq"))
      .orderBy("vec_id")
  }

  /** Product quantization (Jégou, Douze, Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the
    * vector splits into `m` subvectors and each subspace trains its
    * OWN k-codeword codebook with the same scaled-integer Lloyd loop
    * as `kmeans`, so a 64-dim float vector compresses to m small
    * codes — k^m effective centroids from m·k stored ones. This is
    * the MEMORY half of the ANN story (LSH/IVF prune candidates; a
    * production index composes IVF lists with PQ codes): at 100 TB,
    * m-byte codes keep the index executor-resident where raw floats
    * spill, and asymmetric search scores a candidate with m table
    * lookups instead of a dim-wide float loop.
    *
    * Determinism mirrors kmeans: per-subspace seeds are the first k
    * vectors' subvectors (code id = seed order), mean updates go
    * through the scaled-BIGINT sum, assignment is the codegen
    * vector_argmin_l2 kernel on row-local slices, per-subspace
    * reconstruction errors round to 6 before summing left-to-right —
    * the DuckDB oracle (SparkEntry.pqOracle, generated per subspace
    * like the BPE chain) replays every step bit-exactly.
    */
  def pqCodes(s: SparkSession, dir: String, m: Int = 4, k: Int = 16,
      iters: Int = 2): DataFrame = {
    val (emb, books, subDim) = pqBooks(s, dir, m, k, iters)
    def sub(j: Int): Column = slice(col("v"), j * subDim + 1, subDim)
    val assigned = (0 until m).map { j =>
      call_function("vector_argmin_l2", sub(j),
        typedlit(books(j).flatMap(_._2)),
        typedlit(books(j).map(_._1.toDouble)))
    }
    emb.select(
        col("vec_id") +:
        assigned.zipWithIndex.map { case (b, j) =>
          element_at(b, 2).cast("int").as(s"code_$j") } :+
        assigned.map(b => round(element_at(b, 1), 6))
          .reduceLeft(_ + _).as("recon_err"): _*)
      .orderBy("vec_id")
  }

  /** The trained per-subspace codebooks (+ the pooled double corpus
    * and subspace width) — split out so pqTopK reuses the training.
    * Driver holds m·k·subDim doubles: the legal iterative-algorithm
    * collect shape (kmeans' centroids, BPE's merges).
    *
    * The TRAINING (seed collect + iters×m refit jobs) is memoized per
    * (session, dir, grid) through CachePool's value lane: pqTopK and
    * ivfPqTopK train the identical 8×32 grid, and an index is trained
    * once then queried many times — re-running Lloyd per query would
    * bill every search for the build. The lane gives the same
    * bounded-count, evict-with-session discipline as the DataFrame
    * pool (round-9 review finding: no bespoke driver memos).
    */
  private def pqBooks(s: SparkSession, dir: String, m: Int, k: Int,
      iters: Int)
      : (DataFrame, Array[Seq[(Int, Seq[Double])]], Int) = {
    val emb = graft.CachePool.cached(s, s"sim.embDouble:$dir") {
      Tables.embeddings(s, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    }
    VectorExpressions.ensureRegistered(s)
    val (books, subDim) = graft.CachePool.memoized(
      s, s"sim.pqBooks:$dir:$m:$k:$iters")(trainBooks(emb, m, k, iters))
    (emb, books, subDim)
  }

  private def trainBooks(emb: DataFrame, m: Int, k: Int, iters: Int)
      : (Array[Seq[(Int, Seq[Double])]], Int) = {
    val seeds = emb.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Double](1))
    require(seeds.length == k, s"pq: need $k seed vectors")
    val dim = seeds.head.size
    require(dim % m == 0, s"pq: dim $dim not divisible by m=$m")
    val subDim = dim / m
    def sub(j: Int): Column = slice(col("v"), j * subDim + 1, subDim)
    def best(j: Int, book: Seq[(Int, Seq[Double])]): Column =
      call_function("vector_argmin_l2", sub(j),
        typedlit(book.flatMap(_._2)), typedlit(book.map(_._1.toDouble)))
    val books: Array[Seq[(Int, Seq[Double])]] = Array.tabulate(m) { j =>
      seeds.toSeq.zipWithIndex.map { case (v, i) =>
        i -> v.slice(j * subDim, (j + 1) * subDim) }
    }
    for (_ <- 1 until iters; j <- 0 until m) {
      books(j) = emb
        .select(element_at(best(j, books(j)), 2).cast("int").as("cluster"),
          posexplode(sub(j)).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(sum(round(col("x") * 1e6).cast("long")).as("ss"),
          count(lit(1)).as("n"))
        .select(col("cluster"), col("dim"),
          (col("ss") / (col("n") * lit(1e6))).as("mu"))
        .collect()
        .groupBy(_.getAs[Int]("cluster"))
        .map { case (ck, rs) =>
          ck -> rs.sortBy(_.getAs[Int]("dim"))
            .map(_.getAs[Double]("mu")).toSeq
        }
        .toSeq.sortBy(_._1)
    }
    (books, subDim)
  }

  /** The PQ code table (one (candidate, subspace, code) row per
    * corpus vector per subspace) — THE index payload, pooled because
    * pqTopK and ivfPqTopK score over the identical table and a
    * production index is encoded once, searched many times. At scale
    * this is the m-bytes-per-vector compressed representation a PQ
    * system exists to keep resident (the original floats stay on
    * disk); the pool's LRU bounds executor storage like every other
    * working-set cache here.
    */
  private def pqCodeTable(s: SparkSession, dir: String, m: Int, k: Int,
      iters: Int): DataFrame =
    graft.CachePool.cached(s, s"sim.pqCodes:$dir:$m:$k:$iters") {
      val (emb, books, subDim) = pqBooks(s, dir, m, k, iters)
      def sub(j: Int): Column = slice(col("v"), j * subDim + 1, subDim)
      emb.select(col("vec_id").as("cand_id"),
          explode(array((0 until m).map { j =>
            struct(lit(j).as("sub"),
              element_at(call_function("vector_argmin_l2", sub(j),
                typedlit(books(j).flatMap(_._2)),
                typedlit(books(j).map(_._1.toDouble))), 2)
                .cast("int").as("code"))
          }: _*)).as("jc"))
        .select(col("cand_id"), col("jc.sub"), col("jc.code"))
    }

  /** PQ asymmetric-distance top-k (the ADC search from the same
    * paper): the query stays FULL precision, each (subspace, code)
    * pair's query-to-codeword distance is precomputed into a lookup
    * table of m·k scalars per probe, and a candidate's approximate
    * distance is the sum of m lookups on its codes — no float loop
    * over the original vectors at scoring time. Physical shape: the
    * LUT (|probes|·m·k rows — bounded by the probe set, like every
    * probe-side broadcast here) broadcast-joins the unpivoted code
    * table on (subspace, code), partial-aggregates the m terms per
    * (query, candidate), and WindowGroupLimit prunes to k per query.
    * Approximate by construction → no SQL oracle; NorthStarSpec pins
    * recall against the exact L2 ranking.
    */
  def pqTopK(s: SparkSession, dir: String, kNn: Int = 5,
      nProbes: Int = 8): DataFrame = {
    // finer grid than sim_pq's storage codec (8×32 vs 4×16): search
    // wants recall, storage wants bytes — the paper's own split
    val (emb, books, subDim) = pqBooks(s, dir, 8, 32, 2)
    val codesLong = pqCodeTable(s, dir, 8, 32, 2)
    val probeRows = emb.filter(col("vec_id") < nProbes)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val lut = probeRows.toSeq.flatMap { case (qid, qv) =>
      books.zipWithIndex.flatMap { case (book, j) =>
        val q = qv.slice(j * subDim, (j + 1) * subDim)
        book.map { case (code, cw) =>
          val d = q.zip(cw).map { case (a, b) => (a - b) * (a - b) }.sum
          (qid, j, code, d)
        }
      }
    }
    import s.implicits._
    val lutDf = broadcast(lut.toDF("query_id", "sub", "code", "d"))
    // scaled-integer sum: order-independent across partitionings (the
    // engine-wide determinism discipline), so near-tie ranks can't
    // flip between runs
    val scored = codesLong
      .join(lutDf, Seq("sub", "code"))
      .filter(col("cand_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg((sum(round(col("d") * 1e9).cast("long")) / 1e9).as("adc_dist"))
    adcRerank(s, scored, emb, probeRows, kNn, adcShortlist(s, dir, kNn),
      s"pq:$dir:$kNn")
  }

  /** Data-relative ADC shortlist size: max(4k, ⌈√n⌉). A fixed
    * shortlist pins CORPUS SIZE, not index health — the ADC-confusable
    * set around each query grows with n, so a constant-width rerank
    * window decays toward zero recall as the corpus scales (measured:
    * 0.55-0.60 at sf0.001-0.1 but 0.175 at sf1.0 with the old fixed
    * 4k=20). √n is the efSearch/nprobe discipline: per-query rerank
    * work grows SUBLINEARLY (89 exact distances at 8k vectors, ~32k at
    * 1e9 — still nothing against the corpus scan ANN avoids) while
    * recall holds across decades (re-measured 0.50-0.75 across
    * sf0.001-1.0). The count is the pooled corpus's cached
    * cardinality — a bounded driver scalar, same legality class as
    * kmeans' centroids.
    */
  private def adcShortlist(s: SparkSession, dir: String, kNn: Int): Int = {
    val n = corpusCount(s, dir)
    math.max(kNn * 4, math.ceil(math.sqrt(n.toDouble)).toInt)
  }

  /** ADC shortlist → EXACT rerank (the production refinement, shared
    * by pqTopK and ivfPqTopK): the compressed scores only nominate
    * `shortlistSize` candidates per query; the final ranking recomputes
    * TRUE L2 on just those rows (a bounded join back to the full
    * vectors — per query the rerank touches shortlistSize vectors,
    * not the corpus).
    */
  private def adcRerank(s: SparkSession, scored: DataFrame,
      emb: DataFrame, probeRows: Array[(Long, Seq[Double])],
      kNn: Int, shortlistSize: Int, tag: String): DataFrame = {
    import s.implicits._
    val wAdc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("cand_id"))
    // pooled so the guard's bound check reads the materialized cache
    // instead of re-running the ADC scoring pipeline the shortlist
    // hangs off (the corpus-sized aggregation is the query's cost)
    val shortlist = graft.CachePool.cached(s, s"sim.adcShortlist:$tag") {
      scored.withColumn("srank", row_number().over(wAdc))
        .filter(col("srank") <= shortlistSize)
        .select(col("query_id"), col("cand_id"))
    }
    val probesDf = broadcast(
      probeRows.toSeq.toDF("query_id", "qv"))
    // exact distance through the argmin kernel with a 1-codeword
    // "book" — element 1 of the result IS the squared L2 distance.
    // The shortlist side is BROADCAST by construction, not by the
    // planner's estimate: it is ≤ |queries|·shortlistSize rows (a few
    // hundred), but it hangs off a window+filter whose size Catalyst
    // can't see, so without the hint the join falls to sort-merge and
    // shuffles the ENTIRE embedding table on cand_id — measured at
    // the sf3.0 deep point as a 9.4 MB exchange that was absent at
    // sf1.0 (the corpus had crossed the auto-broadcast estimate);
    // at 10⁹ vectors that shuffle is the whole corpus per rerank.
    // The hint is bound-GUARDED (round-13 verdict ask #2): the rank
    // filter implies ≤ |queries|·shortlistSize rows exactly, and the
    // guard fails loudly if a window/filter regression breaks that.
    val exact = graft.Broadcasts.bounded(shortlist,
        probeRows.length.toLong * shortlistSize,
        s"adcRerank($tag).shortlist")
      .join(emb.select(col("vec_id").as("cand_id"), col("v")), "cand_id")
      .join(probesDf, "query_id")
      .withColumn("dist", round(element_at(
        call_function("vector_argmin_l2", col("v"), col("qv"),
          typedlit(Seq(0.0))), 1), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("dist"), col("cand_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNn)
      .select(col("query_id"), col("cand_id"), col("dist"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ ANN search — the two stages composed the way a production
    * index runs them (FAISS IVFPQ): the coarse quantizer restricts
    * each query to its inverted list, and PQ-ADC ranks only WITHIN
    * that cell, so per-query scoring work is |corpus|/|cells| code
    * lookups instead of |corpus| — multiplying the two prunings. The
    * codebooks here are GLOBAL (FAISS's by_residual=false mode): the
    * fixture's near-isotropic embeddings give per-cell residuals no
    * tighter spread than the raw vectors, so residual books would
    * spend m·k·|cells| parameters for no recall — on clustered real
    * corpora, train per-cell residual books with the same pqBooks
    * loop over (v - centroid). Shortlist still reranks EXACT (shared
    * adcRerank), so cell recall bounds final recall. Approximate by
    * construction → rows-only check + recall-vs-exact bound in
    * NorthStarSpec.
    */
  def ivfPqTopK(s: SparkSession, dir: String, kNn: Int = 5,
      nProbes: Int = 8): DataFrame = {
    val (emb, books, subDim) = pqBooks(s, dir, 8, 32, 2)
    val cells = ivfAssignment(s, dir)
      .select(col("vec_id"), col("cent_id"))
    val codesLong = pqCodeTable(s, dir, 8, 32, 2)
    val probeRows = emb.filter(col("vec_id") < nProbes)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    // MULTI-PROBE cell restriction (standard IVF practice): each query
    // searches its top-`cellsPerProbe` closest cells, not just the
    // argmax one — a query near a cell boundary would otherwise miss
    // neighbors assigned across it (measured here: recall@5 0.35 with
    // one cell, 0.65 with three at sf0.01). The top-cell ranking is a
    // |probes| × |cells| cross join — both sides bounded, nothing
    // corpus-sized.
    val c = corpus(s, dir)
    val centsB = centsBroadcast(s, dir, "ivfPqTopK.cents")
    // Probe width is DATA-RELATIVE: max(3, ⌈√cells⌉) — the FAISS
    // nprobe ≈ √nlist rule. With fixed-occupancy cells (|cell| ≈ 127)
    // a constant 3-cell probe covers a vanishing corpus fraction as
    // cells multiply (3/16 at sf0.1 → 3/63 at sf1.0, recall 0.30 →
    // 0.175); √cells keeps candidate work sublinear (⌈√cells⌉·127
    // rows per query — 8·127 at 8k vectors, ~2.8k·127 at 1e9, 0.04%
    // of that corpus) while holding recall across the measured
    // decades. The cell count is a bounded driver scalar (≈ n/127),
    // memoized through CachePool's value lane (round-13 ask #6).
    val nCells = ivfCentroids(s, dir)._2
    val cellsPerProbe = math.max(3,
      math.ceil(math.sqrt(nCells.toDouble)).toInt)
    val wCells = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cent_id"))
    // pooled so the bound guard below reads the materialized cache
    // rather than re-running the |probes| × |cells| scoring pass
    val probeCells = graft.CachePool.cached(s,
      s"sim.ivfpqProbeCells:$dir:$nProbes") {
      c.filter(col("vec_id") < nProbes)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          col("nrm").as("qn"))
        .join(centsB, lit(true))
        .select(col("query_id"), col("cent_id"),
          (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("csim"))
        .withColumn("crank", row_number().over(wCells))
        .filter(col("crank") <= cellsPerProbe)
        .select(col("query_id"), col("cent_id"))
    }
    // the crank filter implies ≤ |queries|·cellsPerProbe rows EXACTLY;
    // the guard turns a rank/filter regression into a loud failure
    val probeCellsB = graft.Broadcasts.bounded(probeCells,
      nProbes.toLong * cellsPerProbe, "ivfPqTopK.probeCells")
    // (query, candidate) pairs exist ONLY within the query's probed
    // cells — the equi-join on cent_id is the prune
    val candPairs = graft.CachePool.cached(s,
      s"sim.ivfpqCand:$dir:$nProbes") {
      cells
        .join(probeCellsB, Seq("cent_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("cand_id"))
    }
    val lut = probeRows.toSeq.flatMap { case (qid, qv) =>
      books.zipWithIndex.flatMap { case (book, j) =>
        val q = qv.slice(j * subDim, (j + 1) * subDim)
        book.map { case (code, cw) =>
          val d = q.zip(cw).map { case (a, b) => (a - b) * (a - b) }.sum
          (qid, j, code, d)
        }
      }
    }
    import s.implicits._
    val lutDf = broadcast(lut.toDF("query_id", "sub", "code", "d"))
    // candPairs is the BROADCAST side by construction: ≤ |queries| ·
    // cellsPerProbe · max-cell-occupancy rows (√n-growth — ~45 MB at
    // 10⁹ vectors), while codesLong is the full O(n) code table. The
    // sf3.0 plan probe showed the planner building the hash side from
    // codesLong once its estimate crossed the threshold — broadcast
    // of the corpus-sized side, exactly backwards at scale. The hint
    // is bound-GUARDED (round-13 verdict ask #2): mean occupancy is
    // ⌈n/cells⌉ ≈ 127 by the sampling construction, and the bound
    // allows 32× skew over it — a denser-cell or parameter drift that
    // un-bounds the candidate set fails here at test scale instead of
    // OOM-ing a driver at 10⁹ vectors.
    val meanOcc = math.max(1L,
      (corpusCount(s, dir) + nCells - 1) / math.max(1L, nCells))
    val candB = graft.Broadcasts.bounded(candPairs,
      nProbes.toLong * cellsPerProbe * 32L * meanOcc,
      "ivfPqTopK.candPairs")
    val scored = candB
      .join(codesLong, Seq("cand_id"))
      .join(lutDf, Seq("query_id", "sub", "code"))
      .groupBy(col("query_id"), col("cand_id"))
      .agg((sum(round(col("d") * 1e9).cast("long")) / 1e9).as("adc_dist"))
    adcRerank(s, scored, emb, probeRows, kNn, adcShortlist(s, dir, kNn),
      s"ivfpq:$dir:$kNn:$nProbes")
  }

  /** SemDedup (Abbas et al. 2023): semantic near-duplicate pruning
    * scoped to k-means clusters — embeddings are clustered first, and
    * only WITHIN-cluster pairs are ever compared, so the pair space is
    * ~n²/k instead of n² (cross-cluster near-dups are the accepted
    * miss, exactly the paper's trade). Within a cluster, any pair with
    * cosine ≥ tau drops the member CLOSER to its centroid (the paper's
    * keep-low-centroid-similarity rule: boundary examples carry more
    * signal than redundant cluster-core ones); ties drop the larger id.
    *
    * Scale shape: reuses the pooled normed corpus and the kmeans
    * assignment; the pair scan is an equi-join ON CLUSTER with the
    * cosine threshold as a residual join predicate, so at 100 TB the
    * work is hash-partitioned by cluster and non-matching pairs never
    * materialize. k grows with corpus size to hold per-cluster pair
    * counts flat.
    *
    * Cross-engine determinism: sims rounded to 3 decimals before the
    * threshold, centroid distances come pre-rounded (6) from kmeans,
    * drop rule is a pure CASE — the DuckDB oracle replays all of it.
    */
  def semanticDedup(s: SparkSession, dir: String,
      tau: Double = 0.4): DataFrame = {
    val km = kmeans(s, dir) // (vec_id, cluster, dist_sq), Lloyd-trained
    val c = corpus(s, dir).join(km, "vec_id")
    val a = Tables.fanOut(c.select(col("cluster"),
      col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na"),
      col("dist_sq").as("da")))
    val b = c.select(col("cluster").as("cluster_b"),
      col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb"),
      col("dist_sq").as("db"))
    val sim = round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 3)
    val dropped = a.join(b,
        col("cluster") === col("cluster_b")
          && col("vec_a") < col("vec_b") && sim >= tau)
      .select(when(col("da") < col("db"), col("vec_a"))
        .otherwise(col("vec_b")).as("vec_id"))
      .distinct()
    km.join(dropped.withColumn("hit", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("hit").isNull, lit(1)).otherwise(lit(0)).as("keep"))
      .orderBy("vec_id")
  }

  def labelCentroids(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(round(col("v").cast("double") * 1e6).cast("long"))
          .as("scaled_sum"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"), col("dim"),
        (col("scaled_sum") / (col("n_vecs") * lit(1e6))).as("centroid"),
        col("n_vecs"))
      .orderBy("label", "dim")

  /** Embedding OUTLIER GATE — the corrupt-vector screen a training
    * pipeline runs before embeddings feed anything downstream (a
    * zeroed buffer, a wrong-preprocessing batch, or a truncated read
    * lands far from its class): flag vectors whose squared distance
    * to their own label centroid deviates from the label's mean by
    * more than 3σ. Exactness discipline: per-(label, dim) moments
    * come from SCALED-INTEGER sums (the labelCentroids trick, 1e3
    * units here for squared-term headroom), the centroid division is
    * AVOIDED entirely by scaling the residual to n·x − Σx (pure
    * BIGINTs), and the z-test is the volumeAnomaly form — squared,
    * no sqrt, moments from exact sums (decimal(38) for the
    * fourth-power magnitudes) so the flag replays bit-identically in
    * any engine. Two aggregations + one broadcast of O(labels)
    * stats; the per-vector distance is one map-side-combinable
    * rollup. At 100 TB with per-label counts beyond ~10⁶, divide the
    * centroid out in doubles instead of carrying n·x − Σx (the
    * integer form is the oracle-parity choice at audit scale).
    */
  def outlierGate(s: SparkSession, dir: String): DataFrame =
    outlierGateCore(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "v"))))

  /** The gate over any exploded (vec_id, label, dim, v) frame — split
    * out so specs can drive it with planted corrupt vectors.
    */
  private[operators] def outlierGateCore(exploded: DataFrame): DataFrame = {
    val x = exploded
      .withColumn("xs", round(col("v").cast("double") * 1e3).cast("long"))
    val stats = x.groupBy("label", "dim")
      .agg(sum(col("xs")).as("s1"), count(lit(1)).as("n"))
    val d2 = x.join(stats, Seq("label", "dim"))
      .withColumn("e", col("n") * col("xs") - col("s1"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("e") * col("e")).as("d2s"))
    val dec = col("d2s").cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val lbl = d2.groupBy("label")
      .agg(count(lit(1)).as("k"), sum(dec).as("t1"),
        sum(dec * dec).as("t2"))
    d2.join(broadcast(lbl), "label")
      .withColumn("mean_d2", col("t1").cast("double") / col("k"))
      .withColumn("var_d2",
        col("t2").cast("double") / col("k") -
          col("mean_d2") * col("mean_d2"))
      .withColumn("is_outlier",
        ((col("d2s") - col("mean_d2")) * (col("d2s") - col("mean_d2")) >
          lit(9.0) * col("var_d2")).cast("int"))
      .select(col("vec_id"), col("label"), col("d2s"), col("is_outlier"))
      .orderBy("vec_id")
  }

  /** Per-dimension z-score standardization of the embedding corpus —
    * the feature-scaling pass before any distance-based method
    * (k-means, ANN) when dimensions have uneven spread. Two-phase at
    * any scale: ONE partial-aggregated shuffle of |dims| groups builds
    * the per-dimension moments from exact scaled-integer sums (the
    * labelCentroids trick — bit-exact across engines where naive
    * float means are not), then the tiny stats table broadcasts back
    * and the normalization is row-local. sqrt is IEEE-correctly-
    * rounded on every engine, so even the z-scores compare exactly.
    */
  def standardize(s: SparkSession, dir: String): DataFrame = {
    val x = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("xs", round(col("v").cast("double") * 1e6).cast("long"))
    val stats = x.groupBy("dim").agg(
      sum(col("xs")).as("s1"),
      sum(col("xs") * col("xs")).as("s2"),
      count(lit(1)).as("n"))
    val mean = col("s1").cast("double") / col("n")
    x.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        ((col("xs").cast("double") - mean) /
          sqrt(col("s2").cast("double") / col("n") - mean * mean +
            lit(1e-12))).as("z"))
      .orderBy("vec_id", "dim")
  }

  /** Johnson–Lindenstrauss random projection: 64-d embeddings → 16-d
    * via a seeded ±1 matrix that is NEVER materialized — each sign is
    * recomputed from (out-dim, in-dim) by integer arithmetic (a
    * multiply-mix hash bit), so the operator is a pure row-local
    * expression: no broadcast matrix, no shuffle, embarrassingly
    * parallel at any scale. Projections sum left-to-right in index
    * order (seeded fold, not a set aggregate) so the result is
    * bit-deterministic and oracle-checkable; RandomProjectionSpec
    * asserts the JL property (pairwise distances preserved after
    * 1/sqrt(16) scaling). Output is the long form (vec_id, dim, val) —
    * scalar columns survive engine-portable comparison where
    * float-array columns don't.
    */
  def randomProjection(s: SparkSession, dir: String, dOut: Int = 16): DataFrame = {
    // sign(k, j) = ±1 from bit 10 of h(k)·h(j), where h(·) is a
    // multiplicative hash mod a ~2^20 prime. The k×j PRODUCT (not a
    // linear combination — that makes every row a phase shift of one
    // base sequence, measured |corr| up to 0.94) keeps rows of the
    // implicit matrix decorrelated (measured max |corr| 0.31), and
    // every intermediate stays < 2^41 so the identical integer
    // arithmetic runs on any engine without 64-bit overflow. The
    // fused VectorProject kernel computes all dOut folds in one call
    // per row (the HOF form would pay dOut·dim interpreted lambda
    // dispatches); its Scaladoc pins the bit-exact equivalence.
    VectorExpressions.ensureRegistered(s)
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(call_function("vector_project",
          col("embedding"), lit(dOut))).as(Seq("dim", "val")))
      .orderBy("vec_id", "dim")
  }

  /** All-pairs Pearson correlation matrix over the embedding
    * dimensions — the feature-redundancy audit run before dimension
    * reduction (and the driver-CHECKED sibling of pca's covariance
    * pass: the same exact scaled-integer pair-product sweep, here
    * surfaced as a query and hash-matched against DuckDB). Every
    * moment is exact integer arithmetic (xs = round(x·1e6); products
    * and sums in DECIMAL(38,0), overflow-safe past 10¹² rows); the
    * only floats are the final cast-divide-sqrt, mirrored
    * operation-for-operation by the oracle so even the last bits
    * agree. Shuffle is O(d²) partial sums regardless of row count;
    * the d-row stats table re-enters via broadcast.
    */
  /** The shared exact-moment sweep feeding corrMatrix and pcaTrain:
    * ONE pass folds every partition's rows into a local upper-triangle
    * Gram array + per-dim sums in a tight JVM loop (the HOF
    * `transform(transform(...))` form runs an INTERPRETED lambda per
    * cell — d²·n dispatches measured 6× slower than this fold), then
    * one partition-count-sized row per task carries the partials and
    * a d²-group aggregate in DECIMAL(38,0) makes the totals
    * overflow-safe at any corpus size. In-partition accumulation is
    * exact long (|xs| ≤ ~10⁶ ⇒ safe past 10⁶ rows per partition for
    * unit-scale embeddings; split partitions before that). Returns
    * (pairs (j,k,spp), stats (d,sx,sqq,n)) — both pooled.
    */
  private def moments(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val parts = graft.CachePool.cached(s, s"sim.gramParts:$dir") {
      Tables.embeddings(s, dir)
        .select(transform(col("embedding"),
          x => round(x.cast("double") * 1e6).cast("long")).as("xs"))
        .as[Seq[Long]]
        .mapPartitions { it =>
          var d = -1
          var tri: Array[Long] = null
          var sx: Array[Long] = null
          var n = 0L
          while (it.hasNext) {
            val v = it.next()
            if (d < 0) {
              d = v.length
              tri = new Array[Long](d * (d + 1) / 2)
              sx = new Array[Long](d)
            }
            var j = 0
            var idx = 0
            while (j < d) {
              val xj = v(j)
              sx(j) += xj
              var k = j
              while (k < d) {
                tri(idx) += xj * v(k)
                k += 1
                idx += 1
              }
              j += 1
            }
            n += 1
          }
          if (d < 0) Iterator.empty
          else Iterator.single((n, sx.toSeq, tri.toSeq))
        }
        .toDF("pn", "psx", "ptri")
        .localCheckpoint() // two consumers; 1 row per partition
    }
    val pairs = graft.CachePool.cached(s, s"sim.gramPairs:$dir") {
      val d = Tables.embeddings(s, dir)
        .select(size(col("embedding"))).head().getInt(0)
      val mapping = (for (j <- 0 until d; k <- j until d)
        yield (j, k)).zipWithIndex
        .map { case ((j, k), idx) => (idx, j, k) }
        .toDF("idx", "j", "k")
      parts.select(posexplode(col("ptri")).as(Seq("idx", "p")))
        .groupBy("idx")
        .agg(sum(col("p").cast(DecimalType(38, 0))).as("spp"))
        .join(broadcast(mapping), "idx")
        .select(col("j"), col("k"), col("spp"))
    }
    val stats = graft.CachePool.cached(s, s"sim.gramStats:$dir") {
      val n = parts.agg(sum(col("pn"))).head().getLong(0)
      parts.select(posexplode(col("psx")).as(Seq("d", "xj")))
        .groupBy("d")
        .agg(sum(col("xj").cast(DecimalType(38, 0))).as("sx"))
        .withColumn("n", lit(n))
    }
    (pairs, stats)
  }

  def corrMatrix(s: SparkSession, dir: String): DataFrame = {
    val (pairs, stats) = moments(s, dir)
    // sqq (= Σx²) is the Gram diagonal — no separate pass
    val diag = pairs.filter(col("j") === col("k"))
      .select(col("j").as("dd"), col("spp").as("sqq"))
    val full = stats.join(diag, col("d") === col("dd"))
    val sa = full.select(col("d").as("j"), col("sx").as("sxa"),
      col("sqq").as("sqa"), col("n"))
    val sb = full.select(col("d").as("k"), col("sx").as("sxb"),
      col("sqq").as("sqb"))
    pairs
      .join(broadcast(sa), "j")
      .join(broadcast(sb), "k")
      .select(col("j").as("dim_a"), col("k").as("dim_b"),
        ((col("n") * col("spp") - col("sxa") * col("sxb")).cast("double") /
          (sqrt((col("n") * col("sqa") - col("sxa") * col("sxa"))
            .cast("double")) *
           sqrt((col("n") * col("sqb") - col("sxb") * col("sxb"))
            .cast("double")))).as("corr"))
      .orderBy("dim_a", "dim_b")
  }

  /** PCA model memo per (session, dir, k) — an index build: trained
    * once, projected many times (CachePool's value lane, same
    * discipline as the PQ codebooks). Holds (top-k eigenvalues,
    * row-major flattened k×d components, per-component centering
    * offsets μ·Cᵣ) — O(k·d) driver doubles.
    */
  private[graft] def pcaModel(s: SparkSession, dir: String, k: Int)
      : (Array[Double], Array[Double], Array[Double]) =
    graft.CachePool.memoized(s, s"sim.pcaModel:$dir:$k")(
      pcaTrain(s, dir, k))

  /** The training pass: EXACT scaled-integer covariance in one
    * distributed sweep (the pooled `moments` Gram fold — per-partition
    * tight-loop partials, O(d²) shuffle regardless of row count, the
    * fundamental shape of exact covariance at 100 TB), then a Jacobi
    * eigensolve of the d×d matrix on the driver (d=64 → 4096 doubles,
    * the legal O(d²) collect). E[xy]−μxμy assembles the covariance in
    * doubles from the collected exact sums.
    */
  private def pcaTrain(s: SparkSession, dir: String, k: Int)
      : (Array[Double], Array[Double], Array[Double]) = {
    val (pairsDf, statsDf) = moments(s, dir)
    val pairRows = pairsDf.collect()
    val meanRows = statsDf.collect()
    val d = meanRows.length
    val n = meanRows.head.getLong(2).toDouble
    val mu = new Array[Double](d) // in xs units
    meanRows.foreach(r =>
      mu(r.getInt(0)) = r.getDecimal(1).doubleValue() / n)
    val cov = Array.ofDim[Double](d, d) // back in input units
    pairRows.foreach { r =>
      val (j, kk) = (r.getInt(0), r.getInt(1))
      val c = (r.getDecimal(2).doubleValue() / n - mu(j) * mu(kk)) / 1e12
      cov(j)(kk) = c
      cov(kk)(j) = c
    }
    val (evals, evecs) = jacobiEigen(cov)
    // order by eigenvalue descending; deterministic sign: the
    // largest-|coordinate| entry of each component is positive
    val order = evals.indices.sortBy(i => -evals(i)).take(k)
    val comps = order.map { i =>
      val v = Array.tabulate(d)(r => evecs(r)(i))
      val m = v.indices.maxBy(j => math.abs(v(j)))
      if (v(m) < 0) v.map(-_) else v
    }
    val flat = comps.flatten.toArray
    // centering folded into per-component offsets: (x−μ)·C = x·C − μ·C
    val offsets = comps.map(c =>
      c.indices.map(j => c(j) * mu(j) / 1e6).sum).toArray
    (order.map(evals).toArray, flat, offsets)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix —
    * rotations zero each off-diagonal pair until convergence;
    * O(d³) per sweep on O(d²) driver data. Returns (eigenvalues,
    * eigenvector COLUMNS).
    */
  private def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (p <- 0 until d; q <- p + 1 until d) s += a(p)(q) * a(p)(q)
      s
    }
    var sweep = 0
    while (sweep < 64 && off() > 1e-20) {
      for (p <- 0 until d; q <- p + 1 until d if math.abs(a(p)(q)) > 0) {
        val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
        val t = math.signum(theta) /
          (math.abs(theta) + math.sqrt(theta * theta + 1)) match {
            case 0.0 => 1.0 // theta == 0 → 45° rotation
            case x => x
          }
        val c = 1 / math.sqrt(t * t + 1)
        val sn = t * c
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - sn * aiq
          a(i)(q) = sn * aip + c * aiq
        }
        for (i <- 0 until d) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = c * api - sn * aqi
          a(q)(i) = sn * api + c * aqi
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - sn * viq
          v(i)(q) = sn * vip + c * viq
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** PCA projection of every embedding onto the top-k principal
    * components. The component matrix re-enters the plan as a
    * BROADCAST LITERAL driving the fused `vector_matmul` codegen
    * kernel, and the centering is folded into k driver-computed
    * offsets ((x−μ)·C = x·C − μ·C) — so the projection is one
    * row-local expression: no join, no shuffle, no per-element
    * interpreted lambda, embarrassingly parallel at any scale.
    * Long-form output (vec_id, dim, val) like randomProjection.
    * PcaSpec proves orthonormal components, descending non-negative
    * eigenvalues, per-component projected variance = eigenvalue, and
    * top-k explained variance beating the uniform share.
    */
  def pca(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    VectorExpressions.ensureRegistered(s)
    val (_, flat, offsets) = pcaModel(s, dir, k)
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        posexplode(call_function("vector_matmul",
          col("embedding"), typedLit(flat.toSeq))).as(Seq("dim", "raw")))
      .select(col("vec_id"), col("dim"),
        (col("raw") - element_at(typedLit(offsets.toSeq), col("dim") + 1))
          .as("val"))
      .orderBy("vec_id", "dim")
  }

  /** Matryoshka truncation audit: how much of each embedding's energy
    * the first d dimensions retain, for d ∈ {4, 16, 64} — the
    * measurement behind MRL-style dimension cuts ("can we search at
    * d=16 and rerank at full?"). Because truncation is an orthogonal
    * projection, cos²(x[:d], x) = ‖x[:d]‖²/‖x‖² exactly — so the
    * quality statistic IS a retained-energy ratio and needs no dot
    * products or sqrt.
    *
    * Exactness: per-element energy is round(x·10³)² — an exact BIGINT
    * of the quantized vector (the repo's scaled-int convention), so
    * prefix and total energies are order-independent integer sums and
    * the per-vector ratio lands by the div-ppm law. The rollup emits
    * per-level corpus stats: mean ppm as Σ div n (exact), min/max
    * ppm, and how many vectors clear 99%. One posexplode pass,
    * row-local arithmetic, |levels|·|vecs| intermediate rows — never
    * a pair space.
    */
  def mrlEnergy(s: SparkSession, dir: String,
      levels: Seq[Int] = Seq(4, 16, 64)): DataFrame = {
    val perVec = Tables.embeddings(s, dir)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"),
        (round(col("col").cast("double") * 1000).cast("long") *
          round(col("col").cast("double") * 1000).cast("long")).as("e"))
      .groupBy("vec_id")
      .agg(
        sum(when(col("pos") < levels.head, col("e")).otherwise(0L))
          .as(s"e${levels.head}"),
        levels.tail.init.map(d =>
          sum(when(col("pos") < d, col("e")).otherwise(0L)).as(s"e$d")) :+
          sum(col("e")).as(s"e${levels.last}"): _*)
    val stacked = perVec.select(col("vec_id"), expr(
      s"stack(${levels.size}, " +
        levels.map(d => s"$d, e$d").mkString(", ") +
        s") AS (dim_level, e_d)"),
      col(s"e${levels.last}").as("e_full"))
      .filter(col("e_full") > 0)
      .withColumn("retained_ppm",
        expr("e_d * 1000000L div e_full"))
    stacked.groupBy("dim_level")
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(retained_ppm) div count(1)").as("mean_retained_ppm"),
        min(col("retained_ppm")).as("min_retained_ppm"),
        max(col("retained_ppm")).as("max_retained_ppm"),
        sum(when(col("retained_ppm") >= 990000L, 1L).otherwise(0L))
          .as("n_above_99pct"))
      .orderBy("dim_level")
  }
}
