package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-quality operators: a declarative expectations gate (the
  * constraint-check pass a production pipeline runs before promoting a
  * snapshot — the reference instead swallows per-row exceptions,
  * `Gonukkad_Merchants.py:95-101`) and day-volume anomaly detection
  * (the "did today's load look like yesterday's" audit its daily
  * count file approximates, `buisness_profile_etl/main.py:20-50`).
  *
  * Scale design: the row-rule gate is ONE pass over the fact table
  * (every rule a conditional count in the same aggregate — no
  * per-rule scans); the referential rule is a broadcast anti join.
  * Anomaly stats come from exact integer sums, so results are
  * deterministic under any partitioning.
  */
object Quality {

  /** Declarative expectations over orders: per-rule checked/violation
    * counts and a pass flag. Row-local rules fold into one aggregate
    * pass; the foreign-key rule joins against the (broadcast)
    * customer key set.
    */
  def expectations(s: SparkSession, dir: String): DataFrame =
    expectationsOn(Tables.orders(s, dir), Tables.customer(s, dir))

  /** The gate over explicit inputs — separable so specs can feed a
    * deliberately corrupted orders table through the same rule logic.
    */
  private[operators] def expectationsOn(orders: DataFrame,
      customer: DataFrame): DataFrame = {
    val rowRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "totalprice_positive" -> (col("o_totalprice") > 0),
      "orderdate_not_null" -> col("o_orderdate").isNotNull,
      "status_in_domain" -> col("o_orderstatus").isin("O", "F", "P"))
    // one scan, all row rules: each rule is a conditional count in the
    // same aggregate (N rules cost one pass, not N), then the 1-row
    // result unpivots via stack — never a per-rule re-scan.
    // coalesce(pred, false): three-valued logic would otherwise let a
    // NULL value slip past a value constraint (NOT(NULL > 0) is NULL,
    // which when() silently skips) — for a gate, NULL is a violation
    val rowAgg = orders.agg(
      count(lit(1)).as("n_checked"),
      rowRules.map { case (name, pred) =>
        count(when(!coalesce(pred, lit(false)), 1)).as(s"v_$name")
      }: _*)
    val stackArgs = rowRules
      .map { case (name, _) => s"'$name', v_$name" }.mkString(", ")
    val rowResults = rowAgg.select(col("n_checked"),
      expr(s"stack(${rowRules.size}, $stackArgs) AS (rule, n_violations)"))
      .select(col("rule"), col("n_checked"), col("n_violations"))
    // referential rule: orphaned o_custkey — LEFT join so checked and
    // violation counts come out of the same single pass (an anti join
    // would lose the denominator). No forced hint: the customer key
    // set grows with the data; the planner broadcasts while the scan
    // fits the threshold and shuffles beyond
    val fk = orders.select(col("o_custkey"))
      .join(customer.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left")
      .agg(count(lit(1)).as("n_checked"),
        count(when(col("c_custkey").isNull, 1)).as("n_violations"))
      .select(lit("custkey_resolves").as("rule"), col("n_checked"),
        col("n_violations"))
    rowResults.unionByName(fk)
      .withColumn("pass", (col("n_violations") === 0).cast("int"))
      .orderBy("rule")
  }

  /** Audit metrics via `observe()` — quality counters collected from
    * the SAME pass that produces the gated output, zero extra scans.
    * `expectations` above is the standalone audit (one dedicated
    * pass); this is the production inline form: the pipeline writes
    * its output anyway, and the observation rides the job for free as
    * accumulator-style metrics (exact, not sampled, regardless of
    * partitioning). The query returns the metric row itself so the
    * driver oracle can state the counts independently.
    */
  def observedAudit(s: SparkSession, dir: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation("graft_audit")
    val gated = Tables.orders(s, dir)
      .observe(obs,
        count(lit(1)).as("n_input"),
        count(when(col("o_totalprice") <= 0, 1)).as("n_nonpos_price"),
        count(when(!col("o_orderstatus").isin("O", "F", "P"), 1))
          .as("n_bad_status"))
      .filter(col("o_totalprice") > 0)
    val nOut = gated.count() // the output action the metrics ride on
    val m = obs.get
    import s.implicits._
    Seq((m("n_input").asInstanceOf[Long],
      m("n_nonpos_price").asInstanceOf[Long],
      m("n_bad_status").asInstanceOf[Long], nOut))
      .toDF("n_input", "n_nonpos_price", "n_bad_status", "n_output")
  }

  /** Day-volume anomaly detection over events: flag days whose event
    * count deviates from the corpus mean by more than 2 standard
    * deviations. The variance test is expressed SQUARED
    * ((n-mean)² > 4·var) so no square root enters the output, and
    * mean/var derive from exact integer sums — bit-identical results
    * under any row order or partitioning, in any engine.
    */
  def volumeAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    // exact integer corpus stats, broadcast back as a 1-row join
    val stats = daily.agg(
      count(lit(1)).as("k"),
      sum(col("n_events")).as("s1"),
      sum(col("n_events") * col("n_events")).as("s2"))
    daily.join(broadcast(stats), lit(true))
      .withColumn("mean_events", col("s1") / col("k"))
      .withColumn("var_events",
        col("s2") / col("k") - col("mean_events") * col("mean_events"))
      .withColumn("is_anomaly",
        ((col("n_events") - col("mean_events")) *
          (col("n_events") - col("mean_events")) >
          lit(4.0) * col("var_events")).cast("int"))
      .select(col("day"), col("n_events"), col("mean_events"),
        col("is_anomaly"))
      .orderBy("day")
  }

  /** Referential-integrity audit across every FK edge of the star
    * schema: per edge, the count of child keys with no parent (one
    * left-anti join each). Join strategy follows table size, which is
    * the whole scale story: tiny dimension parents (nation, region)
    * broadcast; large parents (orders, customer at 100 TB) anti-join
    * on the shuffle — forcing a broadcast there would OOM the build
    * side. All five edges run as ONE union plan, so Spark schedules
    * the independent audits concurrently.
    */
  def referentialAudit(s: SparkSession, dir: String): DataFrame =
    auditEdges(Seq(
      FkEdge("customer->nation", Tables.customer(s, dir), "c_nationkey",
        Tables.nation(s, dir), "n_nationkey", smallParent = true),
      FkEdge("lineitem->orders", Tables.lineitem(s, dir), "l_orderkey",
        Tables.orders(s, dir), "o_orderkey", smallParent = false),
      FkEdge("nation->region", Tables.nation(s, dir), "n_regionkey",
        Tables.region(s, dir), "r_regionkey", smallParent = true),
      FkEdge("orders->customer", Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey", smallParent = false),
      FkEdge("supplier->nation", Tables.supplier(s, dir), "s_nationkey",
        Tables.nation(s, dir), "n_nationkey", smallParent = true)))

  case class FkEdge(name: String, child: DataFrame, key: String,
      parent: DataFrame, pkey: String, smallParent: Boolean)

  /** Snapshot reconciliation: classify every key as added / removed /
    * changed / unchanged between two versions of a table — the diff
    * primitive behind replication audits, CDC backfill validation,
    * and "what did yesterday's load actually change". ONE full-outer
    * join on the key; values compare via a 64-bit row fingerprint
    * (xxhash64 over the value columns) so the shuffle carries one
    * long per side no matter how wide the row, and both sides
    * co-partition on the key — no driver work at any scale. (The
    * oracle compares the raw values instead; a fingerprint collision
    * — 2^-64 per changed row — would surface as a hash mismatch.)
    *
    * The "new" version is synthesized from orders deterministically:
    * key%13=0 rows dropped (removed), key%7=0 prices bumped
    * (changed), fresh negative keys for key%17=0 (added).
    */
  def snapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val valueCols = Seq("o_orderstatus", "o_totalprice")
    // materialize the 3-column projection ONCE: the old fingerprint
    // and both branches of the synthesized new version read it, which
    // would otherwise be three scans of the fact (the j15 pattern —
    // and why this query registers in eagerWriters)
    val old = Tables.orders(s, dir)
      .select(col("o_orderkey") +: valueCols.map(col): _*)
      .localCheckpoint()
    val neu = old
      .filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 100.0)
          .otherwise(col("o_totalprice")))
      .unionByName(old.filter(col("o_orderkey") % 17 === 0)
        .select((-(col("o_orderkey") + 1)).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice")))
    diffOn(old, neu, "o_orderkey", valueCols)
  }

  /** The diff over explicit inputs — the reusable core. */
  private[operators] def diffOn(old: DataFrame, neu: DataFrame,
      key: String, valueCols: Seq[String]): DataFrame = {
    def fp(df: DataFrame, hname: String) =
      df.select(col(key), xxhash64(valueCols.map(col): _*).as(hname))
    fp(old, "h_old").join(fp(neu, "h_new"), Seq(key), "full_outer")
      .select(col(key),
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("change"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_keys"),
        min(col(key)).as("min_key"), max(col(key)).as("max_key"))
      .orderBy("change")
  }

  /** The audit over an explicit edge list — the testable core:
    * QualitySpec feeds it an edge whose child carries an injected
    * orphan and asserts the count surfaces THROUGH this path (the
    * zero-orphan fixture alone cannot prove the wiring).
    */
  private[operators] def auditEdges(edges: Seq[FkEdge]): DataFrame =
    edges.map { e =>
      val p = e.parent.select(col(e.pkey).as("k")).distinct()
      // pre-aggregate child keys BEFORE the anti join: the map-side
      // combine collapses repeated FKs (lineitem carries ~4 rows per
      // order), so the anti join shuffles one row per DISTINCT key and
      // the orphan ROW count re-enters as a summed weight — same
      // result, fact-table shuffle shrunk by the key multiplicity
      val keyed = e.child.select(col(e.key).as("k"))
        .filter(col("k").isNotNull)
        .groupBy("k").agg(count(lit(1)).as("n"))
      keyed
        .join(if (e.smallParent) broadcast(p) else p, Seq("k"), "left_anti")
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_orphans"))
        .select(lit(e.name).as("fk_edge"), col("n_orphans"))
    }.reduce(_ unionByName _)
      .orderBy("fk_edge")

  /** Robust per-group outlier gate: |x − median| > 3·MAD, the
    * median-absolute-deviation rule that (unlike z-scores) a few
    * extreme rows cannot drag. ALL arithmetic is integer: values
    * become exact cents, the median is the DISCRETE lower median
    * (row_number = (n+1) div 2 — no interpolation, so no
    * cross-engine float drift; `div`/`//` on both sides, never a
    * double cast that truncates in Spark but rounds in DuckDB), and
    * the flag compares integer deviations to 3·(integer MAD). Both
    * median passes are per-group windows (never global); at 100 TB
    * swap the exact medians for the mergeable HistSketch quantiles
    * (agg_quantile_rollup) — the gate's comparison shape is unchanged.
    */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = eventCents(s, dir)
    val med = groupLowerMedian(e, "vc", "medc")
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("devc", abs(col("vc") - col("medc")))
    val mad = groupLowerMedian(dev.select(col("event_type"), col("devc")),
      "devc", "madc")
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("medc")).as("med_cents"), // constant per group
        min(col("madc")).as("mad_cents"),
        count(when(col("devc") > col("madc") * 3, 1)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** Event values as exact integer cents — the shared input of both
    * MAD gates. */
  private def eventCents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("event_type"),
      round(col("value") * 100).cast("long").as("vc"))

  /** Per-group DISCRETE lower median (rank (n+1) div 2) of `valueCol`
    * — exact, via VALUE COUNTS: a map-side-combined (group, value)
    * aggregate, then cumulative counts over the value-ndv rows pick
    * the first value whose cumulative count reaches the rank. Same
    * value as the old row_number-over-every-row form (the rank-th
    * element of the sorted multiset), but the per-group window sorts
    * ndv(value) rows instead of every event — for integer cents, the
    * bounded-domain form that stays exact at any corpus size (the
    * row-sort form put a whole group in one task; guide §2.3:
    * aggregate before you shuffle).
    */
  private def groupLowerMedian(df: DataFrame, valueCol: String,
      out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vc = df.groupBy(col("event_type"), col(valueCol))
      .agg(count(lit(1)).as("c"))
    val run = Window.partitionBy("event_type").orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val whole = Window.partitionBy("event_type")
    vc.withColumn("cum", sum(col("c")).over(run))
      .withColumn("n", sum(col("c")).over(whole))
      .filter(col("cum") >= expr("(n + 1) div 2") &&
        col("cum") - col("c") < expr("(n + 1) div 2"))
      .select(col("event_type"), col(valueCol).as(out))
  }

  /** The MAD gate's 100 TB form: both medians estimated from the
    * mergeable `HistSketchAgg` fixed-bin histogram (256 bins ×
    * 250 cents — covers the event-value domain with ~15% headroom)
    * instead of exact per-group sort windows. Same |x − med| > 3·MAD
    * comparison shape as `madOutliers`; what changes is the median
    * plumbing — a per-group sketch is one map-side-combined aggregate
    * row of 256 longs, so a group of ANY size costs one array on the
    * wire where the exact form sorts the whole group in one task.
    *
    * Every number stays integer and the sketch read-off is
    * deterministic (upper bin edge at rank (n+1) div 2 = the bin of
    * the exact lower median, by cumulative-count identity), so the
    * DuckDB oracle replays the ENTIRE sketch path — estimates, the
    * sketch-world deviations, outlier counts — exactly, plus the
    * agreement-with-exact assertion columns:
    *   - `med_within_bin`: med_est − med_exact ∈ [1, width] — the
    *     read-off lands in the exact median's bin, so its upper edge
    *     overshoots by at most one width (a LAW of the layout, not a
    *     tolerance);
    *   - `mad_within_2bins`: |mad_est − mad_exact| ≤ 2·width — the
    *     sketch-world deviations are each within one width of the
    *     exact ones (medians are 1-Lipschitz under per-row ≤ width
    *     shifts), and the read-off adds at most one more.
    */
  def madOutliersSketch(s: SparkSession, dir: String): DataFrame = {
    val bins = 256
    val widthC = 250L // cents
    val e = eventCents(s, dir)
    val medEst = sketchLowerMedian(e, "vc", "med_est_cents", bins, widthC)
    val dev = e.join(broadcast(medEst), "event_type")
      .withColumn("devc", abs(col("vc") - col("med_est_cents")))
    val madEst = sketchLowerMedian(dev.select(col("event_type"), col("devc")),
      "devc", "mad_est_cents", bins, widthC)
    // exact chain alongside, for the agreement columns only
    val medX = groupLowerMedian(e, "vc", "medc")
    val devX = e.join(broadcast(medX), "event_type")
      .withColumn("devx", abs(col("vc") - col("medc")))
    val madX = groupLowerMedian(devX.select(col("event_type"), col("devx")),
      "devx", "madc")
    dev.join(broadcast(madEst), "event_type")
      .join(broadcast(medX), "event_type")
      .join(broadcast(madX), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("med_est_cents")).as("med_est_cents"), // constant per group
        min(col("mad_est_cents")).as("mad_est_cents"),
        count(when(col("devc") > col("mad_est_cents") * 3, 1))
          .as("n_outliers_sketch"),
        (min(col("med_est_cents")) - min(col("medc")) >= 1 &&
          min(col("med_est_cents")) - min(col("medc")) <= widthC)
          .as("med_within_bin"),
        (abs(min(col("mad_est_cents")) - min(col("madc"))) <= 2 * widthC)
          .as("mad_within_2bins"))
      .orderBy("event_type")
  }

  /** Per-group lower-median ESTIMATE from the histogram sketch: one
    * aggregate pass builds the per-group bin counts, then the upper
    * edge of the first bin whose cumulative count reaches rank
    * (n+1) div 2 — O(bins) rows per group after the aggregate, never
    * a per-group sort.
    */
  private def sketchLowerMedian(df: DataFrame, valueCol: String,
      out: String, bins: Int, widthC: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sk = udaf(new graft.functions.HistSketchAgg(bins, widthC.toDouble))
    val g = df.groupBy("event_type")
      .agg(sk(col(valueCol).cast("double")).as("sk"),
        count(lit(1)).as("n"))
    val wc = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.select(col("event_type"), col("n"),
        posexplode(col("sk")).as(Seq("bin", "cnt")))
      .filter(col("cnt") > 0)
      .withColumn("cum", sum(col("cnt")).over(wc))
      .filter(col("cum") >= expr("(n + 1) div 2"))
      .groupBy("event_type")
      .agg(((min(col("bin")) + 1) * lit(widthC)).as(out))
  }

  /** Distribution drift between two table slices by TOTAL VARIATION
    * DISTANCE — the data-contract check that catches "the mix
    * changed" even when every row is individually valid (a feed that
    * silently stops sending one priority class passes every row rule
    * and fails this one). TVD = ½·Σ|p_i − q_i| is the drift statistic
    * that stays EXACT in integers: per-bin shares in ppm by declared
    * integer division, the distance one div by 2 — no logs (PSI) or
    * squared ratios (χ²) to drag libm/rationals across engines.
    * Slices: pre-1996 vs from-1996 orders (the timeTravel boundary);
    * bins: the order-priority classes — full-outer joined so a class
    * absent from one slice still contributes its whole share. One
    * scan builds both slice counts (conditional aggregation); the
    * distance re-enters each row as a 1-row broadcast audit column.
    */
  def distributionDrift(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1996-01-01").cast("timestamp")
    val counted = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("bin"))
      .agg(
        sum(when(col("o_orderdate") < cut, 1L).otherwise(0L)).as("cnt_a"),
        sum(when(col("o_orderdate") >= cut, 1L).otherwise(0L)).as("cnt_b"))
    val totals = counted.agg(sum(col("cnt_a")).as("n_a"),
      sum(col("cnt_b")).as("n_b"))
    val shares = counted.crossJoin(broadcast(totals))
      .select(col("bin"), col("cnt_a"), col("cnt_b"),
        expr("cnt_a * 1000000L div n_a").as("p_ppm"),
        expr("cnt_b * 1000000L div n_b").as("q_ppm"))
    // integer div: Spark's double `/2` + cast TRUNCATES an odd
    // abs-sum while DuckDB's CAST(… AS BIGINT) ROUNDS it — divergent
    // at sf1.0 where the sum first came out odd (819.5 → 819 vs 820)
    val tvd = shares
      .agg(expr("sum(abs(p_ppm - q_ppm)) div 2").as("tvd_ppm"))
    shares.crossJoin(broadcast(tvd)).orderBy("bin")
  }

  /** Benford's-law first-digit audit (Newcomb 1881, Benford 1938;
    * Nigrini's fraud-detection standard): naturally occurring
    * multi-scale amounts put digit d first with probability
    * log₁₀(1+1/d) — fabricated or capped data doesn't — so the
    * digit histogram vs the Benford curve is the cheapest
    * authenticity screen an amount column gets. Exactness: the nine
    * expected shares enter as INTEGER PPM LITERALS (they sum to
    * exactly 1 000 000; computing them in-plan would drag log₁₀
    * across engines), the first digit is string-extracted from the
    * exact cents integer (same leading digit as the amount, no
    * float formatting), observed shares are the declared ppm
    * integer-div law, and the TVD-vs-Benford distance rides every
    * row as a 1-row broadcast audit column. One scan, 9-row output.
    */
  def benfordAudit(s: SparkSession, dir: String): DataFrame = {
    val expected = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
      4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
      8 -> 51153L, 9 -> 45757L)
    val expDf = {
      import s.implicits._
      expected.toDF("digit", "benford_ppm")
    }
    val counted = Tables.orders(s, dir)
      .select(substring(round(col("o_totalprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = counted.agg(sum(col("n")).as("n_total"))
    val shares = expDf.join(counted, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("benford_ppm"),
        expr("coalesce(n, 0L) * 1000000L div n_total")
          .as("observed_ppm"))
    // floor-div by 2, NOT /2-then-cast: an odd |Δ| sum makes the
    // half-value fractional, and Spark's double→long cast TRUNCATES
    // where DuckDB's ROUNDS (surfaced by the sf0.001 full sweep —
    // 277393.5 → 277393 vs 277394); integer div is the declared law
    val tvd = shares
      .agg(sum(abs(col("observed_ppm") - col("benford_ppm")))
        .as("tvd2"))
      .select(expr("tvd2 div 2").as("tvd_vs_benford_ppm"))
    shares.crossJoin(broadcast(tvd)).orderBy("digit")
  }

  /** Column-PROFILE drift between two table slices — the schema-health
    * complement of distributionDrift: that one watches a single
    * column's value mix, this one watches every column's null rate
    * and distinct-value density, the stats that catch "a field went
    * dark upstream" or "an id column started collapsing" before any
    * row rule fires (the Great-Expectations/observability profile
    * diff, computed engine-side). Per column: one (value)-grain
    * groupBy with slice-conditional counts — the profileOrders shape
    * extended to two slices in the SAME single scan per column; the
    * per-column plans union into one job and shuffle only their own
    * group counts. All derived rates are exact integer ppm (declared
    * div law); the drift flag is a row-local boolean over declared
    * thresholds, so policy changes don't touch the measurement.
    * Slices: pre-1996 vs from-1996 orders (distributionDrift's
    * boundary). At 100 TB swap the exact per-column groupBys for one
    * approx_count_distinct pass per slice when estimates suffice —
    * the output contract is unchanged.
    */
  def profileDrift(s: SparkSession, dir: String): DataFrame = {
    val cut = lit("1996-01-01").cast("timestamp")
    profileDriftCore(Tables.orders(s, dir), col("o_orderdate") < cut,
      Seq("o_orderstatus" -> col("o_orderstatus"),
        "o_orderpriority" -> col("o_orderpriority"),
        "o_custkey" -> col("o_custkey"),
        "o_totalprice_cents" ->
          round(col("o_totalprice") * 100).cast("long")))
  }

  /** The measurement core over any frame, slice predicate, and column
    * list — split out so specs can drive it with injected nulls and
    * collapsed ids (TPC-H orders carries no NULLs).
    */
  private[operators] def profileDriftCore(df: DataFrame, isA: Column,
      cols: Seq[(String, Column)]): DataFrame = {
    val perCol = cols.map { case (name, c) =>
      df.groupBy(c.as("v"))
        .agg(sum(when(isA, 1L).otherwise(0L)).as("cnt_a"),
          sum(when(isA, 0L).otherwise(1L)).as("cnt_b"))
        .agg(
          sum(col("cnt_a")).as("n_a"), sum(col("cnt_b")).as("n_b"),
          coalesce(sum(when(col("v").isNull, col("cnt_a"))), lit(0L))
            .as("null_a"),
          coalesce(sum(when(col("v").isNull, col("cnt_b"))), lit(0L))
            .as("null_b"),
          count(when(col("v").isNotNull && col("cnt_a") > 0, 1))
            .as("ndv_a"),
          count(when(col("v").isNotNull && col("cnt_b") > 0, 1))
            .as("ndv_b"))
        .select(lit(name).as("column_name"), col("n_a"), col("n_b"),
          col("null_a"), col("null_b"), col("ndv_a"), col("ndv_b"))
    }.reduce(_ unionByName _)
    perCol
      .withColumn("null_ppm_a",
        expr("null_a * 1000000L div greatest(n_a, 1L)"))
      .withColumn("null_ppm_b",
        expr("null_b * 1000000L div greatest(n_b, 1L)"))
      .withColumn("ndv_ppm_a",
        expr("ndv_a * 1000000L div greatest(n_a, 1L)"))
      .withColumn("ndv_ppm_b",
        expr("ndv_b * 1000000L div greatest(n_b, 1L)"))
      .select(col("column_name"), col("n_a"), col("n_b"),
        col("null_ppm_a"), col("null_ppm_b"),
        (col("null_ppm_b") - col("null_ppm_a")).as("null_delta_ppm"),
        col("ndv_a"), col("ndv_b"),
        (col("ndv_ppm_b") - col("ndv_ppm_a")).as("ndv_delta_ppm"),
        (abs(col("null_ppm_b") - col("null_ppm_a")) > 10000L ||
          abs(col("ndv_ppm_b") - col("ndv_ppm_a")) > 50000L)
          .as("drift_flag"))
      .orderBy("column_name")
  }

  /** Late-arrival audit — the WATERMARK-SIZING measurement every
    * streaming deployment needs before it picks `withWatermark`: for
    * each event, its event-time disorder = (max event time seen so
    * far in arrival order) − (its own event time); the per-key max
    * and p95 of that disorder are exactly the delays at which a
    * watermark would have dropped 0% / 5% of this history. Arrival
    * order is the delivery sequence (event_id — the append order of
    * the feed); all arithmetic is exact integer microseconds, and
    * the p95 is an exact rank law ((n·95 + 99) div 100, ceiling),
    * not an interpolated percentile — so the whole audit replays in
    * SQL. One per-key ordered window for the running max (state =
    * one timestamp per key — the same O(keys) state the stream
    * itself would carry), one per-key rank for the p95.
    *
    * The testdata's events are already event-time-sorted (zero
    * disorder on the raw id order — the audit would be vacuous), so
    * the query SIMULATES delivery order with the deterministic
    * multiplicative shuffle (event_id · 2654435761, the fixture
    * family's standard permutation; no Long overflow at any fixture
    * scale). In production you pass the real ingestion sequence
    * (Kafka offset, commit LSN) as `arrival`.
    */
  def lateArrivals(s: SparkSession, dir: String): DataFrame =
    lateArrivalsCore(Tables.events(s, dir),
      (col("event_id") * 2654435761L) % 100000000L)

  private[operators] def lateArrivalsCore(events: DataFrame,
      arrival: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arrivalW = Window.partitionBy("event_type")
      .orderBy(col("arr"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val late = events
      .select(col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"), arrival.as("arr"))
      .withColumn("late_us", max(col("us")).over(arrivalW) - col("us"))
    val byLate = Window.partitionBy("event_type")
      .orderBy(col("late_us"), col("event_id"))
    // ONE pass: the per-type count/max ride the SAME event_type
    // exchange as the rank window (an unordered frame adds no sort),
    // and the p95 row — the unique rank hitting the ceiling — carries
    // them out. The former stats-groupBy + filter-join re-ran every
    // post-shuffle stage in both branches (exchange reuse shares only
    // the shuffle, not the windows above it).
    val whole = Window.partitionBy("event_type")
    late
      .withColumn("rk", row_number().over(byLate).cast("long"))
      .withColumn("n_events", count(lit(1)).over(whole))
      .withColumn("max_late_us", max(col("late_us")).over(whole))
      .filter(col("rk") === expr("(n_events * 95 + 99) div 100"))
      .select(col("event_type"), col("n_events"), col("max_late_us"),
        col("late_us").as("p95_late_us"))
      .orderBy("event_type")
  }

  /** Event-ordering violation gate: users whose first purchase
    * precedes their first signup (or who purchase with NO signup) —
    * the causality check referential integrity can't express (both
    * rows exist and both keys resolve; the TIMELINE is what's
    * broken; upstream replays and client-clock skew produce exactly
    * this). One min-per-(user, kind) aggregate from one scan
    * (conditional min — no self-join), row-local comparison,
    * violators emitted with both timestamps and the violation class;
    * corpus-wide counts ride along as a 1-row broadcast so the gate
    * reads as (violations, checked) without a second pass.
    */
  def orderingViolations(s: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.events(s, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      .filter(col("first_purchase").isNotNull)
    val flagged = firsts.select(col("user_id"), col("first_signup"),
      col("first_purchase"),
      when(col("first_signup").isNull, "no_signup")
        .when(col("first_purchase") < col("first_signup"),
          "purchase_before_signup").as("violation"))
    val counts = flagged.agg(count(lit(1)).as("n_purchasers"),
      sum(when(col("violation").isNotNull, 1L).otherwise(0L))
        .as("n_violations"))
    flagged.filter(col("violation").isNotNull)
      .crossJoin(broadcast(counts))
      .orderBy("user_id")
  }

  /** Candidate-key discovery: for each declared candidate (single
    * columns and composites), is it a unique key of the table — and
    * if not, how badly does it fail (group count, worst duplicate
    * multiplicity)? The audit a warehouse runs before declaring a
    * primary key, building a MERGE match condition, or choosing a
    * dedup identity — composite candidates are the interesting case
    * (is (custkey, orderdate) "one order per customer per day"?) and
    * the one per-column profilers (agg_profile) can't answer.
    *
    * Shape: one map-side-combining groupBy per candidate — count per
    * key group, then a 4-value re-aggregate (groups, rows, max
    * multiplicity). No distinct-Expand (a multi-countDistinct agg
    * pushes |candidates|× the rows through ONE aggregate — the shape
    * profileOrders measured 5× slower), no sort, each candidate's
    * pass independent and parallel. At 100 TB with many candidates,
    * prefilter with approx_count_distinct ≈ n_rows and run the exact
    * pass only on survivors; the exact pass here IS the confirm step
    * of that design.
    */
  def keyDiscovery(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.orders(s, dir)
    val candidates: Seq[(String, Seq[String])] = Seq(
      "o_orderkey" -> Seq("o_orderkey"),
      "o_custkey" -> Seq("o_custkey"),
      "o_orderdate" -> Seq("o_orderdate"),
      "o_custkey+o_orderdate" -> Seq("o_custkey", "o_orderdate"),
      "o_custkey+o_orderdate+o_orderstatus" ->
        Seq("o_custkey", "o_orderdate", "o_orderstatus"))
    candidates.map { case (name, cols) =>
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_groups"), sum(col("cnt")).as("n_rows"),
          max(col("cnt")).as("max_dup"))
        .select(lit(name).as("candidate"), col("n_rows"), col("n_groups"),
          col("max_dup"), (col("max_dup") === 1).as("is_key"))
    }.reduce(_ unionByName _).orderBy("candidate")
  }

  /** Sample-fidelity audit: does the deterministic hash sample
    * preserve the population's event-type distribution? The
    * two-sample chi-square homogeneity test in exact-integer form —
    * the audit every sampled dashboard needs before its numbers are
    * trusted (a hash keyed on something correlated with the dimension
    * under test fails it loudly).
    *
    * Sample = the fixture's multiplicative-hash law on event_id
    * (((id mod 2³¹)·2654435761) mod 97 < 5 — ≈ 5.2%, deterministic,
    * the same Knuth-hash convention as the weighted sampler).
    * Statistic: χ² = Σ_k (n₂·o₁ₖ − n₁·o₂ₖ)² / (n₁·n₂·(o₁ₖ+o₂ₖ)).
    * The squared difference overflows BIGINT around n ~ 10⁶, so each
    * cell's quotient term_q = ⌊d²/m⌋ (d = |n₂·o₁ₖ − n₁·o₂ₖ|,
    * m = o₁ₖ+o₂ₖ) is computed WITHOUT the wide intermediate via the
    * Euclidean split d = q·m + r: ⌊d²/m⌋ = q²·m + 2·q·r + ⌊r²/m⌋ —
    * every factor stays ≤ ~d²/m (the magnitude of the ANSWER, not of
    * d²), all plain BIGINT ops both engines replay digit-for-digit
    * (abs() first: d ≥ 0, so div/% agree across engines' negative
    * conventions). chi2 = Σ term_q / (n₁·n₂) is ONE double division
    * of exact integers. is_fit compares to the χ²₆ 0.95 critical
    * value (12.592 — |event_type| = 7 here; both halves bit-identical
    * across engines). Everything after the conditional-count groupBy
    * (ONE scan — the sample is a filter, so population and sample
    * count from the same pass) is |event_types| rows.
    */
  def sampleFit(s: SparkSession, dir: String): DataFrame = {
    val u = pmod(pmod(col("event_id"), lit(2147483648L)) *
      lit(2654435761L), lit(97))
    val cells = Tables.events(s, dir)
      .select(col("event_type"), (u < 5).as("in_sample"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("o1"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("o2"))
    val totals = cells.agg(sum(col("o1")).as("n1"), sum(col("o2")).as("n2"))
    val scored = cells.crossJoin(broadcast(totals))
      .withColumn("d", abs(col("n2") * col("o1") - col("n1") * col("o2")))
      .withColumn("m", col("o1") + col("o2"))
      .withColumn("q", expr("d div m"))
      .withColumn("r", col("d") % col("m"))
      .withColumn("term_q", col("q") * col("q") * col("m") +
        lit(2) * col("q") * col("r") + expr("(r * r) div m"))
      .drop("d", "m", "q", "r")
    val chi = scored.agg(sum(col("term_q")).as("sum_q"))
    scored.crossJoin(broadcast(chi))
      .select(col("event_type"), col("o1"), col("o2"), col("n1"),
        col("n2"), col("term_q"), col("sum_q"),
        (col("sum_q").cast("double") / (col("n1") * col("n2")))
          .as("chi2"),
        (col("sum_q").cast("double") / (col("n1") * col("n2")) < 9.488)
          .as("is_fit"))
      .orderBy("event_type")
  }

  /** Labeler-agreement audit: confusion matrix + Cohen's kappa between
    * the heuristic language classifier (TextAnalysis.langId's marker
    * argmax) and the labeled `lang` column — the evaluation step every
    * classifier-based curation filter needs before its verdicts gate
    * data (accuracy alone flatters imbalanced corpora; kappa discounts
    * chance agreement from the marginals).
    *
    * All inputs are exact integers: cell counts from one groupBy over
    * the deterministic predictions, marginals from two rollups of the
    * CELLS (never a second corpus pass), and kappa in its rational
    * form — with Σd = Σ_k cm[k,k]·N... precisely:
    * κ = (N·Σdiag − Σ_k row_k·col_k) / (N² − Σ_k row_k·col_k), so the
    * emitted kappa_num / kappa_den are BIGINTs and the one double
    * division replays bit-identically (same dodge as the chi-square
    * gate's rational form). Every row carries the corpus-level
    * (n, sum_diag, kappa_*) columns alongside its cell, so the oracle
    * hash pins matrix AND statistic.
    *
    * Shape: the label domains are domain-bounded (|langs|² cells at
    * any data scale), so everything after the first groupBy is
    * broadcast-sized; the statistic join is a cross join against a
    * 1-row aggregate.
    */
  def agreementKappa(s: SparkSession, dir: String): DataFrame = {
    val preds = Tables.documents(s, dir)
      .select(col("lang").as("labeled"),
        TextAnalysis.markerCount(col("text"), TextAnalysis.enMarkers)
          .as("s_en"),
        TextAnalysis.markerCount(col("text"), TextAnalysis.zhMarkers)
          .as("s_zh"),
        TextAnalysis.markerCount(col("text"), TextAnalysis.deMarkers)
          .as("s_de"))
      .select(col("labeled"), TextAnalysis.predictedLang(col("s_en"),
        col("s_zh"), col("s_de")).as("predicted"))
    val cells = preds.groupBy("labeled", "predicted")
      .agg(count(lit(1)).as("n_cell"))
    val rows = cells.groupBy("labeled").agg(sum("n_cell").as("n_row"))
    val cols_ = cells.groupBy("predicted").agg(sum("n_cell").as("n_col"))
    // chance-agreement term over the union of label domains: a class
    // absent on one side contributes row·col = 0, so the inner join
    // of marginals is exactly Σ_k row_k·col_k
    val stats = rows.join(cols_, col("labeled") === col("predicted"))
      .agg(sum(col("n_row") * col("n_col")).as("sum_rc"))
      .crossJoin(cells.agg(sum("n_cell").as("n"),
        sum(when(col("labeled") === col("predicted"), col("n_cell"))
          .otherwise(0L)).as("sum_diag")))
      .select(col("n"), col("sum_diag"),
        (col("n") * col("sum_diag") - col("sum_rc")).as("kappa_num"),
        (col("n") * col("n") - col("sum_rc")).as("kappa_den"))
    cells
      .join(rows, "labeled")
      .join(cols_, "predicted")
      .crossJoin(broadcast(stats))
      .select(col("labeled"), col("predicted"), col("n_cell"),
        col("n_row"), col("n_col"), col("n"), col("sum_diag"),
        col("kappa_num"), col("kappa_den"),
        (col("kappa_num").cast("double") / col("kappa_den"))
          .as("kappa"))
      .orderBy("labeled", "predicted")
  }

  /** Join-key skew audit: the exact Gini coefficient of each
    * candidate key's frequency distribution — the number that says
    * whether a shuffle on that key will hot-spot (0 = perfectly
    * uniform, →1 = one key owns everything), the quantitative form of
    * the decision the salted-agg / AQE-skew operators act on.
    *
    * With per-key counts x sorted ascending and ranked 1..n,
    * Gini = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) — every term an exact
    * integer. The rank is GlobalRank's (no single-partition window;
    * key ndv at 100 TB is fact-scale); equal counts commute in Σi·xᵢ,
    * so the tie order never changes the answer. gini_ppm = num·10⁶
    * div den in plain BIGINT — exact and overflow-free while
    * num ≤ 9.2e12 (num ≤ 2·n·Σx, so comfortably past the fixture
    * scales; beyond that swap the multiply into
    * decimal(38,0) with an explicit floor, the itemCf discipline —
    * NOT Spark's decimal division, whose scale clips to 6 digits and
    * can round across an integer before a floor). The double
    * quotient is one IEEE division of two < 2⁵³ exact integers, so
    * DuckDB replays it bit-identically.
    */
  def skewGini(s: SparkSession, dir: String): DataFrame = {
    // per-key frequency tables pooled (each was re-folded from the
    // FACT table three times by the rank jobs), then all three keys
    // ranked by ONE GlobalRank call grouped by key_col
    def keyCounts(name: String, keyed: DataFrame): DataFrame =
      graft.CachePool.cached(s, s"dq.keyCounts:$dir:$name") {
        keyed.groupBy("k").agg(count(lit(1)).as("cnt"))
      }.select(lit(name).as("key_col"), col("k").cast("long").as("k"),
        col("cnt"))
    val li = Tables.lineitem(s, dir)
    val all = keyCounts("l_suppkey", li.select(col("l_suppkey").as("k")))
      .unionByName(keyCounts("l_partkey",
        li.select(col("l_partkey").as("k"))))
      .unionByName(keyCounts("user_id",
        Tables.events(s, dir).select(col("user_id").as("k"))))
    val (ranked, _) = GlobalRank.rank(s, all, Seq("key_col"), "cnt", "k",
      descending = false)
    ranked.groupBy("key_col")
      .agg(sum(col("grn") * col("cnt")).as("s_ix"),
        sum(col("cnt")).as("s_x"), count(lit(1)).as("n_keys"))
      .select(col("key_col"), col("n_keys"),
        col("s_x").as("total_rows"),
        (lit(2L) * col("s_ix") - (col("n_keys") + 1) * col("s_x"))
          .as("gini_num"),
        (col("n_keys") * col("s_x")).as("gini_den"))
      .withColumn("gini_ppm",
        expr("gini_num * 1000000L div gini_den"))
      .withColumn("gini", col("gini_num").cast("double") /
        col("gini_den").cast("double"))
      .orderBy("key_col")
  }

  /** Sequence-gap audit WITHOUT sorting: per event type, how many ids
    * of the type's id range are missing and how many missing RUNS
    * there are — the "did the extractor drop records" check over a
    * sequence-numbered feed. The classic lag(id) formulation sorts
    * every type's ids in one task; this one never orders anything:
    * missing count is pure min/max/count arithmetic, and run count is
    * a SHIFTED SELF ANTI JOIN — an id opens a run iff id−1 is absent
    * — minus 1 for the range minimum (which has no predecessor by
    * construction, not by loss). Both are plain equi shuffles that
    * scale like the groupBy they ride on.
    */
  def idGaps(s: SparkSession, dir: String): DataFrame = {
    val ids = Tables.events(s, dir)
      .select(col("event_type"), col("event_id").as("id")).distinct()
    val stats = ids.groupBy("event_type")
      .agg(count(lit(1)).as("n_ids"), min("id").as("id_min"),
        max("id").as("id_max"))
      .withColumn("n_missing",
        col("id_max") - col("id_min") + 1 - col("n_ids"))
    val runStarts = ids.as("x").join(ids.as("y"),
        col("x.event_type") === col("y.event_type") &&
          col("x.id") === col("y.id") + 1, "left_anti")
      .groupBy("event_type")
      .agg((count(lit(1)) - 1).as("n_gap_runs"))
    stats.join(runStarts, "event_type")
      .select(col("event_type"), col("n_ids"), col("id_min"),
        col("id_max"), col("n_missing"), col("n_gap_runs"))
      .orderBy("event_type")
  }

  /** FK fanout-distribution profile: how many parents have exactly k
    * children, for the orders-per-customer relationship INCLUDING the
    * k = 0 parents an inner-join profile silently drops (customers
    * who never ordered — at 100 TB the zero class is usually the
    * biggest and the one capacity planning cares about). Two
    * map-side-combining groupBys (child counts per parent → parents
    * per count) plus one anti join for the zero class; the output is
    * |distinct fanouts| rows. The mode fanout comes from one
    * max(struct) argmax — no window anywhere.
    */
  def fanoutProfile(s: SparkSession, dir: String): DataFrame =
    fanoutCore(
      Tables.customer(s, dir).select(col("c_custkey").as("parent")),
      Tables.orders(s, dir).select(col("o_custkey").as("parent")))

  /** The distribution core over any (parents, child-rows) pair —
    * split out so the spec can drive the k = 0 class with a
    * hand-built frame (this fixture has no orderless customers).
    */
  private[operators] def fanoutCore(parents: DataFrame,
      children: DataFrame): DataFrame = {
    val perParent = children
      .groupBy(col("parent"))
      .agg(count(lit(1)).as("k"))
    val zeros = parents
      .join(perParent.select("parent"), Seq("parent"), "left_anti")
      .agg(count(lit(1)).as("n_parents"))
      .select(lit(0L).as("k"), col("n_parents"))
    val dist = perParent.groupBy("k")
      .agg(count(lit(1)).as("n_parents"))
      .unionByName(zeros)
      .filter(col("n_parents") > 0)
    dist.crossJoin(broadcast(dist.agg(
        sum(col("n_parents")).as("total_parents"),
        sum(col("k") * col("n_parents")).as("total_children"),
        max(struct(col("n_parents"), col("k"))).getField("k")
          .as("mode_k"))))
      .select(col("k"), col("n_parents"),
        (col("k") * col("n_parents")).as("n_children"),
        col("total_parents"), col("total_children"), col("mode_k"),
        expr("n_parents * 1000000L div total_parents")
          .as("share_ppm"))
      .orderBy("k")
  }

  /** k-anonymity audit — the privacy twin of the erasure planner:
    * how identifiable is each row under the quasi-identifier tuple
    * (nation, market segment, coarse account-balance band)? A row in an
    * equivalence class smaller than k is re-identifiable by linkage;
    * the audit emits the class landscape (count, minimum size) and
    * the SUPPRESSION COST — how many rows a k-anonymizer would have
    * to drop or generalize (the number that decides band width).
    * One groupBy over the QI tuple + one rollup; the balance band is
    * floor(bal/100) — IEEE floor is engine-identical where a
    * double→int CAST is not (DuckDB rounds, Spark truncates — the
    * Benford lesson applied at design time).
    */
  def kAnonymity(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val classes = Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 5000).cast("long").as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("cnt"))
    classes.agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        min(col("cnt")).as("min_class_size"),
        sum(when(col("cnt") < k, 1L).otherwise(0L))
          .as("n_small_classes"),
        sum(when(col("cnt") < k, col("cnt")).otherwise(0L))
          .as("rows_at_risk"))
      .select(col("n_rows"), col("n_classes"), col("min_class_size"),
        col("n_small_classes"), col("rows_at_risk"),
        expr("rows_at_risk * 1000000L div n_rows")
          .as("suppress_ppm"))
  }

  /** Join-cardinality estimation audit — the cost-based-optimizer
    * primitive, measured: for each FK join the EXACT output size
    * computed WITHOUT executing the join (Σ_k count_l(k)·count_r(k)
    * over the two per-key count tables — an ndv-sized join instead
    * of a fact-sized one) against the textbook CBO estimate
    * |L|·|R| / max(ndv_L, ndv_R) (the uniform-frequency,
    * containment-assumption formula Spark's own stats use). The
    * error column is the number that says how much a skewed key
    * breaks the uniformity assumption — exactly what AQE exists to
    * catch at runtime.
    */
  def joinCard(s: SparkSession, dir: String): DataFrame = {
    def one(name: String, l: DataFrame, r: DataFrame): DataFrame = {
      val cl = l.groupBy("k").agg(count(lit(1)).as("cl"))
      val cr = r.groupBy("k").agg(count(lit(1)).as("cr"))
      // ONE full-outer join carries all five measures: per-side sums
      // and ndv count only their own non-null rows, and the exact
      // join size sums cl·cr (null on either side of a non-match
      // skips the term). The former three-branch shape planned each
      // per-key aggregate twice (its own rollup + the exact join) —
      // six fact-scale aggregations for three numbers.
      cl.join(cr, Seq("k"), "full_outer")
        .agg(sum(col("cl")).as("n_left"),
          count(col("cl")).as("ndv_left"),
          sum(col("cr")).as("n_right"),
          count(col("cr")).as("ndv_right"),
          coalesce(sum(col("cl") * col("cr")), lit(0L))
            .as("exact_rows"))
        .select(lit(name).as("join_key"), col("n_left"),
          col("ndv_left"), col("n_right"), col("ndv_right"),
          col("exact_rows"),
          expr("n_left * n_right div greatest(ndv_left, ndv_right)")
            .as("est_rows"))
        .withColumn("err_ppm",
          expr("abs(est_rows - exact_rows) * 1000000L div exact_rows"))
    }
    val li = Tables.lineitem(s, dir)
    one("orderkey", li.select(col("l_orderkey").as("k")),
        Tables.orders(s, dir).select(col("o_orderkey").as("k")))
      .unionAll(one("partkey", li.select(col("l_partkey").as("k")),
        Tables.part(s, dir).select(col("p_partkey").as("k"))))
      .unionAll(one("suppkey", li.select(col("l_suppkey").as("k")),
        Tables.supplier(s, dir).select(col("s_suppkey").as("k"))))
      .orderBy("join_key")
  }
}
