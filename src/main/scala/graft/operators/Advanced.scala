package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Scalars._

/** Operators beyond the reference surface that a complete engine needs
  * (SURVEY.md §2.4/§2.7/§2.8 "absent → provide via built-ins"):
  * as-of join, session windows, salted (skew-safe) aggregation.
  */
object Advanced {

  /** As-of join: for each event, the user's most recent order at or
    * before the event time. Shape (round 15, guide §2.3/§2.4): ONE
    * aggregation shuffles the ORDERS side only, into a per-user
    * (date, orderkey) array; each event's pick is then a row-local
    * argmax over its user's array — `array_max(filter(arr, t ≤ ts))`
    * picks (latest date, max orderkey on that date), exactly the
    * value the previous tagged-union + running-carry window produced
    * (orders-before-events at equal t = the `≤` semantics; max
    * orderkey per date = the old per-(user, date) dedup's pick) —
    * without sorting the EVENTS side through a window exchange at
    * all. Events flow shuffle-free from scan to the pick when the
    * planner broadcasts the per-user table (it does at test scale;
    * at 100 TB it is an ordinary equi-join on user_id). Per-user
    * order counts are domain-bounded (a customer's orders), the same
    * per-key bound the old window partition relied on.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val userOrders = Tables.orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"))
      // cast to TimestampType up front: the old union coerced the NTZ
      // order dates against the events clock, and the output schema
      // keeps that type (session TZ is pinned UTC)
      .agg(collect_list(struct(col("o_orderdate").cast("timestamp")
        .as("t"), col("o_orderkey").as("okey"))).as("ords"))
    val picked = array_max(filter(col("ords"),
      o => o.getField("t") <= col("ts")))
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("ts"))
      .join(userOrders, Seq("user_id"), "left")
      // attribute barrier: materialize the argmax ONCE — the two
      // field reads below would otherwise each re-run the HOF
      // filter+max per row (lambda subtrees are excluded from codegen
      // subexpression elimination)
      .select(col("event_id"), col("user_id"), col("ts"),
        picked.as("__pick"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("__pick").getField("okey").as("last_orderkey"),
        col("__pick").getField("t").as("last_orderdate"))
      .orderBy("event_id")
  }

  /** Session windows: per-user activity sessions with a 2-hour
    * inactivity gap (`session_window` — the same expression Structured
    * Streaming uses for streaming sessionization).
    */
  def sessionWindows(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "2 hours").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(money(col("value"))).cast("double").as("session_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"),
        col("session_value"))
      .orderBy("user_id", "session_start")

  /** Bucketed co-located join: both sides written CLUSTERED BY the join
    * key into the same bucket count, so the join needs NO shuffle
    * exchange — the physical plan reads bucket i of each table on the
    * same task. This is the 100 TB answer for repeatedly-joined fact
    * tables (pay the partitioning once at write time, reuse it across
    * every downstream join/aggregation on that key). BucketingSpec
    * asserts the exchange-free plan.
    */
  // bucketing's contract is write ONCE, join many — memoize the build
  // so repeat invocations (bench re-runs, multi-query sessions) pay
  // only the exchange-free join, which is the cost a production reader
  // of the bucketed tables sees. The memo is GLOBAL (keyed by
  // warehouse path, not session): the catalog tables and the warehouse
  // directory are shared state across every session in the JVM, so a
  // per-session memo could say "built" after a sibling session rebuilt
  // the shared tables for a DIFFERENT dir — and silently join the
  // wrong data. A hit is additionally verified against the live
  // catalog + filesystem, so external deletion of the warehouse
  // triggers a rebuild instead of a missing-file read.
  private val bucketsBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def bucketedJoin(s: SparkSession, dir: String,
      warehouse: String = "/tmp/graft_buckets"): DataFrame = {
    val fresh = bucketsBuilt.get(warehouse) == dir &&
      s.catalog.tableExists("graft_orders_b") &&
      s.catalog.tableExists("graft_lineitem_b") && {
        val p = new org.apache.hadoop.fs.Path(warehouse)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
      }
    if (!fresh) {
      val p = new org.apache.hadoop.fs.Path(warehouse)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Tables.orders(s, dir).createOrReplaceTempView("graft_tmp_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("graft_tmp_lineitem")
      s.sql("DROP TABLE IF EXISTS graft_orders_b")
      s.sql("DROP TABLE IF EXISTS graft_lineitem_b")
      // project to the consumed columns at write time: bucketing pays a
      // one-off write so later joins skip the shuffle — don't also pay
      // for columns no reader needs
      s.sql(s"""CREATE TABLE graft_orders_b USING PARQUET
               |CLUSTERED BY (o_orderkey) INTO 8 BUCKETS
               |LOCATION '$warehouse/orders_b'
               |AS SELECT o_orderkey, o_orderstatus
               |FROM graft_tmp_orders""".stripMargin)
      s.sql(s"""CREATE TABLE graft_lineitem_b USING PARQUET
               |CLUSTERED BY (l_orderkey) INTO 8 BUCKETS
               |LOCATION '$warehouse/lineitem_b'
               |AS SELECT l_orderkey, l_extendedprice
               |FROM graft_tmp_lineitem""".stripMargin)
      bucketsBuilt.put(warehouse, dir)
    }
    s.table("graft_lineitem_b")
      .join(s.table("graft_orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_items"),
        moneySum(col("l_extendedprice")).as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** Interval (range) join: each purchase event is attributed the
    * same-user events in the strict 10-minute window before it.
    * Physical shape: an EQUI join on user_id carries the shuffle — the
    * range predicate is only a residual filter on the sort-merge join,
    * never a nested-loop pair scan. At 100 TB, if single users span
    * many minutes of hot traffic, add a coarse time-bucket to the equi
    * key (purchase rows duplicated into the ≤2 buckets their window
    * covers) so the residual stays bounded per task.
    */
  def intervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val prior = ev.select(col("user_id").as("e_user"),
      col("ts").as("e_ts"), col("value"))
    purchases
      .join(prior,
        col("user_id") === col("e_user") &&
          col("e_ts") < col("p_ts") &&
          col("e_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES"),
        "left")
      .groupBy(col("purchase_id"), col("user_id"))
      .agg(count(col("e_ts")).as("n_prior_events"),
        coalesce(moneySum(col("value")), lit(0.0)).as("prior_value"))
      .orderBy("purchase_id")
  }

  /** Salted two-stage aggregation: identical result to a plain
    * groupBy-sum, but the first stage spreads each group key over 16
    * salt shards so one hot key cannot pin a whole partition — the
    * standard skew mitigation when a handful of keys dominate
    * (event_type has only 5 values: every key is "hot" relative to 32
    * shuffle partitions).
    */
  def saltedAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("salt", pmod(xxhash64(col("event_id")), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(sum(money(col("value"))).as("partial_sum"),
        count(lit(1)).as("partial_n"))
      .groupBy(col("event_type"))
      .agg(sum(col("partial_sum")).cast("double").as("total_value"),
        sum(col("partial_n")).as("n_events"))
      .orderBy("event_type")

  /** AQE skew-join: the runtime complement of saltedAgg's manual
    * two-phase salt. A deliberately skewed fact (HALF the rows on one
    * hot key) sort-merge-joins a per-key dimension; with the skew
    * thresholds tuned to test-scale sizes, AQE's OptimizeSkewedJoin
    * SPLITS the hot partition into parallel sub-joins at RUNTIME —
    * the 100 TB posture for join skew the planner cannot see
    * statically (a hot crawl domain, a null-ish default key). The
    * builder executes the join under the tuned confs (eager, like the
    * stream drains) and restores them; result rows are key-grain so
    * correctness replays as a plain join+agg in DuckDB. SkewJoinSpec
    * pins that the executed plan actually split the hot partition
    * (skew=true on the SMJ / AQEShuffleRead skewed-partition metrics)
    * AND that broadcast was disabled for the demo — without the pin,
    * this query silently degrades into an ordinary join.
    */
  def skewJoin(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"adv.skewJoin:$dir") {
      // EXECUTE (localCheckpoint is eager) inside the conf scope —
      // AQE reads the thresholds when the query actually runs
      withSkewConfs(s) { skewJoinFrame(s, dir).localCheckpoint() }
    }

  /** Tuned AQE confs active for `body` only — spec hook too. */
  private[operators] def withSkewConfs[T](s: SparkSession)(body: => T): T = {
    val tuned = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // a coalesced AQEShuffleRead between Sort and stage breaks the
      // skew rule's Sort(stage) pattern match - disable for the demo
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // the split adds a (cheap) extra shuffle for the downstream
      // bucket rollup - override the cost veto for the demo
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      // sized to the SMALLEST test sf: the hot partition is ~8 KB at
      // sf0.001, so the demo thresholds sit well under it
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        "800",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "800",
      // force the shuffled join: a broadcast would hide the skew
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = tuned.map { case (k, _) => k -> s.conf.getOption(k) }
    tuned.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The skewed join, un-executed. */
  private[operators] def skewJoinFrame(s: SparkSession,
      dir: String): DataFrame = {
    // hot key 0 carries every even user's events (~half the fact).
    // The 8-way union matters at TEST scale: AQE splits a skewed
    // reduce partition at MAP-OUTPUT granularity, and a single-file
    // scan is ONE map task — an unsplittable hot partition no matter
    // the thresholds. A repartition would add a shuffle stage and
    // trip OptimizeSkewedJoin's exactly-two-stages guard; a union of
    // disjoint scan slices gives 8 map tasks in the SAME stage. Real
    // 100 TB inputs have thousands of mappers; these stand in.
    val base = Tables.events(s, dir)
    val fact = (0 until 8)
      .map(i => base.filter(pmod(col("event_id"), lit(8)) === i))
      .reduce(_ unionByName _)
      .select(when(col("user_id") % 2 === 0, lit(0L))
        .otherwise(col("user_id")).as("k"),
        round(col("value") * 100).cast("long").as("cents"))
    // the dim materializes first (localCheckpoint): a distinct's
    // post-shuffle HashAggregate between the join's Sort and its
    // stage breaks the skew rule's Sort(stage) pattern — checkpointed,
    // the dim is a plain relation and the join sees bare stages
    val dim = Tables.events(s, dir)
      .select(when(col("user_id") % 2 === 0, lit(0L))
        .otherwise(col("user_id")).as("k")).distinct()
      .withColumn("bucket", pmod(col("k"), lit(7)))
      .localCheckpoint()
    fact.join(dim, "k")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .orderBy("bucket")
  }

  /** Fuzzy entity matching with blocking: near-identical part names
    * (edit distance ≤ 2) found WITHOUT a cross join. Names are deduped
    * first, then paired only within a blocking key (the name's last
    * token — the product noun), so the quadratic term is bounded by
    * the largest block, not the table: at 100 TB the name universe is
    * the post-distinct vocabulary and each block is one noun's
    * adjective set. The `<` on the pair kills mirrors/self-pairs
    * before the levenshtein ever runs; levenshtein itself is a
    * codegen'd built-in, not a UDF.
    */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir)
      .select(col("p_name").as("name")).distinct()
      .withColumn("block", substring_index(col("name"), " ", -1))
    names.select(col("block"), col("name").as("name_a"))
      .join(names.select(col("block"), col("name").as("name_b")), Seq("block"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b")).cast("int"))
      .filter(col("dist") <= 2)
      .select("name_a", "name_b", "dist")
      .orderBy("name_a", "name_b")
  }

  // write-once memo, same global-keying rationale as bucketsBuilt:
  // the partitioned fact directory is JVM-shared state
  private val dppBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Dynamic partition pruning: the fact is written PARTITIONED BY a
    * month key; the query joins it to a month dimension filtered at
    * RUNTIME (quarter + year attributes the fact scan can't see
    * statically), and Spark injects a dynamic-pruning subquery into
    * the fact scan's PartitionFilters — only the 3 matching month
    * directories are ever read. This is the 100 TB scan-killer for
    * date-partitioned warehouses: static pushdown can't prune through
    * a join, DPP prunes using the dim filter's runtime result
    * (broadcast-reused, so the subquery costs nothing extra).
    * PlanQualitySpec pins `dynamicpruningexpression` in the scan.
    */
  def dppPrune(s: SparkSession, dir: String,
      root: String = "/tmp/graft_dpp"): DataFrame = {
    val factPath = s"$root/${new java.io.File(dir).getName}/orders_by_month"
    val fresh = dppBuilt.get(root) == dir && {
      val p = new org.apache.hadoop.fs.Path(s"$factPath/_SUCCESS")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
    }
    if (!fresh) {
      Tables.orders(s, dir)
        .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        .write.mode("overwrite").partitionBy("o_month").parquet(factPath)
      dppBuilt.put(root, dir)
    }
    val fact = s.read.parquet(factPath)
    // the month dim: derived here from the fact's own domain (a real
    // deploy reads a calendar table); tiny → broadcast, whose built
    // keys DPP reuses as the pruning set
    val dim = Tables.orders(s, dir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("m")).distinct()
      .withColumn("yr", substring(col("m"), 1, 4).cast("int"))
      // Spark's `/` is fractional even on ints — floor to the quarter
      .withColumn("qtr",
        floor((substring(col("m"), 6, 2).cast("int") - 1) / 3).cast("int") + 1)
    fact
      .join(broadcast(dim.filter(col("yr") === 1996 && col("qtr") === 1)),
        col("o_month") === col("m"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        moneySum(col("o_totalprice")).as("revenue"))
      .orderBy("o_month")
  }

  /** Recursive CTE — hierarchy traversal through Spark 4's native
    * `WITH RECURSIVE` (SPARK-24497, physical `UnionLoopExec`): the
    * anchor seeds the loop, each step is an ordinary DISTRIBUTED join
    * of the fact against the previous iteration's rows, and the loop
    * ends when a step produces no rows. This is the engine-native form
    * of the label-propagation loops elsewhere
    * (`Dedup.connectedComponents` runs through `Iterate` because it
    * needs per-round checkpoints, observed change counts and a round
    * cap; a plain hierarchy walk belongs in the planner's loop
    * operator).
    *
    * The hierarchy is synthesized deterministically from the customer
    * table: parent(c) = floor(c/10), rooting every key at its < 10
    * ancestor — depth is O(log10 |customers|), so the iteration count
    * grows with the LOG of the data, and each iteration's join is
    * hash-partitioned on the parent key (no driver-side state beyond
    * loop control). DuckDB replays the identical recursive SQL as the
    * oracle.
    */
  def recursiveChain(s: SparkSession, dir: String): DataFrame = {
    val customer = s"parquet.`$dir/customer.parquet`"
    s.sql(
      s"""WITH RECURSIVE chain AS (
         |  SELECT c_custkey, c_custkey AS root, 1 AS depth
         |  FROM $customer WHERE c_custkey < 10
         |  UNION ALL
         |  SELECT c.c_custkey, ch.root, ch.depth + 1
         |  FROM $customer c
         |  JOIN chain ch
         |    ON CAST(FLOOR(c.c_custkey / 10.0) AS BIGINT) = ch.c_custkey
         |  WHERE c.c_custkey >= 10
         |)
         |SELECT c_custkey, root, depth FROM chain
         |ORDER BY c_custkey""".stripMargin)
  }

  /** Skyline (Pareto frontier) query (Börzsönyi, Kossmann & Stocker,
    * ICDE 2001): the parts no other part beats on BOTH dimensions at
    * once — here two frontiers over (retail price, size): cheap-and-
    * small (both minimized) and cheap-and-large (size maximized via
    * negation through the same min-min core). The multi-objective
    * "best tradeoffs" cut an ORDER BY one-dimension ranking cannot
    * express.
    *
    * DISTRIBUTED SHAPE — the naive form is a quadratic NOT EXISTS
    * self-join, and the textbook sorted scan is a GLOBAL running min
    * (a single-partition window, the shape this engine bans). Shape
    * here (GlobalRank's buckets and prefix map applied to dominance):
    * (1) approx-quantile bounds on the primary key define ORDERED
    * buckets — assignment row-local; (2) per-bucket min of the
    * secondary key (≤ buckets rows to the driver) re-enters as a
    * literal strictly-earlier-bucket prefix-min map; (3) ONE shuffle
    * keyed by bucket computes two frames over the same window spec —
    * RANGE(strictly-cheaper-in-bucket) min and RANGE(≤, incl. equal
    * price) min — and dominance is row-local arithmetic over exact
    * integers:
    *   dominated ⇔ premin(bkt) ≤ sz ∨ minStrictPrev ≤ sz ∨ minLe < sz
    * (earlier bucket ⇒ strictly cheaper so a ≤-size row dominates;
    * equal-price rows dominate only on strictly smaller size; equal
    * (price, size) duplicates dominate nothing — both survive, the
    * standard skyline semantics).
    */
  def skyline(s: SparkSession, dir: String): DataFrame = {
    // both frontiers bucket by the same k1 (price) and differ only in
    // the sign of k2: two legs of one skylineLegs pass
    val p = Tables.part(s, dir).select(col("p_partkey").as("id"),
      round(col("p_retailprice") * 100).cast("long").as("k1"),
      col("p_size").cast("long").as("k2"))
    skylineLegs(s, p, Seq(col("k2"), -col("k2")))
      .select(explode(expr(
        """filter(array(if(dom_0, null, 'cheap_small'),
                        if(dom_1, null, 'cheap_large')),
                  x -> x is not null)""")).as("frontier"),
        col("id").as("p_partkey"), col("k1").as("price_cents"),
        col("k2").cast("int").as("p_size"))
      .orderBy("frontier", "p_partkey")
  }

  /** The min-min 2-D skyline core over a LONG primary key `k1` and one
    * LONG secondary column per leg: `in` plus a boolean `dom_<i>` per
    * leg, true when another row dominates this one on (k1, leg i). All
    * legs share one set of k1 buckets, one per-bucket min collect and
    * one bkt-partitioned window.
    */
  private[operators] def skylineLegs(s: SparkSession, in: DataFrame,
      legs: Seq[Column]): DataFrame = {
    val bucketed = GlobalRank.bucketed(s, in, "k1", descending = false)
    val (premins, _) = GlobalRank.prefixMaps(bucketed, Nil,
      legs.map(min(_)), Long.MaxValue)(math.min)
    val spec = Window.partitionBy(col("bkt")).orderBy(col("k1"))
    // one select, so every leg's frames share one Window operator
    val doms = legs.zip(premins).zipWithIndex.map { case ((k2, premin), i) =>
      val strictPrev = min(k2)
        .over(spec.rangeBetween(Window.unboundedPreceding, -1))
      val le = min(k2).over(spec.rangeBetween(Window.unboundedPreceding, 0))
      (premin <= k2 || coalesce(strictPrev <= k2, lit(false)) || le < k2)
        .as(s"dom_$i")
    }
    bucketed.select(col("*") +: doms: _*).drop("bkt")
  }

  /** Nearest-in-time join: for every purchase, the SAME user's
    * closest CLICK within ±24 hours — the sensor-fusion / "what was
    * the user doing around this transaction" primitive. As-of joins
    * look only BACKWARD; nearest joins look both ways and keep the
    * closer side, which no built-in join expresses directly.
    *
    * Shape: the time band becomes an equi join by exploding each
    * purchase into its candidate calendar DAYS (a ±24 h tolerance
    * spans at most 3 days — a constant bounded-side multiplier
    * however big the fact tables are), then joining clicks on
    * (user, exact day): candidates per purchase are that user's
    * clicks in the band, never a cross product and never a non-equi
    * range condition (which would plan a nested loop). The winner is
    * `min(struct(abs_us, ts, event_id))` — a total order (distance,
    * then earlier, then id), so ties at equal distance break
    * deterministically and the whole argmin is one map-side-combining
    * aggregate. Purchases with no click in the band come back via the
    * final left join with null click columns. Time distance is
    * integer MICROSECONDS (unix_micros both sides — exact BIGINT
    * subtraction, no calendar arithmetic).
    */
  def nearestJoin(s: SparkSession, dir: String): DataFrame = {
    val bandUs = 24L * 3600 * 1000000L
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
    val cand = purchases.select(col("purchase_id"), col("user_id"),
      col("p_ts"),
      explode(expr("sequence(" +
        "cast(p_ts - interval 24 hours as date), " +
        "cast(p_ts + interval 24 hours as date))")).as("c_day"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"),
        col("event_id").as("click_id"), col("ts").as("c_ts"),
        col("ts").cast("date").as("c_day"))
    val best = cand.join(clicks,
        cand("user_id") === clicks("c_user") &&
          cand("c_day") === clicks("c_day"))
      .withColumn("abs_us",
        abs(unix_micros(col("c_ts")) - unix_micros(col("p_ts"))))
      .filter(col("abs_us") <= bandUs)
      .groupBy("purchase_id")
      .agg(min(struct(col("abs_us"), col("c_ts"), col("click_id")))
        .as("w"))
      .select(col("purchase_id"), col("w.click_id").as("click_id"),
        col("w.c_ts").as("click_ts"), col("w.abs_us").as("abs_us"))
    purchases.join(best, Seq("purchase_id"), "left")
      .select(col("purchase_id"), col("user_id"),
        col("p_ts").as("purchase_ts"),
        col("click_id"), col("click_ts"), col("abs_us"))
      .orderBy("purchase_id")
  }
}
