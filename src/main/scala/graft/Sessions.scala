package graft

import org.apache.spark.sql.SparkSession

/** Session factory encoding the configs the library expects — the one
  * place a user (or the Verify/Bench mains) gets a correctly-configured
  * SparkSession from.
  *
  *  - `spark.sql.session.timeZone=UTC`: the reference parses ISO-8601
  *    timestamps with a literal `Z` (`buisness_profile_etl/main.py:661`);
  *    all date/timestamp semantics here assume UTC.
  *  - `graft.plans.GraftExtensions`: registers the optimizer rule that
  *    rewrites the HOF dot-product pattern onto the codegen VectorDot
  *    kernel.
  *  - shuffle partitions default to the core count — on a real cluster
  *    size them to the data (or leave AQE coalescing to shrink them).
  *  - generated code is compiled once per JVM, not once per session:
  *    `spark.sql.artifact.isolation.enabled=false` gives every session
  *    the same executor classloader (so `newSession()` and the cloned
  *    session of a stream query hit the codegen cache), and
  *    `spark.sql.codegen.cache.maxEntries` is sized to hold a full
  *    350-query sweep. The first costs per-session jar isolation —
  *    re-enable it through `extraConfs` when sessions add their own
  *    jars; the second costs ~40 MB of metaspace when full.
  */
object Sessions {

  /** Local session for the driver mains and tests. */
  def local(cores: Int, appName: String = "graft",
      extraConfs: Map[String, String] = Map.empty): SparkSession =
    configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString),
      extraConfs)
      .getOrCreate()

  /** Apply graft's required configs to any builder (cluster deploys
    * pass their own master/resource settings and call this).
    */
  def configure(b: SparkSession.Builder,
      extraConfs: Map[String, String] = Map.empty): SparkSession.Builder =
    extraConfs.foldLeft(
      b.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.extensions", "graft.plans.GraftExtensions")
        .config("spark.sql.adaptive.enabled", "true")
        // AQE coalescing respects advisoryPartitionSizeInBytes (64 MB
        // default) instead of re-inflating every small shuffle to
        // defaultParallelism-many tasks: parallelismFirst=true is the
        // small-cluster convenience default, and Spark's tuning guide
        // itself recommends false so post-shuffle partitions are sized
        // to the DATA (optimization guide §2.2 — fewer, larger reduce
        // partitions). Measured on the round-14 box: a 20-query mixed
        // subset 37.4 -> 33.4 s at sf0.1; at cluster scale the same
        // setting is what sizes reducers to ~64 MB instead of to the
        // core count.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
          "false")
        // ... with a small FLOOR on the coalesced partition count:
        // sizing purely by bytes serializes post-shuffle stages whose
        // cost is COMPUTE, not bytes (ss_json_flatten's 150k-doc JSON
        // round trip rides a ~6 MB shuffle → 1 task; measured +45%
        // after parallelismFirst=false landed in round 14, same class
        // as ss_gmb_localposts/x_hof_suite). Bytes are a proxy the
        // coalescer can see; a floor of 8 bounds how wrong that proxy
        // can be while keeping the advisory sizing for every shuffle
        // big enough to matter — at cluster scale any data-bearing
        // shuffle coalesces to far more than 8 partitions at 64 MB
        // each, so the floor is inert there (and overridable via
        // extraConfs like every setting here).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
          "8")
        // StreamStats decomposes drain wall time from recentProgress,
        // which Spark caps (default 100 events) — a drain with more
        // microbatches would silently undercount the setup/drain/
        // addBatch split benchdiff compares. No production drain is
        // near 1000 batches; StreamStats.drain also warns at the cap.
        .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
        // Generated code outlives the session that compiled it. Spark
        // keys its codegen cache by (context classloader, source), and
        // with artifact isolation on every newSession() — and every
        // stream query's cloned session — gets its own executor
        // classloader, so each cold-pool pass would recompile every
        // class. Isolation only scopes per-session addJar/addArtifact/
        // addFile, which graft never calls; a caller that adds
        // per-session jars should set it back to true in extraConfs.
        .config("spark.sql.artifact.isolation.enabled", "false")
        // Static: read once per JVM, when the code generator loads.
        // Spark's default of 100 entries is LRU-thrashed by a
        // sequential sweep. A full graft.Verify sweep at sf0.01 in a
        // fresh JVM compiles 4860 distinct classes (unbounded cache,
        // isolation off; 7475 compiles at 100 entries), so 6000 holds
        // it with ~25% headroom. Cost: kept classes are metaspace,
        // ~7 KB each — after that sweep and a full GC metaspace held
        // 262 MB against 229 MB at 100 entries; a full cache ~40 MB.
        .config("spark.sql.codegen.cache.maxEntries", "6000")
        .config("spark.ui.enabled", "false")) {
      case (bb, (k, v)) => bb.config(k, v)
    }
}
