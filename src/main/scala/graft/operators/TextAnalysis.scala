package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §2.10): language ID, quality scoring, token counting,
  * document fingerprinting. All pure codegen-friendly column
  * expressions over `documents` — embarrassingly parallel, no shuffle
  * except final sorts, so they scale linearly with input splits.
  */
object TextAnalysis {

  /** Whitespace tokens of the normalized text. */
  def tokens(c: Column): Column = split(lower(trim(c)), "\\s+")

  private[operators] def markerCount(c: Column, words: Seq[String]): Column =
    size(regexp_extract_all(c, lit(words.mkString("\\b(", "|", ")\\b")),
      lit(0)))

  private[operators] val enMarkers = Seq("the", "a", "of")
  private[operators] val zhMarkers = Seq("data", "query", "row")
  private[operators] val deMarkers = Seq("fast", "slow", "small")

  /** The langId decision chain over precomputed marker scores. */
  private[operators] def predictedLang(sEn: Column, sZh: Column,
      sDe: Column): Column =
    when(sEn >= sZh && sEn >= sDe, "en")
      .when(sZh >= sDe, "zh")
      .otherwise("de")

  /** The qualityScore blend over word counts (see qualityScore). */
  private[operators] def qualityExpr(nWords: Column,
      nDistinct: Column): Column =
    round(lit(0.5) * (nDistinct / nWords) +
      lit(0.5) * least(nWords / lit(100.0), lit(1.0)), 4)

  /** Language ID via marker n-gram profile scores + deterministic
    * argmax. (The classic stopword-profile heuristic; marker sets are
    * fixed per "language" so the classifier is a pure function of the
    * text.)
    */
  def langId(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        markerCount(col("text"), enMarkers).as("s_en"),
        markerCount(col("text"), zhMarkers).as("s_zh"),
        markerCount(col("text"), deMarkers).as("s_de"))
      .withColumn("predicted_lang",
        predictedLang(col("s_en"), col("s_zh"), col("s_de")))
      .orderBy("doc_id")

  /** Quality scoring: length/word-count/diversity/word-length ratios
    * blended into one bounded score (the length-punct-stopword family).
    */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(col("text")).as("n_chars_calc"),
        size(tokens(col("text"))).as("n_words"),
        size(array_distinct(tokens(col("text")))).as("n_distinct_words"))
      .withColumn("distinct_ratio", col("n_distinct_words") / col("n_words"))
      .withColumn("quality_score",
        qualityExpr(col("n_words"), col("n_distinct_words")))
      .orderBy("doc_id")

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single other chars). chars_per_token
    * is the INTEGER centi-ratio (n_chars·100 div tokens) scaled back
    * by the exact /100.0 — a round() on the double quotient diverged
    * at sf1.0 (199/40 = 4.975: Spark's shortest-decimal HALF_UP said
    * 4.98, DuckDB's binary-true rounding 4.97; the integer law has no
    * boundary to disagree on).
    */
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        length(col("text")).as("n_chars_raw"),
        size(tokens(col("text"))).as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("bpe_ish_tokens"))
      .withColumn("chars_per_token",
        expr("(n_chars_raw * 100) div ws_tokens") / lit(100.0))
      .drop("n_chars_raw")
      .orderBy("doc_id")

  /** Winnowing fingerprints (rolling-hash k-gram minima — the
    * graft.functions.Winnow64 expression): per-doc fingerprint stats,
    * plus near-dup pairs sharing many fingerprints in
    * `winnowPairs`. Position-robust (unlike the exact md5 fingerprint
    * below): inserting a prefix leaves most fingerprints intact.
    */
  def winnowFingerprint(s: SparkSession, dir: String): DataFrame =
    winnowArr(s, dir)
      .select(col("doc_id"), size(col("fps")).as("n_fingerprints"),
        element_at(col("fps"), 1).as("min_fp"))
      .orderBy("doc_id")

  /** Per-doc winnow fingerprint arrays, pooled through graft.CachePool:
    * winnowPairs reads it from both join sides plus the sizes side,
    * winnowFingerprint shares it, and the pool releases the storage
    * instead of leaking a per-query cache.
    */
  private def winnowArr(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"text.winnowFps:$dir") {
      graft.functions.VectorExpressions.ensureRegistered(s)
      Tables.fanOut(Tables.documents(s, dir))
        .select(col("doc_id"),
          call_function("winnow64", col("text"), lit(12), lit(6)).as("fps"))
    }

  /** Near-dup pairs by shared winnow fingerprints (equi-join blocking,
    * like the shingle path but position-robust and character-level).
    */
  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    val arr = winnowArr(s, dir)
    // classic self-equi-join here, NOT Dedup.pairCounts: winnow
    // fingerprints form LARGE buckets (one shared phrase fingerprint
    // can span hundreds of docs), and the group-then-expand shape
    // pays O(B²) interpreted array slicing per bucket — the codegen'd
    // join handles big buckets far better
    // Hot-fingerprint bound (the SimHash chunk trick, Dedup.simhashPairs):
    // a fingerprint shared by >64 docs is boilerplate (a viral phrase,
    // a license header) — it contributes O(B²) join rows on ONE key yet
    // carries no near-dup signal, because a 0.5-overlap pair shares
    // dozens of RARE fingerprints that still block it. Dropping hot
    // keys caps per-key fan-out, which is what survives a 100× corpus;
    // DedupRecallSpec pins that recall on the sf0.01 truth set holds.
    //
    // The FILTERED stream is pooled: it has THREE consumers (the
    // per-doc sizes pass and both self-join branches), and without
    // materialization each re-runs explode + hot-agg + anti join —
    // measured 4.7 s vs 2.9 s at sf0.1. Same posture as winnowArr:
    // at corpus scale this is the checkpoint between blocking stages.
    val fp = graft.CachePool.cached(s, s"text.winnowFpCold:$dir") {
      val fpAll = arr.select(col("doc_id"), explode(col("fps")).as("fp"))
      val hot = fpAll.groupBy("fp").agg(count(lit(1)).as("bn"))
        .filter(col("bn") > 64).select(col("fp").as("h_fp"))
      fpAll.join(broadcast(hot), col("fp") === col("h_fp"), "left_anti")
    }
    // n_a counts the doc's HOT-FILTERED fingerprints — the same
    // universe the shared-count numerator lives in. Counting the raw
    // array here would bias overlap DOWN for boilerplate-heavy docs
    // (numerator loses the hot fps, denominator keeps them) and drop
    // true pairs below the 0.5 threshold.
    val sizes = fp.groupBy("doc_id").agg(count(lit(1)).as("n_fp"))
    fp.as("a")
      .join(fp.as("b"), col("a.fp") === col("b.fp") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_fp", "n_a"), "doc_a")
      .withColumn("overlap", col("n_shared") / col("n_a"))
      .filter(col("overlap") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("overlap"))
      .orderBy("doc_a", "doc_b")
  }

  /** Token-window chunking for training-data prep: each document cut
    * into 50-token chunks at stride 40 (10-token overlap), the shape
    * every pretraining pipeline runs before tokenizer packing. Pure
    * row-local HOFs (sequence → slice → join), embarrassingly
    * parallel — no shuffle except the final sort.
    */
  def chunk(s: SparkSession, dir: String, chunkTokens: Int = 50,
      stride: Int = 40): DataFrame =
    Tables.fanOut(Tables.documents(s, dir))
      .filter(length(trim(col("text"))) > 0) // blank doc → no chunks
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(ts) / $stride.0D) as int) - 1),
           |  i -> slice(ts, i * $stride + 1, $chunkTokens))""".stripMargin))
        .as(Seq("chunk_no", "ctoks")))
      .select(col("doc_id"), col("chunk_no"),
        size(col("ctoks")).as("n_chunk_tokens"),
        md5(array_join(col("ctoks"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_no")

  /** Sequence packing (concat-then-cut): documents are laid out on a
    * token stream per SHARD (the `source` column) in doc_id order and
    * cut into fixed 512-token bins — each doc gets its first/last bin
    * and a boundary-span flag. The prefix-sum window partitions by
    * shard, so at 100 TB each shard's packing is an independent
    * sort-within-partition, never a global single-partition window
    * (packing is only ever needed within a shard — bins don't cross
    * training-data shards).
    */
  def packSequences(s: SparkSession, dir: String,
      binTokens: Int = 512): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).as("n_tokens"))
      .withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin_first", expr(s"cum_before div $binTokens"))
      .withColumn("bin_last",
        expr(s"(cum_before + n_tokens - 1) div $binTokens"))
      .withColumn("spans_boundary",
        (col("bin_first") =!= col("bin_last")).cast("int"))
      .orderBy("doc_id")
  }

  /** Corpus vocabulary: token frequencies, top 50 with a unique
    * (count desc, token asc) tie-break — the vocab-building word
    * count. Map-side partial aggregation absorbs the token skew
    * (Zipfian corpora are the textbook hot-key case: partial combine
    * means 'the' never shuffles as raw rows).
    */
  def vocab(s: SparkSession, dir: String): DataFrame =
    termFreq(s, dir)
      .groupBy("token")
      .agg(sum(col("tf")).as("n"))
      .orderBy(desc("n"), asc("token"))
      .limit(50)

  /** Pooled per-(doc, token) term frequencies — the shared base of the
    * corpus-statistics family: tfidf reads it THREE times (tf side, df
    * derivation, score join) and vocab folds it per token; uncached,
    * Spark would re-run the explode+aggregate for every consumer.
    * Routed through graft.CachePool so a multi-query session keeps one
    * materialized copy and the LRU releases it.
    */
  private def termFreq(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"text.termFreq:$dir") {
      Tables.fanOut(Tables.documents(s, dir))
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("tf"))
    }

  /** Pooled per-document length (sum of term frequencies) — shared by
    * bm25 and hybridRrf, each of which otherwise re-aggregates the
    * whole postings table for the same |docs|-row result.
    */
  private def docLen(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"text.docLen:$dir") {
      termFreq(s, dir).groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    }

  /** Pooled per-token document frequency — shared by tfidf, bm25 and
    * hybridRrf (a vocabulary-sized table; consumers that only need a
    * few terms filter it rather than re-counting the postings).
    */
  private def docFreq(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"text.docFreq:$dir") {
      termFreq(s, dir).groupBy("token").agg(count(lit(1)).as("df"))
    }

  /** Bigram counts (adjacent token pairs, NON-distinct — unlike the
    * dedup shingles, language-model counts keep multiplicity), top 50
    * with a unique tie-break.
    */
  def bigrams(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(Tables.documents(s, dir))
      .select(tokens(col("text")).as("ts"))
      // <2 tokens → no bigrams; also guards sequence(1, 0), which
      // Spark evaluates DESCENDING ([1, 0]) and would index past the
      // array under ANSI mode
      .filter(size(col("ts")) > 1)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 1), i -> " +
          "concat(ts[i - 1], ' ', ts[i]))")).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(50)

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999 — the standard n-gram smoothing): for every
    * bigram seen ≥ 5 times,
    *
    *   p_kn(w2|w1) = (c(w1,w2) − d)/c(w1·)
    *               + (d·N1+(w1·)/c(w1·)) · (N1+(·w2)/B)
    *
    * with absolute discount d = 0.75, N1+ the distinct-continuation
    * counts, and B the total distinct bigram types. The lower-order
    * term is the CONTINUATION probability — how many contexts a word
    * completes, not how often it occurs — which is what makes KN the
    * n-gram smoothing that still underpins fast LM-quality scoring
    * (a KN bigram scorer is the classic cheap perplexity filter when
    * the neural LM pass is too expensive for a first cut).
    *
    * Every input to the formula is an exact integer from the ONE
    * bigram-count table: c(w1·) and N1+(w1·) are a sum+count per w1,
    * N1+(·w2) a count per w2, B a 1-row broadcast — three shuffles of
    * the types table (≪ token count), never a second corpus scan.
    * c ≥ 1 ⇒ c − d > 0, so no max(·,0) clamp is needed at this order.
    * The probability itself is five IEEE ops on exact integers in a
    * fixed tree, so DuckDB replays it bit-identically (same dodge as
    * tfidf's rational idf: no libm logs anywhere).
    */
  /** Duplicate-n-gram coverage per document (the RefinedWeb /
    * MassiveText dedup METRIC, as opposed to its removal pass): what
    * fraction of a document's distinct token 8-grams also occur in
    * some other document. Scores docs for boilerplate/templating —
    * a doc can be no one's near-duplicate yet be 80% stitched from
    * corpus-common spans, which pairwise dedup (minhash, simhash,
    * prefix-Jaccard) structurally cannot see.
    *
    * Shape: one shingle explode → (doc, shingle) distinct → shingle
    * document-frequency groupBy → join back → per-doc conditional
    * count. The join key is the shingle STRING (no hashing), so the
    * DuckDB oracle replays it verbatim; coverage lands as the
    * declared integer div-ppm law. A same-doc repeated shingle counts
    * once (the distinct): df > 1 then means "in another document",
    * with one subtlety — a shingle repeated only WITHIN one doc stays
    * df = 1 and does not mark its own doc. Pair space is
    * O(tokens) rows, never O(docs²).
    */
  def dupCoverage(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val sh = docShingles(s, dir, k)
    // No join-back (round 15, guide §2.4): n_dup = n_shingles − the
    // doc's df=1 shingle count, and a df=1 shingle's ONE (doc, sh) row
    // identifies its doc — min(doc_id) IS that doc — so both sides
    // come from doc-keyed aggregates and the corpus-scale re-shuffle
    // of the shingle table onto its own df column disappears; the only
    // shingle-keyed exchange left is the stats aggregate itself
    // (pooled — dupSpans' df side shares it).
    val uniq = shingleStats(s, dir, k)
      .filter(col("df") === 1)
      .groupBy(col("d0").as("doc_id"))
      .agg(count(lit(1)).as("n_uniq"))
    sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        (col("n_shingles") - coalesce(col("n_uniq"), lit(0L))).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        expr("n_dup * 1000000L div n_shingles").as("dup_ppm"))
      .orderBy("doc_id")
  }

  /** Pooled positional k-gram shingles (doc_id, pos, sh), 1-based
    * positions — dupSpans reads it directly and docShingles derives
    * the distinct space from it; the two dup-diagnostic queries
    * otherwise each re-ran the tokenize+shingle corpus pass the other
    * had just done (guide §2.4's shared-exchange posture, applied at
    * the pool layer like winnowArr/termFreq).
    */
  private def posShingles(s: SparkSession, dir: String,
      k: Int): DataFrame =
    graft.CachePool.cached(s, s"text.posShingles:$dir:$k") {
      Tables.fanOut(Tables.documents(s, dir))
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= k)
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(1, size(ts) - ${k - 1}), i -> " +
            s"array_join(slice(ts, i, $k), ' '))")))
        .select(col("doc_id"), (col("pos") + 1).as("pos"),
          col("col").as("sh"))
    }

  /** Pooled DISTINCT (doc_id, sh) k-gram space — dupCoverage reads it
    * from both sides of its df join; dupSpans' document-frequency
    * side shares the same build.
    */
  private def docShingles(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    // resolve the positional pool entry BEFORE entering this entry's
    // build — a nested cached() call inside the closure would run the
    // inner materialization job while holding the pool's memo lock
    // (the round-13 ADVICE class)
    val pos = posShingles(s, dir, k)
    graft.CachePool.cached(s, s"text.docShingles:$dir:$k") {
      pos.select("doc_id", "sh").distinct()
    }
  }

  /** Pooled per-shingle stats over the distinct (doc, sh) space:
    * document frequency + min doc_id (for df = 1 rows the minimum IS
    * the one owning doc — dupCoverage's unique-shingle attribution).
    * Shared by dupCoverage and dupSpans, which otherwise each re-run
    * the same shingle-mass aggregation; count and min both combine
    * map-side.
    */
  private def shingleStats(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    val sh = docShingles(s, dir, k) // resolve outside the build closure
    graft.CachePool.cached(s, s"text.shingleStats:$dir:$k") {
      sh.groupBy("sh").agg(count(lit(1)).as("df"),
        min(col("doc_id")).as("d0"))
    }
  }

  /** Maximal duplicated-span extraction — the REMOVAL companion of
    * dupCoverage (the metric says how much of a doc is boilerplate;
    * this says exactly WHERE, so a cleaning pass can cut it — the
    * exact-substring dedup step of Lee et al. 2022, approximated at
    * the k-gram grain): for each document, the maximal runs of token
    * positions whose 8-gram also occurs in another document.
    *
    * Shape: positional 8-gram shingles (doc, pos, sh) — NOT distinct,
    * positions matter — joined against the cross-doc document
    * frequency of the DISTINCT (doc, sh) space (a shingle repeated
    * only within one doc stays df = 1, same convention as
    * dupCoverage); duplicated positions then merge into maximal runs
    * with the islands trick (pos − row_number is constant within a
    * consecutive run) under a PER-DOC window. A run of shingle
    * positions [p, q] covers tokens [p, q+7], so span_tokens =
    * q − p + 8. Pair space O(tokens); windows partition by doc.
    */
  def dupSpans(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val sh = posShingles(s, dir, k)
    // document frequency off the pooled per-shingle stats (shared with
    // dupCoverage); filtering to df > 1 BEFORE the join also shrinks
    // the build side to just the cross-doc shingles
    val df_ = shingleStats(s, dir, k)
      .filter(col("df") > 1).select("sh")
    val dup = sh.join(df_, "sh")
      .select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    dup.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(k - 1)).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  /** Lexical-diversity scores per document: Simpson diversity (the
    * probability two independently drawn tokens DIFFER — 1 − Σp²)
    * and the type-token ratio, both as exact div-ppm integers off
    * the pooled term frequencies: simpson = (n² − Σc²)·10⁶ div n²,
    * ttr = d·10⁶ div n. The repetition signal orthogonal to the
    * Gopher top-coverage filters (a doc can pass those yet have
    * pathologically low diversity) and log-free where entropy is not.
    * One |docs|-row rollup of termFreq — corpus-linear, no shuffle
    * beyond the pooled build.
    */
  def diversity(s: SparkSession, dir: String): DataFrame =
    termFreq(s, dir)
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("tf") * col("tf")).as("sum_c2"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("sum_c2"),
        expr("(n_tokens * n_tokens - sum_c2) * 1000000L div " +
          "(n_tokens * n_tokens)").as("simpson_ppm"),
        expr("n_types * 1000000L div n_tokens").as("ttr_ppm"))
      .orderBy("doc_id")

  def knBigram(s: SparkSession, dir: String, minCount: Int = 5)
      : DataFrame = {
    val bc = graft.CachePool.cached(s, s"text.knBigramCounts:$dir") {
      Tables.fanOut(Tables.documents(s, dir))
        .select(tokens(col("text")).as("ts"))
        .filter(size(col("ts")) > 1)
        .select(explode(expr(
          "transform(sequence(1, size(ts) - 1), i -> " +
            "struct(ts[i - 1] AS w1, ts[i] AS w2))")).as("bg"))
        .select(col("bg.w1"), col("bg.w2"))
        .groupBy("w1", "w2")
        .agg(count(lit(1)).as("c"))
    }
    val left = bc.groupBy("w1")
      .agg(sum(col("c")).as("cw1"), count(lit(1)).as("n1w1"))
    val cont = bc.groupBy("w2").agg(count(lit(1)).as("n1cont"))
    val types = bc.agg(count(lit(1)).as("bt"))
    bc.join(left, "w1").join(cont, "w2")
      .crossJoin(broadcast(types))
      .filter(col("c") >= minCount)
      .select(col("w1"), col("w2"), col("c"),
        ((col("c") - lit(0.75)) / col("cw1") +
          ((lit(0.75) * col("n1w1")) / col("cw1")) *
            (col("n1cont") / col("bt"))).as("p_kn"))
      .orderBy("w1", "w2")
  }

  /** Per-document TF-IDF top terms — the relevance-weighting pass
    * behind corpus search/keyword extraction. Shuffle shape: term
    * frequencies aggregate per (doc, token) with map-side combine,
    * document frequencies derive from THAT (already one row per
    * doc-token, so df is a count, not a distinct), and the corpus size
    * joins in as a broadcast 1-row aggregate — N never touches the
    * driver. idf here is the raw inverse frequency N/df (the
    * log-damped variant is a one-line swap): kept rational so the
    * score is two IEEE ops — bit-identical across engines — where
    * ln() is a libm call with no cross-engine rounding guarantee.
    */
  def tfidf(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    tfidfRanked(s, dir, k).orderBy("doc_id", "rank")

  /** tfidf without the presentation sort — internal consumers
    * (hybridRrf's probe-term derivation) filter it by doc_id, which
    * pushes below the window; the global orderBy would add an
    * exchange+sort they immediately discard.
    */
  private def tfidfRanked(s: SparkSession, dir: String, k: Int): DataFrame = {
    val tf = termFreq(s, dir) // pooled — see termFreq
    val df_ = docFreq(s, dir) // pooled — see docFreq
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df_, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf").cast("double") * col("n_docs") / col("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"), col("tfidf"))
  }

  /** BM25 keyword search (Robertson/Spärck Jones; k1=1.2, b=0.75) —
    * the retrieval side of a corpus: rank documents for a small set of
    * term queries over the inverted index. The postings table is the
    * pooled per-(doc, token) frequency table; the query set broadcasts
    * and PRUNES the index first, so everything downstream (df counts,
    * scoring, top-k) touches only the |query-terms| posting lists —
    * at 100 TB the index is bucketed by token and a query reads its
    * terms' buckets, never the corpus.
    *
    * Cross-engine determinism: idf is kept RATIONAL —
    * (N − df + ½)/(df + ½) without the usual ln() (libm, no
    * cross-engine rounding guarantee; ranking-order preserving since
    * ln is monotone). Constants are written as the same decimal
    * literals the oracle parses (2.2 = k1+1, 0.25 = 1−b), each
    * per-term score is scaled to an exact integer before the per-doc
    * sum (addition order independent), and ranking tie-breaks on
    * doc_id.
    */
  def bm25(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import s.implicits._
    val queries = Seq(
      "q1" -> "hash", "q1" -> "join",
      "q2" -> "vector", "q2" -> "scan", "q2" -> "filter",
      "q3" -> "spark", "q3" -> "stream").toDF("query_id", "token")
    val tf = termFreq(s, dir) // pooled postings (doc_id, token, tf)
    // per-doc length + corpus stats, both off the pooled length table
    val dl = docLen(s, dir) // pooled — see docLen
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
    // prune the index to query terms BEFORE any aggregation
    val post = tf.join(broadcast(queries), "token")
    val df_ = docFreq(s, dir) // pooled; vocabulary-sized
      .join(broadcast(queries.select("token").distinct()), "token")
    val avgdl = col("total_len").cast("double") / col("n_docs")
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val termScore = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    val scored = post
      .join(broadcast(df_), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "doc_id")
      .agg(sum(round(termScore * lit(1e6)).cast("long")).as("ssum"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("ssum").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        (col("ssum") / lit(1e6)).as("score"))
      .orderBy("query_id", "rank")
  }

  /** DSIR-style importance resampling (Xie et al.'s Data Selection
    * via Importance Resampling, in the suite's deterministic idiom):
    * score every document under a TARGET-domain language model and
    * under the PROPOSAL (full-corpus) model, take the likelihood
    * ratio as the importance weight, and draw a weighted sample —
    * the "make web data look like the target domain" selection pass.
    *
    * Determinism recipe (all pieces proven elsewhere in the suite):
    * both models are ADD-ONE-SMOOTHED bigram tables — p = (c2+1)/
    * (c1+V) over a shared vocabulary V — scored by SCALED-INTEGER
    * mean probability (the lmScore trick: each p becomes round(p·1e6)
    * and sums are exact BIGINTs; the shared bigram count cancels in
    * the ratio, so weight = s_t/s_p directly). Smoothing is
    * load-bearing, not cosmetic: unsmoothed, a bigram seen once in a
    * tiny target slice scores p_t = 1/1 against a diluted proposal
    * probability and a single shared token can catapult an
    * OUT-of-domain document past every in-domain one (measured: the
    * en-targeted sample came back 12.5% en against a 38.6% base
    * rate); smoothed, rare-evidence ratios shrink toward 1/V and the
    * sample tilts INTO the target domain (NorthStarSpec pins the
    * enrichment). The draw is Efraimidis–Spirakis with the
    * weightedSample Knuth-hash u. The oracle replays models, weights,
    * and the identical sample.
    *
    * Scale shape: both models are vocabulary-sized broadcasts; the
    * scoring pass is one map-side join chain + one per-doc
    * aggregation over the pooled bigram stream, and the global top-k
    * is the mergeable TopKAgg (O(k·tasks) on the wire, never a
    * corpus sort). The target-membership join is an equi-join on
    * doc_id — at 100 TB the target set is a table, not a broadcast.
    */
  def dsirResample(s: SparkSession, dir: String, k: Int = 32): DataFrame = {
    val bg = docBigrams(s, dir) // pooled — see docBigrams
    val lang = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val tbg = bg.join(lang.filter(col("lang") === "en"), Seq("doc_id"))
    val p2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2p"))
    val p1 = bg.groupBy("w1").agg(count(lit(1)).as("c1p"))
    val t2 = tbg.groupBy("w1", "w2").agg(count(lit(1)).as("c2t"))
    val t1 = tbg.groupBy("w1").agg(count(lit(1)).as("c1t"))
    // shared smoothing vocabulary: distinct continuations in the
    // proposal stream, a broadcast 1-row aggregate (the tfidf n_docs
    // shape) — V never touches the driver
    val vocab = bg.select(col("w2")).distinct()
      .agg(count(lit(1)).as("v_sz"))
    // pooled: the sampled-rows join re-reads it to attach weights
    val sums = graft.CachePool.cached(s, s"text.dsirSums:$dir") {
      bg.join(broadcast(p2), Seq("w1", "w2"))
        .join(broadcast(p1), Seq("w1"))
        .join(broadcast(t2), Seq("w1", "w2"), "left")
        .join(broadcast(t1), Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"),
          round((col("c2p") + lit(1)).cast("double")
            / (col("c1p") + col("v_sz")) * lit(1e6))
            .cast("long").as("sp_i"),
          round((coalesce(col("c2t"), lit(0L)) + lit(1)).cast("double")
            / (coalesce(col("c1t"), lit(0L)) + col("v_sz")) * lit(1e6))
            .cast("long").as("st_i"))
        .groupBy("doc_id")
        .agg(sum(col("sp_i")).as("s_p"), sum(col("st_i")).as("s_t"))
    }
    val u = (pmod(pmod(col("doc_id"), lit(2147483648L)) * lit(2654435761L),
      lit(4294967296L)).cast("double") + lit(1.0)) / lit(4294967297.0)
    // True DSIR weights are PRODUCTS of per-token ratios — a doc-length
    // exponent — but a product (or its ln-sum) is a per-bigram libm
    // call with no cross-engine rounding guarantee. The deterministic
    // stand-in: the exact mean-probability ratio sharpened by a fixed
    // power, computed as FOUR SQUARINGS (w² → w⁴ → w⁸ → w¹⁶) — each an
    // IEEE multiply on identical operands in both engines, so the key
    // is bit-reproducible where pow() is not. Unsharpened the ratios
    // sit in [0.87, 1.13] and the draw degenerates to near-uniform
    // (measured: en came back at/below its base rate); at ^16 the
    // en/non-en weight gap is ~3.5× and the tilt is decisive.
    val keyed = sums
      .withColumn("weight", col("s_t").cast("double") / col("s_p"))
      .withColumn("w2", col("weight") * col("weight"))
      .withColumn("w4", col("w2") * col("w2"))
      .withColumn("w8", col("w4") * col("w4"))
      .withColumn("w16", col("w8") * col("w8"))
      .withColumn("es_key", log(u) / greatest(col("w16"), lit(1e-6)))
    val topk = udaf(new graft.functions.TopKAgg(k))
    val sampled = keyed
      .agg(topk(col("es_key"), col("doc_id")).as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select((col("pos") + 1).cast("long").as("rk"),
        col("t._2").as("doc_id"))
    // re-attach the weight components for the k sampled docs only
    sampled.join(keyed.select(col("doc_id"), col("s_t"), col("s_p"),
        col("weight")), Seq("doc_id"))
      .select(col("rk"), col("doc_id"), col("s_t"), col("s_p"),
        col("weight"))
      .orderBy("rk")
  }

  /** Hybrid retrieval with reciprocal-rank fusion (RRF, the standard
    * 1/(60+rank) fusion): each probe document (doc_id < 4) retrieves a
    * lexical candidate pool (BM25 more-like-this, query terms = the
    * probe's own top-3 TF-IDF tokens) and a semantic pool (cosine over
    * its embedding, vec_id = doc_id), and the two rank lists fuse into
    * one ranking. Candidates found by only one leg still score — the
    * other leg's contribution is 0, the point of RRF.
    *
    * Scale shape: the lexical leg broadcasts the (|probes| × 3)-term
    * query set and PRUNES the pooled postings to those terms before
    * any aggregation (the bm25 shape — at 100 TB a token-bucketed
    * index reads only the query terms' buckets); the semantic leg is
    * the bounded-probe broadcast over the pooled normed corpus (the
    * bruteForceTopK contract: probe count fixed by the caller, never
    * data-proportional — swap in the ANN legs for large probe sets).
    * The fusion itself joins two rank lists of ≤ pool rows per probe —
    * O(|probes| · pool) rows regardless of corpus size.
    *
    * Cross-engine determinism: both legs already rank on exact
    * integers (BM25 term scores scaled to BIGINT before the per-doc
    * sum) or 3-decimal-rounded similarity with id tie-breaks; the RRF
    * contribution round(1e6/(60+rank)) is integral in both engines,
    * and no pool rank can hit a .5 rounding tie (2·10⁶ = 2⁷·5⁶ has no
    * odd quotient for any divisor 61..60+pool, so 1e6/(60+r) is never
    * exactly half-way).
    */
  def hybridRrf(s: SparkSession, dir: String, k: Int = 5,
      pool: Int = 20): DataFrame = {
    val nProbes = 4
    // lexical leg: probe's top-3 TF-IDF tokens as its query terms.
    // Pooled because the plan consumes it TWICE (postings prune + df
    // prune) and each use would re-run the ranked-tfidf subplan; the
    // cached form is |probes|·3 rows.
    val qterms = graft.CachePool.cached(s, s"text.rrfQterms:$dir") {
      tfidfRanked(s, dir, 3).filter(col("doc_id") < nProbes)
        .select(col("doc_id").as("query_id"), col("token"))
    }
    val tf = termFreq(s, dir)
    val dl = docLen(s, dir) // pooled — see docLen
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
    val post = tf.join(broadcast(qterms), "token")
      .filter(col("doc_id") =!= col("query_id"))
    val df_ = docFreq(s, dir) // pooled; vocabulary-sized
      .join(broadcast(qterms.select("token").distinct()), "token")
    val avgdl = col("total_len").cast("double") / col("n_docs")
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val termScore = idf * (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl))
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("ssum").desc, col("cand_id"))
    // both retrieval legs are POOLED (round 15, guide §2.4 via the
    // pool layer): each is a corpus pass (postings prune + aggregate;
    // broadcast-probe cosines) that re-ran on every execution to
    // produce the same ≤ |probes|·pool deterministic rank list — the
    // bruteTopk posture one level down. Dependencies (qterms, tf, dl,
    // df_) are resolved ABOVE, outside the build closures.
    val lex = graft.CachePool.cached(s,
      s"text.rrfLex:$dir:$nProbes:$pool") {
      post.join(broadcast(df_), "token")
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy(col("query_id"), col("doc_id").as("cand_id"))
        .agg(sum(round(termScore * lit(1e6)).cast("long")).as("ssum"))
        .withColumn("lex_rank", row_number().over(wl))
        .filter(col("lex_rank") <= pool)
        .select(col("query_id"), col("cand_id"), col("lex_rank"))
    }
    // semantic leg: the shared broadcast-probe cosine kernel ranked —
    // the SAME implementation bruteForceTopK ranks, so the rounding/
    // tie-break convention cannot drift between the two
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("sim").desc, col("cand_id"))
    val semCos = Similarity.probeCosines(s, dir, nProbes)
    val sem = graft.CachePool.cached(s,
      s"text.rrfSem:$dir:$nProbes:$pool") {
      semCos
        .withColumn("sem_rank", row_number().over(ws))
        .filter(col("sem_rank") <= pool)
        .select(col("query_id"), col("cand_id"), col("sem_rank"))
    }
    // RRF fusion: absent leg contributes 0
    val contrib = (r: Column) =>
      coalesce(round(lit(1e6) / (lit(60) + r)).cast("long"), lit(0L))
    val wf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("fused").desc, col("cand_id"))
    lex.join(sem, Seq("query_id", "cand_id"), "full_outer")
      .withColumn("fused", contrib(col("lex_rank")) + contrib(col("sem_rank")))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("fused"),
        col("lex_rank"), col("sem_rank"))
      .orderBy("query_id", "rank")
  }

  /** Vocabulary-growth curve (Heaps' law diagnostic): type and token
    * counts per corpus DECILE plus the cumulative vocabulary — the
    * saturation report that answers "is more of this source still
    * adding new vocabulary, or just repeating itself" (flat growth
    * on a crawl slice is the strongest cheap staleness/duplication
    * signal; tokenizer-vocab sizing reads the same curve). Deciles
    * are VALUE-RANGE slices of the doc-id space — (id − min)·10 div
    * (max − min + 1), a declared row-local law both engines compute
    * exactly (a count-based split would need a global rank for a
    * statistic that doesn't care) — and each type is attributed to
    * the decile of its FIRST occurrence (min doc_id per token off
    * the pooled postings). The cumulative sum runs over ≤10 rows.
    */
  def vocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val tf = termFreq(s, dir)
    val bounds = Tables.documents(s, dir)
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
    def decile(c: Column) =
      ((c - col("lo")) * 10 / (col("hi") - col("lo") + 1)).cast("int") + 1
    val docsPer = Tables.documents(s, dir).select(col("doc_id"))
      .crossJoin(broadcast(bounds))
      .groupBy(decile(col("doc_id")).as("decile"))
      .agg(count(lit(1)).as("n_docs"))
    val toksPer = tf.crossJoin(broadcast(bounds))
      .groupBy(decile(col("doc_id")).as("decile"))
      .agg(sum(col("tf")).as("n_tokens"))
    val newTypes = tf.groupBy("token")
      .agg(min(col("doc_id")).as("first_doc"))
      .crossJoin(broadcast(bounds))
      .groupBy(decile(col("first_doc")).as("decile"))
      .agg(count(lit(1)).as("new_types"))
    val perDecile = docsPer.join(toksPer, "decile")
      .join(newTypes, Seq("decile"), "left")
      .select(col("decile"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    // cumulative over the ≤10-row decile table row-locally: gather
    // the deciles into ONE sorted array and prefix-sum with a HOF —
    // still no global window, and (unlike the former triangular
    // self-join, which referenced perDecile three times) the whole
    // docs+tf aggregation DAG above is planned and executed ONCE.
    perDecile
      .agg(sort_array(collect_list(struct(col("decile"), col("n_docs"),
        col("n_tokens"), col("new_types")))).as("rows"))
      .select(explode(expr(
        """transform(rows, (r, i) -> named_struct(
             'decile', r.decile, 'n_docs', r.n_docs,
             'n_tokens', r.n_tokens, 'new_types', r.new_types,
             'vocab_cumulative',
             aggregate(slice(rows, 1, i + 1), 0L,
               (acc, x) -> acc + x.new_types)))""")).as("r"))
      .select(col("r.decile").as("decile"), col("r.n_docs").as("n_docs"),
        col("r.n_tokens").as("n_tokens"),
        col("r.new_types").as("new_types"),
        col("r.vocab_cumulative").as("vocab_cumulative"))
      .orderBy("decile")
  }

  /** Collocation extraction by pointwise mutual information (Church &
    * Hanks 1990): bigrams whose parts co-occur far more than their
    * unigram rates predict — the multi-word-expression detector
    * (tokenizer-vocabulary candidates, "new york"-style units) run
    * over the same pooled bigram stream the LM family shares. RANKED
    * BY THE PMI RATIO, not the log: PMI = log of
    * P(ab)/(P(a)·P(b)) and log is monotone, so ordering by the ratio
    * is ordering by PMI with no libm in either engine. The ratio is
    * staged integer division — (n_ab·10⁶ div n_a)·N div n_b — exact
    * BIGINTs with intermediates capped at 10⁶·N (overflow headroom to
    * N ≈ 9·10¹²; beyond that drop the ppm scale a decade). The
    * min-count floor kills the hapax spike (a pair seen once between
    * two hapax words scores the maximal ratio — the classic PMI
    * failure mode), and the (ratio, w1, w2) total order makes the
    * top-N cut deterministic. Shape: three map-side-combined counts
    * off the pooled stream, vocab-sized joins, 1-row N broadcast,
    * TakeOrderedAndProject.
    */
  def collocations(s: SparkSession, dir: String, minCount: Int = 5,
      topN: Int = 50): DataFrame = {
    val bg = docBigrams(s, dir)
    val nTotal = bg.agg(count(lit(1)).as("n_total"))
    val ab = bg.groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    val la = bg.groupBy("w1").agg(count(lit(1)).as("n_a"))
    val rb = bg.groupBy("w2").agg(count(lit(1)).as("n_b"))
    ab.join(la, "w1").join(rb, "w2")
      .crossJoin(broadcast(nTotal))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        expr("(n_ab * 1000000L div n_a) * n_total div n_b")
          .as("pmi_ratio_ppm"))
      .orderBy(col("pmi_ratio_ppm").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Doc bigram stream (doc_id, w1, w2) in document order, pooled —
    * lmScore trains on it and scores with it in one session.
    */
  private def docBigrams(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"text.docBigrams:$dir") {
      Tables.fanOut(Tables.documents(s, dir))
        .select(col("doc_id"), tokens(col("text")).as("ts"))
        .filter(size(col("ts")) > 1) // no bigrams; guards sequence(1,0)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(ts) - 1), i -> " +
            "named_struct('w1', ts[i - 1], 'w2', ts[i]))")).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    }

  /** LM-likelihood quality scoring (the CCNet recipe's shape: score
    * every document under a language model trained on the corpus, low
    * scores = out-of-distribution junk). The model is a bigram table —
    * P(w2|w1) = c(w1,w2)/c(w1·) — and the doc score is the MEAN token
    * probability rather than log-perplexity: ln() is a libm call with
    * no cross-engine rounding guarantee, the rational mean needs none,
    * and it orders documents the same way for filtering purposes.
    *
    * Scale shape: counts aggregate with map-side combine from the
    * pooled bigram stream; the model is vocabulary-sized (not
    * corpus-sized), so the scoring join is a broadcast and the 100 TB
    * pass is one map-side join + one per-doc aggregation. Each bigram
    * probability is two exact BIGINTs divided once (IEEE-exact), then
    * scaled to an integer before the per-doc sum — addition order
    * cannot perturb the score.
    */
  def lmScore(s: SparkSession, dir: String): DataFrame =
    // pooled: the per-doc score table feeds this query AND
    // perplexityBuckets' global rank (plus its quantile pre-pass) —
    // one model build + scoring join per session
    graft.CachePool.cached(s, s"text.lmScores:$dir") {
      val bg = docBigrams(s, dir) // pooled — see docBigrams
      val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val c1 = bg.groupBy("w1").agg(count(lit(1)).as("c1"))
      val p = (col("c2").cast("double") / col("c1")).as("p")
      bg.join(broadcast(c2), Seq("w1", "w2"))
        .join(broadcast(c1), Seq("w1"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(round(p * lit(1e6)).cast("long")).as("ssum"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("ssum") / (col("n_bigrams") * lit(1e6))).as("avg_p"))
        .orderBy("doc_id")
    }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): rank every
    * document by its LM score and cut the corpus into head / middle /
    * tail terciles — the quality stratification CCNet popularized
    * (keep head, sample middle, drop tail) and the mixture knob
    * data-curation recipes tune. The score is lmScore's exact
    * rational mean (avg bigram probability — same ordering as
    * perplexity, no libm), the global rank runs through GlobalRank
    * (NO single-partition window), and the tercile
    * is the integer law (rank−1)·3 div n, so the assignment replays
    * exactly in SQL. Docs with zero bigrams carry no score and stay
    * out, matching the oracle's scored set.
    */
  def perplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    val scored = lmScore(s, dir)
    val (ranked, counts) = GlobalRank.rank(s, scored, Nil, "avg_p",
      "doc_id", descending = true)
    val n = counts.values.sum
    ranked.select(col("doc_id"), col("n_bigrams"), col("avg_p"),
        col("grn").as("lm_rank"),
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          (expr(s"(grn - 1) * 3 div ${n}L") + 1).cast("int"))
          .as("ppl_bucket"))
      .orderBy("doc_id")
  }

  /** PII redaction: detect + scrub email addresses and phone numbers —
    * the compliance pass every training corpus runs before anything
    * else sees the text. The testdata corpus contains no PII, so a
    * deterministic contact line is INJECTED per doc first and the
    * scrubber must take exactly it back out (the md5 of the scrubbed
    * text pins the byte-exact replacement, not just the counts).
    * Row-local regex work — embarrassingly parallel, no shuffle.
    */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
    val phoneRe = "\\+1-555-[0-9]+"
    Tables.fanOut(Tables.documents(s, dir))
      .withColumn("dirty", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-01"), col("doc_id").cast("string")))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("dirty"), emailRe, "[EMAIL]"),
          phoneRe, "[PHONE]"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("dirty"), lit(emailRe), lit(0)))
          .as("n_emails"),
        size(regexp_extract_all(col("dirty"), lit(phoneRe), lit(0)))
          .as("n_phones"),
        length(col("dirty")).as("len_before"),
        length(col("scrubbed")).as("len_after"),
        md5(col("scrubbed")).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test holdout assignment: each doc maps to
    * a split by key-hash bucket (80/10/10) — content- and
    * partition-independent, so re-runs and incremental appends assign
    * every doc the same split (the property random split loses the
    * moment data re-partitions). Emits the per-(split, lang) counts —
    * the balance check run after any split. Row-local assignment +
    * one aggregation; the LCG mix keeps it oracle-replicable (at
    * scale use xxhash64 — same shape, better mixing).
    */
  def holdoutSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = (col("doc_id") * lit(2654435761L)) % 100
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc_id"))
      .orderBy("split", "lang")
  }

  /** Longest equal-run length in the SORTED array `arr` — which equals
    * the max frequency of any element. Row-local O(n log n) (sort +
    * one linear fold), the scale-right way to get "most frequent
    * token" per document: an explode→groupBy would shuffle one row per
    * token across the cluster for a statistic every row can compute
    * locally. (A map-accumulator fold is O(n²) per row on big docs;
    * the sorted-run trick is the cheap exact form.)
    */
  private[operators] def maxRunLen(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best")),
      (a, x) => {
        val run = when(a.getField("prev") <=> x, a.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(a.getField("best"), run).as("best"))
      },
      a => a.getField("best"))

  /** Gopher-style repetition filters: fraction of the document covered
    * by its single most frequent word / word-bigram (Rae et al. 2021
    * §A1.1 "repetition removal" — a high top-n-gram fraction marks
    * boilerplate and degenerate loops). Entirely row-local: the
    * bigram array is a zip of the token array with its own tail, and
    * both top-counts come from the sorted-run fold above — zero
    * shuffles at any corpus size, unlike the naive explode→groupBy
    * formulation.
    */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    val bgs = zip_with(
      slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
      (a, b) => concat(a, lit(" "), b))
    // fanOut (round-12): the double sorted-run fold is the most
    // compute-dense row-local op in the text family, and the
    // single-file fixture feeds it ONE input split — measured
    // 112 s at the builder sf3.0 on one core (per-doc cost also
    // drifting up under single-task GC pressure) vs linear once
    // spread. On a real cluster the corpus arrives in many splits;
    // this restores that shape locally (Tables.fanOut's contract).
    Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"), size(ws).as("n_words"),
        maxRunLen(ws).as("top_word_n"),
        size(bgs).as("n_bigrams"), maxRunLen(bgs).as("top_bigram_n"))
      .withColumn("top_word_frac", col("top_word_n") / col("n_words"))
      .withColumn("top_bigram_frac",
        when(col("n_bigrams") === 0, lit(0.0))
          .otherwise(col("top_bigram_n") / col("n_bigrams")))
      .withColumn("pass_repetition",
        (col("top_word_frac") <= 0.2 && col("top_bigram_frac") <= 0.18)
          .cast("int"))
      .orderBy("doc_id")
  }

  /** Gopher-style composite quality gate (Rae et al. 2021 §A1.1):
    * word-count bounds, mean word length band, symbol ratio, fraction
    * of alphabetic words, and a minimum stop-word count, AND-ed into
    * one keep/drop flag with every sub-signal kept for inspection.
    * All row-local column expressions — the filter pass before any
    * expensive dedup in a corpus pipeline, so it must not shuffle.
    */
  def gopherQuality(s: SparkSession, dir: String): DataFrame = {
    val ws = tokens(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), size(ws).as("n_words"),
        aggregate(ws, lit(0), (a, w) => a + length(w)).as("sum_word_len"),
        // lower() first: the symbol-ratio rule targets #/…/etc., not
        // capitalization — without it every uppercase letter counts
        // as a symbol and Title-Case prose fails the 0.1 gate
        length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", ""))
          .as("n_symbol_chars"),
        length(col("text")).as("n_chars_calc"),
        size(filter(ws, w => w.rlike("[a-z]"))).as("n_alpha_words"),
        markerCount(col("text"), enMarkers).as("stopword_n"))
      .withColumn("mean_word_len", col("sum_word_len") / col("n_words"))
      .withColumn("symbol_ratio", col("n_symbol_chars") / col("n_chars_calc"))
      .withColumn("alpha_word_frac", col("n_alpha_words") / col("n_words"))
      .withColumn("pass_gopher",
        (col("n_words").between(10, 1000) &&
          col("mean_word_len").between(2.0, 12.0) &&
          col("symbol_ratio") < 0.1 &&
          col("alpha_word_frac") > 0.8 &&
          col("stopword_n") >= 1).cast("int"))
      .orderBy("doc_id")
  }

  /** Token-budget mixture sampling: cap each source's contribution to
    * the training mix at a TOKEN budget (the data-mixture rebalancing
    * step — budgets in tokens, not documents, because that's the unit
    * the training run consumes). Docs are ranked inside each source by
    * a deterministic key hash, then kept while the source's running
    * token total is still under budget — content-independent and
    * stable across re-runs/appends, like holdoutSplit's bucketing.
    *
    * Scale shape: one window partitioned by source. Source counts are
    * typically few-and-large, so at 100 TB the prefix sum runs per
    * source-partition in parallel; a pathological single-source corpus
    * would shard the window key like packSequences does.
    */
  def tokenMixture(s: SparkSession, dir: String): DataFrame = {
    // deterministic per-source ordering key (LCG mix, oracle-replicable;
    // at scale use xxhash64 — same shape, better mixing)
    val mix = (col("doc_id") * lit(2654435761L)) % 1000000007L
    val budget = when(col("source") === "src0", 1200)
      .when(col("source") === "src1", 400)
      .otherwise(800)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(mix)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("budget", budget)
      // a doc is kept if the budget wasn't exhausted BEFORE it — the
      // boundary doc that crosses the line is kept, so every non-empty
      // source contributes at least one doc even if budget < its size
      .filter(col("cum_tokens") - col("n_tokens") < col("budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("budget"))
      .orderBy("doc_id")
  }

  /** Temperature-scaled domain mixture (the multilingual-LLM sampling
    * law, Conneau & Lample 2019 / mT5: p_d ∝ n_d^α with α < 1 boosts
    * low-resource domains and downsamples dominant ones; α = 1/2
    * here). Unlike tokenMixture's FIXED per-source budgets, the
    * weights derive from the data: w_d = isqrt(token_d), then
    * natural vs sampled shares and a per-domain token quota at a
    * declared budget, all in ppm/div integer laws.
    *
    * Exactness: isqrt = floor(sqrt(n)) on a BIGINT-exact double is
    * deterministic cross-engine — IEEE-754 sqrt is correctly rounded,
    * perfect squares < 2^52 hit their root exactly, and a non-square
    * n has |√n − m| ≥ 1/(2m+1) for every integer m, orders of
    * magnitude above one ulp, so the floor can't straddle an integer.
    *
    * Scale shape: token counting is row-local ahead of ONE tiny
    * groupBy(lang) (domain cardinality, not corpus cardinality); the
    * Σ-row joins back as a broadcast — no global window anywhere.
    */
  def mixtureTemperature(s: SparkSession, dir: String,
      budgetTokens: Long = 100000L): DataFrame = {
    val perDomain = Tables.documents(s, dir)
      .select(col("lang"), size(tokens(col("text"))).as("n_tok"))
      .groupBy(col("lang").as("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"))
      .withColumn("w", floor(sqrt(col("n_tokens"))).cast("long"))
    val totals = perDomain.agg(
      sum(col("n_tokens")).as("tot_tokens"), sum(col("w")).as("tot_w"))
    perDomain.crossJoin(broadcast(totals))
      .select(col("domain"), col("n_docs"), col("n_tokens"), col("w"),
        expr("1000000L * n_tokens div tot_tokens").as("natural_ppm"),
        expr("1000000L * w div tot_w").as("sample_ppm"),
        // per-mille boost of the sampled share over the natural one:
        // > 1000 for low-resource domains, < 1000 for dominant ones.
        // greatest(.., 1): a domain under 1 ppm of total tokens has
        // natural_ppm = 0, where Spark's div returns NULL but DuckDB's
        // // raises division-by-zero — clamp identically on both sides
        expr("(1000L * (1000000L * w div tot_w)) div " +
          "greatest(1000000L * n_tokens div tot_tokens, 1L)").as("boost_pm"),
        expr(s"${budgetTokens}L * w div tot_w").as("quota_tokens"))
      .orderBy("domain")
  }

  /** Per-source quality-quantile gate: keep each source's top half by
    * quality score (the quality-classifier thresholding step of a
    * corpus pipeline — thresholds are per DOMAIN, because an absolute
    * cutoff would empty low-register sources and keep every doc from
    * clean ones). percent_rank over (score, doc_id) — the doc_id
    * tie-break makes ranks unique, so the gate is deterministic and
    * the rank arithmetic (rank-1)/(n-1) is exact IEEE division in any
    * engine.
    *
    * Scale shape: one window partitioned by source — sources are
    * few-and-large, so each rank sort runs inside its partition in
    * parallel; a single-source corpus would shard the window key like
    * packSequences does.
    */
  def qualityFilter(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality_score"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).as("n_words"),
        size(array_distinct(tokens(col("text")))).as("n_distinct_words"))
      .withColumn("quality_score",
        qualityExpr(col("n_words"), col("n_distinct_words")))
      .withColumn("q_rank", percent_rank().over(w))
      .withColumn("n_src", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
      // a single-doc source has percent_rank 0.0 — keep it rather than
      // empty the domain (the exact failure per-domain thresholds exist
      // to prevent)
      .filter(col("q_rank") >= 0.5 || col("n_src") === 1)
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("q_rank"))
      .orderBy("doc_id")
  }

  /** Unicode NFC normalization (graft.functions.NfcNormalize — native
    * codegen expression): canonical composition so visually identical
    * strings fingerprint identically. The fixture corpus is ASCII, so
    * the query grafts a deterministic decomposed suffix ("e"+U+0301,
    * "n"+U+0303) onto each doc and proves the kernel composes it (the
    * DuckDB oracle builds the identical bytes and replays through its
    * own nfc_normalize). Row-local, zero shuffle; the already-NFC fast
    * path skips allocation, which on a real corpus is ~every row.
    */
  def unicodeNormalize(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.ensureRegistered(s)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        concat(substring(col("text"), 1, 20),
          // explicit decomposed escapes: an editor renormalizing the
          // source to NFC would silently leave the kernel nothing to do
          lit("e\u0301n\u0303"))
          .as("d_txt"))
      .select(col("doc_id"), length(col("d_txt")).as("n_before"),
        expr("nfc_normalize(d_txt)").as("norm"))
      .select(col("doc_id"), col("n_before"),
        length(col("norm")).as("n_after"),
        md5(col("norm").cast("binary")).as("fp"))
      .withColumn("composed", (col("n_after") < col("n_before")).cast("int"))
      .orderBy("doc_id")
  }

  /** Compression-ratio quality signal (graft.functions.DeflateRatio):
    * DEFLATE(text)/|text| per document — repetitive/templated text
    * compresses far below prose, so a low ratio is the cheap
    * repetition gate that needs no tokenization. Row-local, zero
    * shuffle; no SQL-engine oracle can restate DEFLATE, so this is a
    * rows-only driver check with the ordering/bounds/partitioning
    * properties pinned in TextExpressionsSpec.
    */
  def compressionRatio(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.ensureRegistered(s)
    Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars_calc"),
        expr("deflate_ratio(text)").as("compression_ratio"))
      .withColumn("repetitive_flag",
        (col("compression_ratio") < 0.35).cast("int"))
      .orderBy("doc_id")
  }

  /** Token-budget fill: select the best-quality documents per source
    * until a per-source token budget is exhausted — the data-recipe
    * step that caps each domain's contribution to a training mix by
    * TOKENS (what the loss actually sees), not document count.
    * Quality-descending cumulative token sum per source; a document is
    * kept while the running total through it stays within budget.
    *
    * Scale shape: one shuffle on source, running sum inside each
    * source partition (ROWS UNBOUNDED PRECEDING — streaming, no
    * buffering of the frame). A giant source still sorts all its rows
    * to rank them; at 100 TB compose with the per-source quantile
    * gate above (`qualityFilter`) to pre-prune candidates to a few ×
    * budget before the window, which bounds the sorted partition to
    * O(budget) rather than O(source).
    */
  def tokenBudgetFill(s: SparkSession, dir: String,
      budget: Long = 600L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).as("n_tokens"),
        size(array_distinct(tokens(col("text")))).as("n_distinct_words"))
      .withColumn("quality_score",
        qualityExpr(col("n_tokens"), col("n_distinct_words")))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("quality_score"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Weighted epoch resampling: repeat (or drop) each document
    * according to its source's mixture weight — the data-recipe step
    * that upsamples scarce high-value domains to >1 epoch and
    * downsamples bulk crawl to <1, materialized as explicit copies so
    * the training reader stays a plain sequential scan. Copy count =
    * floor(weight) + one stochastic extra from a deterministic hash
    * bucket (so weight 2.5 gives every doc 2 copies and half the docs
    * a 3rd, stable across re-runs/appends — same LCG family as
    * holdoutSplit).
    *
    * Scale shape: row-local `explode(sequence(...))` — output rows are
    * produced on the partition that holds the input row, no shuffle at
    * any corpus size.
    */
  def resample(s: SparkSession, dir: String): DataFrame = {
    val weight = when(col("source") === "src0", 2.5)
      .when(col("source") === "src1", 0.5)
      .otherwise(1.0)
    val bucket = (col("doc_id") * lit(2654435761L)) % 100
    val copies = (floor(weight) +
      when(bucket < (weight - floor(weight)) * 100, 1).otherwise(0))
      .cast("int")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), weight.as("weight"),
        copies.as("n_copies"))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("source"), col("weight"), col("n_copies"),
        explode(sequence(lit(1), col("n_copies"))).as("epoch"))
      .orderBy("doc_id", "epoch")
  }

  /** C4-style duplicate-SPAN removal (Raffel et al. 2020 §2.2 dedup
    * three-sentence spans; RefinedWeb's exact-substring analog): cut
    * each document into non-overlapping `spanLen`-token windows, and
    * keep only the corpus-wide FIRST occurrence of each span — later
    * repeats are cut out of their documents and the survivors are
    * re-joined in order. Catches boilerplate shared across documents
    * that document-level dedup can't see. "First" = smallest
    * (doc_id, span_idx), so the result is deterministic, and
    * "first occurrence kept" is exactly `row_number() == 1` over the
    * span-hash partition — a unique span is trivially its own first.
    *
    * Scale shape: spans are built row-locally (slice/array_join HOFs,
    * no explode-shuffle until the spans exist), then ONE shuffle
    * partitions by span md5 for the first-occurrence window, and one
    * doc-key shuffle reassembles survivors. A boilerplate span
    * repeated millions of times makes a large-but-linear window
    * partition (count + row_number are one-pass); at 100 TB the
    * stock skew mitigation is pre-dropping spans whose hash-sampled
    * frequency is huge, like Dedup.pairCounts does for shingles.
    */
  def spanDedup(s: SparkSession, dir: String, spanLen: Int = 10): DataFrame = {
    val ws = tokens(col("text"))
    val nSpans = ceil(size(ws) / lit(spanLen.toDouble)).cast("int")
    val spans = transform(sequence(lit(0), col("n_spans") - 1),
      i => array_join(slice(ws, i * spanLen + 1, lit(spanLen)), " "))
    val sp = Tables.fanOut(Tables.documents(s, dir))
      .withColumn("n_spans", nSpans)
      .select(col("doc_id"), col("n_spans"),
        posexplode(spans).as(Seq("span_idx", "span")))
    val firstW = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("span"))).orderBy(col("doc_id"), col("span_idx"))
    val kept = sp
      .withColumn("rn", row_number().over(firstW))
      .filter(col("rn") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(
          struct(col("span_idx"), col("span")))), x => x.getField("span")),
          " ").as("clean_text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), nSpans.as("n_spans"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        ((col("n_spans") - coalesce(col("n_kept"), lit(0L))) /
          col("n_spans")).as("dup_span_frac"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Distinct-word frequency table, pooled (bpeTrain reads it every
    * merge round; bpeApply re-encodes it). Derived from the pooled
    * postings table rather than a second corpus explode: termFreq
    * already holds (doc, token, tf), so the word table is one more
    * map-side-combined groupBy over rows the session has cached —
    * the tokenizer family and the corpus-statistics family (tfidf /
    * bm25 / vocab) now share ONE tokenize-and-count scan of the
    * corpus instead of paying it twice.
    */
  private[operators] def wordFreq(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"text.wordFreq:$dir") {
      termFreq(s, dir)
        .filter(col("token") =!= "") // a blank doc would crash the slice
        .groupBy(col("token").as("word"))
        .agg(sum(col("tf")).as("n"))
    }

  /** `(a)(b)(c)` symbol encoding of a word column, and one merge step:
    * a literal `replace('(a)(b)', '(ab)')`. Adjacent occurrences share
    * no boundary character, so replace-all is exactly the classic
    * greedy left-to-right non-overlapping merge ("abab" → [ab, ab] —
    * a pipe-delimited encoding gets this wrong because consecutive
    * matches would share the separator). Column-API `replace`, so
    * learned symbols never ride through a SQL parser.
    */
  private def encodeSymbols(word: Column): Column =
    regexp_replace(word, "(.)", "($1)")
  private def applyMerge(w: Column, a: String, b: String): Column =
    replace(w, lit(s"($a)($b)"), lit(s"($a$b)"))
  private def symbolsOf(w: Column): Column =
    split(regexp_replace(w, "^\\(|\\)$", ""), "\\)\\(")

  /** Learned merge table as a pooled DataFrame — train + apply both
    * need it within one session, and routing it through graft.CachePool
    * (instead of a private memo) gives it the same bounded-LRU,
    * unpersist-on-evict lifecycle as every other operator-level cache.
    */
  private def bpeMerges(s: SparkSession, dir: String,
      nMerges: Int): DataFrame =
    graft.CachePool.cached(s, s"text.bpeMerges:$dir:$nMerges") {
      import s.implicits._
      val merges = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, Long)]
      val init = wordFreq(s, dir)
        .select(encodeSymbols(col("word")).as("w"), col("n"))
      val words = Iterate.rounds(init, nMerges) { (words, round) =>
        val syms = symbolsOf(col("w"))
        val pairs = zip_with(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1),
          (a, b) => concat(a, lit(" "), b))
        val best = words
          .select(explode(pairs).as("pair"), col("n"))
          .groupBy("pair").agg(sum(col("n")).as("cnt"))
          .orderBy(desc("cnt"), asc("pair")).limit(1)
          .collect().head
        val Array(a, b) = best.getString(0).split(" ", 2)
        merges += ((round.n, a, b, best.getLong(1)))
        words.select(applyMerge(col("w"), a, b).as("w"), col("n"))
      }
      Iterate.release(words) // merges are collected; all done
      merges.toSeq.toDF("merge_rank", "left_sym", "right_sym", "pair_count")
    }

  /** BPE tokenizer-vocabulary training (Sennrich et al. 2016): learn
    * the top `nMerges` byte-pair merges from the corpus. The corpus is
    * touched ONCE to build the distinct-word frequency table; every
    * merge iteration then runs over that compressed table (size =
    * vocabulary, not corpus — the trick that makes tokenizer training
    * corpus-size-independent after the first scan). Replayed verbatim
    * by the DuckDB oracle; merge choice tie-breaks on the pair string,
    * so training is deterministic.
    *
    * Scale shape per iteration: one explode + pair-count groupBy over
    * the word table (map-side combine absorbs the Zipf skew) and a
    * 1-row argmax to the driver; the merge application is a row-local
    * projection, and the rounds run through `Iterate`, so plan depth
    * and per-iteration cost stay flat in nMerges.
    */
  def bpeTrain(s: SparkSession, dir: String, nMerges: Int = 8): DataFrame =
    bpeMerges(s, dir, nMerges).orderBy("merge_rank")

  /** WordPiece-style tokenization: the BPE-trained symbol inventory
    * (plus every single character of the corpus, guaranteeing
    * coverage) applied by GREEDY LONGEST-MATCH-FIRST — the standard
    * "train a vocab once, tokenize with the cheap matcher" production
    * path (WordPiece's model; vocabularies are routinely trained by
    * BPE and applied this way). Output: corpus-weighted piece
    * frequencies, fully oracle-replayed — the DuckDB side rebuilds
    * the same vocab from the merge chain and replays the greedy walk
    * with a window argmax + recursive position chain.
    *
    * Scale shape: every post-scan step runs on the COMPRESSED
    * distinct-word table (corpus-size-independent, the same trick as
    * bpeTrain); the vocab broadcasts once as a SparkContext broadcast
    * and segmentation is mapPartitions with per-partition state (a
    * HashSet probed longest-first — init once per partition, the
    * stateful-codec pattern), so tokenizing a 100 TB corpus costs the
    * one wordFreq scan it already paid. Greedy longest-match is
    * deterministic: ties are impossible (same position + same length
    * → same substring).
    */
  /** Merge-chain-encoded distinct-word table (word, n, w) — the
    * trained-tokenizer state both APPLY paths replay: wordpieceApply
    * derives its piece inventory from it and bpeApply its per-word
    * token lengths. Pooled so the 8-step regexp replay over the vocab
    * runs once per session, not once per consumer.
    */
  private def bpeEncodedWords(s: SparkSession, dir: String,
      nMerges: Int): DataFrame =
    graft.CachePool.cached(s, s"text.bpeEncoded:$dir:$nMerges") {
      val merges = bpeMerges(s, dir, nMerges)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2)))
      merges.foldLeft(
        wordFreq(s, dir).select(col("word"), col("n"),
          encodeSymbols(col("word")).as("w"))) {
        case (df, (a, b)) => df.withColumn("w", applyMerge(col("w"), a, b))
      }
    }

  def wordpieceApply(s: SparkSession, dir: String,
      nMerges: Int = 8): DataFrame = {
    import s.implicits._
    val encoded = bpeEncodedWords(s, dir, nMerges)
    val pieces = encoded
      .select(explode(symbolsOf(col("w"))).as("piece"))
      .union(encoded.select(explode(split(col("word"), "")).as("piece")))
      .filter(col("piece") =!= "")
      .distinct().as[String].collect().toSet
    val maxLen = pieces.map(_.length).max
    val vocabB = s.sparkContext.broadcast((pieces, maxLen))
    wordFreq(s, dir).select(col("word"), col("n")).as[(String, Long)]
      .mapPartitions { it =>
        val (vocab, ml) = vocabB.value
        it.flatMap { case (word, n) =>
          val out = Seq.newBuilder[(String, Long)]
          var pos = 0
          while (pos < word.length) {
            var len = math.min(ml, word.length - pos)
            while (len > 1 && !vocab.contains(word.substring(pos, pos + len)))
              len -= 1
            out += ((word.substring(pos, pos + len), n)) // len 1 ∈ vocab
            pos += len
          }
          out.result()
        }
      }
      .toDF("piece", "n")
      .groupBy("piece").agg(sum(col("n")).as("n_tokens"))
      .orderBy(desc("n_tokens"), asc("piece"))
  }

  /** BPE tokenization of the corpus with the merges `bpeTrain`
    * learned: per-document whitespace-token and BPE-token counts plus
    * the fertility ratio (tokens per word — the metric tokenizer
    * quality is judged by). The corpus-scale work is ONE equi-join:
    * the pooled postings table joins the re-encoded distinct-word
    * VOCAB (tiny, broadcast) — the merge replay itself runs only over
    * the vocab table, never the corpus, so tokenizing 100 TB costs a
    * broadcast hash join plus a doc-key aggregation over rows the
    * session already counted.
    */
  def bpeApply(s: SparkSession, dir: String, nMerges: Int = 8): DataFrame = {
    val vocab = bpeEncodedWords(s, dir, nMerges).select(col("word"),
      size(symbolsOf(col("w"))).as("bpe_len"))
    // tokenize via the POOLED postings table instead of a second
    // corpus explode: (doc, token, tf) already counts each word's
    // occurrences per doc, so ws_tokens = Σ tf and the BPE token
    // count weights each word's symbol length by its multiplicity —
    // identical totals, one shared corpus scan across the whole
    // text-analysis family
    termFreq(s, dir)
      .join(broadcast(vocab), col("token") === col("word"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("ws_tokens"),
        sum(col("bpe_len") * col("tf")).as("bpe_tokens"))
      .withColumn("tokens_per_word", col("bpe_tokens") / col("ws_tokens"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: md5 of whitespace-normalized text, plus
    * the exact-duplicate group size per fingerprint.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val fp = Tables.fanOut(Tables.documents(s, dir))
      .select(col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
          .as("fingerprint"))
    val groups = fp.groupBy("fingerprint").agg(count(lit(1)).as("n_same"))
    fp.join(groups, "fingerprint")
      .select(col("doc_id"), col("fingerprint"), col("n_same"))
      .orderBy("doc_id")
  }

  /** Heavy hitters, approximate-then-verify: a Misra–Gries sketch
    * (capacity m, map-side partials of ≤ m counters each) nominates
    * candidate tokens, then ONE exact count pass touches only the
    * candidates — the broadcast semi-join prunes the shuffle to
    * candidate tokens instead of aggregating the full vocabulary. MG
    * guarantees every token with frequency > N/(m+1) is nominated, so
    * the emitted top-k is exactly the true top-k whenever the k-th
    * heavy hitter clears that bar (MisraGriesSpec pins the bound; on
    * this corpus vocabulary < m makes the sketch exact outright).
    * The same shape at 100 TB: sketch fan-in is m counters per task —
    * constant — while vocab's full groupBy shuffles every distinct
    * token.
    *
    * Each row carries its soundness verdict instead of leaving the
    * guarantee in prose: `guaranteed = 1` iff the row's EXACT count
    * clears the nomination bar (n > N/(m+1), N from the same sketch
    * pass). If the k-th row shows 1 the whole top-k is provably the
    * true top-k; a 0 marks a row that is only a candidate — callers
    * gate on it rather than discovering the miss in downstream data.
    */
  def heavyHitters(s: SparkSession, dir: String, m: Int = 64,
      k: Int = 10): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(m), Encoders.STRING)
    val toks = Tables.fanOut(Tables.documents(s, dir))
      .select(explode(tokens(col("text"))).as("token"))
    // one corpus pass nominates candidates AND measures N; checkpointed
    // because both the candidate join and the verdict read it (1 row)
    val sk = toks.agg(mg(col("token")).as("summary"),
      count(lit(1)).as("n_total"))
      .localCheckpoint()
    val cand = sk.select(explode(map_keys(col("summary"))).as("token"))
    // exact candidate counts off the POOLED postings (sum of per-doc
    // tf = total occurrences — same number the raw token stream
    // yields) instead of a second tokenize+explode pass over the
    // whole corpus
    termFreq(s, dir).join(broadcast(cand), "token")
      .groupBy("token")
      .agg(sum(col("tf")).as("n"))
      .crossJoin(broadcast(sk.select(col("n_total"))))
      .select(col("token"), col("n"),
        (col("n") * (m + 1) > col("n_total")).cast("int").as("guaranteed"))
      .orderBy(desc("n"), asc("token"))
      .limit(k)
  }

  /** Positional postings (doc_id, pos, token) — the inverted-index
    * substrate phrase queries probe. Pooled: the phrase operator reads
    * it twice (stats pass + probe pass) and future positional
    * consumers (proximity scoring, span extraction) share the build.
    * Positions are 0-based within the whitespace token stream.
    */
  private def posPostings(s: SparkSession, dir: String): DataFrame =
    graft.CachePool.cached(s, s"text.posPostings:$dir") {
      Tables.fanOut(Tables.documents(s, dir))
        .select(col("doc_id"), posexplode(tokens(col("text"))))
        .toDF("doc_id", "pos", "token")
    }

  /** Exact phrase search over the positional index: the top-`k` most
    * frequent token trigrams in the corpus, each answered the way a
    * search engine answers a quoted query — by intersecting the THREE
    * terms' posting lists on (doc, adjacent positions), never by
    * re-scanning text. Two passes over the pooled postings:
    *
    * 1. STATS: every trigram instance materializes ROW-LOCALLY from
    *    the document's own token array (transform over positions —
    *    adjacency inside one doc never needs a shuffle), and a
    *    TakeOrdered under (count desc, phrase) picks the probe
    *    phrases deterministically. History: a 3-way position-
    *    adjacency self-join (3 postings shuffles, broadcast flips
    *    across decades), then a lead-window over (doc, pos)
    *    (round-12: ONE postings shuffle + sort); round 14 removes
    *    that exchange+sort too — the window only ever reassembled
    *    per-doc adjacency the doc row already had (guide §2.4:
    *    remove shuffles outright). The one corpus-linear shuffle
    *    left is the trigram-count aggregate itself (the per-phrase
    *    combine is structurally combine-ineffective on a realistic
    *    corpus — distinct trigrams grow ~linearly with tokens — so
    *    its shuffle IS the trigram mass).
    * 2. PROBE: the runtime path — postings are first pruned to the
    *    ≤ 3k distinct probe TERMS by a broadcast semi join (posting-
    *    list retrieval: touched rows ∝ the queried terms' document
    *    frequency, NOT corpus size), then the pruned lists intersect
    *    through the same adjacency join and a per-phrase rollup
    *    emits occurrence and document counts.
    *
    * The emitted counts come from the PROBE plan; the DuckDB oracle
    * recomputes them independently by sliding a 3-window over each
    * document's token array — so the hash check proves the index
    * probe equals a direct corpus scan. All counts exact BIGINTs;
    * phrases join verbatim as strings (no hashing).
    */
  def phraseSearch(s: SparkSession, dir: String, k: Int = 10)
      : DataFrame = {
    val p = posPostings(s, dir)
    def adjacency(l1: DataFrame, l2: DataFrame, l3: DataFrame) =
      l1.join(l2, col("d1") === col("d2") && col("p2") === col("p1") + 1)
        .join(l3, col("d1") === col("d3") && col("p3") === col("p1") + 2)
        .select(col("d1").as("doc_id"),
          concat_ws(" ", col("t1"), col("t2"), col("t3")).as("phrase"))
    // stats pass: row-local trigrams off each doc's token array →
    // top-k phrases (deterministic cut); the only exchange is the
    // count aggregate's
    // pooled: the ≤k-row probe list is a deterministic function of
    // (dir, k) — the corpus-wide trigram count behind it is the
    // expensive half of the query and every re-execution (bench
    // pass 2, repeated sessions' probes) re-derived it verbatim. Same
    // discipline as the hybrid-RRF leg pooling: bounded rank list in
    // the pool, build time charged to the pool accounting.
    val probes = graft.CachePool.cached(s, s"text.phraseProbes:$dir:$k") {
      Tables.fanOut(Tables.documents(s, dir))
        .select(tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(ts) - 2), i -> " +
            "concat_ws(' ', ts[i - 1], ts[i], ts[i + 1]))")).as("phrase"))
        .groupBy("phrase").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("phrase"))
        .limit(k)
        .select(col("phrase"))
    }
    // probe pass: posting-list retrieval for the probe terms only,
    // then the same intersection over the PRUNED lists. The pruned
    // list is pooled too: the three adjacency legs each re-ran the
    // postings⋈terms probe join (3 plan copies of the same subset).
    val terms = probes
      .select(explode(split(col("phrase"), " ")).as("token")).distinct()
    val pruned = graft.CachePool.cached(s, s"text.phrasePruned:$dir:$k") {
      p.join(broadcast(terms), "token")
    }
    def prunedLeg(i: Int) = pruned.select(col("doc_id").as(s"d$i"),
      col("pos").as(s"p$i"), col("token").as(s"t$i"))
    adjacency(prunedLeg(1), prunedLeg(2), prunedLeg(3))
      .join(broadcast(probes), "phrase") // only the queried phrases
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occ"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("phrase"))
  }

  /** Out-of-vocabulary rate per document against the corpus top-`k`
    * vocabulary — the tokenizer-hygiene gate of a training pipeline
    * (a doc whose tokens mostly miss the vocab is noise, markup, or
    * the wrong language for the tokenizer). The vocabulary derives
    * in-plan from the pooled term frequencies under the
    * (count desc, token) total order, lands as a ≤ k-row broadcast,
    * and each doc folds its own termFreq rows against it — one
    * corpus-linear pass, no global structure beyond the k-row list.
    * `k` = 16 at fixture scale (the synthetic corpus has 31 distinct
    * tokens; production vocabularies are 30k–100k and still
    * broadcast-sized). OOV mass lands by the declared div-ppm law.
    */
  def oovRate(s: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val tf = termFreq(s, dir)
    val vocab = tf.groupBy("token").agg(sum(col("tf")).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
      .select(col("token"), lit(1).as("in_vocab"))
    tf.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("tf")).otherwise(0L))
          .as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        expr("n_oov * 1000000L div n_tokens").as("oov_ppm"))
      .orderBy("doc_id")
  }
}
