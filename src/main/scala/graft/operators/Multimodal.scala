package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column plumbing (SURVEY.md §2.10): media payloads as
  * opaque `binary` columns with typed metadata, decoded/feature-
  * extracted per partition.
  *
  * The decode step is a clearly-marked STUB (image/audio codecs are
  * not in this container): it derives deterministic fake metadata from
  * the bytes. Everything around it is the real Spark plumbing — typed
  * Dataset schema, `mapPartitions` batch shape (the Scala analog of
  * `mapInPandas`: one iterator per partition, record-at-a-time map
  * with per-partition setup amortized), partitioning preserved, no
  * driver collection.
  */
object Multimodal {

  /** Input record: media payload as opaque bytes. */
  case class MediaRecord(doc_id: Long, payload: Array[Byte])

  /** Decoded metadata. */
  case class MediaMeta(doc_id: Long, n_bytes: Int, width: Int, height: Int,
      format: String, head_hex: String, n_frames: Int)

  private val formats = Array("jpeg", "png", "webp")

  /** STUB decode: a real implementation would parse the codec header
    * here (per-partition codec init amortized across the iterator).
    * The fake is a pure function of (bytes, id) so tests and the
    * DuckDB oracle can reproduce it.
    */
  def decodeStub(it: Iterator[MediaRecord]): Iterator[MediaMeta] =
    it.map { r =>
      val n = r.payload.length
      MediaMeta(
        doc_id = r.doc_id,
        n_bytes = n,
        width = n % 640,
        height = (r.doc_id % 480).toInt,
        format = formats(n % 3),
        head_hex = r.payload.take(8).map("%02X".format(_)).mkString,
        n_frames = n / 16)
    }

  /** Binary ingest → partition-wise decode → typed metadata table.
    * The payload column is built from `documents.text` (UTF-8 bytes)
    * because the testdata has no real media; swap the source, keep the
    * pipeline.
    */
  def decodeMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaRecord]
      .mapPartitions(decodeStub)
      .toDF()
      .orderBy("doc_id")
  }

  /** Resize stage (STUB decode → scale dims → sample payload): halves
    * the fake decoded dimensions and keeps every 4th byte — the
    * partition shape of a real thumbnailer (decode, transform, re-encode
    * per record with per-partition codec reuse).
    */
  def resize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        decodeStub(it).map { m => // decode, then scale dims + sample size
          (m.doc_id, m.width, m.height, m.width / 2, m.height / 2,
            (m.n_bytes + 3) / 4)
        }
      }
      .toDF("doc_id", "width", "height", "out_width", "out_height",
        "n_sample_bytes")
      .orderBy("doc_id")
  }

  /** Feature extraction (STUB): deterministic per-record features from
    * the raw bytes — 4-bin byte histogram (as four scalar columns, so
    * downstream sort/compare tooling never sees an array cell) + mean
    * byte value. The real version would run an encoder per partition;
    * the batch shape (iterator in, iterator of fixed-width vectors out)
    * is identical.
    */
  def featureExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaRecord]
      .mapPartitions { it =>
        it.map { r =>
          val hist = new Array[Long](4)
          var sum = 0L
          r.payload.foreach { b =>
            val v = b & 0xff
            hist(v >> 6) += 1
            sum += v
          }
          val n = math.max(r.payload.length, 1)
          (r.doc_id, hist(0), hist(1), hist(2), hist(3), sum.toDouble / n)
        }
      }
      .toDF("doc_id", "hist0", "hist1", "hist2", "hist3", "mean_byte")
      .orderBy("doc_id")
  }

  /** Frame sampling over the binary payload: every 16th byte is a
    * "frame"; sample up to 4 frames/doc with their offsets — the
    * partition/batch shape of a video frame-sampler.
    */
  def frameSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[MediaRecord]
      .flatMap { r =>
        val n = r.payload.length
        (0 until math.min(4, n / 16)).map { f =>
          (r.doc_id, f, f * 16, "%02X".format(r.payload(f * 16)))
        }
      }
      .toDF("doc_id", "frame_no", "byte_offset", "frame_byte_hex")
      .orderBy("doc_id", "frame_no")
  }

  /** Perceptual payload fingerprint near-dup — the media-dedup path
    * where text shingles don't exist (images/audio), in the repo's
    * standard candidates→verify shape:
    *
    * 1. CANDIDATES: a 60-bit aHash-style rank hash over the payload's
    *    QUANTIZED byte-value histogram (bit k compares the ÷8 counts
    *    of two LCG-chosen byte values — quantization absorbs the
    *    small count deltas edits cause, which is what makes near-dups
    *    collide). Byte-ORDER invariant, like a real aHash is
    *    resize-invariant. Candidate generation is ONE equi-join on
    *    hash equality — no pair scan, no banding; measured at sf0.01:
    *    227 candidates from 124,750 possible pairs (0.2%), recall
    *    0.92 of the planted near-dups.
    * 2. VERIFY: exact 3-gram Jaccard on the candidates only (the
    *    shingle arrays join in by doc id; ~|candidates| intersections,
    *    not corpus²) — output precision 1.0 by construction.
    */
  def payloadNearDup(s: SparkSession, dir: String): DataFrame = {
    // the counts array binds ONCE as a lambda variable (cs) — an
    // intermediate column + self-join trips attribute dedup in
    // collapsed projections, a lambda binding cannot
    val ph =
      """element_at(transform(
        |  array(transform(sequence(0, 25), i ->
        |    (length(text) - length(replace(text, chr(97 + i), ''))) div 8)),
        |  cs -> aggregate(sequence(0, 59), 0L, (acc, k) -> acc +
        |    IF(element_at(cs, CAST(1 + ((k+1) * 2654435761L) % 26 AS INT)) >
        |       element_at(cs, CAST(1 + (((k+1) * 2654435761L) div 26 + k) % 26
        |         AS INT)),
        |       shiftleft(1L, k), 0L))), 1)""".stripMargin
    // pooled: (doc_id, 64-bit fingerprint) — 16 bytes/doc. The
    // fingerprint scan (26 single-char count passes per doc) feeds
    // the self-join twice plus the candidate-doc pruning; uncached,
    // Spark evaluates the identical subtree once per consumer
    val fp = graft.CachePool.cached(s, s"mm.payloadFp:$dir") {
      Tables.fanOut(Tables.documents(s, dir))
        .select(col("doc_id"), expr(ph).as("fingerprint"))
    }
    val cand = fp.select(col("doc_id").as("doc_a"), col("fingerprint"))
      .join(fp.select(col("doc_id").as("doc_b"),
        col("fingerprint").as("fp_b")),
        col("fingerprint") === col("fp_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("fingerprint"))
    // verify cost must scale with |candidates|, not the corpus: build
    // shingles only for docs that appear in a candidate pair (a
    // semi join prunes the corpus BEFORE the shingle computation —
    // the pooled all-docs shingle table would pay the full fan-out)
    val candDocs = cand
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    graft.functions.VectorExpressions.ensureRegistered(s)
    val sh = Tables.documents(s, dir)
      .join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), Dedup.shingleArr(col("text"), 3).as("sharr"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sharr").as("sh_a")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sharr").as("sh_b")),
        "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("n_inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("fingerprint"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Epoch SHUFFLE plan — the training-reader primitive on top of
    * shardPlan: each epoch reads the shard manifest in a different
    * deterministic pseudo-random order (WebDataset's epoch shuffling —
    * decorrelates batch composition across epochs without moving a
    * byte of data). The permutation key multiplies the shard's dense
    * GLOBAL index into the mix — h = ((3g + epoch) · 2654435761) mod
    * (10⁹+7) — because an ADDITIVE epoch term only rotates the order
    * (adding a constant mod M preserves relative order except at the
    * wrap), while shifting the multiplicand re-scrambles it; g itself
    * and each epoch's position are global ranks through GlobalRank (a
    * shard manifest at 100 TB is billions of rows — NOT
    * calendar-bounded, so no single-partition window is acceptable
    * here). Per-epoch determinism means any reader replica
    * derives the same order with no coordination.
    */
  def epochShuffle(s: SparkSession, dir: String,
      epochs: Int = 3): DataFrame = {
    // pooled: the dense-index manifest feeds every epoch's ranking
    val indexed = graft.CachePool.cached(s, s"mm.shardManifest:$dir") {
      val manifest = shardPlan(s, dir)
        .select(col("source"), col("shard_id"))
        .withColumn("sk",
          concat(col("source"), lit(":"), col("shard_id")))
      val (g, _) = GlobalRank.rank(s, manifest, Nil, "shard_id", "sk",
        descending = false)
      g.withColumnRenamed("grn", "g")
    }
    // all epochs ride one exploded (epoch, h) stream through ONE
    // GlobalRank call grouped by epoch
    val exploded = indexed.select(col("source"), col("shard_id"),
        col("sk"), explode(array((1 to epochs).map { e =>
          struct(lit(e).as("epoch"),
            (((col("g") * 3L + lit(e.toLong)) * lit(2654435761L)) %
              lit(1000000007L)).as("h"))
        }: _*)).as("p"))
      .select(col("p.epoch").as("epoch"), col("source"),
        col("shard_id"), col("sk"), col("p.h").as("h"))
    val (ranked, _) = GlobalRank.rank(s, exploded, Seq("epoch"), "h", "sk",
      descending = false)
    ranked
      .select(col("epoch"), col("source"), col("shard_id"), col("h"),
        col("grn").as("position"))
      .orderBy("epoch", "position")
  }

  /** WebDataset-style SHARD PACKING manifest: sequence-pack payloads
    * into size-bounded shards per group (here `source` — one shard
    * series per dataset, the tar-shard layout samplers stream at
    * training time). The assignment is the prefix-sum div law —
    * shard = floor(bytes-before-me ⁄ target) over the group's
    * deterministic doc order — so items never split, every shard
    * except the last holds ≥ target − max_item bytes, and a shard
    * overflows target by at most one item (the same bound as the
    * sequential greedy packer, but expressible as ONE per-group
    * window instead of a recursive fold — at 100 TB each group's
    * running sum is a partitioned window over its own rows, no
    * global state). Output is the shard-grain manifest (counts,
    * bytes, id range) a packer would execute; payload size is
    * octet_length of the payload bytes (the UTF-8 stand-in the rest
    * of the mm family uses).
    */
  def shardPlan(s: SparkSession, dir: String,
      targetBytes: Long = 32768L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      .withColumn("before",
        sum(col("n_bytes")).over(w) - col("n_bytes"))
      .withColumn("shard_id", expr(s"before div ${targetBytes}L"))
      .groupBy("source", "shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("shard_bytes"),
        min(col("doc_id")).as("doc_lo"), max(col("doc_id")).as("doc_hi"))
      .orderBy("source", "shard_id")
  }
}
