package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bucketed global rank: a dense row number over a data-proportional
  * total order with NO single-partition window (`Window.orderBy` with
  * no partition — the one shape that cannot finish at 100 TB).
  *
  * (1) Approx-quantile bounds of the sort value (≤ buckets−1 scalars
  * to the driver) define ORDERED buckets; `bkt` is a row-local,
  * monotone function of the value, so equal values never split across
  * buckets. (2) ONE per-(group, bucket) aggregate (≤ groups·buckets
  * rows) comes back to the driver and re-enters the plan as a literal
  * exclusive-prefix map. (3) ONE bucket-partitioned window finishes
  * locally: rank = prefix offset + local row_number.
  *
  * Bound quality affects only bucket BALANCE, never results: any
  * bounds that keep the bucketing monotone — one set shared by every
  * group, or fixed-width buckets — give bit-identical ranks. Driver
  * traffic is O(buckets), like kmeans' centroids. An in-plan offsets
  * join was A/B'd against the literal map: its two broadcast builds
  * cost more than the one tiny collect. The bucket count is
  * `spark.sql.shuffle.partitions`.
  */
object GlobalRank {

  /** `in` plus `bkt`, the ordered quantile bucket of `value` (bucket 0
    * holds the smallest values, or the largest when `descending`).
    * Costs one approxQuantile pass.
    */
  def bucketed(s: SparkSession, in: DataFrame, value: String,
      descending: Boolean): DataFrame = {
    val nBuckets = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val bounds = in.stat.approxQuantile(value,
      (1 until nBuckets).map(_.toDouble / nBuckets).toArray, 0.001)
      .distinct.sorted
    in.withColumn("bkt", bounds.foldLeft(lit(0)) { (acc, b) =>
      acc + when(if (descending) col(value) < lit(b)
        else col(value) > lit(b), 1).otherwise(0)
    })
  }

  /** Exclusive prefix literal maps over a frame with a `bkt` column:
    * ONE collect gathers the LONG-valued `aggs` per (`by`, bkt);
    * for each agg, every bucket maps to the `op`-fold from `zero` over
    * the strictly earlier buckets of its group. Returns the lookups at
    * each row's (`by`, bkt), one per agg (`zero` on empty input), and
    * the collected rows (by..., bkt, aggs...).
    */
  def prefixMaps(bucketed: DataFrame, by: Seq[String], aggs: Seq[Column],
      zero: Long)(op: (Long, Long) => Long): (Seq[Column], Array[Row]) = {
    val keyCols = by :+ "bkt"
    val k = by.size
    val rows = bucketed.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*).collect()
    def key(parts: Seq[Column]): Column =
      if (k == 0) parts.head
      else struct(parts.zip(keyCols).map { case (c, n) => c.as(n) }: _*)
    val groups = rows.groupBy(r => (0 until k).map(r.get)).values
      .map(_.sortBy(_.getInt(k))).toSeq
    val lookups = aggs.indices.map { i =>
      val entries = groups.flatMap { g =>
        g.zip(g.scanLeft(zero)((acc, r) => op(acc, r.getLong(k + 1 + i))))
          .flatMap { case (r, pre) =>
            Seq(key((0 to k).map(j => lit(r.get(j)))), lit(pre)) }
      }
      if (entries.isEmpty) lit(zero)
      else element_at(map(entries: _*), key(keyCols.map(col)))
    }
    (lookups, rows)
  }

  /** `in` plus `grn`: the dense 1-based row number within each `by`
    * group (empty `by`: one global order) in (`value`, `key`) order —
    * `value` descending when asked, `key` always ascending, so (value,
    * key) must be unique within a group. Also returns the row count per
    * group, keyed by the group's `by` values. Two driver round trips
    * whatever the number of groups: one approxQuantile shared by every
    * group, one per-(group, bucket) count collect.
    *
    * Precondition: `value` is non-null. A null lands in bucket 0 in
    * either direction — the wrong end of a descending order.
    */
  def rank(s: SparkSession, in: DataFrame, by: Seq[String], value: String,
      key: String, descending: Boolean): (DataFrame, Map[Seq[Any], Long]) = {
    val b = bucketed(s, in, value, descending)
    val (Seq(offset), rows) =
      prefixMaps(b, by, Seq(count(lit(1))), 0L)(_ + _)
    val w = Window.partitionBy((by :+ "bkt").map(col): _*)
      .orderBy(if (descending) col(value).desc else col(value), col(key))
    val counts = rows.groupBy(r => by.indices.map(r.get): Seq[Any])
      .map { case (g, rs) => g -> rs.map(_.getLong(by.size + 1)).sum }
    (b.withColumn("grn", offset + row_number().over(w)).drop("bkt"), counts)
  }
}
