package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** `GlobalRank.rank` equals `row_number() over (partition by <by>
  * order by value [desc], key)` — the single-window reference — on
  * inputs built to stress the bucketing: heavy ties, shared bounds
  * across groups, fewer distinct values than buckets, degenerate
  * sizes.
  */
class GlobalRankSpec extends SparkSpec {

  /** `n` rows (g, k, v): g = k mod `groups`, k unique, v from `value`. */
  private def gen(n: Long, groups: Int, value: Column): DataFrame =
    spark.range(n).select((col("id") % groups).cast("int").as("g"),
      col("id").as("k"))
      .withColumn("v", value)

  private val h = pmod(xxhash64(col("k")), lit(1000L))

  private def assertMatches(in: DataFrame, by: Seq[String]): Unit =
    for (desc <- Seq(false, true)) {
      val (got, counts) = GlobalRank.rank(spark, in, by, "v", "k", desc)
      val w = Window.partitionBy(by.map(col): _*)
        .orderBy(if (desc) col("v").desc else col("v"), col("k"))
      val want = in.withColumn("grn", row_number().over(w))
      assert(got.columns.toSeq == want.columns.toSeq)
      val (g, r) = (got.collect().toSet, want.collect().toSet)
      assert(g == r, s"desc=$desc by=$by: missing ${(r -- g).take(5)}, " +
        s"extra ${(g -- r).take(5)}")
      val wantCounts = in.groupBy(by.map(col): _*).count()
        .filter(col("count") > 0).collect()
        .map(row => (0 until by.size).map(row.get) -> row.getLong(by.size))
        .toMap
      assert(counts == wantCounts, s"desc=$desc by=$by")
    }

  test("one hot value (heavy ties) ranks like the single window, " +
    "globally and per group, in both directions") {
    val in = gen(3000, 3, when(col("k") % 4 =!= 0, lit(42L)).otherwise(h))
    assertMatches(in, Nil)
    assertMatches(in, Seq("g"))
  }

  test("double values: disjoint and overlapping group ranges share " +
    "one set of bounds without moving a rank") {
    val frac = h.cast("double") / 7.0
    assertMatches(gen(2000, 4, frac), Seq("g"))
    assertMatches(gen(2000, 4, frac + col("g") * 1000.0), Seq("g"))
    assertMatches(gen(2000, 4, -frac - col("g") * 1000.0), Seq("g"))
  }

  test("long values with fewer distinct values than buckets") {
    val in = gen(500, 2, pmod(col("k") * 7L, lit(2L)))
    assertMatches(in, Nil)
    assertMatches(in, Seq("g"))
  }

  test("a single row, an empty input and an empty group") {
    assertMatches(gen(1, 1, lit(5L)), Nil)
    assertMatches(gen(1, 1, lit(5L)), Seq("g"))
    assertMatches(gen(100, 2, h).filter(lit(false)), Nil)
    assertMatches(gen(100, 2, h).filter(lit(false)), Seq("g"))
    // group 1 emptied by the filter: no count, the others unaffected
    val in = gen(600, 3, h).filter(col("g") =!= 1)
    assertMatches(in, Seq("g"))
    assert(!GlobalRank.rank(spark, in, Seq("g"), "v", "k", false)._2
      .contains(Seq(1)))
  }

  test("three groups submit the same number of jobs as one group") {
    val sc = spark.sparkContext
    def jobsDuring(body: => Unit): Int = {
      val n = new AtomicInteger
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      BusDrain(sc)
      sc.addSparkListener(l)
      try { body; BusDrain(sc) } finally sc.removeSparkListener(l)
      n.get
    }
    def call(groups: Int): Int = {
      val in = gen(3000, groups, h).cache()
      in.count()
      try jobsDuring {
        GlobalRank.rank(spark, in, Seq("g"), "v", "k", false)._1.collect()
      } finally in.unpersist()
    }
    val (one, three) = (call(1), call(3))
    assert(one == three, s"1 group: $one jobs, 3 groups: $three jobs")
    info(s"$one jobs per call")
  }
}
