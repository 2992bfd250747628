package graft.operators

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.SparkSpec

/** The loop primitive's three contracts: a step that never converges
  * fails at the cap instead of spinning, superseded rounds really free
  * their blocks, and convergence observed on the round's own
  * checkpoint costs the CC loops fewer jobs per round.
  */
class IterateSpec extends SparkSpec {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(checkpoint: DataFrame): Int =
    checkpoint.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    BusDrain(sc)
    sc.addSparkListener(l)
    try { val out = body; BusDrain(sc); (out, n.get) }
    finally sc.removeSparkListener(l)
  }

  private def ints(n: Int): DataFrame = spark.range(n).toDF("x")

  test("a step that never converges fails at the cap, naming the " +
    "operator and the round") {
    val err = intercept[IllegalStateException] {
      Iterate.fixpoint("neverSettles", ints(10),
          Seq(count(lit(1)).as("rows")))(_ => 5)((_, _) => false) {
        (state, _) => state.select((col("x") + 1).as("x"))
      }
    }
    assert(err.getMessage.contains("neverSettles"), err.getMessage)
    assert(err.getMessage.contains("round 5"), err.getMessage)
    // a step that converges on the cap's last round is not a failure
    val (_, rounds) = Iterate.fixpoint("settlesLate", ints(10),
        Seq(max(col("x")).as("top")))(_ => 3)(
        (_, now) => now("top") == 12L) {
      (state, _) => state.select((col("x") + 1).as("x"))
    }
    assert(rounds == 3)
  }

  test("after 5 rounds only the returned round and the caller's own " +
    "cache stay persisted; Dataset.unpersist would have freed nothing") {
    val base = ints(200).withColumn("y", col("x") % 7).cache()
    base.count()
    // one round: a checkpointed intermediate (`cut`) read twice
    def step(cut: DataFrame => DataFrame)(state: DataFrame): DataFrame = {
      val joined = cut(state.join(base.select("x"), "x"))
      joined.join(joined.select(col("x"), col("y").as("y0")), "x")
        .select(col("x"), (col("y0") + col("x") % 3).as("y"))
    }
    val before = persistedIds
    val out = Iterate.rounds(base, 5)((st, r) => step(r.checkpoint)(st))
    val added = persistedIds -- before
    assert(added == Set(rddId(out)), s"left persisted: $added")
    assert(base.storageLevel != StorageLevel.NONE,
      "the caller's cache must survive the loop")
    assert(out.count() == 200)
    Iterate.release(out)
    assert(!persistedIds.contains(rddId(out)))

    // the hand-written pattern: Dataset.unpersist on each superseded
    // checkpoint uncaches by plan and leaves every round's blocks
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val start = persistedIds
    var state = base.localCheckpoint()
    for (_ <- 1 to 5) {
      val next = step { df =>
        val c = df.localCheckpoint(); held += c; c
      }(state).localCheckpoint()
      state.unpersist(blocking = true)
      held += state
      state = next
    }
    val leaked = persistedIds -- start
    assert(held.forall(df => leaked.contains(rddId(df))),
      s"expected every superseded checkpoint in $leaked")
    (held :+ state).foreach(Iterate.release)
    base.unpersist()
  }

  test("release refuses a frame that is not a checkpoint") {
    intercept[IllegalArgumentException](Iterate.release(ints(3)))
  }

  test("empty input converges in one round with zero counts") {
    val s = spark
    import s.implicits._
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val (prop, propRounds) = Dedup.ccPropagation(none)
    val (star, starRounds) = Dedup.ccStar(none)
    assert(prop.count() == 0 && star.count() == 0)
    assert(propRounds == 1 && starRounds == 1)
  }

  test("100-node chain: both CC loops keep their round counts and " +
    "submit fewer jobs per round than the hand-written loops did") {
    val s = spark
    import s.implicits._
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // listener counts of the hand-written loops on this chain (local[4]):
    // propagation 97 jobs over 7 rounds (two checkpoints plus a
    // change-count join per round), star 116 over 8 (two checkpoints,
    // a count and an except per round)
    val ((_, propRounds), propJobs) = jobsDuring(Dedup.ccPropagation(chain))
    val ((_, starRounds), starJobs) = jobsDuring(Dedup.ccStar(chain))
    assert(propRounds == 7 && starRounds == 8,
      s"rounds: propagation $propRounds, star $starRounds")
    assert(propJobs.toDouble / propRounds < 97.0 / 7,
      s"propagation: $propJobs jobs in $propRounds rounds")
    assert(starJobs.toDouble / starRounds < 116.0 / 8,
      s"star: $starJobs jobs in $starRounds rounds")
    info(s"propagation $propJobs jobs / $propRounds rounds, " +
      s"star $starJobs jobs / $starRounds rounds")
  }
}
