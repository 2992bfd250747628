package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD

/** The loop over checkpointed DataFrame state: every fixed-round and
  * convergent iteration in the engine (connected components, the graph
  * rounds, BPE merges) runs through it, and it owns the three things
  * such a loop needs:
  *
  *  - the LINEAGE CUT: every round's state (and the initial one) is
  *    `localCheckpoint`ed, so round k's plan never replays rounds
  *    1..k-1 and plan depth stays flat;
  *  - the RELEASE: a superseded round's blocks are freed as soon as
  *    the next round is materialized. `Dataset.unpersist` cannot do
  *    that — it uncaches by plan, and a checkpoint's blocks belong to
  *    the `LogicalRDD`'s own RDD, so `release` unpersists that RDD;
  *  - CONVERGENCE read from an `Observation` on the round's own
  *    checkpoint, so the test costs no extra job, under a round CAP
  *    that fails the loop loudly instead of spinning forever.
  */
object Iterate {

  /** Observed count metrics of one round's state, by name. */
  type Counts = Map[String, Long]

  /** One round of a loop: its 1-based number, and the checkpoints of
    * intermediates the step reads more than once — freed with the
    * superseded state once the round's own state is materialized.
    */
  final class Round private[Iterate] (val n: Int) {
    private[Iterate] val intermediates =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    def checkpoint(df: DataFrame): DataFrame = {
      intermediates += df.localCheckpoint()
      intermediates.last
    }
  }

  /** `n` rounds of `step` from `init`; returns the last round's
    * checkpoint (the caller's to hold or `release`).
    */
  def rounds(init: DataFrame, n: Int)(
      step: (DataFrame, Round) => DataFrame): DataFrame =
    loop("", init, Nil, _ => n, None)(step)._1

  /** `step` from `init` until `done(previous, current)` holds on the
    * count `metrics` observed on consecutive rounds' checkpoints (the
    * initial state is observed too, so round 1 has a `previous`);
    * returns the converged checkpoint and the number of rounds run.
    * `cap` sizes the round budget from the initial counts; a loop that
    * has not converged after that many rounds throws, naming `op`.
    */
  def fixpoint(op: String, init: DataFrame, metrics: Seq[Column])(
      cap: Counts => Int)(done: (Counts, Counts) => Boolean)(
      step: (DataFrame, Round) => DataFrame): (DataFrame, Int) =
    loop(op, init, metrics, cap, Some(done))(step)

  /** Frees a checkpoint's blocks (see the object doc for why
    * `Dataset.unpersist` would not). Only for a frame returned by
    * `localCheckpoint` whose rows nothing will read again.
    */
  def release(checkpoint: DataFrame): Unit =
    checkpoint.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case p => throw new IllegalArgumentException(
        s"release needs a checkpoint, got a ${p.nodeName} plan")
    }

  private def loop(op: String, init: DataFrame, metrics: Seq[Column],
      cap: Counts => Int, done: Option[(Counts, Counts) => Boolean])(
      step: (DataFrame, Round) => DataFrame): (DataFrame, Int) = {
    var (state, seen) = observed(init, metrics)
    val maxRounds = cap(seen)
    var r = 0
    var converged = false
    while (!converged && r < maxRounds) {
      r += 1
      val round = new Round(r)
      val (next, now) = observed(step(state, round), metrics)
      (state +: round.intermediates).foreach(release)
      converged = done.exists(_(seen, now))
      state = next
      seen = now
    }
    if (done.isDefined && !converged)
      throw new IllegalStateException(
        s"$op did not converge: round $r reached the cap of $maxRounds")
    (state, r)
  }

  /** `df` checkpointed, with `metrics` observed on that same job. */
  private def observed(df: DataFrame, metrics: Seq[Column])
      : (DataFrame, Counts) =
    if (metrics.isEmpty) (df.localCheckpoint(), Map.empty)
    else {
      val obs = Observation()
      val c = df.observe(obs, metrics.head, metrics.tail: _*)
        .localCheckpoint()
      (c, obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] })
    }
}
