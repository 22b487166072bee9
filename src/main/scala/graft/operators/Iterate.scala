package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The round loop behind every iterative operator: Graph's pageRank,
  * hits, hopDistance, kcore and label propagation, Dedup.clusterPairs
  * and Similarity.mmrTopK.
  *
  * Each round is exactly ONE eager [[Ckpt]] job, and the round's
  * scalar, if the loop needs one (dangling sum, L1 total, edge or
  * node count, changed rows), is an `observe` metric of that same
  * job — convergence and next-round constants cost no extra action
  * (Drizzle's point: pay per-round coordination once per round).
  * Every round truncates lineage, so plan depth stays constant in the
  * round count and there is no cadence to choose. Once round r is
  * materialized, round r-1's checkpoint is released: a loop holds at
  * most two round frames, and the round it returns is the only one
  * left registered ([[trace]] keeps every round, for a result that
  * reads them all). A step may read only the previous round and
  * frames the caller owns.
  */
private[graft] object Iterate {

  /** A round's frame and the scalar observed on the job that
    * materialized it. */
  final case class Round(df: DataFrame, metric: Long)

  /** Materializes `df` in one eager [[Ckpt]] job and reads `metric`, an
    * aggregate over its rows (NULL reads as 0), off that job. With no
    * metric nothing is observed and the round's metric is 0 — an
    * observation waits for the listener bus, so rounds that need no
    * scalar skip it. */
  def round(df: DataFrame, metric: Option[Column] = None): Round =
    metric.fold(Round(Ckpt(df), 0L)) { m =>
      val obs = Observation()
      val out = Ckpt(df.observe(obs, m.as("m")))
      Round(out, obs.get.get("m") match {
        case Some(v: Long) => v
        case _ => 0L
      })
    }

  /** Runs rounds 1 to `rounds` from `init` (a lazy frame with a known
    * metric, or a [[round]]): round i materializes `step(previous, i)`,
    * then releases the previous round, and the loop exits early once
    * `done(previous.metric, current.metric)` holds. */
  def apply(init: Round, rounds: Int, metric: Option[Column] = None,
            done: (Long, Long) => Boolean = (_, _) => false)
           (step: (Round, Int) => DataFrame): Round =
    loop(init, rounds, metric, done, release = true)(step).last

  /** [[apply]] for a result that reads EVERY round and no scalar:
    * returns the frames of rounds 1 to `rounds` and releases none. */
  def trace(init: DataFrame, rounds: Int)
           (step: (DataFrame, Int) => DataFrame): Seq[DataFrame] =
    loop(Round(init, 0L), rounds, None, (_, _) => false, release = false)(
      (prev, i) => step(prev.df, i)).tail.map(_.df)

  private def loop(init: Round, rounds: Int, metric: Option[Column],
                   done: (Long, Long) => Boolean, release: Boolean)
                  (step: (Round, Int) => DataFrame): Vector[Round] = {
    @tailrec def go(ran: Vector[Round], i: Int): Vector[Round] =
      if (i > rounds) ran
      else {
        val prev = ran.last
        val cur = round(step(prev, i), metric)
        if (release) Ckpt.release(prev.df)
        if (done(prev.metric, cur.metric)) ran :+ cur else go(ran :+ cur, i + 1)
      }
    go(Vector(init), 1)
  }
}
