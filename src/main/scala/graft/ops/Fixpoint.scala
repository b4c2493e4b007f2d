package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The round policy every iterative DataFrame loop shares: how wide a
  * round's working set is frozen, and how long a convergence loop may
  * run.
  *
  * Width: AQE right-sizes ordinary shuffles, but a loop that eagerly
  * localCheckpoints each round freezes whatever partitioning the
  * round's plan produced — and a broadcast-probe round produces the
  * PARENT's width, so a shrinking working set keeps paying
  * width-proportional fixed costs (task scheduling, state, one
  * checkpoint block per partition) long after the data stopped needing
  * them. A measured round is therefore coalesced to one partition per
  * [[PartitionBytes]] of working set, floor 1, capped at the session's
  * shuffle width — the cluster-fleet ceiling, so at 100 TB the cap
  * binds and the width only drops once the working set genuinely
  * shrinks below fleet-width × 64 MiB. The same rule sizes the
  * streaming replays' sessions from source bytes.
  *
  * Rounds: a loop that iterates to convergence runs through [[until]],
  * which fails loudly at its cap instead of running without bound.
  * Loops whose round count is part of the query's definition (a fixed
  * number of PageRank iterations, a hop horizon) keep their constant
  * and only share the width policy. */
object Fixpoint {

  /** Working-set bytes per partition. */
  private val PartitionBytes: Long = 64L << 20

  /** Partitions for `bytes` of working set: ⌈bytes / [[PartitionBytes]]⌉,
    * floor 1, capped at the session's `spark.sql.shuffle.partitions`. */
  private[graft] def width(s: SparkSession, bytes: Long): Int = {
    val cap = s.conf.get("spark.sql.shuffle.partitions").toLong
    math.max(1L, math.min(cap,
      (bytes + PartitionBytes - 1) / PartitionBytes)).toInt
  }

  /** Freezes a round's frame at the planner's width (a round whose size
    * has not been measured yet); the eager checkpoint keeps the plan
    * from growing with the round count. */
  def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Freezes a round's frame of about `rows` rows of `rowBytes` bytes,
    * coalesced to the [[width]] that size warrants. An overestimate
    * only widens (coalesce never splits a partition). */
  def materialize(df: DataFrame, rows: Long, rowBytes: Long): DataFrame =
    materialize(df.coalesce(width(df.sparkSession, rows * rowBytes)))

  /** Runs `round` from `init` until it reports convergence; returns the
    * final state and the number of rounds run. A loop still changing
    * after `cap` rounds throws an `IllegalStateException` naming the
    * loop and the cap. */
  def until[A](name: String, cap: Int)(init: A)(
      round: A => (A, Boolean)): (A, Int) = {
    var state = init
    var rounds = 0
    var converged = false
    while (!converged) {
      if (rounds == cap)
        throw new IllegalStateException(
          s"$name did not converge within its cap of $cap rounds")
      val (next, done) = round(state)
      state = next
      converged = done
      rounds += 1
    }
    (state, rounds)
  }
}
