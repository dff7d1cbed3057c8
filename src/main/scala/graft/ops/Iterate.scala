package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.slf4j.Logger

/** Shared round loop for iterative DataFrame algorithms: [[fixpoint]] runs
  * until a per-round count says they are done (connected components,
  * k-core); [[rounds]] runs a fixed number of rounds on the same loop
  * (PageRank, TrustRank, HITS, label propagation, Bradley–Terry).
  *
  * Each round:
  *   - builds the next state from the current one (`step`);
  *   - eagerly `localCheckpoint`s it, with the round's count taken by a
  *     `Dataset.observe` on that same job, so no separate count job runs;
  *     the checkpoint also truncates the lineage, without which every
  *     round's plan would embed all earlier rounds;
  *   - releases the previous round's checkpoint blocks once the new
  *     checkpoint exists (the caller's initial frame is never released,
  *     nor the frame returned);
  *   - logs one line: `<name> round N: <metric>=X, Ys`.
  *
  * After `maxRounds` rounds without `done`, `require` fails with
  * `failure`. On that or any other exception (from `step`, the checkpoint
  * job or `done`) the round's checkpoint is released before rethrowing,
  * so a failed run holds no blocks.
  */
object Iterate {

  /** @param init   starting state; read lazily by round 1, never released
    * @param metric name (for the log line) and aggregate over one round's
    *               output rows, observed on its checkpoint job
    * @param step   next state from the current one
    * @param done   whether the round with this count reached the fixpoint
    * @return the last round's checkpointed state
    */
  def fixpoint(init: DataFrame, log: Logger, name: String, metric: (String, Column),
      maxRounds: Int, failure: => String)(step: DataFrame => DataFrame)(
      done: Long => Boolean): DataFrame = {
    var state = init
    var round = 0
    var converged = false
    try {
      while (!converged && round < maxRounds) {
        val t0 = System.nanoTime()
        round += 1
        val (next, m) = checkpoint(step(state), metric._2)
        if (round > 1) release(state)
        state = next
        converged = done(m)
        log.info(f"$name round $round: ${metric._1}=$m, ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      require(converged, failure)
      state
    } catch {
      case e: Throwable =>
        if (state ne init) release(state)
        throw e
    }
  }

  /** Exactly `n` rounds of `step` on [[fixpoint]]'s loop, never stopping
    * early; each round logs `<name> round N: rows=X, Ys`.
    */
  def rounds(init: DataFrame, log: Logger, name: String, n: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    require(n >= 1, s"$name needs at least one round: $n")
    var round = 0
    fixpoint(init, log, name, "rows" -> count(lit(1)), n, "unreachable")(step) { _ =>
      round += 1
      round == n
    }
  }

  /** Eagerly `localCheckpoint`s `df` and returns it with `agg` over its
    * rows, taken by a `Dataset.observe` on the checkpoint job itself. The
    * checkpoint's size estimate is capped, so it cannot compound across
    * rounds.
    */
  def checkpoint(df: DataFrame, agg: Column): (DataFrame, Long) = {
    val obs = Observation()
    val out = df.observe(obs, agg.as("m")).localCheckpoint(true)
    (GraftSqlBridge.capStats(out), obs.get("m").asInstanceOf[Number].longValue)
  }

  /** Drops the blocks of a frame made by `localCheckpoint`; reading it
    * afterwards fails.
    */
  def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical.collectLeaves().foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = true)
      case _ =>
    }
}
