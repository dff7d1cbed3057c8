package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bradley–Terry preference-strength fitting — the batch model behind
  * reward-model dataset QA and pairwise human-preference (RLHF) data:
  * given comparisons "i beat j", estimate strengths γ so that
  * P(i beats j) = γ_i / (γ_i + γ_j). Beyond-reference.
  *
  * Fitted by the classic MM iteration (Hunter 2004, "MM algorithms for
  * generalized Bradley-Terry models", eq. 2):
  *
  *   γ'_i = W_i / Σ_{j≠i} n_ij / (γ_i + γ_j)
  *
  * with W_i = total wins of i, n_ij = comparisons between i and j —
  * then rescaled to mean 1 for identifiability.
  *
  * Distribution shape: comparisons aggregate ONCE to an (lo, hi, n, w_lo)
  * pair frame — the quadratic raw-comparison axis never survives past the
  * first aggregate. Each MM round is two broadcast-joins of the bounded
  * strength frame onto the pair frame plus one groupBy on the player key,
  * run on [[graft.ops.Iterate.rounds]] (no collect). At RLHF
  * scale (millions of prompts × pairs) both frames are data-sized and the
  * same plan holds with the broadcasts replaced by shuffle joins on the
  * player key.
  *
  * Cross-engine determinism (the oracle replays every round): per-pair MM
  * terms are pinned to 6 dp DECIMAL before the per-player sum (exact,
  * order-free), each division is a single IEEE op on pinned operands, and
  * each round's strengths re-pin to 6 dp — so round k's input is
  * bit-identical in both engines and the fixpoint drift of "sum of
  * doubles in shuffle order" never arises.
  */
object BradleyTerry {

  /** Pair frame from raw (winner, loser) comparisons: canonical (lo, hi)
    * key, total comparisons `n`, wins of the lo side `w_lo`.
    */
  def pairCounts(comparisons: DataFrame, winnerCol: String, loserCol: String): DataFrame = {
    val w = col(winnerCol); val l = col(loserCol)
    comparisons.select(
        least(w, l).as("lo"), greatest(w, l).as("hi"),
        when(w < l, 1L).otherwise(0L).as("lo_win"))
      .groupBy("lo", "hi")
      .agg(count(lit(1)).as("n"), sum("lo_win").as("w_lo"))
  }

  /** MM fit over a pair frame for `iters` rounds; returns
    * (player, wins, comparisons, strength) with strength pinned to 6 dp.
    */
  def fit(pairs: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "need at least one MM round")
    // each MM round joins the strength frame TWICE onto the pair frame, so
    // un-truncated lineage doubles per round (2^iters copies of the pair
    // plan — measured Java-heap death at 4 rounds over a 113k-pair frame).
    // The rounds run on graft.ops.Iterate.rounds, which checkpoints each
    // round's strengths and releases the round before, so every plan stays
    // one round deep.
    val p = pairs.localCheckpoint()
    val perPlayer = p.select(col("lo").as("player"), col("n"), col("w_lo").as("w"))
      .unionByName(p.select(col("hi").as("player"), col("n"), (col("n") - col("w_lo")).as("w")))
      .groupBy("player")
      .agg(sum("n").as("n_comp"), sum("w").as("wins"))
      .localCheckpoint()
    val init = perPlayer.select(col("player"),
      lit(BigDecimal(1.0)).cast("decimal(18,6)").as("g"))
    val g = try graft.ops.Iterate.rounds(init,
        org.slf4j.LoggerFactory.getLogger("graft.ml.BradleyTerry"), "bradley-terry", iters) { g =>
      val joined = p
        .join(g.select(col("player").as("lo"), col("g").as("g_lo")), Seq("lo"))
        .join(g.select(col("player").as("hi"), col("g").as("g_hi")), Seq("hi"))
      // the MM denominator term n_ij/(γ_i+γ_j) is symmetric in (i,j):
      // one pinned value feeds both players' sums
      val terms = joined.select(col("lo"), col("hi"),
        round(col("n").cast("double") / (col("g_lo") + col("g_hi")).cast("double"), 6)
          .cast("decimal(18,6)").as("term"))
      val denom = terms.select(col("lo").as("player"), col("term"))
        .unionByName(terms.select(col("hi").as("player"), col("term")))
        .groupBy("player").agg(sum("term").as("den"))
      val raw = perPlayer.join(denom, Seq("player"))
        .select(col("player"),
          round(col("wins").cast("double") / col("den").cast("double"), 6)
            .cast("decimal(18,6)").as("g_raw"))
      // rescale to mean 1: exact-decimal sum, one IEEE division for the
      // mean, one per player for the rescale — both re-pinned
      val meanRow = raw.agg(
        round(sum(col("g_raw")).cast("double") / count(lit(1)), 6).as("g_mean"))
      raw.crossJoin(broadcast(meanRow))
        .select(col("player"),
          round(col("g_raw").cast("double") / col("g_mean"), 6)
            .cast("decimal(18,6)").as("g"))
    } finally graft.ops.Iterate.release(p)
    perPlayer.join(g, Seq("player"))
      .select(col("player"), col("wins"), col("n_comp"), col("g").as("strength"))
  }

  /** The oracle's replay of [[fit]] as unrolled DuckDB CTEs. `pairsCte`
    * must yield (lo, hi, n, w_lo). Produces CTE text defining `bt_final`
    * (player, wins, n_comp, strength) — append to a WITH chain.
    */
  def oracleCtes(pairsCte: String, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(s"bt_pairs AS MATERIALIZED ($pairsCte),\n")
    sb.append(
      """bt_pp AS MATERIALIZED (SELECT player, CAST(sum(n) AS BIGINT) AS n_comp, CAST(sum(w) AS BIGINT) AS wins
        |  FROM (SELECT lo AS player, n, w_lo AS w FROM bt_pairs
        |        UNION ALL SELECT hi AS player, n, n - w_lo AS w FROM bt_pairs) u
        |  GROUP BY 1),
        |bt_g0 AS MATERIALIZED (SELECT player, CAST(1.0 AS DECIMAL(18,6)) AS g FROM bt_pp),
        |""".stripMargin)
    for (k <- 1 to iters) {
      val prev = s"bt_g${k - 1}"
      sb.append(
        s"""bt_t$k AS MATERIALIZED (SELECT p.lo, p.hi,
           |    CAST(round(CAST(p.n AS DOUBLE) / CAST(gl.g + gh.g AS DOUBLE), 6) AS DECIMAL(18,6)) AS term
           |  FROM bt_pairs p
           |  JOIN $prev gl ON gl.player = p.lo
           |  JOIN $prev gh ON gh.player = p.hi),
           |bt_d$k AS MATERIALIZED (SELECT player, sum(term) AS den
           |  FROM (SELECT lo AS player, term FROM bt_t$k
           |        UNION ALL SELECT hi AS player, term FROM bt_t$k) u
           |  GROUP BY 1),
           |bt_r$k AS MATERIALIZED (SELECT pp.player,
           |    CAST(round(CAST(pp.wins AS DOUBLE) / CAST(d.den AS DOUBLE), 6) AS DECIMAL(18,6)) AS g_raw
           |  FROM bt_pp pp JOIN bt_d$k d ON d.player = pp.player),
           |bt_m$k AS MATERIALIZED (SELECT round(CAST(sum(g_raw) AS DOUBLE) / count(*), 6) AS g_mean FROM bt_r$k),
           |bt_g$k AS MATERIALIZED (SELECT player,
           |    CAST(round(CAST(g_raw AS DOUBLE) / g_mean, 6) AS DECIMAL(18,6)) AS g
           |  FROM bt_r$k CROSS JOIN bt_m$k),
           |""".stripMargin)
    }
    sb.append(
      s"""bt_final AS (SELECT pp.player, pp.wins, pp.n_comp, g.g AS strength
         |  FROM bt_pp pp JOIN bt_g$iters g ON g.player = pp.player)""".stripMargin)
    sb.toString
  }
}
