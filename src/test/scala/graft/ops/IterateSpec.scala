package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class IterateSpec extends SparkTestBase {
  private lazy val sp = spark
  import sp.implicits._

  test("fixpoint: one observed count per round, one log line per round, earlier rounds released") {
    val name = "graft.ops.IterateSpec"
    val log = org.slf4j.LoggerFactory.getLogger(name)
    val init = (0L until 50L).toDF("x")
    val halve = (s: DataFrame) => s.select(shiftright(col("x"), 1).as("x"))
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    // (run, rounds, log line pattern, last line's start, output)
    val cases = Seq[(() => DataFrame, Int, String, String, Seq[Long])](
      (() => Iterate.fixpoint(init, log, "halving", "nonzero" -> count_if(col("x") =!= 0), 10,
        "never")(halve) { m => counts += m; m == 0 },
        6, "halving round [1-6]: nonzero=\\d+, \\d+\\.\\ds", "halving round 6: nonzero=0, ",
        Seq.fill(50)(0L)),
      // never stops early although round 3 already reaches the fixpoint of x < 8
      (() => Iterate.rounds(init.where(col("x") < 8), log, "fixed", 4)(halve),
        4, "fixed round [1-4]: rows=8, \\d+\\.\\ds", "fixed round 4: rows=8, ", Seq.fill(8)(0L)))
    cases.foreach { case (run, n, line, last, expected) =>
      val ((out, held), lines) = logged(name)(rddsHeldAfter(run()))
      assert(lines.size == n && lines.forall(_.matches(line)), lines.mkString("\n"))
      assert(lines.exists(_.startsWith(last)))
      assert(held == checkpointRdds(out) && held.size == 1)
      assert(out.as[Long].collect().toSeq == expected)
    }
    // round r keeps x >> r != 0, i.e. the x >= 2^r of 0..49
    assert(counts.toSeq == Seq(48L, 46L, 42L, 34L, 18L, 0L))
    // the caller's frame is never released
    assert(init.count() == 50)
  }

  test("a state that joins itself every round keeps a size estimate within a long") {
    val log = org.slf4j.LoggerFactory.getLogger("graft.ops.IterateSpec")
    // a join's estimate is the product of its sides': uncapped, 12 rounds
    // would leave an estimate of thousands of digits
    val out = Iterate.rounds((0L until 50L).toDF("x"), log, "square", 12) { s =>
      s.join(s.select(col("x").as("y")), col("x") === col("y")).select(col("x"))
    }
    try {
      assert(out.queryExecution.optimizedPlan.stats.sizeInBytes <= Long.MaxValue)
      assert(out.count() == 50)
    } finally Iterate.release(out)
  }

  test("rounds: fewer than one round is refused") {
    val log = org.slf4j.LoggerFactory.getLogger("graft.ops.IterateSpec")
    val e = intercept[IllegalArgumentException] {
      Iterate.rounds((1L to 5L).toDF("x"), log, "none", 0)(identity)
    }
    assert(e.getMessage == "requirement failed: none needs at least one round: 0")
  }

  test("fixpoint: the failure message after maxRounds, with nothing left held") {
    val log = org.slf4j.LoggerFactory.getLogger("graft.ops.IterateSpec")
    val (e, held) = rddsHeldAfter(intercept[IllegalArgumentException] {
      Iterate.fixpoint((1L to 5L).toDF("x"), log, "stuck", "n" -> count(lit(1)), 3,
        "stuck after 3 rounds")(identity)(_ => false)
    })
    assert(e.getMessage == "requirement failed: stuck after 3 rounds")
    assert(held.isEmpty)
  }

  test("fixpoint: an exception in a later round releases the round before it") {
    val log = org.slf4j.LoggerFactory.getLogger("graft.ops.IterateSpec")
    val init = (1L to 5L).toDF("x")
    Seq[(DataFrame => DataFrame) => DataFrame](
      Iterate.fixpoint(init, log, "boom", "n" -> count(lit(1)), 5, "never")(_)(_ => false),
      Iterate.rounds(init, log, "boom", 5)(_)).foreach { iterate =>
      var round = 0
      val (e, held) = rddsHeldAfter(intercept[IllegalStateException] {
        iterate { s =>
          round += 1
          if (round == 3) throw new IllegalStateException("step failed in round 3")
          s.select((col("x") + 1).as("x"))
        }
      })
      assert(e.getMessage == "step failed in round 3")
      assert(held.isEmpty)
    }
    assert(init.count() == 5)
  }
}
