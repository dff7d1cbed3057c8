package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class IterateSpec extends SparkTestBase {
  private lazy val sp = spark
  import sp.implicits._

  /** Runs `body` with the messages `logger` writes at INFO collected. */
  private def logged[T](logger: String)(body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val lines = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val appender = new AbstractAppender(s"spec-$logger", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val config = ctx.getConfiguration
    val lc = new LoggerConfig(logger, org.apache.logging.log4j.Level.INFO, false)
    lc.addAppender(appender, org.apache.logging.log4j.Level.INFO, null)
    config.addLogger(logger, lc)
    ctx.updateLoggers()
    try {
      val out = body
      import scala.jdk.CollectionConverters._
      (out, lines.asScala.toSeq.sorted)
    } finally {
      config.removeLogger(logger)
      ctx.updateLoggers()
      appender.stop()
    }
  }

  test("fixpoint: one observed count per round, one log line per round, earlier rounds released") {
    val name = "graft.ops.IterateSpec"
    val log = org.slf4j.LoggerFactory.getLogger(name)
    val init = (0L until 50L).toDF("x")
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ((out, held), lines) = logged(name)(rddsHeldAfter {
      Iterate.fixpoint(init, log, "halving", "nonzero" -> count_if(col("x") =!= 0), 10, "never") {
        _.select(shiftright(col("x"), 1).as("x"))
      } { m => counts += m; m == 0 }
    })
    // round r keeps x >> r != 0, i.e. the x >= 2^r of 0..49
    assert(counts.toSeq == Seq(48L, 46L, 42L, 34L, 18L, 0L))
    assert(lines.size == 6 && lines.forall(_.matches("halving round [1-6]: nonzero=\\d+, \\d+\\.\\ds")),
      lines.mkString("\n"))
    assert(lines.exists(_.startsWith("halving round 6: nonzero=0, ")))
    assert(held == checkpointRdds(out) && held.size == 1)
    assert(out.as[Long].collect().toSeq == Seq.fill(50)(0L))
    // the caller's frame is never released
    assert(init.count() == 50)
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
    var round = 0
    val (e, held) = rddsHeldAfter(intercept[IllegalStateException] {
      Iterate.fixpoint(init, log, "boom", "n" -> count(lit(1)), 5, "never") { s =>
        round += 1
        if (round == 2) throw new IllegalStateException("step failed in round 2")
        s.select((col("x") + 1).as("x"))
      }(_ => false)
    })
    assert(e.getMessage == "step failed in round 2")
    assert(held.isEmpty)
    assert(init.count() == 5)
  }
}
