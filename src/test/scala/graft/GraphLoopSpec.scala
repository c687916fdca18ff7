package graft

import org.apache.spark.sql.functions._
import graft.operators.GraphLoop

/** GraphLoop.iterate's contract: the round cap fails loudly, a
  * converging loop stops at its first converged round, and sizing
  * leaves the session's settings as it found them. */
class GraphLoopSpec extends SparkSpec {

  test("iterate throws at the round cap when the loop never converges") {
    import spark.implicits._
    var steps = 0
    val e = intercept[IllegalStateException] {
      GraphLoop.iterate("neverSettles", 3, until = Some(_ => false))(
          Seq(1L).toDF("x")) { (st, _) =>
        steps += 1
        st.select((col("x") + 1).as("x"))
      }
    }
    assert(steps == 3)
    assert(e.getMessage.contains("neverSettles") &&
      e.getMessage.contains("round 3") && e.getMessage.contains("cap of 3"),
      e.getMessage)
  }

  test("iterate stops at convergence, keeps history on request, restores sizing") {
    import spark.implicits._
    val conf = spark.conf
    val before = (conf.get("spark.sql.shuffle.partitions"),
      conf.get("spark.sql.adaptive.enabled"))
    val hist = GraphLoop.iterate("countsToTwo", 10,
        sizeBy = Some(spark -> 1L),
        until = Some(_.head.getLong(0) >= 2), history = true)(
        Seq(0L).toDF("x")) { (st, _) => st.select((col("x") + 1).as("x")) }
    assert(hist.map(_.head.getLong(0)) === Seq(0L, 1L, 2L))
    assert((conf.get("spark.sql.shuffle.partitions"),
      conf.get("spark.sql.adaptive.enabled")) === before)
    val fixed = GraphLoop.iterate("fixed", 4)(Seq(0L).toDF("x")) {
      (st, r) => st.select((col("x") + r).as("x"))
    }
    assert(fixed.map(_.head.getLong(0)) === Seq(10L))
  }
}
