package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def values(df: DataFrame): Seq[Long] = df.as[Long].collect().toSeq.sorted

  // each round lowers every positive x by one and counts the x still positive
  private def countDown(df: DataFrame) =
    (df.select(greatest(col("x") - 1, lit(0L)).as("x")), Some(count(when(col("x") > 0, lit(1)))))

  test("the loop stops after the first quiet round and reports 0") {
    var rounds = 0
    val ((state, last), n) = executionsDuring(
      Fixpoint.iterate(Seq(3L, 1L, 2L).toDF("x"), maxIters = 10) { (df, round) =>
        rounds += 1
        assert(round === rounds)
        countDown(df)
      })
    assert(rounds === 3) // counts 2, 1, then 0
    assert(last === Some(0L))
    assert(values(state) === Seq(0L, 0L, 0L))
    // a round with a count is exactly one execution: its checkpoint
    assert(n.size === rounds)
  }

  test("the round limit ends a loop that still changes and reports the last count") {
    val (state, last) =
      Fixpoint.iterate(Seq(5L, 4L).toDF("x"), maxIters = 2)((df, _) => countDown(df))
    assert(last === Some(2L))
    assert(values(state) === Seq(2L, 3L))
  }

  test("a step with no count runs maxIters rounds and checkpoints at the cadence") {
    for ((every, settled) <- Seq(1 -> 7, 3 -> 2, 7 -> 1, 8 -> 0)) {
      var rounds = 0
      val ((state, last), n) = executionsDuring(
        Fixpoint.iterate(Seq(0L).toDF("x"), maxIters = 7, checkpointEvery = every) { (df, _) =>
          rounds += 1
          (df.select((col("x") + 1).as("x")), None)
        })
      assert(rounds === 7, s"every $every")
      assert(last === None)
      assert(n.size === settled, s"every $every")
      assert(values(state) === Seq(7L))
    }
  }

  test("a count may read a column that finish drops, in the round's one execution") {
    val df = Seq((1L, true), (2L, false), (3L, true)).toDF("x", "flag")
    val ((state, last), n) = executionsDuring(Fixpoint.iterate(df, maxIters = 1,
      finish = _.select("x"))((prev, _) => (prev, Some(count(when(col("flag"), lit(1)))))))
    assert(n.size === 1)
    assert(last === Some(2L))
    assert(state.columns.toSeq === Seq("x"))
    assert(values(state) === Seq(1L, 2L, 3L))
  }

  test("maxIters below 1 and checkpointEvery below 1 are refused") {
    val init = Seq(1L).toDF("x")
    for (bad <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](
        Fixpoint.iterate(init, maxIters = bad)((df, _) => (df, None)))
      assert(e.getMessage.contains(s"maxIters must be positive: $bad"))
    }
    val e = intercept[IllegalArgumentException](
      Fixpoint.iterate(init, maxIters = 1, checkpointEvery = 0)((df, _) => (df, None)))
    assert(e.getMessage.contains("checkpointEvery must be positive: 0"))
  }
}
