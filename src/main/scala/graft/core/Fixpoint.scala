package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The one round loop of the iterative operators (`Dedup.components`,
  * `Graph.bfs`, `Graph.labelPropagation`, `Graph.pageRankScaled`): it
  * decides for all of them when to truncate lineage, when to stop and how
  * many rounds to run at most. What reaching the limit means is the
  * caller's business: `components` throws, a BFS has its answer. */
object Fixpoint {

  /** Runs `step(state, round)` for rounds 1 to at most `maxIters` from
    * `init`. A step returns the next state and, optionally, its change
    * count: one aggregate over that state, e.g. `count(when(<changed>, 1))`.
    * A round with a count is checkpointed and the count observed in that
    * same execution, so the stop test starts no job; the loop ends after
    * the first round that counts 0. A round without one (fixed-round
    * algorithms) is checkpointed every `checkpointEvery` rounds. `finish`
    * shapes each round's state after its count is taken, so a count may
    * read a column the state drops. Returns the last state and the last
    * observed count. */
  def iterate(init: DataFrame, maxIters: Int, checkpointEvery: Int = 1,
              finish: DataFrame => DataFrame = identity)(
      step: (DataFrame, Int) => (DataFrame, Option[Column])): (DataFrame, Option[Long]) = {
    require(maxIters >= 1, s"maxIters must be positive: $maxIters")
    require(checkpointEvery >= 1, s"checkpointEvery must be positive: $checkpointEvery")
    var state = init
    var changed = Option.empty[Long]
    var round = 0
    while (round < maxIters && !changed.contains(0L)) {
      round += 1
      step(state, round) match {
        case (next, Some(count)) =>
          val obs = new Observation()
          state = finish(next.observe(obs, count)).localCheckpoint()
          changed = Some(obs.get.values.head.asInstanceOf[Long])
        case (next, None) =>
          state = finish(next)
          if (round % checkpointEvery == 0) state = state.localCheckpoint()
      }
    }
    (state, changed)
  }
}
