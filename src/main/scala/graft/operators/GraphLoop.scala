package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one round loop behind graft's iterative graph operators
  * (components, PageRank, label propagation, BFS, Louvain, beam
  * search, the PageRank splice and the BPE/WordPiece trainers).
  *
  * [[iterate]] guarantees, for every loop that runs through it:
  *  - each round's state is pinned with `localCheckpoint`, so a
  *    round's plan never grows with the round count and no round
  *    re-derives an earlier one (the pin keeps blocks on executors
  *    without recompute lineage: losing an executor fails the job,
  *    the right trade for loops of minutes; switching to reliable
  *    `checkpoint()` is a change to [[pin]] alone);
  *  - the loop stops at its round cap. A fixed-round loop (no
  *    `until`) runs exactly `rounds` rounds. A loop with `until`
  *    stops at the first round whose pinned state satisfies it, and
  *    throws `IllegalStateException` naming the loop, the round and
  *    the cap when round `rounds` still does not;
  *  - with `sizeBy`, the initial state and every round run under
  *    shuffle sizing derived from the loop's materialized input (see
  *    [[withSizing]]); session settings are restored on every exit;
  *  - only the rounds a caller asks for stay referenced: `history`
  *    returns every round's state, otherwise only the last is kept,
  *    so earlier pins can be cleaned up as the loop runs.
  */
object GraphLoop {
  /** Target rows per reduce task in the tiny-loop regime: 500k rows
    * of (long, long) labels ≈ 10–20 MB a task owns comfortably. */
  private val RowsPerTask = 500000L

  private def pin(df: DataFrame): DataFrame = df.localCheckpoint()

  /** Runs `step` round by round from `init` (see the object doc).
    *
    * @param name    loop name, reported when the cap is hit
    * @param rounds  fixed round count, or the cap when `until` is set
    * @param sizeBy  session and materialized input rows to size by
    * @param until   convergence test on each round's pinned state
    * @param history keep every round's state (index 0 = `init`)
    * @param pinInit pin `init` too; off when it is a projection of
    *                frames the caller already pinned
    * @return every state when `history`, else the last one alone */
  def iterate(name: String, rounds: Int,
      sizeBy: Option[(SparkSession, Long)] = None,
      until: Option[DataFrame => Boolean] = None,
      history: Boolean = false, pinInit: Boolean = true)
      (init: => DataFrame)(step: (DataFrame, Int) => DataFrame)
      : Seq[DataFrame] = {
    def run(): Seq[DataFrame] = {
      var kept = Vector(if (pinInit) pin(init) else init)
      var r = 0
      var done = false
      while (!done && r < rounds) {
        r += 1
        val next = pin(step(kept.last, r))
        kept = if (history) kept :+ next else Vector(next)
        done = until.exists(_(next))
        if (!done && r == rounds && until.isDefined)
          throw new IllegalStateException(
            s"$name did not converge: round $r reached its cap of $rounds rounds")
      }
      kept
    }
    sizeBy match {
      case Some((s, rows)) => withSizing(s, rows)(run())
      case None => run()
    }
  }

  /** Shuffle sizing for a loop over `inputRows` materialized rows.
    * A converged graph loop's cost is per-round fixed overhead: with
    * AQE on, each round runs one Spark job per shuffle stage plus the
    * pin and any convergence count, tens of milliseconds each, on
    * label frames of a few thousand rows. So while the loop runs,
    * shuffle partitions = ceil(rows / RowsPerTask) clamped to the
    * session setting, and AQE is turned off only when that size is at
    * most a quarter of the session's, so each round runs as one job.
    * A cluster-scale input keeps the session's partitions and AQE.
    * Neither setting changes results. */
  private def withSizing[T](s: SparkSession, inputRows: Long)(body: => T): T = {
    val pKey = "spark.sql.shuffle.partitions"
    val aKey = "spark.sql.adaptive.enabled"
    val prevP = s.conf.get(pKey)
    val prevA = s.conf.get(aKey)
    val derived = math.max(1L, (inputRows + RowsPerTask - 1) / RowsPerTask)
    val parts = math.min(prevP.toLong, derived)
    val tiny = parts * 4 <= prevP.toLong
    if (!tiny) body
    else {
      s.conf.set(pKey, parts.toString)
      s.conf.set(aKey, "false")
      try body
      finally { s.conf.set(pKey, prevP); s.conf.set(aKey, prevA) }
    }
  }
}
