package graft.operators

import org.apache.spark.sql.DataFrame

/** Eager materialization with a durability posture picked by the session —
  * the one way the engine cuts logical lineage (VERDICT r10 #2).
  *
  * Iterative loops and multiply-consumed shuffle results must truncate
  * their upstream plan (nested-IMR re-canonicalization costs seconds of
  * driver planning per action) and pin their data (exchange reuse does not
  * fire across actions, and some lambda-bearing plans — zip_with closures,
  * notably — defeat exchange canonicalization even within one). But HOW the
  * cut persists decides whether a 100 TB run survives losing an executor:
  *
  *   - `checkpoint(eager = true)` writes replicated blocks to the
  *     SparkContext's checkpoint directory — an executor loss recomputes
  *     nothing and aborts nothing. This is the multi-node posture, chosen
  *     whenever `sc.setCheckpointDir` has been called (a cluster job sets
  *     it to durable storage as a matter of course).
  *   - `localCheckpoint(eager = true)` stores unreplicated executor-local
  *     blocks — zero I/O round-trip, but a lost executor kills every job
  *     that needs its blocks. Acceptable only where executors do not fail:
  *     the single-JVM test harness, which sets no checkpoint dir.
  *
  * Callers state WHAT must be materialized; this helper owns the posture.
  * MaterializeSpec exercises both paths against identical results.
  */
object Materialize {

  /** Cut `df`'s lineage and eagerly materialize it: reliable `checkpoint`
    * when the SparkContext has a checkpoint dir configured, else
    * `localCheckpoint`. Returns the lineage-free frame.
    *
    * CAUTION (measured, round 13): the cut truncates the PLAN but
    * PRESERVES the origin's computed size-only statistics (LogicalRDD
    * keeps them), and inner-join stats MULTIPLY — so an iterative loop
    * whose per-round lineage INNER-joins two frames descending from the
    * same state cut makes sizeInBytes SQUARE per round: the BigInt digit
    * count doubles, and by round ~25 every planning pass grinds through
    * million-digit multiplication. Left/outer joins aggregate side sizes
    * instead of multiplying and grow linearly (the connected-components
    * shape). Reference the growing state at most once per round inside
    * the next state's lineage, or cut with [[cutFresh]] when a round must
    * reference it twice. A state-vs-state comparison (e.g. a convergence
    * residual) needs no second query: carry the previous value as a column
    * of the state and observe the comparison on the cut's own action —
    * see [[Graph.pageRankConverged]].
    */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** [[cut]] plus a STATS RESET: the materialized rows are re-leafed into a
    * fresh LogicalRDD with no origin statistics (default sizeInBytes), so
    * the returned frame's stats carry NOTHING of the origin plan's.
    *
    * Measured necessity (round 15): the CAUTION above understates the
    * danger — under the size-only stats visitor JOIN stats multiply for
    * every join type except semi/anti, LEFT joins included. An iterative
    * loop whose round references the growing state TWICE (pageRankConverged
    * r15: once through the contribution step, once to carry `old_r` for the
    * observed residual) therefore squares sizeInBytes per round no matter
    * the join type — digit count doubles per round, and by round ~20 every
    * planning pass grinds through million-digit BigInt multiplication
    * (reproduced live: g09 hung for 25+ minutes mid-loop). The reset
    * bounds every round's stats at a constant, whatever the round shape.
    *
    * Cost of losing real stats: none inside such loops — the loop's
    * broadcast sides are explicit hints, shuffle-side decisions re-plan at
    * runtime under AQE, and the conservative default (huge) can only make
    * the planner avoid auto-broadcasting the state, which is what a
    * growing state wants anyway. Prefer [[cut]] when the state is
    * referenced once per round (linear digit growth, and real stats keep
    * auto-broadcast available).
    */
  def cutFresh(df: DataFrame): DataFrame = {
    val c = cut(df)
    org.apache.spark.sql.graftx.Bridge.fromInternalRows(
      df.sparkSession, c.queryExecution.toRdd, c.schema)
  }
}
