package graft.ops

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.graft.GraftSqlShim

/**
 * The round lifecycle of an iterative Dataset operator (connected
 * components, transitive closure, BFS, prefix doubling, BPE merges, rule
 * inference, fold-EM sweeps). The operator supplies only its algorithm: a
 * setup, a round that builds the next state and runs ONE action on it —
 * materializing the state and yielding the convergence value — and a
 * result. `run` owns the rest:
 *
 *  - Round tables go through [[Round.cache]]: planBarrier + persist. Not
 *    a bare persist: a round reads the previous round's table several
 *    times (min-label CC twice, the star rounds from several operators),
 *    so with persist alone the Catalyst plan re-nests the previous plan
 *    per round — exponential growth that OOMs the planner and AQE's
 *    explain-string builder long before the data is big. The barrier cuts
 *    only the plan (rows stay lazy, no external-Row round trip), and
 *    persist/unpersist keeps the release deterministic — unlike
 *    localCheckpoint, whose blocks outlive any release a caller can offer
 *    and are lost with their executor.
 *  - A round's tables are released only after the NEXT round's action has
 *    materialized their successor (earlier, the successor would recompute
 *    the whole lineage); [[Round.scratch]] tables after their own round,
 *    [[Round.hold]] tables at the end.
 *  - Jobs are labeled `name: setup`, `name: round i` and `name: result`;
 *    the caller's job description is restored afterwards.
 *  - Only the returned table's cache survives (the caller owns it). A
 *    loop given `capError` that hits `maxRounds` without converging
 *    releases its caches and then throws.
 */
object Fixpoint {

  /** The caches one phase (setup, a round or the result) creates. */
  final class Round private[Fixpoint] (val index: Int) {
    private[Fixpoint] val state, temp, held = ArrayBuffer.empty[DataFrame]
    // setup tables are not round-nested, so they skip the barrier (which
    // would also run their shuffle stages at once, one extra job)
    private def add(to: ArrayBuffer[DataFrame], df: DataFrame): DataFrame = {
      val c = (if (index < 0) df else GraftSqlShim.planBarrier(df)).persist()
      to += c
      c
    }
    /** This round's state; released after the next round's action. */
    def cache(df: DataFrame): DataFrame = add(state, df)
    /** An intermediate of this round only; released when the round ends. */
    def scratch(df: DataFrame): DataFrame = add(temp, df)
    /** A loop-wide input (setup only); released when the loop ends. */
    def hold(df: DataFrame): DataFrame = add(held, df)
  }

  /** Runs `setup`, then `round` until it reports convergence or
   *  `maxRounds` rounds ran, then `result`. `setup` and `round` return the
   *  state and whether the loop has converged. */
  def run[S, R](spark: SparkSession, name: String, maxRounds: Int,
                capError: Option[String] = None)
               (setup: Round => (S, Boolean))
               (round: (S, Round) => (S, Boolean))
               (result: (S, Round) => R): R = {
    val live = ArrayBuffer.empty[DataFrame]
    def release(dfs: Iterable[DataFrame]): Unit =
      dfs.foreach { df => df.unpersist(); live -= df }
    def phase[T](label: String, i: Int)(body: Round => T): (T, Round) = {
      val r = new Round(i)
      try (labeled(spark.sparkContext, s"$name: $label")(body(r)), r)
      finally { live ++= r.state ++ r.temp ++ r.held; release(r.temp) }
    }
    var out: Option[R] = None
    try {
      val ((s0, done0), r0) = phase("setup", -1)(setup)
      var (s, done, prev, i) = (s0, done0, r0.state.toSeq, 0)
      while (!done && i < maxRounds) {
        val ((next, conv), r) = phase(s"round $i", i)(round(s, _))
        release(prev)
        s = next; done = conv; prev = r.state.toSeq; i += 1
      }
      if (!done) capError.foreach(msg => throw new IllegalStateException(msg))
      out = Some(phase("result", i)(result(s, _))._1)
      out.get
    } finally release(live.filterNot(df => out.contains(df)).toSeq)
  }

  /** Row count of `df` counted over its rows, filling its cache if it
   *  has one: `Dataset.count()` plans an aggregate on top, one more job,
   *  and counting a persisted table through its plan runs the cache as an
   *  adaptive stage of its own, one more again; a cached table is counted
   *  off its cache's batches instead. */
  def count(df: DataFrame): Long = GraftSqlShim.cachedCount(df).getOrElse(
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd.count())

  /** Runs `body` with its jobs described as `desc`, then restores the
   *  caller's description (and with it any enclosing trace label). */
  def labeled[T](sc: SparkContext, desc: String)(body: => T): T = {
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(caller)
  }
}
