package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Final presentation ordering for ANSWER-SIZED results.
  *
  * A global `orderBy` plans a range exchange whose partition bounds come
  * from a SEPARATE sampling job over the child; `cardSort` plans the
  * same total order as `Repartition(1, shuffle = false)` + a
  * partition-local sort. What each mode actually saves (both A/B'd by
  * SortFloorProbe on this machine):
  *
  *  - MATERIALIZATION (collect, Verify's parquet dump, a real consumer):
  *    the sampling job + range exchange disappear — a 25-row aggregate
  *    collect drops from 4 jobs / 0.31 s to 2 jobs / 0.22 s.
  *  - `count()`-style consumption (the bench laps): Catalyst's
  *    EliminateSorts already removes an un-observed final sort AND its
  *    range exchange, so the pre-change laps never paid the sampling
  *    pass; there the saving is the `Coalesce 1` replacing the
  *    aggregate's final single-partition exchange (one fewer AQE stage
  *    materialization per query, measured 3 jobs → 2).
  *
  * Contract — callers guarantee BOTH:
  *  1. the OUTPUT is answer-sized: bounded by group-key domain / top-k /
  *     card geometry, NOT by corpus size. `coalesce(1)` serializes
  *     everything after the last exchange, which is exactly right for
  *     ≤ ~100 k presentation rows and exactly wrong for a doc-sized
  *     frame. Corpus-sized ordered outputs (doc dumps, shard writes)
  *     keep the global range sort — at 100 TB that parallel sort IS the
  *     correct plan, and [[graft.sources.Layout]] owns those paths.
  *  2. the PARTIAL STATE reaching the final stage is bounded too: an
  *     aggregate whose buffers carry the data itself (exact
  *     `percentile`, `collect_list`) merges EVERY group's corpus-sized
  *     buffer in the one coalesced task — [[Tracking.quantiles]] keeps
  *     the global orderBy for exactly this reason, while the sketch
  *     aggregates (percentile_approx, HLL) are safe.
  *
  * PlanSpec ("card finals sort locally") pins the plan shape for both
  * the plain-aggregate and the WindowGroupLimit-dependent call sites.
  */
object Present {
  def cardSort(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** Regime guard for forced-broadcast hints on DERIVED frames (the
    * joinAgg discipline, for frames where leaving the join declarative
    * doesn't work): Catalyst's size-only estimator prices an aggregate
    * at a fraction of its CHILD's size, so a vocabulary/offsets frame
    * derived from the corpus is estimated corpus-sized and would never
    * auto-broadcast — the hint encodes our cardinality knowledge. But an
    * UNGUARDED hint is a hard job failure past the 8 GB broadcast limit
    * when the frame grows with corpus geometry. This bounds the hint to
    * the regime where it is legal: callers pass their own byte estimate
    * (rows × conservative row width) and compare against the session's
    * `autoBroadcastJoinThreshold`, so `SET ...threshold=-1` disables the
    * forced hints exactly as it disables the planner's own broadcasts,
    * and past the threshold the caller degrades to a keyed shuffle join
    * (PlanSpec pins both regimes per call site).
    */
  def fitsBroadcast(spark: org.apache.spark.sql.SparkSession, estBytes: Long): Boolean = {
    val t = spark.sessionState.conf.autoBroadcastJoinThreshold
    t >= 0 && estBytes <= t
  }
}
