package graft.frontier

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One committed snapshot of crawl state, as read back from a store. */
final case class StoreSnapshot(id: Long, step: Int, now: Double,
    frontier: DataFrame, budgets: DataFrame, results: DataFrame,
    /** cumulative project → counter → value totals across all committed
      * steps ([[FrontierStore]] keeps them in its manifest) */
    counterTotals: Map[String, Map[String, Long]] = Map.empty,
    /** total frontier rows in this snapshot (from lineage metadata; -1 =
      * unknown). Crawl loops use it to size-gate the small-step broadcast
      * plan ([[graft.sched.Superstep.Config.smallStep]]) without a scan. */
    frontierRows: Long = -1L)

/**
 * The snapshot-store contract the crawl loops (batch [[graft.sched.Crawler]],
 * live [[graft.fetch.LiveCrawler]], streaming
 * [[graft.streaming.StreamingCrawl]]) program against — the Iceberg swap-in
 * seam (SURVEY §7.1): [[FrontierStore]] implements it on plain parquet with
 * Iceberg-style semantics; an `iceberg-spark-runtime`-backed implementation
 * drops in here and must pass the same `SnapshotStoreContract` ScalaTest
 * suite unchanged.
 *
 * Contract (enforced by the suite):
 *  - commits are ATOMIC and totally ordered: `writeIncremental` returns a
 *    monotonically increasing snapshot id; a reader observes either the
 *    previous snapshot or the new one, never a partial state — crash debris
 *    from an interrupted commit is invisible and must not block the next
 *    commit of the same id
 *  - `read` returns exactly the accumulated state: frontier rows upserted by
 *    (project, url_hash), results appended (append-only deltas), budgets
 *    replaced wholesale, counter totals folded across every committed step
 *  - a zero-upsert commit (scheduling lull) still commits and carries the
 *    frontier forward unchanged
 *  - `seenFilter` covers exactly the freshKeys of every committed snapshot
 *  - a store written in another format, or opened with another layout than
 *    it was written with, fails with a descriptive `IllegalStateException`
 *    instead of reading back wrong state
 *  - cost: a commit is O(touched state + step size), never O(frontier) —
 *    except on designated compaction snapshots, which re-base lineage and
 *    garbage-collect (the suite checks equivalence across that boundary, the
 *    bench prices it)
 */
trait SnapshotStore {
  /** Id of the latest committed snapshot; None before the first commit. */
  def currentId: Option[Long]

  /** Read back the latest committed snapshot; None before the first commit. */
  def read(spark: SparkSession): Option[StoreSnapshot]

  /** Distributed URL-seen probe covering every committed freshKeys set;
    * None before the first commit. */
  def seenFilter(spark: SparkSession): Option[SeenFilter]

  /**
   * Commit one superstep atomically. Returns the new snapshot id.
   *
   * @param upserts    full frontier rows to insert-or-replace, keyed by
   *                   (project, url_hash) — [[graft.sched.Superstep.frontierCols]]
   * @param freshKeys  (project, url_hash) subset of upserts that are NEW —
   *                   these enter the seen index
   * @param budgets    full politeness state (replaces the stored table)
   * @param newResults result rows to APPEND (the caller guarantees
   *                   first-writer-wins dedup — `StepResult.firstResults`)
   * @param counters   this step's per-project counter rows (folded into the
   *                   persisted cumulative totals)
   */
  def writeIncremental(spark: SparkSession, step: Int, now: Double,
      upserts: DataFrame, freshKeys: DataFrame,
      budgets: DataFrame, newResults: DataFrame, counters: DataFrame): Long
}
