package graft.sched

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.frontier.{FrontierStore, SnapshotStore, StoreSnapshot}
import graft.model.TaskStatus

/**
 * The crawl bookkeeping of the three crawl loops, written once — the
 * reference's one frontier loop (`scheduler.py` run_once: select, dispatch,
 * fold status packs, finish projects). The driver owns bootstrap/resume,
 * the remaining-ACTIVE termination count, the small-step broadcast gate,
 * the superstep with lazy counters, the commit (a store snapshot, or the
 * fused carry checkpoint without a store), the counter fold and the release
 * of the previous step's checkpointed RDDs. Each loop keeps only its own
 * part: [[Crawler.run]] prepares a pages table once,
 * [[graft.fetch.LiveCrawler]] selects, fetches and hands in the
 * preselected slice, [[graft.streaming.StreamingCrawl]] merges each
 * micro-batch's seeds.
 *
 * Time is virtual: step k runs at now0 + k * tick, so a resumed crawl
 * continues the exact deterministic schedule (SURVEY §3.2).
 *
 * @param seeds      bootstrap tasks: committed as snapshot 1 of an empty
 *                   store (so the seen index covers them and a killed run
 *                   resumes from committed state), or checkpointed as the
 *                   first frontier without a store
 * @param terminates the loop stops once no ACTIVE task of a RUNNING project
 *                   is left. One scan at open counts them; later steps
 *                   track the count from the counter rows, never a scan. A
 *                   loop that never terminates (streaming) gets no
 *                   bootstrap, no scan and no per-step history.
 */
private[graft] final class StepDriver(spark: SparkSession, projects: DataFrame,
    store: Option[SnapshotStore], now0: Double, tick: Double,
    seeds: Seq[(String, String)], terminates: Boolean) {
  import StepDriver._

  private var stepNo = 0
  private var frontierDf: DataFrame = _
  private var budgetsDf: DataFrame = _
  private var results: DataFrame = _
  /** committed frontier rows (store lineage; -1 = unknown turns the small
    * plan off) or, without a store, seeds + cumulative fresh */
  private var frontierRows = 0L
  /** cumulative per-project counter totals, including resumed ones
    * (counter reload: counter.py:416-434 + scheduler.py:135-137) */
  private val totals = scala.collection.mutable.Map.empty[String, Map[String, Long]]
  private val activeByProject =
    scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var activeRemaining = 0L
  private var totalScheduled = 0L
  private var totalFresh = 0L
  private val finished = Seq.newBuilder[String]
  private val countersPerStep = Seq.newBuilder[DataFrame]
  private val stepSecs = Seq.newBuilder[Double]

  private def load(s: StoreSnapshot): Unit = {
    frontierDf = s.frontier; budgetsDf = s.budgets; results = s.results
    frontierRows = if (s.frontierRows >= 0) s.frontierRows else Long.MaxValue / 2
  }

  if (terminates) store.filter(_.currentId.isEmpty).foreach { s =>
    val sf = Crawler.seedFrontier(spark, seeds, now0)
    s.writeIncremental(spark, 0, now0, sf, sf.select("project", "url_hash"),
      Crawler.emptyBudgets(spark), Crawler.emptyResults(spark), Crawler.emptyCounters(spark))
  }
  store.flatMap(_.read(spark)) match {
    case Some(s) =>
      stepNo = s.step
      totals ++= s.counterTotals
      load(s)
    case None =>
      val sf = Crawler.seedFrontier(spark, seeds, now0)
      frontierDf = if (store.isEmpty) sf.localCheckpoint() else sf
      budgetsDf = Crawler.emptyBudgets(spark)
      results = Crawler.emptyResults(spark)
      frontierRows = seeds.size.toLong
  }

  if (terminates) {
    // ACTIVE tasks of a STOP/FINISHED project are parked (the lifecycle gate
    // never selects them): counting them would burn empty supersteps, and
    // a resumed drained store must not run a single one
    val running = Superstep.runningProjects(projects).select("name").collect()
      .map(_.getString(0)).toSet
    frontierDf.where(col("status") === TaskStatus.Active)
      .groupBy("project").count().collect()
      .foreach(r => activeByProject(r.getString(0)) = r.getLong(1))
    activeRemaining = activeByProject.collect { case (p, n) if running(p) => n }.sum
  }

  /** RDD ids of the frames the last step checkpointed, released one step
    * late: step k's checkpoints feed step k+1. Only ids of frames the loop
    * itself checkpointed are tracked (ADVICE r05: a context-wide diff of
    * persistent RDDs would unpersist a concurrent workload's cache). */
  private var prevCheckpoints: Set[Int] = ckRddId(frontierDf).toSet
  private var lastMark = System.nanoTime()

  def frontier: DataFrame = frontierDf
  def budgets: DataFrame = budgetsDf
  def steps: Int = stepNo
  def nextNow: Double = now0 + (stepNo + 1) * tick
  /** "nothing dispatched this tick" is not emptiness: retry backoff and
    * sub-token politeness refills schedule 0 while ACTIVE tasks remain */
  def done: Boolean = terminates && activeRemaining == 0

  /**
   * Run, commit and fold one superstep at [[nextNow]].
   *
   * @param preselected the live loop's [[Superstep.selectReady]] slice
   * @param seedMerge   a streaming micro-batch's seed merge (store mode)
   * @param checkpoints frames the loop checkpointed for this step
   */
  def step(pagesIdx: DataFrame, robots: DataFrame, cfg: Superstep.Config,
      preselected: Option[DataFrame] = None, seedMerge: Option[SeedMerge] = None,
      checkpoints: Seq[DataFrame] = Nil): Unit = {
    val now = nextNow
    // upper bound on the rows a broadcast-hinted build side can hold:
    // frontier rows plus budget rows (only hosts that consumed get one)
    val stateRows = frontierRows + totals.values.map(_.getOrElse("scheduled", 0L)).sum
    val r = Superstep.run(spark, seedMerge.fold(frontierDf)(_.frontier), budgetsDf,
      pagesIdx, robots, projects, now,
      cfg.copy(collectCounters = false, smallStep = stateRows < SmallStepRows),
      store.flatMap(_.seenFilter(spark)), seedMerge.map(_.seen), preselected)
    stepNo += 1
    // r.firstResults is the first-writer-wins delta (REPLACE INTO,
    // resultdb.py:52-66): O(step), never an anti-join against history
    val counterRows: Seq[Row] = store match {
      case Some(s) =>
        // the superstep's upserts win over a seed upsert of the same task
        val upserts = seedMerge.fold(r.upserts)(m => r.upserts.unionByName(m.upserts.join(
          r.upserts.select("project", "url_hash"), Seq("project", "url_hash"), "left_anti")))
        val freshKeys = seedMerge.fold(r.freshKeys)(m => r.freshKeys.unionByName(m.freshKeys))
        s.writeIncremental(spark, stepNo, now, upserts, freshKeys, r.budgets,
          r.firstResults, r.counters)
        val snap = s.read(spark).get
        load(snap)
        counterDeltas(snap.counterTotals, r.counters.schema)
      case None =>
        // one materialization job for the carry frames and the counters
        val (f, b, res, rows, _) = Crawler.checkpointCarryFused(r.frontier, r.budgets,
          results.unionByName(r.firstResults), Some(r.counters), None)
        frontierDf = f; budgetsDf = b; results = res
        rows
    }
    counterRows.foreach(fold)
    r.unpersistAll()
    val sc = spark.sparkContext
    prevCheckpoints.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    // a store-mode frontier is a parquet view: no RDD to track
    prevCheckpoints = (checkpoints :+ frontierDf).flatMap(ckRddId).toSet
    if (terminates) {
      countersPerStep += spark.createDataFrame(java.util.Arrays.asList(counterRows: _*),
        r.counters.schema).withColumn("step", lit(stepNo))
      stepSecs += (System.nanoTime() - lastMark) / 1e9
    }
    lastMark = System.nanoTime()
  }

  /** This step's per-project counter rows: the committed manifest totals
    * minus the running ones. The commit collected the lazy counters
    * alongside its write jobs, so no separate counters action runs. */
  private def counterDeltas(after: Map[String, Map[String, Long]],
      schema: StructType): Seq[Row] =
    after.toSeq.sortBy(_._1).flatMap { case (p, a) =>
      val before = totals.getOrElse(p, Map.empty[String, Long])
      val vals = schema.fieldNames.map {
        case "project" => p: Any
        case n => (a.getOrElse(n, 0L) - before.getOrElse(n, 0L)): Any
      }
      if (vals.exists { case l: Long => l != 0L; case _ => false })
        Some(new GenericRowWithSchema(vals, schema))
      else None
    }

  /** Fold one project's counter row: totals, and for a terminating loop the
    * ACTIVE count (fresh inserts are ACTIVE; SUCCESS/FAILED leave it). A
    * project whose ACTIVE set drains to zero is FINISHED (on_finished,
    * scheduler.py:348-374). */
  private def fold(row: Row): Unit = {
    def n(c: String) = row.getAs[Long](c)
    val p = row.getAs[String]("project")
    totals(p) = FrontierStore.foldCounterRowOne(totals.getOrElse(p, Map.empty), row)
    totalScheduled += n("scheduled")
    totalFresh += n("new_tasks")
    if (store.isEmpty) frontierRows += n("new_tasks")
    if (terminates) {
      val before = activeByProject(p)
      val after = before + n("new_tasks") - n("done_success") - n("failed_now")
      activeByProject(p) = after
      activeRemaining += after - before
      if (before > 0 && after == 0) finished += p
    }
  }

  def result(robotsFetches: Long = 0L): Crawler.CrawlRun =
    Crawler.CrawlRun(stepNo, totalScheduled, totalFresh, frontierDf, results,
      countersPerStep.result(), finished.result(), totals.toMap, stepSecs.result(),
      robotsFetches)
}

private[graft] object StepDriver {
  /** The small-step broadcast gate: while a step's state stays under this
    * many rows (a few MB), its state-bounded build sides are broadcast at
    * plan time ([[Superstep.Config.smallStep]]), and so is the store
    * commit's copy-on-write anti-join key side. A crawl that outgrows it
    * switches itself back to shuffle plans. */
  val SmallStepRows = 100000L

  /** A streaming micro-batch's on_request seed merge: the frontier with the
    * batch merged in, the merged seed rows and the keys among them that are
    * new (both committed with the step), and the batch's keys, which the
    * superstep treats as seen on top of the snapshot's seen index. */
  final case class SeedMerge(frontier: DataFrame, upserts: DataFrame,
      freshKeys: DataFrame, seen: DataFrame)

  private def ckRddId(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }
}
