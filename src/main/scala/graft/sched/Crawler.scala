package graft.sched

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.frontier.SnapshotStore
import graft.model.TaskStatus

/**
 * Batch crawl loop: seeds -> frontier generations -> checkpointed
 * snapshots over a pages table prepared once, resumable (SURVEY §3.2 resume
 * contract: state = frontier table + politeness tokens, both persisted).
 * The per-step bookkeeping shared with the live and streaming loops lives
 * in [[StepDriver]]; this object also holds the seed-frontier and
 * fused-carry helpers every loop uses.
 */
object Crawler {

  final case class CrawlConfig(
      step: Superstep.Config = Superstep.Config(),
      /** deterministic virtual clock: now = now0 + step*tick */
      now0: Double = 1700000000.0,
      tick: Double = 1.0,
      maxSteps: Int = 10)

  /** The robots gate join is broadcast only while the robots table stays
    * under this host count; beyond it (web scale: one row per host) it
    * falls back to a shuffle join keyed by host. */
  private[graft] val BroadcastRobotsMaxHosts = 100000L

  /** `cfg` with the robots broadcast size-gated, decided ONCE per crawl
    * over the persisted robots side (one cheap count): at web scale (one
    * row per host) an unconditional broadcast would OOM the driver and
    * executors. The batch and streaming loops call it after
    * [[Superstep.preparePages]]. */
  private[graft] def gateRobotsBroadcast(cfg: Superstep.Config,
      robots: DataFrame): Superstep.Config =
    cfg.copy(broadcastRobots =
      cfg.broadcastRobots && robots.count() <= BroadcastRobotsMaxHosts)

  final case class CrawlRun(
      steps: Int,
      totalScheduled: Long,
      totalFresh: Long,
      frontier: DataFrame,
      results: DataFrame,
      countersPerStep: Seq[DataFrame],
      /** projects whose ACTIVE set drained to zero during this run, in the
        * order they finished (scheduler.py:348-374 on_finished; the
        * FAIL_PAUSE_NUM debounce is an async-queue artifact — the superstep
        * sees per-project emptiness exactly) */
      finishedProjects: Seq[String] = Nil,
      /** cumulative per-project counter totals INCLUDING prior runs resumed
        * from a store snapshot (reference counter reload: counter.py:416-434
        * + scheduler.py:135-137) */
      counterTotals: Map[String, Map[String, Long]] = Map.empty,
      /** wall seconds per superstep of THIS run (bench attribution) */
      stepSeconds: Seq[Double] = Nil,
      /** robots.txt GETs actually issued (cache misses) by a live crawl */
      robotsFetches: Long = 0L)

  val resultSchema: StructType = StructType(Seq(
    StructField("project", StringType), StructField("url_hash", LongType),
    StructField("url", StringType), StructField("type", StringType),
    StructField("data", MapType(StringType, StringType)),
    StructField("seed_url", StringType), StructField("updatetime", DoubleType)))

  /** Build the seed frontier from (project, url) pairs. */
  def seedFrontier(spark: SparkSession, seeds: Seq[(String, String)], now: Double): DataFrame = {
    import spark.implicits._
    seedFrontierDf(spark, seeds.toDF("project", "raw_url"), now)
  }

  /** DataFrame-native seed construction: (project, raw_url) rows -> frontier
    * rows. The streaming path feeds micro-batches through this directly —
    * seeds never collect to the driver. */
  def seedFrontierDf(spark: SparkSession, seeds: DataFrame, now: Double): DataFrame = {
    import spark.implicits._
    seeds
      .withColumn("url", expr("canonicalize_url(raw_url)"))
      .withColumn("url_hash", xxhash64($"url"))
      .withColumn("host", expr("url_host(url)"))
      .select($"project", $"url_hash", $"url", $"host",
        lit(TaskStatus.Active).as("status"), lit(0).as("priority"),
        lit(0.0).as("exetime"), lit(3).as("retries"), lit(0).as("retried"),
        lit(-1.0).as("age"), lit(null).cast("string").as("itag"),
        lit(true).as("force_update"), lit(false).as("auto_recrawl"),
        lit(false).as("cancel"), $"url".as("seed_url"), lit("link").as("method"),
        lit("").as("data"), lit(0.0).as("lastcrawltime"),
        RuntimeConst.stepConst(now).as("updatetime"),
        lit(null).cast("string").as("etag"), lit(null).cast("string").as("last_modified"),
        lit(false).as("crawled_ok"))
      // in-config dedup of seed lists
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"project", $"url_hash").orderBy($"url".asc)))
      .where($"rn" === 1).drop("rn")
  }

  /** The tagged-union plan the fused carry materializes: one leg per frame,
    * tagged 0 frontier, 1 budgets, 2 results, 3 counters, 4 packed, 5 fresh
    * keys. Each leg fills the frontier columns it has and the four extra
    * slots it uses; every other slot is a typed null. */
  private def carryUnion(frontier: DataFrame, budgets: DataFrame,
      results: DataFrame, counters: Option[DataFrame], packed: Option[DataFrame],
      freshKeys: Option[DataFrame]): DataFrame = {
    val fSchema = graft.frontier.FrontierStore.frontierSchema
    val extras = Seq("b_tokens" -> "double", "b_last_update" -> "double",
      "r_type" -> "string", "r_data" -> "map<string,string>")
    def leg(df: DataFrame, tag: Int, cols: PartialFunction[String, Column],
        extra: Map[String, Column] = Map.empty): DataFrame =
      df.select((lit(tag).as("tag") +: Superstep.frontierCols.map(n =>
        cols.applyOrElse(n, (_: String) => lit(null).cast(fSchema(n).dataType)).as(n))) ++
        extras.map { case (n, t) => extra.getOrElse(n, lit(null).cast(t)).as(n) }: _*)
    def keep(names: String*): PartialFunction[String, Column] = {
      case n if names.contains(n) => col(n)
    }
    val fPart = leg(frontier, 0, { case n => col(n) })
    val bPart = leg(budgets, 1, keep("project", "host"),
      Map("b_tokens" -> col("tokens"), "b_last_update" -> col("last_update")))
    val rPart = leg(results, 2, keep("project", "url_hash", "url", "seed_url", "updatetime"),
      Map("r_type" -> col("type"), "r_data" -> col("data")))
    val cPart = counters.map { cdf =>
      val byName = map(cdf.schema.fieldNames.filter(_ != "project").toSeq.flatMap(n =>
        Seq(lit(n), coalesce(col(n).cast("string"), lit("0")))): _*)
      leg(cdf, 3, keep("project"), Map("r_data" -> byName.cast("map<string,string>")))
    }
    val pPart = packed.map(leg(_, 4,
      keep("url", "status", "retried", "exetime").orElse { case "priority" => col("step") }))
    val kPart = freshKeys.map(leg(_, 5, keep("project", "url_hash")))
    (Seq(fPart, bPart, rPart) ++ cPart ++ pPart ++ kPart).reduce(_ unionByName _)
  }

  /** A step's frames as [[checkpointCarryFused]] splits them back out of
    * its one checkpoint, each conformed to its input schema. */
  private[graft] final case class Carry(frontier: DataFrame, budgets: DataFrame,
      results: DataFrame, counterRows: Seq[Row], packed: Option[DataFrame],
      freshKeys: Option[DataFrame])

  /** Materialize a step's outputs in ONE localCheckpoint job: tag-union
    * into a superset schema, split back with narrow filters over the
    * checkpointed rows. Separate actions would each plan the superstep's
    * lazy output graph again and pay their own job-submission round per
    * superstep — pure fixed cost that dominates fixture-sized and
    * politeness-bound steps (guide §1.2: the per-step constant IS the
    * bottleneck at small step sizes). Values are unchanged: tags are
    * disjoint, the split filters recover exactly the input rows, so
    * determinism (x13) and every oracle hold. The legs:
    *  - `frontier` (tag 0): frontier rows — the next frontier without a
    *    store, the step's upserts with one ([[StepDriver]]);
    *  - `budgets` (tag 1): the politeness state;
    *  - `results` (tag 2): result rows — the cumulative table without a
    *    store, the step's first results with one;
    *  - `counters` (tag 3, optional): the step's lazy counters aggregate
    *    ([[Superstep.StepResult.counters]]) as (project, counter name ->
    *    value in the r_data map slot); the returned Rows are recovered by
    *    name with a narrow filter-collect over the already-cached
    *    checkpoint RDD — values identical to a separate collect (same
    *    aggregate plan, same input), only the action count changes. A null
    *    sum travels as 0;
    *  - `packed` (tag 4, optional): a (step,url,status,retried,exetime)
    *    projection (p7's per-step trajectory rows); `step` travels in the
    *    priority slot;
    *  - `freshKeys` (tag 5, optional): the (project, url_hash) keys a store
    *    commit adds to its seen index. */
  private[graft] def checkpointCarryFused(frontier: DataFrame, budgets: DataFrame,
      results: DataFrame, counters: Option[DataFrame], packed: Option[DataFrame],
      freshKeys: Option[DataFrame] = None): Carry = {
    import frontier.sparkSession.implicits._
    val fc = Superstep.frontierCols
    // Bound the checkpoint's partition count with a NARROW coalesce. Under
    // the small-step broadcast plan the loop has no exchange to reset
    // partitioning, so each carry leg inherits the previous checkpoint's
    // partitions and the union MULTIPLIES them (~3x per step — exponential:
    // an 8-step crawl reached a 40k-task stage). coalesce merges without a
    // shuffle; values and split-back semantics are unchanged.
    val maxParts = math.max(1, frontier.sparkSession.sessionState.conf.numShufflePartitions)
    val ck = carryUnion(frontier, budgets, results, counters, packed, freshKeys)
      .coalesce(maxParts).localCheckpoint()
    // conform each split frame back to its INPUT schema: the tag-union makes
    // every column nullable (other legs supply nulls), but downstream
    // contracts — query output schemas the driver hash-checks, x13's
    // frontier byte-compare — expect the original nullability. AssertNotNull
    // is metadata-only here (the split rows ARE the input rows, never null
    // where the input wasn't).
    def conform(df: DataFrame, to: StructType): DataFrame =
      df.select(to.map { f =>
        if (f.nullable) col(f.name)
        else org.apache.spark.sql.GraftColumnShim.column(
          org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
            org.apache.spark.sql.GraftColumnShim.expression(col(f.name)))).as(f.name)
      }: _*)
    val f2 = conform(ck.where($"tag" === 0).select(fc.map(col): _*), frontier.schema)
    val b2 = conform(ck.where($"tag" === 1).select($"project", $"host",
      $"b_tokens".as("tokens"), $"b_last_update".as("last_update")), budgets.schema)
    val r2 = conform(ck.where($"tag" === 2).select($"project", $"url_hash", $"url",
      $"r_type".as("type"), $"r_data".as("data"), $"seed_url", $"updatetime"), results.schema)
    // counter-row recovery: narrow filter + collect over the cached
    // checkpoint RDD — rows were computed by the checkpoint job above, this
    // is driver-side unpacking, not a second pass over the step
    val counterRows: Seq[Row] = counters match {
      case None => Nil
      case Some(cdf) =>
        val schema = cdf.schema
        ck.where($"tag" === 3).select($"project", $"r_data").collect().toIndexedSeq.map { r =>
          val byName = r.getMap[String, String](1)
          new GenericRowWithSchema(schema.fieldNames.map {
            case "project" => r.getString(0): Any
            case n =>
              require(byName.contains(n), s"counter '$n' missing from the carry checkpoint")
              byName(n).toLong: Any
          }, schema)
        }
    }
    val p2 = packed.map(pdf => conform(
      ck.where($"tag" === 4).select($"priority".as("step"), $"url", $"status",
        $"retried", $"exetime"), pdf.schema))
    val k2 = freshKeys.map(kdf =>
      conform(ck.where($"tag" === 5).select($"project", $"url_hash"), kdf.schema))
    Carry(f2, b2, r2, counterRows, p2, k2)
  }

  def emptyBudgets(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      graft.frontier.FrontierStore.budgetsSchema)

  def emptyResults(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], resultSchema)

  def emptyCounters(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("project", StringType))))

  /**
   * Run (or resume) a crawl over a prepared pages table.
   *
   * @param store   optional snapshot store; None = in-memory with
   *                localCheckpoint lineage truncation (benchmarks)
   */
  def run(spark: SparkSession, pages: DataFrame, projects: DataFrame,
      seeds: Seq[(String, String)], cfg: CrawlConfig,
      store: Option[SnapshotStore] = None): CrawlRun = {
    val (pagesIdx, robots) = Superstep.preparePages(spark, pages)
    // persist() is MEMORY_AND_DISK: html bytes spill instead of recomputing
    pagesIdx.persist()
    robots.persist()
    val stepCfg = gateRobotsBroadcast(cfg.step, robots)
    val driver = new StepDriver(spark, projects, store, cfg.now0, cfg.tick, seeds,
      terminates = true)
    while (!driver.done && driver.steps < cfg.maxSteps) driver.step(pagesIdx, robots, stepCfg)
    pagesIdx.unpersist(false)
    robots.unpersist(false)
    driver.result()
  }
}
