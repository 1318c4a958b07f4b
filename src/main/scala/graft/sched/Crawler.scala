package graft.sched

import org.apache.spark.sql.{DataFrame, SparkSession}
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
      maxSteps: Int = 10,
      /** robots gate join is broadcast only while the robots table stays
        * under this host count; beyond it (web scale: one row per host) it
        * falls back to a shuffle join keyed by host */
      broadcastRobotsMaxHosts: Long = 100000L,
      /** storage level for the prepared pages index (html bytes); DISK_ONLY
        * keeps a large pages table out of executor heap */
      pagesStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

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

  /** Materialize a step's three carry frames (frontier, budgets, results)
    * in ONE localCheckpoint job: tag-union into a superset schema, split
    * back with narrow filters over the checkpointed rows. The three
    * separate eager checkpoints each paid their own plan + job-submission
    * round per superstep — pure fixed cost that dominates fixture-sized and
    * politeness-bound steps (guide §1.2: the per-step constant IS the
    * bottleneck at small step sizes). Values are unchanged: tags are
    * disjoint, the split filters recover exactly the input rows, so
    * determinism (x13) and every oracle hold. */
  private[graft] def checkpointCarry(frontier: DataFrame, budgets: DataFrame,
      results: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val (f2, b2, r2, _, _) = checkpointCarryFused(frontier, budgets, results, None, None)
    (f2, b2, r2)
  }

  /** The tagged-union plan the fused carry materializes (also read by the
    * PlanDump dev harness — plan-shape inspection without running it). */
  private[graft] def carryUnion(frontier: DataFrame, budgets: DataFrame,
      results: DataFrame, counters: Option[DataFrame], packed: Option[DataFrame]): DataFrame = {
    val fc = Superstep.frontierCols
    val fSchema = graft.frontier.FrontierStore.frontierSchema
    def fnull(n: String) = lit(null).cast(fSchema(n).dataType).as(n)
    def nul(t: String, n: String) = lit(null).cast(t).as(n)
    val fPart = frontier.select((lit(0).as("tag") +: fc.map(col)) ++ Seq(
      nul("double", "b_tokens"), nul("double", "b_last_update"),
      nul("string", "r_type"), nul("map<string,string>", "r_data")): _*)
    val bPart = budgets.select((lit(1).as("tag") +: fc.map {
      case c @ ("project" | "host") => col(c)
      case other => fnull(other)
    }) ++ Seq(col("tokens").as("b_tokens"), col("last_update").as("b_last_update"),
      nul("string", "r_type"), nul("map<string,string>", "r_data")): _*)
    val rPart = results.select((lit(2).as("tag") +: fc.map {
      case c @ ("project" | "url_hash" | "url" | "seed_url" | "updatetime") => col(c)
      case other => fnull(other)
    }) ++ Seq(nul("double", "b_tokens"), nul("double", "b_last_update"),
      col("type").as("r_type"), col("data").as("r_data")): _*)
    val cPart = counters.map { cdf =>
      val byName = map(cdf.schema.fieldNames.filter(_ != "project").toSeq.flatMap(n =>
        Seq(lit(n), coalesce(col(n).cast("string"), lit("0")))): _*)
      cdf.select((lit(3).as("tag") +: fc.map {
        case "project" => col("project")
        case other => fnull(other)
      }) ++ Seq(nul("double", "b_tokens"), nul("double", "b_last_update"),
        nul("string", "r_type"), byName.cast("map<string,string>").as("r_data")): _*)
    }
    val pPart = packed.map { pdf =>
      pdf.select((lit(4).as("tag") +: fc.map {
        case c @ ("url" | "status" | "retried" | "exetime") => col(c)
        case "priority" => col("step").as("priority")
        case other => fnull(other)
      }) ++ Seq(nul("double", "b_tokens"), nul("double", "b_last_update"),
        nul("string", "r_type"), nul("map<string,string>", "r_data")): _*)
    }
    (Seq(fPart, bPart, rPart) ++ cPart ++ pPart).reduce(_ unionByName _)
  }

  /** [[checkpointCarry]] with optional extra legs fused into the SAME
    * one-job materialization (guide §1.2: at small step sizes every extra
    * action is a full round of driver planning + AQE stage waves — measured
    * ~20 stage-jobs for the counters action alone):
    *  - `counters` (tag 3): the step's LAZY counters aggregate
    *    (Superstep.Config.collectCounters=false) rides the checkpoint as
    *    (project, counter name -> value in the r_data map slot); the
    *    returned Rows are recovered by name with a narrow filter-collect
    *    over the already-cached checkpoint RDD — values identical to the
    *    eager collect (same aggregate plan, same input), only the action
    *    count changes. A null sum travels as 0.
    *  - `packed` (tag 4): a (step,url,status,retried,exetime) projection
    *    (p7's per-step trajectory rows); `step` travels in the priority
    *    slot. Returned conformed back to its input schema. */
  private[graft] def checkpointCarryFused(frontier: DataFrame, budgets: DataFrame,
      results: DataFrame, counters: Option[DataFrame], packed: Option[DataFrame])
      : (DataFrame, DataFrame, DataFrame,
        Seq[org.apache.spark.sql.Row], Option[DataFrame]) = {
    import frontier.sparkSession.implicits._
    val fc = Superstep.frontierCols
    // Bound the checkpoint's partition count with a NARROW coalesce. Under
    // the small-step broadcast plan the loop has no exchange to reset
    // partitioning, so each carry leg inherits the previous checkpoint's
    // partitions and the union MULTIPLIES them (~3x per step — exponential:
    // an 8-step crawl reached a 40k-task stage). coalesce merges without a
    // shuffle; values and split-back semantics are unchanged.
    val maxParts = math.max(1, frontier.sparkSession.sessionState.conf.numShufflePartitions)
    val ck = carryUnion(frontier, budgets, results, counters, packed)
      .coalesce(maxParts).localCheckpoint()
    // conform each split frame back to its INPUT schema: the tag-union makes
    // every column nullable (other legs supply nulls), but downstream
    // contracts — query output schemas the driver hash-checks, x13's
    // frontier byte-compare — expect the original nullability. AssertNotNull
    // is metadata-only here (the split rows ARE the input rows, never null
    // where the input wasn't).
    def conform(df: org.apache.spark.sql.DataFrame,
        to: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
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
    val counterRows: Seq[org.apache.spark.sql.Row] = counters match {
      case None => Nil
      case Some(cdf) =>
        val schema = cdf.schema
        ck.where($"tag" === 3).select($"project", $"r_data").collect().toIndexedSeq.map { r =>
          val byName = r.getMap[String, String](1)
          new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
            schema.fieldNames.map {
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
    (f2, b2, r2, counterRows, p2)
  }

  def emptyBudgets(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("project", StringType), StructField("host", StringType),
        StructField("tokens", DoubleType), StructField("last_update", DoubleType))))

  def emptyResults(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], resultSchema)

  def emptyCounters(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
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
    pagesIdx.persist(cfg.pagesStorage)
    robots.persist()
    // size-gate the robots broadcast ONCE per crawl (robots is persisted, the
    // count is one cheap scan): at web scale (one row per host) an
    // unconditional broadcast would OOM the driver/executors
    val stepCfg = cfg.step.copy(broadcastRobots =
      cfg.step.broadcastRobots && robots.count() <= cfg.broadcastRobotsMaxHosts)
    val driver = new StepDriver(spark, projects, store, cfg.now0, cfg.tick, seeds,
      terminates = true)
    while (!driver.done && driver.steps < cfg.maxSteps) driver.step(pagesIdx, robots, stepCfg)
    pagesIdx.unpersist(false)
    robots.unpersist(false)
    driver.result()
  }
}
