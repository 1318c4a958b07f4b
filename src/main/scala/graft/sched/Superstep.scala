package graft.sched

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model.TaskStatus

/**
 * One deterministic crawl superstep over the frontier Dataset — the
 * Spark-native replacement for the reference's queue-wired component loop
 * (SURVEY.md §2.10/§4). All reference semantics are expressed relationally:
 *
 *   ready filter (W2) -> politeness budget (A7) -> priority ranking (W1)
 *   -> fair share (W5) -> fetch join (J2) -> robots gate (F9) -> extraction
 *   (P1/P2/P4/P6) -> same-domain filter (F7) -> in-batch merge (W4/F3)
 *   -> URL-seen anti-join (J1, bloom-prefiltered) -> retry/status merge (W7)
 *   -> result sink rows (F8/P8)
 *
 * `now` is ONE literal per superstep (determinism, SURVEY §7.0-4). Ordering
 * ties break by ascending url_hash (documented deviation §7.0-2).
 */
object Superstep {

  final case class Config(
      userAgent: String = "graftbot/1.0",
      defaultRate: Double = 1.0,
      defaultBurst: Double = 3.0,
      /** ≤0 disables the per-project fair-share cap (scheduler.py:331). */
      perProjectLimit: Int = 0,
      /** F4: drop NEW tasks once a project's ACTIVE set reaches this size
        * (scheduler.py:77,235-237 INQUEUE_LIMIT; reference default 0=off). */
      inqueueLimit: Int = 0,
      respectRobots: Boolean = true,
      /** retry ladder, scheduler.py:80-86. */
      retryDelays: Seq[Double] = Seq(30, 3600, 21600, 43200),
      retryDefault: Double = 86400,
      /** broadcast the robots side of the gate join (small host count). */
      broadcastRobots: Boolean = true,
      /** W1 selection via the partial-aggregable bounded-heap aggregate
        * (TopKSelect) instead of a window sort — the scale path: O(n log k)
        * per task, map-side combining, hot hosts parallelize. Falls back to
        * the window when the function is not registered. */
      topKAggSelection: Boolean = true,
      /** The caller asserts the ENTIRE crawl state this step touches
        * (frontier rows + budget state rows + step size) is small enough to
        * broadcast (a few MB). The superstep then plan-time-broadcasts every
        * state-bounded build side (budget state, selected ids, status
        * updates, frontier key set, touched budgets) instead of letting the
        * planner emit shuffle joins that AQE later converts: each planned
        * shuffle is TWO materialized AQE stage-jobs (plus an AQE
        * re-optimization round) even when the runtime converts the join to
        * broadcast — measured ~25 stage-jobs per fixture superstep, ~40-90 ms
        * of driver fixed cost each. Join strategy never changes results;
        * only plan shape and stage count change. [[StepDriver]] derives
        * this per step from the state's row count against
        * `StepDriver.SmallStepRows` (scale-adaptive: a growing crawl
        * switches itself back to shuffle plans), so the
        * politeness-small live regime — the deployment mode where per-step
        * fixed cost dominates (VERDICT r05) — gets the small plan at any
        * corpus scale. */
      smallStep: Boolean = false,
      /** Eagerly collect the step's counters inside [[run]] (one action that
        * also materializes the persisted intermediates). `false` = the
        * counters frame stays LAZY and `counterRows`/`scheduled`/`fresh`/
        * `doneSuccess`/`failed` are NOT populated (0/Nil) — callers fuse the
        * counters aggregate into their own materialization action instead
        * (Crawler's carry checkpoint / FrontierStore's commit), because at
        * small step sizes every extra action is a full round of driver
        * planning + AQE stage scheduling (guide §1.2: per-step fixed cost is
        * the bottleneck; measured ~20 stage-jobs per superstep action). */
      collectCounters: Boolean = true)

  final case class StepResult(
      frontier: DataFrame,
      budgets: DataFrame,
      /** result emission stream: one row per successful non-304 fetch this
        * step (on_result semantics — an auto_recrawl/restart re-fetch
        * re-emits) */
      newResults: DataFrame,
      /** first-writer-wins subset of [[newResults]]: rows whose task had
        * never succeeded before (pre-step `crawled_ok` = false). Because
        * (project, url_hash) is unique in the frontier and only a task's
        * own fetch can produce its result row, these are EXACTLY the rows
        * whose key is absent from the cumulative results table — the crawl
        * loops append them with NO anti-join against results history
        * (REPLACE-INTO dedup semantics, resultdb.py:52-66, at O(step)
        * instead of O(history) per superstep). */
      firstResults: DataFrame,
      counters: DataFrame,
      scheduled: Long,
      fresh: Long,
      /** selected tasks that reached terminal SUCCESS this step (excludes
        * auto_recrawl successes, which stay ACTIVE) */
      doneSuccess: Long = 0L,
      /** selected tasks that exhausted retries -> FAILED this step */
      failed: Long = 0L,
      /** collected per-project counter rows (same data as `counters`) —
        * callers fold these directly instead of re-collecting */
      counterRows: Seq[org.apache.spark.sql.Row] = Nil,
      /** full frontier rows to insert-or-replace (updated selected rows +
        * fresh inserts) — the copy-on-write store's write unit */
      upserts: DataFrame = null,
      /** (project, url_hash) of the fresh inserts — seen-index delta */
      freshKeys: DataFrame = null,
      /** intermediate persisted frames — caller unpersists after materializing */
      cached: Seq[DataFrame] = Nil) {
    def unpersistAll(): Unit = cached.foreach { df =>
      // lazily-localCheckpointed frames persist their RDD directly (no
      // CacheManager entry) — release the underlying RDD, not the Dataset
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
        case _ => df.unpersist(false)
      }
    }
  }

  /** Columns every frontier DataFrame carries (graft.model.Task flattened).
    * `etag`/`last_modified` are the conditional-fetch track headers
    * (tornado_fetcher.py:257-276): stored from the last successful fetch,
    * compared against the page's current headers on re-fetch — a match is a
    * 304-equivalent (content processed but not re-extracted). */
  val frontierCols: Seq[String] = Seq("project", "url_hash", "url", "host", "status",
    "priority", "exetime", "retries", "retried", "age", "itag", "force_update",
    "auto_recrawl", "cancel", "seed_url", "method", "data", "lastcrawltime", "updatetime",
    "etag", "last_modified", "crawled_ok")

  /** Pages side of the fetch join, prepared ONCE per crawl: canonical key +
    * xxhash64 identity, bucket-partitioned by the join key so every
    * superstep's sort-merge/shuffle-hash join sees a stable layout.
    *
    * Dedup ("first capture wins", deterministic by hash of bytes) uses a
    * partial-aggregable `min_by` hash aggregate — NOT a window sort — so a
    * 100 TB pages table combines map-side instead of full-shuffling +
    * per-key-sorting html bytes. The robots side is deduped per host the
    * same way (duplicate robots.txt captures would otherwise fan out the
    * per-host gate join and break the (project, url_hash) identity
    * invariant downstream). */
  def preparePages(spark: SparkSession, pages: DataFrame): (DataFrame, DataFrame) = {
    // F11: a pages table MAY carry the capture's HTTP status + Location
    // header (Common-Crawl metadata); absent, every row is a 200
    val hasRedirects = pages.columns.contains("http_status") &&
      pages.columns.contains("location")
    val base0 =
      if (hasRedirects) pages
      else pages.withColumn("http_status", lit(200))
        .withColumn("location", lit(null).cast("string"))
    // conditional-fetch headers: a pages table MAY carry the capture's
    // ETag / Last-Modified (Common-Crawl metadata); absent, both are null
    // and the 304 path never fires
    val base1 = Seq("etag", "last_modified").foldLeft(base0)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast("string")))
    // P3 (processor half): a pages table MAY carry ajax requests observed
    // at capture time (the reference's phantomjs hook records them in
    // details.ajax; processor.py:120-140 turns them into follow tasks).
    // The browser-side interception is out of scope — the capture metadata
    // path is real.
    val base =
      if (base1.columns.contains("ajax")) base1
      else base1.withColumn("ajax",
        lit(null).cast("array<struct<url:string,method:string,data:string>>"))
    val canon = expr("canonicalize_url(url)")
    val withKeys = base
      .withColumn("curl", canon)
      .withColumn("page_hash", xxhash64(col("curl")))
      .withColumn("page_host", expr("url_host(curl)"))
    val robots = withKeys
      .filter(expr("parse_url(curl, 'PATH')") === "/robots.txt")
      .groupBy(col("page_host").as("host"))
      .agg(min_by(col("html"), xxhash64(col("html"))).as("rhtml"))
      .select(col("host"), expr("extract_text(rhtml)").as("robots_txt"))
    val content = withKeys
      .filter(expr("parse_url(curl, 'PATH')") =!= "/robots.txt")
      .groupBy(col("page_hash"))
      .agg(min_by(struct(col("curl"), col("html"), col("http_status"), col("location"),
          col("etag"), col("last_modified"), col("ajax")),
        xxhash64(col("html"))).as("m"))
      .select(col("page_hash"), col("m.curl").as("page_url"), col("m.html").as("html"),
        col("m.http_status").as("http_status"), col("m.location").as("location"),
        col("m.etag").as("page_etag"), col("m.last_modified").as("page_lm"),
        col("m.ajax").as("page_ajax"))
    val resolved =
      if (hasRedirects) resolveRedirects(content)
      else content.select(col("page_hash"), col("page_url"), col("html"),
          col("page_etag"), col("page_lm"), col("page_ajax"))
        .withColumn("redirect_hops", lit(0))
    // hash-partition the index ONCE on the fetch-join key: the persisted
    // layout (HashPartitioning(page_hash)) is reused by every superstep's
    // fetch join, so only the (small) selected side shuffles per step —
    // never the pages table again. This is the bucketed-join layout of
    // SURVEY §4 without needing a metastore. No explicit partition count:
    // AQE sizes the exchange from the data (one partition for a fixture
    // graph — every later stage wave is 1 task, not shuffle.partitions —
    // and stat-driven counts for a 100 TB table).
    (resolved.repartition(col("page_hash")), robots)
  }

  /**
   * F11 redirect resolution (tornado_fetcher.py:387-403): follow
   * 301/302/303/307(/308) + Location chains up to max_redirects=5 hops —
   * resolved ONCE at index-build time, so every fetch join lands directly
   * on final content. A dangling Location or a chain longer than 5 hops
   * resolves to html=null, i.e. a fetch failure feeding the retry ladder
   * (the reference raises 599 "redirects exceeded"). The reference's
   * 302/303 force-GET applies to the next request's method; in the
   * pages-table model the capture is method-less, so only the final
   * content and hop count are observable.
   */
  def resolveRedirects(content: DataFrame): DataFrame = {
    val maxRedirects = 5
    val isRedir = col("http_status").isin(301, 302, 303, 307, 308) &&
      col("location").isNotNull
    val withLoc = content
      .withColumn("loc_hash",
        when(isRedir, xxhash64(expr("canonicalize_url(url_resolve(page_url, location))"))))
    // targets are probed by hash; the chain walk below touches only the
    // redirect subset (typically a small fraction of the table). The FINAL
    // response's conditional-fetch headers travel with the content.
    val targets = withLoc.select(
      col("page_hash").as("t_hash"), col("page_url").as("t_url"),
      col("html").as("t_html"), isRedir.as("t_redir"), col("loc_hash").as("t_loc"),
      col("page_etag").as("t_etag"), col("page_lm").as("t_lm"),
      col("page_ajax").as("t_ajax"))
    val terminal = withLoc.where(!isRedir)
      .select(col("page_hash"), col("page_url"), col("html"),
        col("page_etag"), col("page_lm"), col("page_ajax"))
      .withColumn("redirect_hops", lit(0))

    var pending = withLoc.where(isRedir)
      .select(col("page_hash"), col("loc_hash").as("next_hash"), lit(1).as("hops"))
    var done = terminal
    (1 to maxRedirects).foreach { _ =>
      val j = pending.join(targets, pending("next_hash") === targets("t_hash"), "left_outer")
      val landed = j.where(!coalesce(col("t_redir"), lit(false)))
        .select(col("page_hash"), col("t_url").as("page_url"),
          col("t_html").as("html"), col("t_etag").as("page_etag"),
          col("t_lm").as("page_lm"), col("t_ajax").as("page_ajax"),
          col("hops").as("redirect_hops"))
      done = done.unionByName(landed)
      pending = j.where(coalesce(col("t_redir"), lit(false)))
        .select(col("page_hash"), col("t_loc").as("next_hash"), (col("hops") + 1).as("hops"))
    }
    // chains still pending after max hops => too-many-redirects failure
    val exceeded = pending.select(col("page_hash"),
      lit(null).cast("string").as("page_url"),
      lit(null).cast("binary").as("html"),
      lit(null).cast("string").as("page_etag"),
      lit(null).cast("string").as("page_lm"),
      lit(null).cast("array<struct<url:string,method:string,data:string>>").as("page_ajax"),
      col("hops").as("redirect_hops"))
    done.unionByName(exceeded)
  }

  /**
   * J1/F5/F6: merge an incoming task batch into the frontier with the
   * reference's on_request semantics (scheduler.py:234-308):
   *  - unknown (project, url_hash)       -> insert ACTIVE (on_new_request)
   *  - known: restart iff incoming itag differs from stored itag, OR
   *    age >= 0 && lastcrawltime + age < now, OR force_update
   *    (on_old_request restart predicate F5)
   *  - restart + cancel + force_update   -> mark BAD, drop from queue (F6)
   *  - restart                           -> status ACTIVE, schedule replaced
   *  - otherwise                         -> ignored
   *
   * `incoming` must carry frontierCols. Returns the merged frontier.
   */
  def mergeIncoming(frontier: DataFrame, incoming: DataFrame, now: Double): DataFrame = {
    import incoming.sparkSession.implicits._
    val keys = Seq("project", "url_hash")
    // in-batch last-write-wins dedup of the incoming batch (F3) made
    // deterministic: highest updatetime, then lexicographic-max payload
    val inc = incoming
      .withColumn("rn", row_number().over(Window.partitionBy(keys.map(col): _*)
        .orderBy(col("updatetime").desc, col("url").asc)))
      .where($"rn" === 1).drop("rn")
      .select(frontierCols.map(c => col(c).as("i_" + c)): _*)
      .withColumnRenamed("i_project", "project")
      .withColumnRenamed("i_url_hash", "url_hash")

    val joined = frontier.join(inc, keys, "full_outer")
    val isNew = $"status".isNull
    val restart =
      ($"i_itag".isNotNull && !($"i_itag" <=> $"itag")) ||
        ($"i_age" >= 0 && $"lastcrawltime" + $"i_age" < RuntimeConst.stepConst(now)) ||
        $"i_force_update"
    // cancel fires whenever the restart predicate fired AND cancel is set
    // (scheduler.py:287-292 checks cancel inside on_old_request's restart
    // branch — itag change / age expiry / force_update all reach it)
    val cancelled = $"i_cancel"

    def merged(c: String): Column = c match {
      case "status" =>
        when(isNew, lit(TaskStatus.Active))
          .otherwise(when($"i_url".isNotNull && restart,
            when(cancelled, lit(TaskStatus.Bad)).otherwise(lit(TaskStatus.Active)))
            .otherwise($"status"))
      case "lastcrawltime" => coalesce($"lastcrawltime", lit(0.0))
      // conditional-fetch track headers persist across restarts (the
      // reference keeps task['track'] through on_old_request; a restarted
      // task still sends If-None-Match from its last successful fetch)
      case "etag" | "last_modified" => col(c)
      // success history persists across restarts too: a restarted task that
      // already produced a result must not produce a duplicate (REPLACE-INTO
      // first-writer-wins, see StepResult.firstResults)
      case "crawled_ok" => coalesce(col(c), lit(false))
      case "updatetime" =>
        when(isNew || ($"i_url".isNotNull && restart), RuntimeConst.stepConst(now)).otherwise($"updatetime")
      case "project" | "url_hash" => col(c)
      case other =>
        // schedule/payload columns: replaced on new or restart, kept otherwise
        when(isNew || ($"i_url".isNotNull && restart), col("i_" + other)).otherwise(col(other))
    }
    joined.select(frontierCols.map(c => merged(c).as(c)): _*)
  }

  private def ladder(cfg: Config)(retried: Column): Column =
    cfg.retryDelays.zipWithIndex.foldLeft(lit(cfg.retryDefault)) { case (acc, (d, i)) =>
      when(retried === i, lit(d)).otherwise(acc)
    }

  /** The scheduler's selection output: the politeness-selected task slice
    * plus the budget intermediates `run` reuses for the post-fetch budget
    * update (same `now` ⇒ same refill arithmetic on both sides). */
  final case class Selection(selected: DataFrame, budgeted: DataFrame,
      projRB: DataFrame)

  /** The projects the lifecycle gate schedules: status RUNNING, or no
    * status column at all. */
  private[graft] def runningProjects(projects: DataFrame): DataFrame =
    if (projects.columns.contains("status"))
      projects.where(coalesce(col("status"), lit("RUNNING")) === "RUNNING")
    else projects

  /**
   * W2 ready filter → A7 politeness budget → W1 ranked selection → W5 fair
   * share, factored out of [[run]] so a live-fetch deployment can compute
   * the selected slice BEFORE issuing any HTTP request: the token-bucket
   * budget must bound real network traffic, not just post-hoc classify it
   * (the reference fetches only what the scheduler dispatched,
   * scheduler.py:328-346 → fetcher queue). Deterministic for a given
   * (frontier, budgets, projects, now, cfg) — a caller that pre-computes the
   * slice and then runs [[run]] sees the identical selection inside it.
   */
  def selectReady(spark: SparkSession, frontier: DataFrame, budgets: DataFrame,
      projects: DataFrame, now: Double, cfg: Config = Config()): Selection = {
    import spark.implicits._
    // Config.smallStep: plan-time broadcast of state-bounded build sides
    def maybeB(df: DataFrame): DataFrame = if (cfg.smallStep) broadcast(df) else df

    // ---- W2: ready = exetime arrived (time queue folds into the filter).
    // Project lifecycle gate (scheduler.py:637-649 + F2): only tasks of
    // RUNNING projects are schedulable — a STOP/FINISHED project's tasks
    // stay in the frontier untouched (re-activation resumes them), and
    // tasks of unknown projects are never selected (task_verify). The gate
    // and the rate/burst lookup are ONE broadcast inner join: the old
    // left_semi(runningProjects) + left_outer(projRB) pair built two
    // broadcast relations and two joins per plan evaluation for the same
    // row set — after the semi join every surviving project was in projRB
    // anyway, so inner ≡ semi + outer (guide §2.4: fewer operators, same
    // result; a broadcast build is its own job at superstep cadence).
    val projGate = broadcast(runningProjects(projects).select($"name".as("project"),
      coalesce($"rate", lit(cfg.defaultRate)).as("p_rate"),
      coalesce($"burst", lit(cfg.defaultBurst)).as("p_burst")))
    val ready = frontier
      .where($"status" === TaskStatus.Active && $"exetime" <= RuntimeConst.stepConst(now))
      .join(projGate, Seq("project"), "inner")

    // ---- A7: politeness budgets per (project, host) — token bucket carried
    // as state; missing state = full bucket (token_bucket.py:32). Refill is
    // computed LAZILY from the stored (tokens, last_update) — linear refill
    // commutes with the burst cap, so refilling on consumption gives the
    // same token count as eager per-tick refill, and the budget needs no
    // pre-aggregation of `ready` (demand) at all: TopKSelect's buffer grows
    // with rows actually kept, never eagerly to k, so an effectively
    // unlimited budget costs memory proportional to real rows.
    // Budget state rows of non-RUNNING/unknown projects drop out of
    // `budgeted` under the inner gate — consistent: such projects can never
    // consume this step, and `run`'s budget update touches consumed hosts
    // only (their stored state rows persist untouched in `budgets`).
    val budgeted = budgets
      .join(projGate, Seq("project"), "inner")
      .withColumn("tokens_avail",
        least($"p_burst",
          $"tokens" + $"p_rate" * (RuntimeConst.stepConst(now) - $"last_update")))
      .select($"project", $"host", $"tokens_avail")

    // ---- W1 (+W5): ranked selection under the budget
    val withBudget = ready
      .join(maybeB(budgeted), Seq("project", "host"), "left_outer")
      .withColumn("allowed",
        floor(coalesce($"tokens_avail", $"p_burst")))
      .drop("tokens_avail", "p_rate", "p_burst")
    val useTopK = cfg.topKAggSelection && spark.catalog.functionExists("topk_select")
    var selected =
      if (useTopK) {
        // aggregate keeps W1's exact order (priority desc, exetime asc,
        // url_hash asc); join back by identity (url_hash is unique per
        // project), left semi — broadcastable when budgets are small
        val selIds = withBudget
          .groupBy($"project", $"host")
          .agg(expr("topk_select(allowed, priority, exetime, url_hash)").as("sel"))
          .select($"project", explode($"sel").as("url_hash"))
        withBudget
          .join(maybeB(selIds), Seq("project", "url_hash"), "left_semi")
          .drop("allowed")
      } else {
        val hostW = Window.partitionBy($"project", $"host")
          .orderBy($"priority".desc, $"exetime".asc, $"url_hash".asc)
        withBudget
          .withColumn("rnk", row_number().over(hostW))
          .where($"rnk" <= $"allowed")
          .drop("rnk", "allowed")
      }
    if (cfg.perProjectLimit > 0) {
      // W5 fair share — same scale path as W1: the bounded-heap aggregate
      // combines map-side (O(n log k), no per-project full sort); a hot
      // project's rows never serialize through one window partition
      selected =
        if (useTopK) {
          val capIds = selected
            .groupBy($"project")
            .agg(expr(s"topk_select(${cfg.perProjectLimit}, priority, exetime, url_hash)")
              .as("sel"))
            .select($"project", explode($"sel").as("url_hash"))
          selected.join(maybeB(capIds), Seq("project", "url_hash"), "left_semi")
        } else {
          val projW = Window.partitionBy($"project")
            .orderBy($"priority".desc, $"exetime".asc, $"url_hash".asc)
          selected
            .withColumn("prnk", row_number().over(projW))
            .where($"prnk" <= cfg.perProjectLimit)
            .drop("prnk")
        }
    }
    Selection(selected, budgeted, projGate)
  }

  /**
   * Execute one superstep.
   *
   * @param frontier  current frontier (frontierCols schema)
   * @param budgets   politeness state: project, host, tokens, last_update
   * @param pagesIdx  prepared page content (preparePages._1)
   * @param robots    prepared robots table (preparePages._2)
   * @param projects  project dimension: name, rate, burst (broadcast side)
   * @param seen      optional bucketed seen-index probe (partition-local
   *   blooms + pruned key reads): follows failing the probe are
   *   definitely-new and skip the exact anti-join; survivors anti-join only
   *   their buckets' key files instead of the whole frontier.
   */
  def run(spark: SparkSession, frontier: DataFrame, budgets: DataFrame,
      pagesIdx: DataFrame, robots: DataFrame, projects: DataFrame,
      now: Double, cfg: Config = Config(),
      seen: Option[graft.frontier.SeenFilter] = None,
      /** extra (project, url_hash) keys to treat as already-seen on top of
        * the snapshot index — the streaming path passes THIS micro-batch's
        * seed keys (merged into the frontier after the index was written);
        * small by construction, applied as a broadcast overlay */
      extraSeen: Option[DataFrame] = None,
      /** a pre-materialized [[selectReady]].selected for THIS (frontier,
        * budgets, projects, now, cfg): the live crawler computes the slice
        * first (it drives the network fetch) and hands it in so the
        * superstep doesn't recompute the selection jobs — and so the rows
        * fetched and the rows processed are the same object, not merely
        * deterministically equal */
      preselected: Option[DataFrame] = None): StepResult = {
    import spark.implicits._
    // Config.smallStep: plan-time broadcast of state-bounded build sides
    def maybeB(df: DataFrame): DataFrame = if (cfg.smallStep) broadcast(df) else df

    val sel = selectReady(spark, frontier, budgets, projects, now, cfg)
    val selected = preselected.getOrElse(sel.selected)
    val budgeted = sel.budgeted
    val projRB = sel.projRB

    // ---- J2 fetch join + F9 robots gate (checked at fetch time, like the
    // reference: a robots denial consumes the token and fails the fetch)
    val robotsSide = if (cfg.broadcastRobots) broadcast(robots) else robots
    // X6 decode happens HERE, once, and the raw html bytes never enter the
    // persisted frame (one materialization carries decoded text instead)
    val fetched = selected
      .join(pagesIdx, $"url_hash" === $"page_hash", "left_outer")
      // after redirect resolution (F11) the content lives at the FINAL url:
      // extraction resolves relative links against it (response.url
      // semantics); the task identity stays the ORIGINAL url
      .withColumn("final_url", coalesce($"page_url", $"url"))
      .drop("page_hash", "page_url", "redirect_hops")
      .join(robotsSide, Seq("host"), "left_outer")
      .withColumn("robots_ok",
        if (cfg.respectRobots)
          // call_udf, not SQL-string splicing: a user agent containing a
          // quote must not be able to alter the expression
          call_udf("robots_can_fetch", col("robots_txt"), lit(cfg.userAgent),
            expr("parse_url(url, 'PATH')"))
        else lit(true))
      // F10 fetch-type dispatch (tornado_fetcher.py:119-127): a data: URL
      // task needs no pages row and no robots check — its "fetch" is the
      // url's own payload, always a fresh 200 (data_fetch, :176-198).
      // Case-insensitive: opaque-scheme canonicalization keeps the url's
      // original case, and RFC 3986 schemes are case-insensitive
      .withColumn("is_data_url", lower(substring($"url", 1, 5)) === "data:")
      .withColumn("fetch_ok", $"is_data_url" || ($"html".isNotNull && $"robots_ok"))
      // conditional fetch (If-None-Match / If-Modified-Since): the task's
      // stored track headers matching the page's current headers is the
      // 304 path — the fetch succeeds but the content is known-unchanged,
      // so decode/extraction/result-sink are all skipped for the row.
      // RFC 7232 precedence: when BOTH sides carry an ETag, If-None-Match
      // alone decides — an ETag mismatch means a full 200 even if
      // Last-Modified still matches (changed content must re-process);
      // Last-Modified is consulted only when at least one side lacks an
      // ETag. BOTH sides must be non-null before comparing: `stored ===
      // NULL` is SQL-NULL, and a NULL not_modified would silently drop a
      // successful fetch from extraction AND results (three-valued-logic
      // trap)
      .withColumn("not_modified", coalesce($"fetch_ok" &&
        when($"etag".isNotNull && $"page_etag".isNotNull, $"etag" === $"page_etag")
          .otherwise($"last_modified".isNotNull && $"page_lm".isNotNull &&
            $"last_modified" === $"page_lm"), lit(false)))
      .withColumn("page_text",
        when($"is_data_url", expr("data_url_decode(url)"))
          .when($"fetch_ok" && !$"not_modified", expr("extract_text(html)")))
      .drop("robots_txt", "html")
      // persist, NOT a plan-truncating lazy localCheckpoint: a checkpointed
      // LogicalRDD keeps its source plan's attribute ids, which still
      // appear in sibling frames (budgeted, frontier) — downstream joins
      // then hit "conflicting references" the analyzer cannot deduplicate
      // (measured: INTERNAL_ERROR in the streaming batch path)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- P1/P2/P4/P6: extraction + follow construction. The native
    // Generator (FollowsGenerator via GenerateExec) streams one output row
    // per follow without materializing an Array[Struct] per page; the
    // UDF+explode pair is the fallback on vanilla sessions.
    val follows0 =
      if (spark.catalog.functionExists("extract_follows_rows"))
        fetched.where($"fetch_ok" && !$"not_modified")
          .select($"project", $"url".as("parent_url"), $"host".as("parent_host"),
            expr("extract_follows_rows(page_text, final_url)"))
          .select($"project", $"parent_url", $"parent_host",
            $"url".as("raw_url"), $"method", $"data")
      else
        fetched.where($"fetch_ok" && !$"not_modified")
          .select($"project", $"url".as("parent_url"), $"host".as("parent_host"),
            explode(expr("extract_follows(page_text, final_url)")).as("f"))
          .select($"project", $"parent_url", $"parent_host",
            $"f.url".as("raw_url"), $"f.method".as("method"), $"f.data".as("data"))
    // P3 (processor half): ajax requests captured alongside the page become
    // follow candidates exactly like links (processor.py:120-140 builds
    // tasks from details.ajax with method/data); F7 same-domain and the
    // in-batch merge apply downstream like any follow
    val ajaxFollows = fetched
      .where($"fetch_ok" && !$"not_modified" && $"page_ajax".isNotNull)
      .select($"project", $"url".as("parent_url"), $"host".as("parent_host"),
        explode($"page_ajax").as("a"))
      .select($"project", $"parent_url", $"parent_host",
        $"a.url".as("raw_url"), coalesce($"a.method", lit("get")).as("method"),
        coalesce($"a.data", lit("")).as("data"))
    val follows = follows0.unionByName(ajaxFollows)
      .withColumn("curl", expr("canonicalize_url(raw_url)"))
      .withColumn("fhost", expr("url_host(curl)"))
      .where($"fhost" === $"parent_host") // F7 same-domain
      .withColumn("url_hash", xxhash64($"curl"))

    // ---- W4/F3: in-batch merge — max priority, min exetime, deterministic
    // lexicographic-min payload (documented deviation from arrival order)
    val candidates = follows.groupBy($"project", $"url_hash")
      .agg(
        max(lit(0)).as("priority"), // follows carry default priority 0
        min(struct($"curl", $"method", $"data", $"parent_url")).as("m"),
        count(lit(1)).as("dups"))
      .select($"project", $"url_hash", $"m.curl".as("url"),
        expr("url_host(m.curl)").as("host"),
        lit(TaskStatus.Active).as("status"), $"priority".cast("int"),
        lit(0.0).as("exetime"), lit(3).as("retries"), lit(0).as("retried"),
        lit(-1.0).as("age"), lit(null).cast("string").as("itag"),
        lit(false).as("force_update"), lit(false).as("auto_recrawl"),
        lit(false).as("cancel"), $"m.parent_url".as("seed_url"),
        $"m.method".as("method"), $"m.data".as("data"),
        lit(0.0).as("lastcrawltime"), RuntimeConst.stepConst(now).as("updatetime"),
        lit(null).cast("string").as("etag"), lit(null).cast("string").as("last_modified"),
        lit(false).as("crawled_ok"), $"dups")

    // ---- J1: URL-seen check. With a seen-index: partition-local bloom
    // probe first (definitely-new skips the exact check), then an exact
    // check against ONLY the probed buckets' key files — never a scan or
    // shuffle of the whole frontier. Without: exact check on the in-memory
    // frontier keys. The check is a left_outer flag join (equivalent to the
    // anti-join: both sides are unique per (project, url_hash)) so ONE
    // persisted frame serves both the fresh-insert path and the
    // candidates/deduped counters — one pass over the candidate set instead
    // of two.
    val stepCached = Seq.newBuilder[DataFrame]
    val flaggedBase = (seen match {
      case None =>
        candidates.join(
          maybeB(frontier.select($"project", $"url_hash").withColumn("f_seen", lit(true))),
          Seq("project", "url_hash"), "left_outer")
      case Some(sf) if cfg.smallStep && sf.deltaChain.map(_._2.size).sum <= 64 =>
        // small-chain fast path: the whole committed key set spans at most
        // a few dozen tiny delta files (known from the manifest lineage,
        // zero IO) — probing blooms first would cost a collect job (the
        // probed-buckets round-trip) to prune reads that are already
        // broadcast-sized. Exact flag join over every bucket's keys: same
        // truth ("key present in the seen index"), one action fewer per
        // step. The probe path stays the scale path (long chains, big
        // steps).
        candidates.join(
          maybeB(sf.keysFor(spark, 0 until sf.numBuckets)
            .withColumn("f_seen", lit(true))),
          Seq("project", "url_hash"), "left_outer")
      case Some(sf) =>
        val skey = xxhash64($"project", $"url_hash")
        val probed = candidates
          .withColumn("sbucket", sf.bucketCol($"project", $"url_hash"))
          .withColumn("maybe_seen", sf.probe($"sbucket", skey))
          .persist(StorageLevel.MEMORY_AND_DISK)
        stepCached += probed
        val definitelyNew = probed.where(!$"maybe_seen")
          .withColumn("f_seen", lit(null).cast("boolean"))
        val maybe = probed.where($"maybe_seen")
        // buckets actually probed — a step-sized distinct, bounded by numBuckets
        val bucketsHit = maybe.select($"sbucket").distinct()
          .collect().map(_.getInt(0)).toIndexedSeq
        val exact = maybe.join(
          maybeB(sf.keysFor(spark, bucketsHit).withColumn("f_seen", lit(true))),
          Seq("project", "url_hash"), "left_outer")
        definitelyNew.unionByName(exact).drop("sbucket", "maybe_seen")
    })
    val flagged = (extraSeen match {
      case Some(x) =>
        flaggedBase.join(
          broadcast(x.select($"project", $"url_hash").withColumn("es_seen", lit(true))),
          Seq("project", "url_hash"), "left_outer")
          .withColumn("f_seen", coalesce($"f_seen", $"es_seen")).drop("es_seen")
      case None => flaggedBase
    }).withColumn("is_new", $"f_seen".isNull).drop("f_seen")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val freshAll = flagged.where($"is_new").drop("is_new")
    // ---- F4: INQUEUE_LIMIT overflow filter — a project at/over the limit
    // admits only enough new tasks to reach it (deterministic url_hash order)
    val freshLimited =
      if (cfg.inqueueLimit <= 0) freshAll
      else {
        val qSize = frontier.where($"status" === TaskStatus.Active)
          .groupBy($"project").agg(count(lit(1)).as("q_size"))
        val qw = Window.partitionBy($"project").orderBy($"url_hash".asc)
        freshAll.join(qSize, Seq("project"), "left_outer")
          .withColumn("q_size", coalesce($"q_size", lit(0L)))
          .withColumn("qrn", row_number().over(qw))
          .where($"qrn" + $"q_size" <= cfg.inqueueLimit)
          .drop("q_size", "qrn")
      }
    // fresh is a cheap filter over the persisted flagged frame (or, under a
    // non-default INQUEUE_LIMIT, a window over it) — no second persist
    val fresh = freshLimited

    // ---- W7: status merge for the selected batch
    val statusCalc = fetched
      .withColumn("delay0", ladder(cfg)($"retried"))
      .withColumn("delay",
        when($"auto_recrawl" && $"age" >= 0, least($"delay0", $"age"))
          .otherwise(
            when($"retried" >= $"retries", lit(-1.0))
              .otherwise(when($"age" >= 0 && $"delay0" > $"age", $"age").otherwise($"delay0"))))
      .withColumn("new_status",
        when($"fetch_ok",
          when($"auto_recrawl" && $"age" >= 0, lit(TaskStatus.Active)).otherwise(lit(TaskStatus.Success)))
          .otherwise(when($"delay" < 0, lit(TaskStatus.Failed)).otherwise(lit(TaskStatus.Active))))
      .withColumn("new_exetime",
        when($"fetch_ok",
          when($"auto_recrawl" && $"age" >= 0, RuntimeConst.stepConst(now) + $"age").otherwise($"exetime"))
          .otherwise(when($"delay" < 0, $"exetime").otherwise(RuntimeConst.stepConst(now) + $"delay")))
      .withColumn("new_retried",
        when($"fetch_ok" || $"delay" < 0, $"retried").otherwise($"retried" + 1))
      // track headers refresh on every successful fetch (latest response
      // replaces the stored pair, nulls included); failures keep the old
      .withColumn("new_etag", when($"fetch_ok", $"page_etag").otherwise($"etag"))
      .withColumn("new_lm", when($"fetch_ok", $"page_lm").otherwise($"last_modified"))
      // success history: sticky once true (first-writer-wins result dedup)
      .withColumn("new_crawled_ok", $"crawled_ok" || $"fetch_ok")
    val updates = statusCalc
      .select($"project", $"url_hash",
        $"new_status", $"new_exetime", $"new_retried",
        RuntimeConst.stepConst(now).as("new_lastcrawltime"),
        RuntimeConst.stepConst(now).as("new_updatetime"),
        $"new_etag", $"new_lm", $"new_crawled_ok", $"fetch_ok")
    // full post-update rows for the selected batch — the copy-on-write
    // store upserts these directly, so the snapshot write touches only the
    // buckets this step changed (never a full-frontier merge join)
    val updatedFull = statusCalc.select(
      $"project", $"url_hash", $"url", $"host",
      $"new_status".as("status"), $"priority", $"new_exetime".as("exetime"),
      $"retries", $"new_retried".as("retried"), $"age", $"itag",
      $"force_update", $"auto_recrawl", $"cancel", $"seed_url", $"method",
      $"data", RuntimeConst.stepConst(now).as("lastcrawltime"),
      RuntimeConst.stepConst(now).as("updatetime"),
      $"new_etag".as("etag"), $"new_lm".as("last_modified"),
      $"new_crawled_ok".as("crawled_ok"))

    // ---- frontier merge: apply updates, append fresh
    val merged = frontier.join(
        maybeB(updates.withColumnRenamed("fetch_ok", "u_fetch_ok")),
        Seq("project", "url_hash"), "left_outer")
      .select(
        $"project", $"url_hash", $"url", $"host",
        coalesce($"new_status", $"status").as("status"),
        $"priority",
        coalesce($"new_exetime", $"exetime").as("exetime"),
        $"retries",
        coalesce($"new_retried", $"retried").as("retried"),
        $"age", $"itag", $"force_update", $"auto_recrawl", $"cancel",
        $"seed_url", $"method", $"data",
        coalesce($"new_lastcrawltime", $"lastcrawltime").as("lastcrawltime"),
        coalesce($"new_updatetime", $"updatetime").as("updatetime"),
        // selected rows take the refreshed track headers even when the new
        // value is null (coalesce would wrongly resurrect the old one)
        when($"u_fetch_ok".isNotNull, $"new_etag").otherwise($"etag").as("etag"),
        when($"u_fetch_ok".isNotNull, $"new_lm").otherwise($"last_modified").as("last_modified"),
        coalesce($"new_crawled_ok", $"crawled_ok").as("crawled_ok"))
      .unionByName(fresh.select(frontierCols.map(col): _*))

    // ---- budgets update: subtract consumed, advance clocks. Only hosts
    // that CONSUMED tokens this step get a state write — un-consumed hosts
    // refill lazily from their stored last_update to the identical value
    // (and hosts that never consume never enter the state table at all)
    // `fetched` is row-identical to `selected` (left joins on unique keys)
    // and persisted — aggregating it avoids recomputing the selection chain
    val consumed = fetched.groupBy($"project", $"host").agg(count(lit(1)).as("consumed"))
    val touched = consumed
      .join(maybeB(budgeted), Seq("project", "host"), "left_outer")
      .join(projRB, Seq("project"), "left_outer")
      .select($"project", $"host",
        (coalesce($"tokens_avail", $"p_burst", lit(cfg.defaultBurst)) - $"consumed").as("tokens"),
        RuntimeConst.stepConst(now).as("last_update"))
    val nextBudgets = budgets.join(maybeB(touched.select($"project", $"host")),
        Seq("project", "host"), "left_anti")
      .unionByName(touched)

    // ---- S6/F8/P8: result rows for successfully fetched pages (a 304
    // not-modified fetch produces no new result — content is unchanged)
    def resultRows(src: DataFrame): DataFrame = src
      // coalesce: parse_url yields NULL for non-hierarchical urls (data:),
      // and a NULL ext would three-valued-logic the row out of the sink
      .withColumn("ext", lower(regexp_extract(
        expr("coalesce(parse_url(url, 'PATH'), '')"), "\\.([A-Za-z0-9]+)$", 1)))
      .where(!$"ext".isin("png", "js", "css")) // conf/url_filter.conf
      .select($"project", $"url_hash", $"url",
        $"method".as("type"),
        when(length($"data") > 0, str_to_map($"data", lit("&"), lit("=")))
          .otherwise(map().cast("map<string,string>")).as("data"),
        $"seed_url", RuntimeConst.stepConst(now).as("updatetime"))
    val newResults = resultRows(fetched.where($"fetch_ok" && !$"not_modified"))
    // first-writer-wins delta: only tasks that never succeeded before can
    // add a NEW (project, url_hash) to the results table; the ext filter is
    // a pure function of the url, so a repeat fetch can't flip admission
    // either. A per-row predicate over the already-persisted `fetched`
    // frame — the loops append this with no join against results history.
    val firstResults = resultRows(
      fetched.where($"fetch_ok" && !$"not_modified" && !$"crawled_ok"))

    // ---- A3: per-project counters for this superstep. ONE exchange total:
    // each source frame contributes PER-ROW counter columns (0/1 deltas),
    // the legs union, and a single hash aggregate sums them — partial
    // aggregation runs map-side on every leg, so this is the same bytes as
    // the old per-frame aggs but without their two extra exchanges + the
    // re-aggregation exchange (guide §2.4: operations keyed the same way
    // share one exchange; at superstep cadence each exchange is its own AQE
    // stage wave of pure fixed cost). Results are identical: the sum of
    // per-row deltas is the sum of per-frame partial sums.
    //
    // done_success excludes auto_recrawl successes (those stay ACTIVE): the
    // exact per-status deltas let the crawl loop track the remaining ACTIVE
    // count arithmetically instead of rescanning the frontier.
    val counterCols = Seq("scheduled", "fetched", "succeeded", "done_success",
      "failed_now", "retried", "new_tasks", "in_batch_dups", "candidates",
      "not_modified")
    val zeroL = lit(0L)
    def deltas(df: DataFrame, cols: Map[String, Column]): DataFrame =
      df.select((col("project") +:
        counterCols.map(c => cols.getOrElse(c, zeroL).as(c))): _*)
    val rowsSel = deltas(statusCalc, Map(
      "scheduled" -> lit(1L),
      "fetched" -> when($"fetch_ok", 1L).otherwise(0L),
      "succeeded" -> when($"fetch_ok", 1L).otherwise(0L),
      "done_success" -> when($"new_status" === TaskStatus.Success, 1L).otherwise(0L),
      "failed_now" -> when(!$"fetch_ok" && $"new_status" === TaskStatus.Failed, 1L).otherwise(0L),
      "retried" -> when(!$"fetch_ok" && $"new_status" === TaskStatus.Active, 1L).otherwise(0L),
      "not_modified" -> when($"not_modified", 1L).otherwise(0L)))
    // candidates + fresh counters come from the flagged frame (new_tasks
    // must count POST-limit inserts, so the non-default INQUEUE_LIMIT path
    // contributes the limited fresh as a third union leg)
    val rowsNew =
      if (cfg.inqueueLimit <= 0)
        deltas(flagged, Map(
          "candidates" -> lit(1L),
          "new_tasks" -> when($"is_new", 1L).otherwise(0L),
          "in_batch_dups" -> when($"is_new", $"dups" - 1).otherwise(0L)))
      else
        deltas(flagged, Map("candidates" -> lit(1L))).unionByName(
          deltas(fresh, Map(
            "new_tasks" -> lit(1L),
            "in_batch_dups" -> ($"dups" - 1))))
    val countersDf = rowsSel.unionByName(rowsNew)
      .groupBy($"project")
      .agg(sum(col(counterCols.head)).as(counterCols.head),
        counterCols.tail.map(c => sum(col(c)).as(c)): _*)
      .withColumn("deduped", $"candidates" - $"new_tasks")

    // ONE action materializes every persisted intermediate and yields all
    // step totals (instead of separate count() jobs per metric). When the
    // caller opts out (collectCounters=false) the counters frame stays lazy
    // and the caller's own materialization action computes it.
    if (cfg.collectCounters) {
      val counterRows = countersDf.collect()
      // LocalRelation, not parallelize(...,1): every downstream consumer of
      // the counters frame (store manifest fold, bench step accounting)
      // collects it again — a LocalRelation collect is driver-only planning,
      // a parallelized RDD collect is a real 1-task job per step
      val counters = spark.createDataFrame(
        java.util.Arrays.asList(counterRows: _*), countersDf.schema)
      val scheduledCnt = counterRows.map(_.getAs[Long]("scheduled")).sum
      val freshCnt = counterRows.map(_.getAs[Long]("new_tasks")).sum
      val doneCnt = counterRows.map(_.getAs[Long]("done_success")).sum
      val failedCnt = counterRows.map(_.getAs[Long]("failed_now")).sum

      StepResult(merged, nextBudgets, newResults, firstResults, counters, scheduledCnt, freshCnt,
        doneSuccess = doneCnt, failed = failedCnt,
        counterRows = counterRows.toIndexedSeq,
        upserts = updatedFull.unionByName(fresh.select(frontierCols.map(col): _*)),
        freshKeys = fresh.select($"project", $"url_hash"),
        cached = Seq(fetched, flagged) ++ stepCached.result())
    } else
      StepResult(merged, nextBudgets, newResults, firstResults, countersDf, 0L, 0L,
        upserts = updatedFull.unionByName(fresh.select(frontierCols.map(col): _*)),
        freshKeys = fresh.select($"project", $"url_hash"),
        cached = Seq(fetched, flagged) ++ stepCached.result())
  }
}
