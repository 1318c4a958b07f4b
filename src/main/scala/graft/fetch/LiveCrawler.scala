package graft.fetch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sched.{Crawler, StepDriver, Superstep}

/**
 * Live-backend crawl loop (S9 as a deployment mode, not just a seam test):
 * each superstep live-captures the POLITENESS-SELECTED slice of the frontier
 * (Superstep.selectReady: W2 ready -> A7 token budget -> W1/W5 ranking)
 * through [[LiveFetch]] into a transient pages index and hands both to the
 * shared [[StepDriver]] step — identical crawl semantics to the
 * archived-capture path because both feed the same `Superstep.preparePages`
 * interface, and the per-host token bucket bounds REAL network traffic, not
 * just post-hoc classification.
 * Robots-disallowed urls are pre-filtered with the cached rules before any
 * socket is touched (a compliant crawler never issues the request); the
 * superstep's own F9 gate then classifies them as fetch failures.
 *
 * robots.txt captures are cached per host for `robotsTtlSeconds` of VIRTUAL
 * crawl time, matching the reference's fetcher-side per-domain cache with
 * `robot_txt_age = 60*60` (tornado_fetcher.py:82,291-314): a steady-state
 * superstep fetches only content urls. The cache is driver state
 * deliberately — hosts-with-a-ready-task per step is politeness-bounded
 * (W1/A7), orders of magnitude smaller than the frontier, the same class of
 * bounded driver state as the per-project counters. A failed robots
 * capture (404 / transport) is cached as allow-all for the TTL, exactly like
 * the reference's error branch (tornado_fetcher.py:303-306). The cached
 * rules are also the superstep's robots side.
 */
object LiveCrawler {

  def run(spark: SparkSession, projects: DataFrame, seeds: Seq[(String, String)],
      maxSteps: Int, cfg: Superstep.Config = Superstep.Config(),
      now0: Double = 1700000000.0, tick: Double = 1.0,
      robotsTtlSeconds: Double = 3600.0,
      /** url-list -> pages-schema capture; swap for a fixture in tests */
      fetch: (SparkSession, DataFrame) => DataFrame =
        (s, urls) => LiveFetch.fetchPages(s, urls),
      /** optional COW snapshot store — the live deployment mode: same
        * bootstrap/commit/resume protocol as [[Crawler.run]], so a killed
        * live crawl resumes from the last committed snapshot and the J1
        * seen-probe runs against the bucketed bloom index */
      store: Option[graft.frontier.SnapshotStore] = None): Crawler.CrawlRun = {
    import spark.implicits._

    // host -> (capturedAtVirtualTime, robots bytes | null = allow-all)
    val robotsCache = scala.collection.mutable.Map.empty[String, (Double, Array[Byte])]
    var robotsFetches = 0L
    // same termination contract as Crawler.run — live steps are
    // politeness-small, so a per-step frontier count job would be the
    // largest job of the step (verdict r04 item 2)
    val driver = new StepDriver(spark, projects, store, now0, tick, seeds, terminates = true)

    while (driver.steps < maxSteps && !driver.done) {
      val now = driver.nextNow

      // ---- the politeness-selected slice FIRST (W2 -> A7 -> W1 -> W5),
      // before any socket is touched: the token-bucket budget must bound
      // real network traffic, not post-hoc classify it — the reference's
      // fetcher only ever receives what the scheduler dispatched
      // (scheduler.py:328-346). The superstep reuses this slice.
      val selected = Superstep
        .selectReady(spark, driver.frontier, driver.budgets, projects, now, cfg)
        .selected.localCheckpoint()

      // ---- robots refresh for hosts of the SELECTED slice (politeness-
      // bounded) whose cache entry is absent or older than the TTL (virtual
      // clock, like every other time in the crawl). robots.txt is requested
      // over the scheme the host's tasks actually use — an https-only site
      // must not get a doomed http:// probe that caches as allow-all.
      // max, not min: a host with BOTH http and https tasks in one step gets
      // its robots.txt probed over https ("https" > "http" lexicographically)
      // — the hardened endpoint is the one that must not be cached allow-all
      // if the plaintext probe would be refused
      val hostSchemeSets: Map[String, Seq[String]] = selected
        .where($"host".isNotNull && $"host" =!= "")
        .groupBy($"host")
        .agg(collect_set(lower(expr("parse_url(url, 'PROTOCOL')"))).as("schemes"))
        .collect()
        .map(r => r.getString(0) ->
          r.getSeq[String](1).filter(s => s == "http" || s == "https").sorted)
        .toMap
      val hostSchemes: Map[String, String] =
        hostSchemeSets.map { case (h, ss) => h -> ss.lastOption.getOrElse("http") }
      val hosts = hostSchemes.keys.toSeq.sorted
      if (cfg.respectRobots) {
        val stale = hosts.filter(h =>
          robotsCache.get(h).forall(now - _._1 > robotsTtlSeconds))
        // host -> robots.txt bytes of the probes that succeeded
        def probe(urls: Seq[String]): Map[String, Array[Byte]] = {
          robotsFetches += urls.size
          fetch(spark, urls.toDF("url")).select("url", "html").collect()
            .map(r => graft.url.UrlCanon.hostOf(r.getString(0)) -> r.getAs[Array[Byte]](1)).toMap
        }
        if (stale.nonEmpty) {
          val captured = probe(stale.map(h => s"${hostSchemes(h)}://$h/robots.txt"))
          // A host with BOTH schemes in the slice whose chosen-scheme probe
          // (https, the hardened endpoint) failed must not cache allow-all
          // while the other scheme actually serves rules (ADVICE r05; RFC
          // 9309 scopes robots per scheme+authority): re-probe the
          // alternate scheme for exactly those hosts. Single-scheme hosts
          // keep the reference's error branch (failure -> allow-all for the
          // TTL, tornado_fetcher.py:303-306) with no extra traffic.
          val retry = stale.filter(h => captured.getOrElse(h, null) == null &&
            hostSchemeSets.getOrElse(h, Nil).size > 1)
          val altCaptured =
            if (retry.isEmpty) Map.empty[String, Array[Byte]]
            else probe(retry.map { h =>
              s"${if (hostSchemes(h) == "https") "http" else "https"}://$h/robots.txt"
            })
          stale.foreach(h => robotsCache(h) =
            (now, Option(captured.getOrElse(h, null))
              .getOrElse(altCaptured.getOrElse(h, null))))
        }
      }

      // the cached rules of this step's hosts: they gate the fetch below and
      // are the superstep's robots side, so no capture enters its lineage
      val rules = hosts.flatMap(h => robotsCache.get(h).map(h -> _._2))
        .toDF("host", "r_html")
        .select($"host", expr("extract_text(r_html)").as("robots_txt"))
        .localCheckpoint()

      // ---- compliance pre-filter: a robots-disallowed url must never be
      // GET-fetched at all — the rules are already in hand (cache above), so
      // filter BEFORE the socket, with the same decode (extract_text) and
      // the same predicate (robots_can_fetch) as the superstep's F9 gate.
      // The superstep still classifies the now-pageless row itself (fetch
      // failure -> W7 retry ladder): semantics identical, disallowed
      // traffic zero. Non-http(s) tasks never reach the socket either — a
      // data: url's "fetch" is its own payload (F10, no page row needed).
      val httpOnly = selected.where(
        lower(substring($"url", 1, 5)) === "http:" ||
        lower(substring($"url", 1, 6)) === "https:")
      val fetchTargets =
        if (cfg.respectRobots && hosts.nonEmpty)
          httpOnly.join(broadcast(rules), Seq("host"), "left_outer")
            .where(call_udf("robots_can_fetch", $"robots_txt", lit(cfg.userAgent),
              expr("parse_url(url, 'PATH')")))
            .drop("robots_txt")
        else httpOnly

      // ---- transient pages index: live content capture of the selected,
      // robots-allowed slice, checkpointed ONCE — the one job that runs the
      // capture, so each page is requested once per step. Without the cut
      // the index embeds the capture+selection subplan into every
      // downstream job, and AQE re-renders those nested plans on each stage
      // update (observed: minutes of driver CPU per superstep).
      val content = fetch(spark, fetchTargets.select("url", "etag", "last_modified"))
      val pagesIdx = Superstep.preparePages(spark, content)._1.localCheckpoint()
      driver.step(pagesIdx, rules, cfg, preselected = Some(selected),
        checkpoints = Seq(selected, pagesIdx, rules))
    }
    driver.result(robotsFetches)
  }
}
