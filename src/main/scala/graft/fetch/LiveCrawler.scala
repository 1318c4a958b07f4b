package graft.fetch

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sched.{Crawler, StepDriver, Superstep}
import graft.text.Encoding

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
 * A step's fixed cost follows what the step holds. Two checkpoints
 * materialize its inputs: the selection, which also observes the (scheme,
 * host) pairs selected, and the capture, the one job that runs the fetch,
 * which also counts the responses that are redirect hops
 * (`Dataset.observe` adds no job). The pages index is the deduped
 * capture, built through the F11 redirect walk (and then checkpointed)
 * only when that count is above 0; the robots side is a local relation of
 * the cached rules.
 *
 * robots.txt captures are cached per (scheme, host) for `robotsTtlSeconds`
 * of VIRTUAL crawl time, matching the reference's fetcher-side per-domain
 * cache with `robot_txt_age = 60*60` (tornado_fetcher.py:82,291-314): a
 * steady-state superstep fetches only content urls. RFC 9309 scopes a
 * robots.txt to one scheme and authority, so each url is gated by its own
 * scheme's rules; only while that probe has failed do a dual-scheme host's
 * other-scheme rules apply. The cache is driver state deliberately —
 * hosts-with-a-ready-task per step is politeness-bounded (W1/A7), orders of
 * magnitude smaller than the frontier, the same class of bounded driver
 * state as the per-project counters. A failed robots capture (404 /
 * transport) is cached as allow-all for the TTL, exactly like the
 * reference's error branch (tornado_fetcher.py:303-306). The cached rules
 * are also the superstep's robots side.
 */
object LiveCrawler {

  def run(spark: SparkSession, projects: DataFrame, seeds: Seq[(String, String)],
      maxSteps: Int, cfg: Superstep.Config = Superstep.Config(),
      now0: Double = 1700000000.0, tick: Double = 1.0,
      robotsTtlSeconds: Double = 3600.0,
      /** url-list -> pages-schema capture; swap for a fixture in tests.
        * null = [[LiveFetch.fetchPages]] sending `cfg.userAgent`, the agent
        * the robots gate matches rules for */
      fetch: (SparkSession, DataFrame) => DataFrame = null,
      /** optional COW snapshot store — the live deployment mode: same
        * bootstrap/commit/resume protocol as [[Crawler.run]], so a killed
        * live crawl resumes from the last committed snapshot and the J1
        * seen-probe runs against the bucketed bloom index */
      store: Option[graft.frontier.SnapshotStore] = None): Crawler.CrawlRun = {
    import spark.implicits._
    val fetchFn: (SparkSession, DataFrame) => DataFrame = Option(fetch).getOrElse(
      (s, urls) => LiveFetch.fetchPages(s, urls, userAgent = cfg.userAgent))

    // (scheme, host) -> (capturedAtVirtualTime, robots bytes | null = allow-all)
    val robotsCache = scala.collection.mutable.Map.empty[(String, String), (Double, Array[Byte])]
    var robotsFetches = 0L
    // same termination contract as Crawler.run — live steps are
    // politeness-small, so a per-step frontier count job would be the
    // largest job of the step (verdict r04 item 2)
    val driver = new StepDriver(spark, projects, store, now0, tick, seeds, terminates = true)

    while (driver.steps < maxSteps && !driver.done) {
      val now = driver.nextNow
      def fresh(k: (String, String)): Option[Array[Byte]] =
        robotsCache.get(k).filter(now - _._1 <= robotsTtlSeconds).map(_._2)

      // ---- the politeness-selected slice FIRST (W2 -> A7 -> W1 -> W5),
      // before any socket is touched: the token-bucket budget must bound
      // real network traffic, not post-hoc classify it — the reference's
      // fetcher only ever receives what the scheduler dispatched
      // (scheduler.py:328-346). The superstep reuses this slice. Its
      // checkpoint job also yields the (scheme, host) pairs to probe.
      val schemes = Observation()
      val selected = Superstep
        .selectReady(spark, driver.frontier, driver.budgets, projects, now, cfg)
        .observe(schemes, collect_set(when($"host".isNotNull && $"host" =!= "",
          struct(lower(expr("parse_url(url, 'PROTOCOL')")), $"host"))).as("pairs"))
        .localCheckpoint()
      // robots.txt is requested over the schemes the host's tasks actually
      // use — an https-only site must not get a doomed http:// probe that
      // caches as allow-all
      val pairs = schemes.get("pairs").asInstanceOf[Seq[Row]]
        .map(r => (r.getString(0), r.getString(1)))
        .filter(p => p._1 == "http" || p._1 == "https").sorted

      // ---- robots refresh for the (scheme, host) pairs of the SELECTED
      // slice (politeness-bounded) whose cache entry is absent or older
      // than the TTL (virtual clock, like every other time in the crawl)
      if (cfg.respectRobots) {
        val stale = pairs.filter(fresh(_).isEmpty)
        if (stale.nonEmpty) {
          robotsFetches += stale.size
          val captured = fetchFn(spark, stale.map { case (s, h) => s"$s://$h/robots.txt" }
              .toDF("url")).select("url", "html").collect()
            .map(r => robotsKey(r.getString(0)) -> r.getAs[Array[Byte]](1)).toMap
          stale.foreach(k => robotsCache(k) = (now, captured.getOrElse(k, null)))
        }
      }

      // the rules of this step's (scheme, host) pairs, decoded on the
      // driver into a local relation: they gate the fetch below and are the
      // superstep's robots side, so no capture enters its lineage. A failed
      // probe (null) falls back to the host's other-scheme rules while
      // those are fresh: a dual-scheme host whose https endpoint serves no
      // robots.txt must not be crawled allow-all past its http rules.
      val rules = (if (cfg.respectRobots) pairs else Nil).map { case k @ (s, h) =>
        val sibling = (if (s == "https") "http" else "https", h)
        val bytes = fresh(k).flatMap(Option(_)).orElse(fresh(sibling).flatMap(Option(_)))
        (h, s, bytes.map(Encoding.extractText(_, null)).orNull)
      }.toDF("host", "scheme", "robots_txt")

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
        if (cfg.respectRobots && pairs.nonEmpty)
          Superstep.withRobots(httpOnly, broadcast(rules))
            .where(call_udf("robots_can_fetch", $"robots_txt", lit(cfg.userAgent),
              expr("parse_url(url, 'PATH')")))
            .drop("robots_txt")
        else httpOnly

      // ---- live content capture of the selected, robots-allowed slice
      val (capture, pagesIdx) = pagesIndex(spark,
        fetchFn(spark, fetchTargets.select("url", "etag", "last_modified")))
      driver.step(pagesIdx, rules, cfg, preselected = Some(selected),
        checkpoints = Seq(selected, capture, pagesIdx))
    }
    driver.result(robotsFetches)
  }

  /**
   * A step's pages index over a live capture (`fetch`'s output). The
   * capture is checkpointed ONCE — the one job that runs the fetch, so each
   * page is requested once per step — and that job also counts the
   * capture's redirect hops ([[Superstep.isRedirect]]). With none, the
   * index is the dedup aggregate over the capture checkpoint, left lazy:
   * the superstep's persisted fetch join computes it once, and its plan is
   * a few operators. With some, the F11 walk reads the materialized
   * capture, never the fetch subplan, and is checkpointed itself, so its
   * joins never enter the superstep's plans.
   *
   * @return the capture checkpoint, released with the step, and the index
   */
  private[graft] def pagesIndex(spark: SparkSession,
      content: DataFrame): (DataFrame, DataFrame) = {
    val redirects = Observation()
    val counted = Superstep.carriesRedirects(content)
    val capture = (if (counted) content.observe(redirects,
      count_if(Superstep.isRedirect).as("n")) else content).localCheckpoint()
    if (counted && redirects.get("n").asInstanceOf[Long] > 0)
      (capture, Superstep.preparePages(spark, capture)._1.localCheckpoint())
    else
      (capture, Superstep.preparePages(spark, capture.drop("http_status", "location"))._1)
  }

  /** The robots cache key, (scheme, host), of a robots.txt url. */
  private def robotsKey(url: String): (String, String) =
    (url.takeWhile(_ != ':').toLowerCase, graft.url.UrlCanon.hostOf(url))
}
