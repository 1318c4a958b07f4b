package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.fetch.LiveFetch
import graft.sched.{Crawler, Superstep}

/**
 * S9 live-fetch seam (tornado_fetcher.py:324-426): the pages-table model is
 * a BACKEND interface — here a real HTTP fixture server (like the
 * reference's httpbin-backed test_fetcher_processor.py) is live-captured
 * into a pages table and crawled by the same superstep, with redirects and
 * conditional fetch (ETag/304) exercised over a real socket.
 */
class LiveFetchSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** Spark jobs of a one-step fixture `LiveCrawler.run`, bootstrap
    * included: 30 measured. The same crawl ran 44 while the index embedded
    * the redirect walk, the host schemes were a collect of their own, the
    * robots rules were checkpointed and the budget update re-joined the
    * budget state. */
  private val JobCeiling = 30

  /** Start a fixture server on an ephemeral port serving `robotsTxt`;
    * returns (server, base, requests). `agents` records (path, User-Agent)
    * of every request. */
  private def fixtureServer(robotsTxt: String = "User-agent: *\nDisallow: /private\n",
      agents: java.util.concurrent.ConcurrentLinkedQueue[(String, String)] =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]())
      : (HttpServer, String, java.util.concurrent.ConcurrentLinkedQueue[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def respond(ex: HttpExchange, status: Int, body: Array[Byte],
        headers: (String, String)*): Unit = {
      headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
      ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length)
      if (body.nonEmpty) ex.getResponseBody.write(body)
      ex.close()
    }
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val inm = ex.getRequestHeaders.getFirst("If-None-Match")
      seen.add(s"$path inm=$inm")
      agents.add((path, ex.getRequestHeaders.getFirst("User-Agent")))
      path match {
        case "/robots.txt" =>
          respond(ex, 200, robotsTxt.getBytes("UTF-8"))
        case "/start" =>
          if (inm == "\"v1\"") respond(ex, 304, Array.emptyByteArray, "ETag" -> "\"v1\"")
          else respond(ex, 200,
            """<html><body><a href="/next">n</a> <a href="/redir">r</a> <a href="/private">p</a></body></html>"""
              .getBytes("UTF-8"),
            "ETag" -> "\"v1\"", "Content-Type" -> "text/html; charset=utf-8")
        case "/next" =>
          respond(ex, 200, "<html><body>leaf</body></html>".getBytes("UTF-8"))
        case "/redir" =>
          respond(ex, 302, Array.emptyByteArray, "Location" -> "/next")
        case "/private" =>
          respond(ex, 200, "<html><body>secret</body></html>".getBytes("UTF-8"))
        case _ =>
          respond(ex, 404, Array.emptyByteArray)
      }
    })
    server.start()
    (server, s"http://127.0.0.1:${server.getAddress.getPort}", seen)
  }

  test("live capture: statuses, redirect hop not followed, validators surfaced, 404 absent") {
    val (server, base, _) = fixtureServer()
    try {
      val urls = Seq(s"$base/start", s"$base/redir", s"$base/missing", s"$base/next")
        .toDF("url")
      val pages = LiveFetch.fetchPages(spark, urls).collect()
        .map(r => r.getAs[String]("url") -> r).toMap
      // 404 -> no row (absent page = failed fetch upstream)
      assert(!pages.contains(s"$base/missing") && pages.size == 3)
      val start = pages(s"$base/start")
      assert(start.getAs[Int]("http_status") == 200)
      assert(start.getAs[String]("etag") == "\"v1\"")
      assert(new String(start.getAs[Array[Byte]]("html"), "UTF-8").contains("/next"))
      // the redirect is captured as a hop, not followed
      val redir = pages(s"$base/redir")
      assert(redir.getAs[Int]("http_status") == 302)
      assert(redir.getAs[String]("location") == "/next")
    } finally server.stop(0)
  }

  test("live crawl: fixture server crawled through the superstep; robots + redirect resolved; re-fetch 304s live") {
    val (server, base, seen) = fixtureServer()
    try {
      val host = base.stripPrefix("http://")
      val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
      val now0 = 1700000000.0

      // ---- step 1: live-capture the ready set (the seed + robots.txt for
      // its host — the fetch-time robots gate reads from the pages table),
      // then one superstep against the captured table
      var frontier = Crawler.seedFrontier(spark, Seq("p1" -> s"$base/start"), now0)
      def capture(ready: org.apache.spark.sql.DataFrame) = {
        val withRobots = ready.select("url", "etag", "last_modified").unionByName(
          ready.select(expr(s"concat('http://', url_host(url), '/robots.txt')").as("url"),
            lit(null).cast("string").as("etag"), lit(null).cast("string").as("last_modified"))
            .distinct())
        LiveFetch.fetchPages(spark, withRobots)
          .withColumn("url", expr("canonicalize_url(url)"))
      }
      def step(f: org.apache.spark.sql.DataFrame, now: Double) = {
        val ready = f.where($"status" === 1 && $"exetime" <= now)
        val (idx, robots) = Superstep.preparePages(spark, capture(ready))
        // lineage cut, as in LiveCrawler: the capture subplan must not embed
        // into every downstream superstep job
        Superstep.run(spark, f, Crawler.emptyBudgets(spark),
          idx.localCheckpoint(), robots.localCheckpoint(), projects, now)
      }
      val r1 = step(frontier, now0 + 1)
      frontier = r1.frontier.localCheckpoint(); r1.unpersistAll()
      // /start fetched; /next /redir discovered; /private discovered too
      // (robots gates FETCHING, not discovery)
      assert(frontier.where($"url" === s"$base/start" && $"status" === 2).count() == 1)
      assert(frontier.where($"url".isin(s"$base/next", s"$base/redir", s"$base/private")).count() == 3)

      // ---- step 2: /next + /redir fetched (redirect resolves to /next's
      // content via F11); /private is robots-denied -> retry ladder
      val r2 = step(frontier, now0 + 2)
      frontier = r2.frontier.localCheckpoint()
      r2.unpersistAll()
      assert(frontier.where($"url" === s"$base/next" && $"status" === 2).count() == 1)
      assert(frontier.where($"url" === s"$base/redir" && $"status" === 2).count() == 1)
      // /private was served by the fixture but robots-denied at fetch time:
      // it enters the retry ladder (ACTIVE, retried+1), never SUCCESS
      assert(frontier.where($"url" === s"$base/private" && $"status" === 1 &&
        $"retried" === 1).count() == 1)

      // ---- conditional re-fetch: /start goes ACTIVE again carrying its
      // stored ETag; the live fetcher sends If-None-Match, the server
      // answers 304, and the superstep takes its not_modified path
      assert(frontier.where($"url" === s"$base/start")
        .select("etag").as[String].head() == "\"v1\"")
      val again = frontier.withColumn("status",
          when($"url" === s"$base/start", lit(1)).otherwise($"status"))
        .withColumn("exetime",
          when($"url" === s"$base/start", lit(0.0)).otherwise($"exetime"))
      val r3 = step(again, now0 + 3)
      val c3 = StepCounters.of(r3, "p1")
      assert(c3.getAs[Long]("not_modified") == 1, "live 304 must take the not_modified path")
      r3.unpersistAll()
      // the server really saw the conditional request
      assert(seen.toArray.exists(_.toString == "/start inm=\"v1\""),
        s"server never saw If-None-Match: ${seen.toArray.mkString("; ")}")
    } finally server.stop(0)
  }

  test("LiveCrawler: robots cached per host for the virtual TTL; full crawl via the live backend") {
    val (server, base, seen) = fixtureServer()
    try {
      val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
      def robotsHits = seen.toArray.count(_.toString.startsWith("/robots.txt"))

      // TTL 3600 >> 3 ticks: robots fetched exactly ONCE for the host
      // across the whole crawl (tornado_fetcher.py:291-314 cache semantics)
      val run = graft.fetch.LiveCrawler.run(spark, projects,
        Seq("p1" -> s"$base/start"), maxSteps = 3)
      assert(run.robotsFetches == 1, s"expected 1 robots GET, got ${run.robotsFetches}")
      assert(robotsHits == 1, s"server saw $robotsHits robots GETs")
      // the crawl itself worked end-to-end through the live backend
      assert(run.frontier.where($"url" === s"$base/start" && $"status" === 2).count() == 1)
      assert(run.frontier.where($"url" === s"$base/next" && $"status" === 2).count() == 1)
      assert(run.frontier.where($"url" === s"$base/private" && $"status" === 1).count() == 1)
      assert(run.results.where($"url" === s"$base/start").count() == 1)
      // COMPLIANCE: the robots-disallowed url was classified (retry ladder,
      // asserted above) but the server never saw a GET for it — the cached
      // rules pre-filter the live fetch, they don't just label it after
      assert(!seen.toArray.exists(_.toString.startsWith("/private")),
        s"robots-disallowed /private was GET-fetched: ${seen.toArray.mkString("; ")}")

      // TTL shorter than a tick: every step with ready hosts refetches
      seen.clear()
      val run2 = graft.fetch.LiveCrawler.run(spark, projects,
        Seq("p1" -> s"$base/start"), maxSteps = 2, robotsTtlSeconds = 0.5)
      assert(run2.robotsFetches == 2, s"expected a robots GET per step, got ${run2.robotsFetches}")
    } finally server.stop(0)
  }

  test("LiveCrawler: every request carries cfg.userAgent, and that agent's robots group applies") {
    val agents = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    // the crawler's own group disallows /next; the default group allows all
    val (server, base, _) = fixtureServer(
      "User-agent: *\nDisallow:\n\nUser-agent: graftbot\nDisallow: /next\n", agents)
    try {
      val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
      val run = graft.fetch.LiveCrawler.run(spark, projects,
        Seq("p1" -> s"$base/start"), maxSteps = 3)
      val requests = agents.toArray.toSeq.map(_.asInstanceOf[(String, String)])
      val paths = requests.map(_._1).toSet
      assert(paths("/robots.txt") && paths("/start") && paths("/private"), s"paths: $paths")
      val ua = Superstep.Config().userAgent
      assert(requests.forall(_._2 == ua), s"expected User-Agent $ua on every request: $requests")
      assert(!paths("/next"), s"/next is disallowed for $ua but was requested")
      assert(run.frontier.where($"url" === s"$base/next" && $"status" === 1 &&
        $"retried" === 1).count() == 1)
    } finally server.stop(0)
  }

  test("LiveCrawler: each selected page is requested once per step") {
    val (server, base, seen) = fixtureServer()
    try {
      val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
      // step 1 selects /start, step 2 /next, /redir and the robots-denied
      // /private, step 3 nothing (the /private retry backs off 30 s): each
      // page is selected in exactly one step, so each is requested once
      val run = graft.fetch.LiveCrawler.run(spark, projects,
        Seq("p1" -> s"$base/start"), maxSteps = 3)
      assert(run.steps == 3)
      // step 2's capture holds the 302 /redir -> /next: the walk resolves it
      assert(run.frontier.where($"url" === s"$base/redir" && $"status" === 2).count() == 1)
      assert(run.results.where($"url" === s"$base/redir").count() == 1)
      val perPath = seen.toArray.map(_.toString.takeWhile(_ != ' ')).toSeq
        .groupBy(identity).map { case (p, ps) => p -> ps.size }
      assert(perPath == Map("/robots.txt" -> 1, "/start" -> 1, "/next" -> 1, "/redir" -> 1),
        s"requests per path: $perPath")
    } finally server.stop(0)
  }

  test("live pages index: a redirect-free capture has no walk; a 3xx capture is walked once") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.LogicalRDD
    val (server, base, seen) = fixtureServer()
    try {
      def count(plan: LogicalPlan)(pf: PartialFunction[LogicalPlan, Unit]) =
        plan.collect(pf).size
      // no 3xx row: the index is the dedup aggregate over the capture
      // checkpoint — no Join (the 5-hop walk) and one Aggregate
      val (_, plain) = graft.fetch.LiveCrawler.pagesIndex(spark,
        LiveFetch.fetchPages(spark, Seq(s"$base/start", s"$base/next").toDF("url")))
      val p1 = plain.queryExecution.optimizedPlan
      assert(count(p1) { case _: Join => } == 0, s"walk joins in a redirect-free index:\n$p1")
      assert(count(p1) { case _: Aggregate => } == 1, s"aggregates:\n$p1")
      assert(count(p1) { case _: LogicalRDD => } == 1, s"capture not read from its checkpoint:\n$p1")
      assert(plain.where($"redirect_hops" === 0).count() == 2)

      // a 3xx row: the walk runs over the capture checkpoint and is
      // materialized, and it lands /redir on /next's content
      val (_, walked) = graft.fetch.LiveCrawler.pagesIndex(spark,
        LiveFetch.fetchPages(spark, Seq(s"$base/redir", s"$base/next").toDF("url")))
      assert(walked.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      val redir = walked.where($"page_hash" === xxhash64(expr(s"canonicalize_url('$base/redir')")))
        .select($"redirect_hops", $"html").as[(Int, Array[Byte])].collect()
      assert(redir.length == 1 && redir.head._1 == 1 &&
        new String(redir.head._2, "UTF-8").contains("leaf"))
      // each page was requested once per capture, however often the index
      // was read
      val perPath = seen.toArray.map(_.toString.takeWhile(_ != ' ')).toSeq
        .groupBy(identity).map { case (p, ps) => p -> ps.size }
      assert(perPath == Map("/start" -> 1, "/next" -> 2, "/redir" -> 1), s"requests: $perPath")
    } finally server.stop(0)
  }

  test("LiveCrawler: a one-step fixture crawl stays under its Spark job ceiling") {
    val (server, base, _) = fixtureServer()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.fetch.LiveCrawler.run(spark, projects, Seq("p1" -> s"$base/start"), maxSteps = 1)
      // drain the async listener bus before reading the count
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      server.stop(0)
    }
    // bootstrap, the selection and capture checkpoints, the robots probe
    // and the fused carry commit, which also computes the redirect-free
    // pages index
    assert(jobs.get <= JobCeiling, s"${jobs.get} jobs")
  }

  test("live 304 echoes the STORED validators: a weak-form server echo (W/\"v1\") must not break the not_modified compare") {
    val (server, base, _) = fixtureServer()
    // nginx-with-gzip behavior: 304 answers carry the WEAK form of the etag
    server.createContext("/weak", (ex: HttpExchange) => {
      val inm = ex.getRequestHeaders.getFirst("If-None-Match")
      if (inm != null && inm.contains("w1")) {
        ex.getResponseHeaders.set("ETag", "W/\"w1\"")
        ex.sendResponseHeaders(304, -1); ex.close()
      } else {
        ex.getResponseHeaders.set("ETag", "\"w1\"")
        val b = "<html><body>weak</body></html>".getBytes("UTF-8")
        ex.sendResponseHeaders(200, b.length); ex.getResponseBody.write(b); ex.close()
      }
    })
    try {
      val got = LiveFetch.fetchOne(s"$base/weak", "\"w1\"", null, 5000, 1 << 20, "graftbot/1.0")
      assert(got.isDefined)
      // the 304 status IS the proof of not-modified: the stored validator is
      // echoed verbatim so the superstep's string-equality compare agrees —
      // echoing the server's 'W/"w1"' would misclassify this as a 200 with
      // an empty body (bogus empty result row + corrupted stored validators)
      assert(got.get.etag == "\"w1\"", s"expected stored etag echoed, got ${got.get.etag}")
      assert(got.get.html.isEmpty && got.get.http_status == 200)
    } finally server.stop(0)
  }

  /** In-memory fetch backend: serves a url->page map, logs every request —
    * for behaviors a plain-http fixture can't express (https robots). */
  private def fakeFetch(pages: Map[String, Array[Byte]],
      log: java.util.concurrent.ConcurrentLinkedQueue[String])(
      s: org.apache.spark.sql.SparkSession,
      urls: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val reqs = urls.select("url").as[String].collect()
    reqs.foreach(log.add)
    val ts0 = new java.sql.Timestamp(0L)
    reqs.toSeq.flatMap(u => pages.get(u).map(b =>
        (u, ts0, b, "", "en", 200, null: String, null: String, null: String)))
      .toDF("url", "warc_ts", "html", "text", "lang", "http_status",
        "location", "etag", "last_modified")
  }

  test("LiveCrawler: robots.txt requested over the task's own scheme — an https-only host gets an https probe, not a doomed http one") {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pages = Map(
      "https://secure.example/robots.txt" ->
        "User-agent: *\nDisallow: /private\n".getBytes("UTF-8"),
      "https://secure.example/start" ->
        """<html><body><a href="/leaf">l</a> <a href="/private">p</a></body></html>"""
          .getBytes("UTF-8"),
      "https://secure.example/leaf" -> "<html><body>leaf</body></html>".getBytes("UTF-8"))
    val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
    val run = graft.fetch.LiveCrawler.run(spark, projects,
      Seq("p1" -> "https://secure.example/start"), maxSteps = 3,
      fetch = fakeFetch(pages, log))
    val reqs = log.toArray.map(_.toString).toSeq
    assert(reqs.contains("https://secure.example/robots.txt"),
      s"robots not requested over https: $reqs")
    assert(!reqs.exists(_.startsWith("http://")), s"http:// request issued: $reqs")
    // the https rules were applied: /private never requested, /leaf crawled
    assert(!reqs.contains("https://secure.example/private"), s"disallowed GET issued: $reqs")
    assert(run.frontier.where($"url" === "https://secure.example/leaf" && $"status" === 2)
      .count() == 1)
  }

  test("LiveCrawler: https robots probe failure falls back to http rules for a dual-scheme host (no allow-all masking)") {
    // ADVICE r05: a host with BOTH http and https tasks probes robots over
    // https (max); if that endpoint serves no robots.txt, the http rules —
    // which DO disallow /private — must still apply instead of caching
    // allow-all for the whole host.
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pages = Map(
      // NO https robots.txt entry -> the https probe fails
      "http://dual.example/robots.txt" ->
        "User-agent: *\nDisallow: /private\n".getBytes("UTF-8"),
      "https://dual.example/start" ->
        """<html><body><a href="/leaf">l</a> <a href="/private">p</a></body></html>"""
          .getBytes("UTF-8"),
      "http://dual.example/seed2" -> "<html><body>s2</body></html>".getBytes("UTF-8"),
      "https://dual.example/leaf" -> "<html><body>leaf</body></html>".getBytes("UTF-8"))
    val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
    val run = graft.fetch.LiveCrawler.run(spark, projects,
      Seq("p1" -> "https://dual.example/start", "p1" -> "http://dual.example/seed2"),
      maxSteps = 3, fetch = fakeFetch(pages, log))
    val reqs = log.toArray.map(_.toString).toSeq
    assert(reqs.contains("https://dual.example/robots.txt"),
      s"https probe not issued first: $reqs")
    assert(reqs.contains("http://dual.example/robots.txt"),
      s"no http fallback probe after the https miss: $reqs")
    // the http rules were applied: /private never requested
    assert(!reqs.exists(_.endsWith("/private")), s"disallowed GET issued: $reqs")
    assert(run.frontier.where($"url" === "https://dual.example/leaf" && $"status" === 2)
      .count() == 1)
    // /private stays unfetched in the frontier (robots denial -> retry ladder)
    assert(run.frontier.where($"url" === "https://dual.example/private" && $"status" === 2)
      .count() == 0)
  }

  test("LiveCrawler: robots rules are cached per (scheme, host); each url is gated by its own scheme's rules") {
    // RFC 9309: http://both.example and https://both.example are two
    // robots scopes. Their rules differ, and each must gate only its own urls
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val body = "<html><body>x</body></html>".getBytes("UTF-8")
    val pages = Map(
      "https://both.example/robots.txt" -> "User-agent: *\nDisallow: /a\n".getBytes("UTF-8"),
      "http://both.example/robots.txt" -> "User-agent: *\nDisallow: /b\n".getBytes("UTF-8"),
      "https://both.example/a" -> body, "https://both.example/b" -> body,
      "http://both.example/a" -> body, "http://both.example/b" -> body)
    val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
    val run = graft.fetch.LiveCrawler.run(spark, projects,
      Seq("https://both.example/a", "https://both.example/b", "http://both.example/a",
        "http://both.example/b").map("p1" -> _), maxSteps = 1, fetch = fakeFetch(pages, log))
    val reqs = log.toArray.map(_.toString).toSeq
    assert(run.robotsFetches == 2)
    assert(reqs.filterNot(_.endsWith("/robots.txt")).sorted ==
      Seq("http://both.example/a", "https://both.example/b"), s"requests: $reqs")
    assert(run.frontier.where($"status" === 2).select("url").as[String].collect().sorted.toSeq ==
      Seq("http://both.example/a", "https://both.example/b"))
  }

  test("LiveCrawler: STOP-ed projects and drained resumes don't burn supersteps (RUNNING gate + initial done-check)") {
    val log = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stopped = Seq(("p1", 1000.0, 1000.0, "STOP")).toDF("name", "rate", "burst", "status")
    // parked ACTIVE tasks of a STOP-ed project: zero supersteps, zero GETs
    val run = graft.fetch.LiveCrawler.run(spark, stopped,
      Seq("p1" -> "http://stopped.example/start"), maxSteps = 5,
      fetch = fakeFetch(Map.empty, log))
    assert(run.steps == 0, s"STOP-ed project burned ${run.steps} supersteps")
    assert(log.isEmpty, s"STOP-ed project issued GETs: ${log.toArray.mkString("; ")}")

    // resuming an already-drained store: no spurious superstep, no snapshot
    val root = java.nio.file.Files.createTempDirectory("graft-live-drained")
    val store = new graft.frontier.FrontierStore(root.toString, 4, seenBuckets = 8)
    val pages = Map(
      "http://one.example/robots.txt" -> "User-agent: *\nAllow: /\n".getBytes("UTF-8"),
      "http://one.example/only" -> "<html><body>fin</body></html>".getBytes("UTF-8"))
    val running = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
    val r1 = graft.fetch.LiveCrawler.run(spark, running,
      Seq("p1" -> "http://one.example/only"), maxSteps = 5,
      fetch = fakeFetch(pages, log), store = Some(store))
    assert(r1.steps >= 1 && store.currentId.isDefined)
    val snapAfter = store.currentId.get
    val r2 = graft.fetch.LiveCrawler.run(spark, running, Seq.empty, maxSteps = 5,
      fetch = fakeFetch(pages, log), store = Some(store))
    assert(r2.steps == r1.steps, s"drained resume ran ${r2.steps - r1.steps} extra steps")
    assert(store.currentId.get == snapAfter, "drained resume committed a spurious snapshot")
  }

  test("LiveCrawler + FrontierStore: live crawl commits snapshots and resumes from a kill") {
    val (server, base, _) = fixtureServer()
    try {
      val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
      val root = java.nio.file.Files.createTempDirectory("graft-live-store")
      val store = new graft.frontier.FrontierStore(root.toString, 4, seenBuckets = 8)

      // run 1: seed bootstrap (snapshot 1) + superstep 1 (snapshot 2), then
      // "killed" — leave half-staged debris like a real mid-write crash
      val r1 = graft.fetch.LiveCrawler.run(spark, projects,
        Seq("p1" -> s"$base/start"), maxSteps = 1, store = Some(store))
      assert(r1.steps == 1 && store.currentId.contains(2L))
      val debris = root.resolve("snap-000003.tmp")
      java.nio.file.Files.createDirectories(debris)
      java.nio.file.Files.writeString(debris.resolve("junk"), "half")

      // run 2 resumes from snapshot 2 (seeds ignored — already bootstrapped)
      // and finishes the crawl through the live backend
      val r2 = graft.fetch.LiveCrawler.run(spark, projects, Seq.empty,
        maxSteps = 3, store = Some(store))
      assert(r2.steps == 3)

      // the resumed store-backed crawl lands on exactly the uninterrupted
      // no-store live crawl's frontier (project, url, status, retried)
      val straight = graft.fetch.LiveCrawler.run(spark, projects,
        Seq("p1" -> s"$base/start"), maxSteps = 3)
      val cols = Seq("project", "url", "status", "retried")
      val got = r2.frontier.selectExpr(cols: _*).orderBy("url").collect().toSeq
      val want = straight.frontier.selectExpr(cols: _*).orderBy("url").collect().toSeq
      assert(got == want, s"store-resumed live crawl diverged:\n got=$got\nwant=$want")
      // results sink made it into the store too
      assert(r2.results.where($"url" === s"$base/start").count() == 1)
    } finally server.stop(0)
  }
}
