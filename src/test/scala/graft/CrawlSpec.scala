package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.gen.PageGen
import graft.model.TaskStatus
import graft.sched.{Crawler, Superstep}
import graft.frontier.FrontierStore

class CrawlSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val now0 = 1700000000.0

  private def projectsDf(rate: Double, burst: Double): DataFrame =
    Seq(("p1", rate, burst)).toDF("name", "rate", "burst")

  private def mkFrontier(rows: Seq[(String, Long, Int, Double)]): DataFrame =
    // (url-ish id, hash, priority, exetime)
    rows.map { case (id, h, pr, exe) =>
      ("p1", h, s"http://h0.test/$id", "h0.test", TaskStatus.Active, pr, exe,
        3, 0, -1.0, null: String, false, false, false, s"http://h0.test/$id", "link", "",
        0.0, now0, null: String, null: String, false)
    }.toDF(Superstep.frontierCols: _*)

  private def emptyPages: (DataFrame, DataFrame) = {
    val pages = Seq.empty[(String, java.sql.Timestamp, Array[Byte], String, String)]
      .toDF("url", "warc_ts", "html", "text", "lang")
    Superstep.preparePages(spark, pages)
  }

  test("W1/W2 ordering oracle ported from test_scheduler.py:30-75 / task_queue self-test") {
    // post-merge state of the reference fixture: a1(p1), a2(p4), a3(p2, ready),
    // a4(p3, exetime=now0+2.2); rate=1 burst=1 => one selection per superstep.
    // Reference pop order: a2, a3, a4, a1.
    val frontier = mkFrontier(Seq(
      ("a1", 1L, 1, 0.0),
      ("a2", 2L, 4, 0.0),
      ("a3", 3L, 2, 0.0),
      ("a4", 4L, 3, now0 + 2.2)))
    val (pagesIdx, robots) = emptyPages
    var f = frontier
    var budgets = Crawler.emptyBudgets(spark)
    val order = Seq.newBuilder[Long]
    (1 to 4).foreach { s =>
      val now = now0 + s
      val r = Superstep.run(spark, f, budgets, pagesIdx, robots,
        projectsDf(1.0, 1.0), now, Superstep.Config(respectRobots = false))
      // the selected row is the one whose lastcrawltime just became `now`
      val sel = r.frontier.where($"lastcrawltime" === now).select("url_hash")
        .collect().map(_.getLong(0))
      assert(sel.length == 1, s"step $s selected ${sel.toSeq}")
      order += sel.head
      f = r.frontier.localCheckpoint()
      budgets = r.budgets.localCheckpoint()
      r.unpersistAll()
    }
    assert(order.result() == Seq(2L, 3L, 4L, 1L)) // a2, a3, a4, a1
  }

  test("A7 politeness: burst then rate-limited refill; never exceeds rate*dt+burst") {
    // 10 ready tasks, rate=2 burst=3 -> selections per step: 3,2,2,2,1
    val frontier = mkFrontier((1 to 10).map(i => (s"t$i", i.toLong, 0, 0.0)))
    val (pagesIdx, robots) = emptyPages
    var f = frontier
    var budgets = Crawler.emptyBudgets(spark)
    val perStep = Seq.newBuilder[Long]
    (1 to 5).foreach { s =>
      val now = now0 + s
      val r = Superstep.run(spark, f, budgets, pagesIdx, robots,
        projectsDf(2.0, 3.0), now, Superstep.Config(respectRobots = false))
      perStep += StepCounters.total(r, "scheduled")
      f = r.frontier.localCheckpoint(); budgets = r.budgets.localCheckpoint()
      r.unpersistAll()
    }
    val counts = perStep.result()
    assert(counts == Seq(3L, 2L, 2L, 2L, 1L), s"got $counts")
    assert(counts.sum == 10)
    // upper politeness bound over the whole run
    assert(counts.sum <= 2.0 * 5 + 3)
  }

  test("A7 budgets table after a step: a partly consumed bucket, a fresh bucket, an untouched host") {
    // rate 1, burst 3. h0 holds 2 tokens from now0 and has 3 ready tasks: at
    // now0 + 0.5 it refills to 2.5 and consumes floor(2.5) = 2. h2 has no
    // state row (a full bucket) and consumes its one task. h1 has a state
    // row and no ready task: its row is left exactly as stored.
    def task(id: String, h: Long, host: String, exe: Double) =
      ("p1", h, s"http://$host/$id", host, TaskStatus.Active, 0, exe,
        3, 0, -1.0, null: String, false, false, false, s"http://$host/$id", "link", "",
        0.0, now0, null: String, null: String, false)
    val frontier = Seq(task("a", 1L, "h0.test", 0.0), task("b", 2L, "h0.test", 0.0),
        task("c", 3L, "h0.test", 0.0), task("d", 4L, "h1.test", now0 + 100),
        task("e", 5L, "h2.test", 0.0))
      .toDF(Superstep.frontierCols: _*)
    val budgets = Seq(("p1", "h0.test", 2.0, now0), ("p1", "h1.test", 0.5, now0 - 10))
      .toDF("project", "host", "tokens", "last_update")
    val (pagesIdx, robots) = emptyPages
    val now = now0 + 0.5
    for (small <- Seq(false, true)) {
      val r = Superstep.run(spark, frontier, budgets, pagesIdx, robots, projectsDf(1.0, 3.0),
        now, Superstep.Config(respectRobots = false, smallStep = small))
      assert(StepCounters.total(r, "scheduled") == 3)
      val got = r.budgets.as[(String, String, Double, Double)].collect().sortBy(_._2).toSeq
      assert(got == Seq(("p1", "h0.test", 0.5, now), ("p1", "h1.test", 0.5, now0 - 10),
        ("p1", "h2.test", 2.0, now)), s"smallStep=$small")
      r.unpersistAll()
    }
  }

  test("W5 fair share caps per-project dispatch (heap aggregate == window fallback)") {
    // mixed priorities so the cap actually ranks (not just truncates)
    val frontier = mkFrontier((1 to 20).map(i => (s"t$i", i.toLong, i % 4, 0.0)))
    val (pagesIdx, robots) = emptyPages
    def selectedSet(topK: Boolean): Seq[Long] = {
      val r = Superstep.run(spark, frontier, Crawler.emptyBudgets(spark), pagesIdx, robots,
        projectsDf(1000.0, 1000.0), now0 + 1,
        Superstep.Config(respectRobots = false, perProjectLimit = 5,
          topKAggSelection = topK))
      assert(StepCounters.total(r, "scheduled") == 5)
      val sel = r.frontier.where($"lastcrawltime" === now0 + 1)
        .select("url_hash").as[Long].collect().sorted.toSeq
      r.unpersistAll(); sel
    }
    // the bounded-heap path must pick exactly the window path's W5 set
    assert(selectedSet(topK = true) == selectedSet(topK = false))
  }

  test("end-to-end fixture crawl: dedup, same-domain, robots, extension filter, canonical identity") {
    val cfg = PageGen.Config(nHosts = 4, pagesPerHost = 16, hotHosts = 1, hotFactor = 3, fanout = 3)
    val pages = PageGen.pages(spark, cfg).toDF()
    val projects = projectsDf(1000.0, 1000.0) // effectively unlimited politeness
    val seeds = Seq("p1" -> "http://host0.example.com/page/1", "p1" -> "http://host1.example.com/page/1")
    val run = Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 8, now0 = now0, tick = 1.0))

    val frontier = run.frontier.cache()
    // 1. URL-seen set: url_hash unique per project (J1 soundness)
    assert(frontier.groupBy("project", "url_hash").count().where($"count" > 1).count() == 0)
    // 2. all frontier urls are canonical (idempotent identity)
    assert(frontier.where(expr("canonicalize_url(url)") =!= $"url").count() == 0)
    // 3. same-domain filter: only seeded hosts present
    val hosts = frontier.select("host").distinct().as[String].collect().toSet
    assert(hosts == Set("host0.example.com", "host1.example.com"))
    // 4. robots: no /private/ url ever succeeded
    assert(frontier.where($"url".contains("/private/") && $"status" === TaskStatus.Success).count() == 0)
    assert(run.results.where($"url".contains("/private/")).count() == 0)
    // but /private/ urls were discovered (and denied)
    assert(frontier.where($"url".contains("/private/")).count() > 0)
    // 5. extension filter: no .png results
    assert(run.results.where($"url".endsWith(".png")).count() == 0)
    // but .png urls are in the frontier (they are followed, just not sunk)
    assert(frontier.where($"url".endsWith(".png")).count() > 0)
    // 6. something substantial was crawled
    assert(run.results.count() > 20)
    assert(run.totalScheduled > 20)
    // 7. forms were discovered as post candidates
    assert(frontier.where($"method" === "post").count() > 0)
    // 8. commented links discovered
    assert(frontier.where($"url".contains("/old/")).count() > 0)
    frontier.unpersist()
  }

  test("determinism: two identical runs produce identical URL-seen sets and results") {
    val cfg = PageGen.Config(nHosts = 3, pagesPerHost = 10, hotHosts = 0, fanout = 3)
    val pages = PageGen.pages(spark, cfg).toDF()
    val projects = projectsDf(5.0, 10.0)
    val seeds = Seq("p1" -> "http://host0.example.com/page/1")
    def doRun() = Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 5, now0 = now0))
    val r1 = doRun(); val r2 = doRun()
    val s1 = r1.frontier.select("project", "url_hash", "status", "exetime").orderBy("url_hash")
      .collect().toSeq
    val s2 = r2.frontier.select("project", "url_hash", "status", "exetime").orderBy("url_hash")
      .collect().toSeq
    assert(s1 == s2)
    assert(r1.results.orderBy("url_hash").collect().toSeq ==
      r2.results.orderBy("url_hash").collect().toSeq)
  }

  test("resume: killed-and-resumed run equals uninterrupted run (SURVEY §3.2)") {
    val cfg = PageGen.Config(nHosts = 3, pagesPerHost = 10, hotHosts = 0, fanout = 3)
    val pages = PageGen.pages(spark, cfg).toDF()
    val projects = projectsDf(3.0, 5.0)
    val seeds = Seq("p1" -> "http://host0.example.com/page/0")
    val dirA = java.nio.file.Files.createTempDirectory("graft-storeA").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-storeB").toString

    // uninterrupted: 6 steps
    val storeA = new FrontierStore(dirA, 8)
    Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 6, now0 = now0), Some(storeA))

    // interrupted: 3 steps, then resume to 6
    val storeB = new FrontierStore(dirB, 8)
    Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 3, now0 = now0), Some(storeB))
    Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 6, now0 = now0), Some(storeB))

    val a = storeA.read(spark).get
    val b = storeB.read(spark).get
    def key(df: DataFrame) = df.select("project", "url_hash", "status", "exetime", "retried")
      .orderBy("url_hash").collect().toSeq
    assert(key(a.frontier) == key(b.frontier))
    assert(a.results.orderBy("url_hash").collect().toSeq ==
      b.results.orderBy("url_hash").collect().toSeq)
    // manifest carries per-bucket lineage + counters
    val m = storeA.manifestJson(storeA.currentId.get)
    assert(m.contains("\"touched_partitions\""))
    assert(m.contains("\"frontier_owner\""))
    assert(m.contains("\"counters\""))
  }

  test("copy-on-write: untouched frontier buckets are owned by older snapshots, not rewritten") {
    val cfg = PageGen.Config(nHosts = 4, pagesPerHost = 10, hotHosts = 0, fanout = 3)
    val pages = PageGen.pages(spark, cfg).toDF()
    val dir = java.nio.file.Files.createTempDirectory("graft-cow").toString
    val store = new FrontierStore(dir, 16)
    // seed only host0: hosts 1-3 never enter -> their buckets stay untouched
    Crawler.run(spark, pages, projectsDf(2.0, 3.0),
      Seq("p1" -> "http://host0.example.com/page/1"),
      Crawler.CrawlConfig(maxSteps = 5, now0 = now0), Some(store))
    val id = store.currentId.get
    assert(id >= 5)
    val owners = store.manifest(id).frontier_owner
    // later steps touch only the buckets holding host0's rows: at least one
    // bucket written by an older snapshot is still current via lineage, and
    // the final snapshot wrote only a subset of buckets
    assert(owners.count(_ == id) < owners.count(_ != 0L) || owners.count(_ != 0L) <= 2,
      s"final snapshot rewrote every live bucket: ${owners.mkString(",")}")
  }

  test("bucketed seen-index (bloom side-files + pruned exact check) equals the in-memory exact path") {
    val cfg = PageGen.Config(nHosts = 3, pagesPerHost = 10, hotHosts = 0, fanout = 3)
    val pages = PageGen.pages(spark, cfg).toDF()
    val projects = projectsDf(1000.0, 1000.0)
    val seeds = Seq("p1" -> "http://host0.example.com/page/1")
    val exact = Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 4, now0 = now0))
    val dir = java.nio.file.Files.createTempDirectory("graft-seen").toString
    val store = new FrontierStore(dir, 8, seenBuckets = 16)
    val stored = Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 4, now0 = now0), Some(store))
    assert(exact.frontier.select("url_hash").orderBy("url_hash").as[Long].collect().toSeq ==
      stored.frontier.select("url_hash").orderBy("url_hash").as[Long].collect().toSeq)
    assert(exact.totalFresh == stored.totalFresh)
    // bloom side-files exist for the touched seen-buckets
    val blooms = java.nio.file.Files.list(
        java.nio.file.Paths.get(dir, f"snap-${store.currentId.get}%06d", "blooms"))
      .count()
    assert(blooms > 0)

    // the live loop over the same pages (a fixture fetch serving the table)
    // agrees with the batch loop, with and without a store
    def fixtureFetch(s: org.apache.spark.sql.SparkSession, urls: DataFrame): DataFrame =
      pages.join(urls.select(expr("canonicalize_url(url)").as("want")),
        expr("canonicalize_url(url)") === $"want", "left_semi")
    val liveDir = java.nio.file.Files.createTempDirectory("graft-seen-live").toString
    val liveExact = graft.fetch.LiveCrawler.run(spark, projects, seeds, maxSteps = 4,
      now0 = now0, fetch = fixtureFetch)
    val liveStored = graft.fetch.LiveCrawler.run(spark, projects, seeds, maxSteps = 4,
      now0 = now0, fetch = fixtureFetch, store = Some(new FrontierStore(liveDir, 8,
        seenBuckets = 16)))
    def rows(df: DataFrame) = df.orderBy("project", "url_hash").collect().toSeq
    // per-step counters travel lazily, in the carry checkpoint with or
    // without a store
    def perStep(run: Crawler.CrawlRun) =
      run.countersPerStep.map(_.orderBy("project").collect().map(_.toSeq).toSeq)
    for ((name, run) <- Seq("stored" -> stored, "live" -> liveExact,
        "live+store" -> liveStored)) {
      assert(rows(run.frontier.select(Superstep.frontierCols.map(col): _*)) ==
        rows(exact.frontier.select(Superstep.frontierCols.map(col): _*)), s"$name frontier")
      assert(rows(run.results) == rows(exact.results), s"$name results")
      assert(run.counterTotals == exact.counterTotals, s"$name counter totals")
      assert(run.finishedProjects == exact.finishedProjects, s"$name finished projects")
      assert(run.steps == exact.steps, s"$name steps")
      assert(perStep(run) == perStep(exact), s"$name per-step counters")
    }
    assert(perStep(exact).size == exact.steps)
    assert(exact.counterTotals("p1")("scheduled") == exact.totalScheduled)

    // a no-store crawl releases each step's carry checkpoint one step late:
    // six steps end holding no more persisted RDDs than two
    def persistedBy(steps: Int): (Int, Crawler.CrawlRun) = {
      val mark = spark.sparkContext.emptyRDD[Int].id
      val run = Crawler.run(spark, pages, projects, seeds,
        Crawler.CrawlConfig(maxSteps = steps, now0 = now0))
      (spark.sparkContext.getPersistentRDDs.keys.count(_ > mark), run)
    }
    // strong references to every RDD persisted meanwhile: only an explicit
    // unpersist, not a driver GC, takes one out of the count
    val held = java.util.concurrent.ConcurrentHashMap.newKeySet[AnyRef]()
    val hold = new org.apache.spark.scheduler.SparkListener {
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        spark.sparkContext.getPersistentRDDs.values.foreach(held.add)
    }
    spark.sparkContext.addSparkListener(hold)
    val ((two, run2), (six, run6)) =
      try (persistedBy(2), persistedBy(6))
      finally spark.sparkContext.removeSparkListener(hold)
    assert(run2.steps == 2 && run6.steps == 6)
    assert(six <= two, s"6 steps left $six persisted RDDs, 2 steps left $two")
  }

  test("fused carry: counters travel keyed by name; a null counter reads back as 0") {
    val counters = Seq(("p1", Some(3L), Option.empty[Long], Some(7L)))
      .toDF("project", "a", "b", "c")
    val rows = Crawler.checkpointCarryFused(
      mkFrontier(Seq(("x", 1L, 0, 0.0))), Crawler.emptyBudgets(spark),
      Crawler.emptyResults(spark), Some(counters), None).counterRows
    assert(rows.map(r => (r.getAs[String]("project"), r.getAs[Long]("a"),
      r.getAs[Long]("b"), r.getAs[Long]("c"))) == Seq(("p1", 3L, 0L, 7L)))
  }

  test("F4 INQUEUE_LIMIT caps admitted new tasks per project") {
    // one seed page with several same-host links; limit 3 with 1 already
    // queued admits exactly 2 new tasks
    val html = ("<html><body>" + (1 to 5).map(i => s"""<a href="/p/$i">l</a>""").mkString
      + "</body></html>").getBytes("UTF-8")
    val pages = Seq(("http://h0.test/start", new java.sql.Timestamp(0L), html, "", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val (pagesIdx, robots) = Superstep.preparePages(spark, pages)
    val frontier = mkFrontier(Seq(("start", 0L, 0, 0.0)))
      .withColumn("url", lit("http://h0.test/start"))
      .withColumn("url_hash", expr("xxhash64(url)"))
    val r = Superstep.run(spark, frontier, Crawler.emptyBudgets(spark), pagesIdx, robots,
      projectsDf(1000.0, 1000.0), now0 + 1,
      Superstep.Config(respectRobots = false, inqueueLimit = 3))
    val fresh = StepCounters.total(r, "new_tasks")
    assert(fresh == 2, s"expected 2 admitted of 5 discovered, got $fresh")
    r.unpersistAll()
    // without the limit all 5 are admitted
    val r2 = Superstep.run(spark, frontier, Crawler.emptyBudgets(spark), pagesIdx, robots,
      projectsDf(1000.0, 1000.0), now0 + 1, Superstep.Config(respectRobots = false))
    assert(StepCounters.total(r2, "new_tasks") == 5)
    r2.unpersistAll()
  }

  test("project lifecycle: STOP gates scheduling, re-activation resumes, drained project is FINISHED") {
    val frontier = mkFrontier((1 to 4).map(i => (s"t$i", i.toLong, 0, 0.0)))
    val (pagesIdx, robots) = emptyPages
    val stopped = Seq(("p1", 1000.0, 1000.0, "STOP")).toDF("name", "rate", "burst", "status")
    val running = Seq(("p1", 1000.0, 1000.0, "RUNNING")).toDF("name", "rate", "burst", "status")
    // STOP: nothing is scheduled, frontier untouched
    val r1 = Superstep.run(spark, frontier, Crawler.emptyBudgets(spark), pagesIdx, robots,
      stopped, now0 + 1, Superstep.Config(respectRobots = false))
    assert(StepCounters.total(r1, "scheduled") == 0)
    assert(r1.frontier.where($"status" === TaskStatus.Active).count() == 4)
    r1.unpersistAll()
    // re-activation: same frontier, RUNNING -> selection proceeds
    val r2 = Superstep.run(spark, frontier, Crawler.emptyBudgets(spark), pagesIdx, robots,
      running, now0 + 1, Superstep.Config(respectRobots = false))
    assert(StepCounters.total(r2, "scheduled") == 4)
    r2.unpersistAll()
    // FINISHED: a full crawl whose project drains reports it finished
    val cfg = PageGen.Config(nHosts = 2, pagesPerHost = 6, hotHosts = 0, fanout = 2)
    val pages = PageGen.pages(spark, cfg).toDF()
    val run = Crawler.run(spark, pages, projectsDf(1000.0, 1000.0),
      Seq("p1" -> "http://host0.example.com/page/1"),
      // retries drain fast: missing pages fail after the ladder; cap steps high
      Crawler.CrawlConfig(maxSteps = 30, now0 = now0, tick = 8 * 3600.0))
    assert(run.finishedProjects == Seq("p1"))
    assert(run.frontier.where($"status" === TaskStatus.Active).count() == 0)
  }

  test("F11 redirects: <=5-hop chain resolves to final content, loop fails into the retry ladder") {
    val cfg = PageGen.Config(nHosts = 2, pagesPerHost = 8, hotHosts = 0, fanout = 2)
    val pages = PageGen.pagesWithRedirects(spark, cfg)
    val projects = projectsDf(1000.0, 1000.0)
    val seeds = Seq(
      "p1" -> "http://host0.example.com/hop3/1", // 307 -> 302 -> 301 -> /page/1
      "p1" -> "http://host0.example.com/loopa")  // 2-cycle, never resolves
    val run = Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 2, now0 = now0))
    val f = run.frontier.cache()
    // the chained seed fetched /page/1's content: SUCCESS + /page/1's links followed
    assert(f.where($"url" === "http://host0.example.com/hop3/1" &&
      $"status" === TaskStatus.Success).count() == 1)
    val p1Targets = PageGen.linkTargets(cfg, 0, 1)
    p1Targets.foreach { t =>
      assert(f.where($"url" === s"http://host0.example.com/page/$t").count() == 1,
        s"link target /page/$t of the redirect-final page was not followed")
    }
    // result row keeps the TASK url (original), per reference result identity
    assert(run.results.where($"url" === "http://host0.example.com/hop3/1").count() == 1)
    // the loop seed failed its fetch (redirects exceeded) and entered retry
    val loop = f.where($"url" === "http://host0.example.com/loopa")
      .select("status", "retried").collect().head
    assert(loop.getInt(0) == TaskStatus.Active && loop.getInt(1) >= 1)
    f.unpersist()
  }

  test("store survives zero-upsert supersteps (retry-backoff lull) and the crawl resumes past them") {
    // one seed whose page doesn't exist: step 1 schedules + fails it into
    // the 30s retry backoff; with tick=1.0 steps 2-3 schedule NOTHING while
    // the task stays ACTIVE — each must still commit a snapshot (previously
    // an empty partitionBy write + read-back threw UNABLE_TO_INFER_SCHEMA)
    val (pagesIdx, robots) = emptyPages
    val pages = Seq.empty[(String, java.sql.Timestamp, Array[Byte], String, String)]
      .toDF("url", "warc_ts", "html", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-lull").toString
    val store = new FrontierStore(dir, 8)
    val run = Crawler.run(spark, pages, projectsDf(1000.0, 1000.0),
      Seq("p1" -> "http://h0.test/gone"),
      Crawler.CrawlConfig(maxSteps = 3, now0 = now0, tick = 1.0), Some(store))
    assert(run.steps == 3, s"crawl died mid-lull at step ${run.steps}")
    // snapshots 1(bootstrap)+3 steps committed; the task is still ACTIVE in backoff
    assert(store.currentId.get == 4)
    val snap = store.read(spark).get
    val row = snap.frontier.select("status", "retried").collect().head
    assert(row.getInt(0) == TaskStatus.Active && row.getInt(1) == 1)
    // and a later resume (ticks past the backoff) picks the task up again
    val run2 = Crawler.run(spark, pages, projectsDf(1000.0, 1000.0), Seq.empty,
      Crawler.CrawlConfig(maxSteps = 8, now0 = now0, tick = 7 * 3600.0), Some(store))
    assert(store.read(spark).get.frontier
      .where($"status" === TaskStatus.Failed).count() == 1)
  }

  test("termination: a STOP project holding ACTIVE tasks does not burn empty supersteps") {
    val cfg = PageGen.Config(nHosts = 2, pagesPerHost = 6, hotHosts = 0, fanout = 2)
    val pages = PageGen.pages(spark, cfg).toDF()
    val stopped = Seq(("p1", 1000.0, 1000.0, "STOP")).toDF("name", "rate", "burst", "status")
    val run = Crawler.run(spark, pages, stopped,
      Seq("p1" -> "http://host0.example.com/page/1"),
      Crawler.CrawlConfig(maxSteps = 10, now0 = now0))
    // nothing is schedulable: terminate immediately, not after 10 empty steps
    assert(run.steps == 0 && run.totalScheduled == 0)
  }

  test("compaction drops a drained (FINISHED) project's rows and seen keys; live projects survive") {
    import org.apache.spark.sql.SaveMode
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val store = new FrontierStore(dir, 8, seenBuckets = 8, compactEvery = 2)
    def rows(p: String, n: Int, status: Int) =
      Crawler.seedFrontier(spark,
        (1 to n).map(i => p -> s"http://$p.test/u$i"), now0)
        .withColumn("status", lit(status))
    // snap 1 (full): pA active + pB fully drained (SUCCESS only)
    val s1 = rows("pa", 3, TaskStatus.Active).unionByName(rows("pb", 3, TaskStatus.Success))
    store.writeIncremental(spark, 1, now0, s1, s1.select("project", "url_hash"),
      Crawler.emptyBudgets(spark), Crawler.emptyResults(spark), Crawler.emptyCounters(spark))
    // snap 2 (incremental), snap 3 (compaction: 3 - base(1) >= 2)
    (2 to 3).foreach { i =>
      val up = rows("pa", 3 + i, TaskStatus.Active)
      store.writeIncremental(spark, i, now0 + i, up, up.select("project", "url_hash"),
        Crawler.emptyBudgets(spark), Crawler.emptyResults(spark), Crawler.emptyCounters(spark))
    }
    val snap = store.read(spark).get
    val byProj = snap.frontier.groupBy("project").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byProj.contains("pb"), s"drained project's rows survived compaction: $byProj")
    assert(byProj("pa") == 6) // 3 seeds + u4/u5/u6
    // pb's seen keys are gone too (delete_project forgets the taskdb)
    val keys = store.seenFilter(spark).get.keysFor(spark, 0 until 8)
      .select("project").distinct().collect().map(_.getString(0)).toSet
    assert(keys == Set("pa"))
  }

  test("counter totals accumulate across resume (reference counter reload)") {
    val cfg = PageGen.Config(nHosts = 3, pagesPerHost = 10, hotHosts = 0, fanout = 3)
    val pages = PageGen.pages(spark, cfg).toDF()
    val projects = projectsDf(3.0, 5.0)
    val seeds = Seq("p1" -> "http://host0.example.com/page/0")
    val dirA = java.nio.file.Files.createTempDirectory("graft-ctA").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-ctB").toString
    val runA = Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 6, now0 = now0), Some(new FrontierStore(dirA, 8)))
    val storeB = new FrontierStore(dirB, 8)
    Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 3, now0 = now0), Some(storeB))
    val runB = Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 6, now0 = now0), Some(storeB))
    // the resumed run's cumulative totals equal the uninterrupted run's
    assert(runB.counterTotals == runA.counterTotals)
    assert(runA.counterTotals("p1")("scheduled") == runA.totalScheduled)
  }

  test("store manifest: format-version mismatch fails with a descriptive error; quoted project names survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val store = new FrontierStore(dir, 4)
    // a project name with JSON-hostile characters round-trips the manifest
    val evil = "p\"quote\\back"
    val sf = Crawler.seedFrontier(spark, Seq(evil -> "http://h0.test/a"), now0)
    val ctr = Seq((evil, 1L)).toDF("project", "scheduled")
    store.writeIncremental(spark, 1, now0, sf, sf.select("project", "url_hash"),
      Crawler.emptyBudgets(spark), Crawler.emptyResults(spark), ctr)
    val snap = store.read(spark).get
    assert(snap.frontier.select("project").collect().head.getString(0) == evil)
    assert(snap.counterTotals == Map(evil -> Map("scheduled" -> 1L)))
    // now corrupt the format field: read must fail fast + descriptively
    val mPath = java.nio.file.Paths.get(dir, "snap-000001", "manifest.json")
    val m = java.nio.file.Files.readString(mPath)
    java.nio.file.Files.writeString(mPath, m.replace("\"format\":" +
      FrontierStore.FormatVersion, "\"format\":1"))
    val e = intercept[IllegalStateException](store.read(spark))
    assert(e.getMessage.contains("manifest format"))
  }

  test("store manifest: a truncated manifest or a reopen with another layout fails with the store's error") {
    val dir = java.nio.file.Files.createTempDirectory("graft-layout")
    val sf = Crawler.seedFrontier(spark, Seq("p1" -> "http://h0.test/a"), now0)
    def commit(store: FrontierStore, step: Int): Long =
      store.writeIncremental(spark, step, now0, sf, sf.select("project", "url_hash"),
        Crawler.emptyBudgets(spark), Crawler.emptyResults(spark), Crawler.emptyCounters(spark))
    val id = commit(new FrontierStore(dir.toString, 8), 1)
    // compact JSON: a compaction shows as this exact substring
    assert(new FrontierStore(dir.toString, 8).manifestJson(id).contains("\"full\":true"))
    // fewer partitions would drop the owners of buckets 4-7, more would
    // index past the owner list, other seen buckets probe the wrong blooms
    for ((parts, seen) <- Seq((4, 64), (16, 64), (8, 32))) {
      val e = intercept[IllegalStateException](
        commit(new FrontierStore(dir.toString, parts, seenBuckets = seen), 2))
      for (named <- Seq("numPartitions = 8", "seenBuckets = 64",
          s"numPartitions = $parts", s"seenBuckets = $seen"))
        assert(e.getMessage.contains(named), e.getMessage)
    }
    val store = new FrontierStore(dir.toString, 8)
    assert(store.currentId.contains(id) && store.read(spark).get.frontierRows == 1)
    // a truncated manifest never surfaces as a raw JSON exception
    val mPath = dir.resolve(FrontierStore.snapName(id)).resolve("manifest.json")
    val m = java.nio.file.Files.readString(mPath)
    java.nio.file.Files.writeString(mPath, m.take(m.length / 2))
    val e = intercept[IllegalStateException](store.read(spark))
    assert(e.getMessage.contains("corrupt store"), e.getMessage)
  }

  private def seedBatch(lo: Int, n: Int): DataFrame = Crawler.seedFrontier(spark,
    (lo until lo + n).map(i => "p1" -> s"http://h0.test/u$i"), now0)

  /** Commit `batch`'s rows, all fresh, as one snapshot of `store`. */
  private def commitFresh(store: FrontierStore, step: Int, batch: DataFrame): Long =
    store.writeIncremental(spark, step, now0 + step, batch, batch.select("project", "url_hash"),
      Crawler.emptyBudgets(spark), Crawler.emptyResults(spark), Crawler.emptyCounters(spark))

  /** Every committed seen key of `sf` with its bucket and skey, read back
    * from the delta parquet (a file scan, so the probe runs codegen'd). */
  private def committedKeys(sf: graft.frontier.SeenFilter): DataFrame =
    sf.keysFor(spark, 0 until sf.numBuckets)
      .withColumn("skey", xxhash64(col("project"), col("url_hash")))
      .withColumn("b", sf.bucketCol(col("project"), col("url_hash")))

  test("seen delta blooms: no false negative over a full chain or after compaction") {
    val every = 8
    val perSnap = 2000
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomchain").toString
    val store = new FrontierStore(dir, 4, seenBuckets = 2, compactEvery = every)
    // snapshot 1 is the base, 2..every add every - 1 deltas: the longest chain
    (0 until every).foreach(i => commitFresh(store, i + 1, seedBatch(i * perSnap, perSnap)))
    val sf = store.seenFilter(spark).get
    assert(sf.deltaChain.map(_._2) == Seq.fill(every)(Set(0, 1)))
    def misses(sf: graft.frontier.SeenFilter, keys: Long): Long = {
      val all = committedKeys(sf)
      assert(all.count() == keys)
      all.where(!sf.probe(col("b"), col("skey"))).count()
    }
    assert(misses(sf, every * perSnap) == 0)
    // measured false-positive rate of the chain's OR over non-member keys
    val nonMembers = 200000
    val probes = spark.range(nonMembers).select(xxhash64(col("id"), lit("non-member")).as("skey"))
      .withColumn("b", pmod(col("skey"), lit(sf.numBuckets)).cast("int"))
    val fpr = probes.where(sf.probe(col("b"), col("skey"))).count().toDouble / nonMembers
    assert(fpr <= 0.01, s"chain of $every blooms: FPR $fpr > bloomFpp 0.01")
    // the next snapshot compacts: one bloom per bucket, every key still in it
    commitFresh(store, every + 1, seedBatch(every * perSnap, perSnap))
    val compacted = store.seenFilter(spark).get
    assert(compacted.deltaChain.map(_._2) == Seq(Set(0, 1)))
    assert(misses(compacted, (every + 1) * perSnap) == 0)
    // the probe is a codegen'd native expression on the J1 hot path — it
    // must appear in the executed plan by name with no boxed ScalaUDF
    // dispatch. Probe over a range (not a LocalRelation): a local source
    // lets ConvertToLocalRelation evaluate the deterministic filter at
    // optimize time, leaving no observable plan
    val planDf = probes.where(!sf.probe(col("b"), col("skey")))
    planDf.count() // force execution through codegen (compiles the generated probe call)
    val plan = planDf.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_seen_probe"), s"probe expr missing from plan:\n${plan.take(800)}")
    assert(!plan.contains("UDF"), s"probe must not be a ScalaUDF:\n${plan.take(800)}")
  }

  test("bloom chain probe: codegen and nullSafeEval agree on a chain of 3+ deltas") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bloomeval").toString
    val store = new FrontierStore(dir, 4, seenBuckets = 4)
    (0 until 4).foreach(i => commitFresh(store, i + 1, seedBatch(i * 300, 300)))
    val sf = store.seenFilter(spark).get
    assert(sf.deltaChain.size == 4)
    val members = committedKeys(sf).select(col("b"), col("skey"))
    val others = spark.range(3000).select(xxhash64(col("id"), lit("other")).as("skey"))
      .withColumn("b", pmod(col("skey"), lit(sf.numBuckets)).cast("int")).select("b", "skey")
    val probed = members.unionByName(others).withColumn("hit", sf.probe(col("b"), col("skey")))
    val rows = probed.as[(Int, Long, Boolean)].collect()
    assert(probed.queryExecution.executedPlan.toString.linesIterator
      .exists(l => l.contains("*(") && l.contains("bloom_seen_probe")),
      "probe not inside whole-stage codegen")
    assert(rows.length == 4 * 300 + 3000)
    assert(rows.count(_._3) >= 4 * 300 && rows.exists(!_._3))
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Literal
    for ((b, k, hit) <- rows) {
      val eval = expression(sf.probe(column(Literal(b)), column(Literal(k)))).eval()
      // the per-snapshot entry point ORed over the chain: the same answer
      val perSnap = sf.deltaChain.exists { case (snap, bs) =>
        bs.contains(b) && graft.frontier.SeenFilter.probeOne(sf.root, snap, b, k)
      }
      assert(eval == hit && perSnap == hit, s"bucket $b key $k: codegen $hit, eval $eval")
    }
  }

  test("seen commit is O(step) at the default sizing; a format-4 store is rejected") {
    val dir = java.nio.file.Files.createTempDirectory("graft-seenstep")
    val store = new FrontierStore(dir.toString, 4) // 64 seen buckets, defaults
    commitFresh(store, 1, seedBatch(0, 1000))
    val id = commitFresh(store, 2, seedBatch(1000, 100))
    val blooms = java.nio.file.Files.list(dir.resolve(FrontierStore.snapName(id)).resolve("blooms"))
    val bytes = try blooms.mapToLong(java.nio.file.Files.size(_)).sum() finally blooms.close()
    assert(bytes > 0 && bytes < 64 * 1024, s"a 100-key commit wrote $bytes B of blooms")
    val m = store.manifestJson(id)
    for (gone <- Seq("seen_owner", "seen_rows", "seen_cap")) assert(!m.contains(gone), gone)
    val mPath = dir.resolve(FrontierStore.snapName(id)).resolve("manifest.json")
    java.nio.file.Files.writeString(mPath,
      m.replace("\"format\":" + FrontierStore.FormatVersion, "\"format\":4"))
    val e = intercept[IllegalStateException](store.read(spark))
    assert(e.getMessage.contains("manifest format 4"))
  }

  test("result sink is O(step): the superstep loop never scans results history (verdict r04 item 1)") {
    // first-writer-wins result dedup must come from each task's own
    // crawled_ok flag — at 10^10 URLs an anti-join against the cumulative
    // results table would rescan the whole history every superstep. The
    // listener records every parquet path a FileSourceScan reads during the
    // store-backed crawl: none may point into results-delta/ (writes to it
    // are fine — that's the sink; the final read-back after the loop is the
    // caller's one-off materialization, outside the window).
    import org.apache.spark.sql.execution.SparkPlan
    val scanned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def paths(p: SparkPlan): Seq[String] = {
      val self = p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString).toSeq
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => paths(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => paths(q.plan)
        case _ => Nil
      }
      self ++ p.children.flatMap(paths) ++ p.subqueries.flatMap(paths)
    }
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        paths(qe.executedPlan).foreach(scanned.add)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    val pages = PageGen.pages(spark, PageGen.Config(nHosts = 3, pagesPerHost = 10,
      hotHosts = 1, hotFactor = 2, fanout = 3)).toDF()
    val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
    val dir = java.nio.file.Files.createTempDirectory("graft-resscan")
    val store = new FrontierStore(dir.toString, 4, seenBuckets = 8)
    spark.listenerManager.register(listener)
    val run = try {
      val r = Crawler.run(spark, pages, projects,
        Seq("p1" -> "http://host0.example.com/page/1"),
        Crawler.CrawlConfig(maxSteps = 3), Some(store))
      // drain the async listener bus before reading `scanned`
      try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
          .invoke(bus, java.lang.Long.valueOf(10000L))
      } catch { case _: Throwable => Thread.sleep(500) }
      r
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val resultScans = scanned.asScala.filter(_.contains("results-delta"))
    assert(resultScans.isEmpty,
      s"superstep loop scanned results history: $resultScans")
    // the sink still works: the crawl produced results, readable after the loop
    assert(run.results.count() > 0)
  }

  test("restart re-fetch re-EMITS (newResults) but never re-INSERTS (firstResults): crawled_ok survives on_old_request") {
    // A force_update restart re-crawls a SUCCESS task: on_result fires again
    // (newResults row), but the result SINK is first-writer-wins keyed by
    // (project, url_hash) — crawled_ok must survive the mergeIncoming
    // restart so the re-fetch adds nothing to firstResults (otherwise the
    // loops would append a duplicate key to the results table).
    import org.apache.spark.sql.functions._
    val html = "<html><body>r</body></html>".getBytes("UTF-8")
    val pages = Seq(("http://h0.test/p/0", new java.sql.Timestamp(0L), html, "", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val (idx, rb) = Superstep.preparePages(spark, pages)
    val projects = projectsDf(1e9, 1e9)
    val cfg = Superstep.Config(respectRobots = false)
    val f0 = Crawler.seedFrontier(spark, Seq("p1" -> "http://h0.test/p/0"), now0)
    val r1 = Superstep.run(spark, f0, Crawler.emptyBudgets(spark), idx, rb,
      projects, now0 + 1, cfg)
    assert(r1.newResults.count() == 1 && r1.firstResults.count() == 1)
    val f1 = r1.frontier.localCheckpoint(); r1.unpersistAll()
    assert(f1.where($"crawled_ok").count() == 1)
    // on_request restart: force_update re-activates the SUCCESS task
    val incoming = Crawler.seedFrontier(spark, Seq("p1" -> "http://h0.test/p/0"), now0 + 2)
      .withColumn("force_update", lit(true))
    val f2 = Superstep.mergeIncoming(f1, incoming, now0 + 2).localCheckpoint()
    val restarted = f2.collect().head
    assert(restarted.getAs[Int]("status") == TaskStatus.Active)
    assert(restarted.getAs[Boolean]("crawled_ok"), "success history must survive the restart")
    val r2 = Superstep.run(spark, f2, Crawler.emptyBudgets(spark), idx, rb,
      projects, now0 + 3, cfg)
    assert(r2.newResults.count() == 1, "the re-fetch re-emits on_result")
    assert(r2.firstResults.count() == 0, "the sink delta must NOT re-insert the key")
    r2.unpersistAll()
  }

  test("conditional fetch: matching ETag is a 304 — no re-extract, no result; changed ETag re-extracts") {
    val html = """<html><body><a href="/next">n</a></body></html>""".getBytes("UTF-8")
    def pagesTagged(tag: String) = Seq(
      ("http://h0.test/start", new java.sql.Timestamp(0L), html, "", "en", tag, null: String))
      .toDF("url", "warc_ts", "html", "text", "lang", "etag", "last_modified")
    val projects = projectsDf(1000.0, 1000.0)
    // auto_recrawl age=0: the task re-fetches every superstep
    val frontier0 = mkFrontier(Seq(("start", 0L, 0, 0.0)))
      .withColumn("url", lit("http://h0.test/start"))
      .withColumn("url_hash", expr("xxhash64(url)"))
      .withColumn("auto_recrawl", lit(true)).withColumn("age", lit(0.0))
    val (idx1, rb1) = Superstep.preparePages(spark, pagesTagged("v1"))
    val cfg = Superstep.Config(respectRobots = false)

    // fetch 1: no stored etag -> full fetch: /next discovered, result emitted, etag v1 stored
    val r1 = Superstep.run(spark, frontier0, Crawler.emptyBudgets(spark), idx1, rb1,
      projects, now0 + 1, cfg)
    assert(StepCounters.total(r1, "new_tasks") == 1 && r1.newResults.count() == 1)
    // first success: the first-writer-wins delta carries the row too
    assert(r1.firstResults.count() == 1)
    val f1 = r1.frontier.localCheckpoint()
    assert(f1.where($"url_hash" === xxhash64(lit("http://h0.test/start")))
      .select("etag").collect().head.getString(0) == "v1")
    r1.unpersistAll()

    // fetch 2, same content: stored v1 == page v1 -> 304: SUCCESS-equivalent,
    // but NO result row and NO re-extraction (0 candidates from this page)
    val r2 = Superstep.run(spark, f1, Crawler.emptyBudgets(spark), idx1, rb1,
      projects, now0 + 2, cfg)
    assert(r2.newResults.count() == 0)
    val c2 = StepCounters.of(r2, "p1")
    assert(c2.getAs[Long]("not_modified") == 1)
    assert(c2.getAs[Long]("candidates") == 0) // extraction skipped entirely
    val f2 = r2.frontier.localCheckpoint()
    r2.unpersistAll()

    // fetch 3, content changed (etag v2): full fetch again — result re-emitted,
    // stored etag refreshes to v2
    val (idx3, rb3) = Superstep.preparePages(spark, pagesTagged("v2"))
    val r3 = Superstep.run(spark, f2, Crawler.emptyBudgets(spark), idx3, rb3,
      projects, now0 + 3, cfg)
    assert(r3.newResults.count() == 1)
    // ...but the task already succeeded at step 1 (crawled_ok), so the
    // first-writer-wins delta is EMPTY — the crawl loops would not append a
    // duplicate (project, url_hash) to the results table
    assert(r3.firstResults.count() == 0)
    assert(StepCounters.of(r3, "p1").getAs[Long]("not_modified") == 0)
    assert(r3.frontier.where($"url" === "http://h0.test/start")
      .select("etag").collect().head.getString(0) == "v2")
    val f3 = r3.frontier.localCheckpoint()
    r3.unpersistAll()

    // fetch 4: the refreshed capture serves NO ETag while the task still
    // stores v2 — `stored === NULL` is SQL-NULL and must not poison the
    // row (three-valued-logic trap): this is a FULL fetch with a result,
    // and the stored header clears to the page's (null)
    val (idx4, rb4) = Superstep.preparePages(spark, pagesTagged(null))
    val r4 = Superstep.run(spark, f3, Crawler.emptyBudgets(spark), idx4, rb4,
      projects, now0 + 4, cfg)
    assert(r4.newResults.count() == 1)
    assert(StepCounters.of(r4, "p1").getAs[Long]("not_modified") == 0)
    assert(r4.frontier.where($"url" === "http://h0.test/start")
      .select("etag").collect().head.getString(0) == null)
    r4.unpersistAll()
  }

  test("conditional fetch: RFC 7232 precedence — ETag mismatch full-fetches even when Last-Modified matches; ETag match 304s over an lm mismatch") {
    val html = """<html><body>x</body></html>""".getBytes("UTF-8")
    def pagesWith(tag: String, lm: String) = Seq(
      ("http://h0.test/start", new java.sql.Timestamp(0L), html, "", "en", tag, lm))
      .toDF("url", "warc_ts", "html", "text", "lang", "etag", "last_modified")
    val projects = projectsDf(1000.0, 1000.0)
    def frontierWith(tag: String, lm: String) = mkFrontier(Seq(("start", 0L, 0, 0.0)))
      .withColumn("url", lit("http://h0.test/start"))
      .withColumn("url_hash", expr("xxhash64(url)"))
      .withColumn("etag", lit(tag)).withColumn("last_modified", lit(lm))
    val cfg = Superstep.Config(respectRobots = false)

    // content changed (etag v1 -> v2) but the server kept Last-Modified:
    // If-None-Match has precedence, so this MUST be a full 200 — with the
    // OR rule the lm match would 304 forever and the change is never seen
    val (idxA, rbA) = Superstep.preparePages(spark, pagesWith("v2", "L"))
    val rA = Superstep.run(spark, frontierWith("v1", "L"), Crawler.emptyBudgets(spark),
      idxA, rbA, projects, now0 + 1, cfg)
    assert(rA.newResults.count() == 1, "etag mismatch + lm match must full-fetch")
    assert(StepCounters.of(rA, "p1").getAs[Long]("not_modified") == 0)
    rA.unpersistAll()

    // both etags present and EQUAL: 304 even though lm differs (the etag
    // validator alone decides when both sides carry one)
    val (idxB, rbB) = Superstep.preparePages(spark, pagesWith("v1", "L2"))
    val rB = Superstep.run(spark, frontierWith("v1", "L1"), Crawler.emptyBudgets(spark),
      idxB, rbB, projects, now0 + 1, cfg)
    assert(rB.newResults.count() == 0, "etag match must 304 regardless of lm")
    assert(StepCounters.of(rB, "p1").getAs[Long]("not_modified") == 1)
    rB.unpersistAll()

    // etag absent on the page side -> fall back to lm: match is a 304
    val (idxC, rbC) = Superstep.preparePages(spark, pagesWith(null, "L"))
    val rC = Superstep.run(spark, frontierWith("v1", "L"), Crawler.emptyBudgets(spark),
      idxC, rbC, projects, now0 + 1, cfg)
    assert(rC.newResults.count() == 0, "no page etag + lm match must 304")
    rC.unpersistAll()
  }

  test("W7 retry ladder: missing page retries then fails; backoff times are exact") {
    val frontier = mkFrontier(Seq(("gone", 99L, 0, 0.0)))
    val (pagesIdx, robots) = emptyPages
    var f = frontier
    var budgets = Crawler.emptyBudgets(spark)
    // big tick so each retry becomes ready immediately (ladder: 30s,1h,6h)
    val tick = 7 * 3600.0
    var states = Seq.newBuilder[(Int, Int, Double)]
    (1 to 5).foreach { s =>
      val now = now0 + s * tick
      val r = Superstep.run(spark, f, budgets, pagesIdx, robots,
        projectsDf(1000.0, 1000.0), now, Superstep.Config(respectRobots = false))
      val row = r.frontier.select("status", "retried", "exetime").collect().head
      states += ((row.getInt(0), row.getInt(1), row.getDouble(2)))
      f = r.frontier.localCheckpoint(); budgets = r.budgets.localCheckpoint()
      r.unpersistAll()
    }
    val st = states.result()
    // attempt 1: retried=1, exetime = now + 30 (ladder[0])
    assert(st(0) == ((TaskStatus.Active, 1, now0 + tick + 30.0)))
    // attempt 2: retried=2, + 3600
    assert(st(1) == ((TaskStatus.Active, 2, now0 + 2 * tick + 3600.0)))
    // attempt 3: retried=3, + 21600
    assert(st(2) == ((TaskStatus.Active, 3, now0 + 3 * tick + 21600.0)))
    // attempt 4: retried(3) >= retries(3) -> FAILED
    assert(st(3)._1 == TaskStatus.Failed)
    // no further change
    assert(st(4)._1 == TaskStatus.Failed)
  }
}
