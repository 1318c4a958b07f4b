package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.frontier.FrontierStore
import graft.gen.PageGen
import graft.streaming.StreamingCrawl

class StreamingCrawlSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("continuous mode: seed stream drives supersteps; state interoperates with batch resume") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val store = new FrontierStore(dir, 8)
    val cfg = PageGen.Config(nHosts = 3, pagesPerHost = 8, hotHosts = 0, fanout = 2)
    val pages = PageGen.pages(spark, cfg).toDF()
    val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")

    implicit val sqlCtx = spark.sqlContext
    val seeds = MemoryStream[(String, String)]
    val q = StreamingCrawl.start(spark, pages, projects, store,
      seeds.toDF().toDF("project", "url"))
    try {
      // batch 1: one seed -> superstep 1
      seeds.addData(("p1", "http://host0.example.com/page/1"))
      q.processAllAvailable()
      val s1 = store.read(spark).get
      assert(s1.step == 1)
      val seen1 = s1.frontier.count()
      assert(seen1 >= 1)

      // batch 2: a NEW seed on another host + a duplicate of the first
      seeds.addData(("p1", "http://host1.example.com/page/1"),
        ("p1", "HTTP://HOST0.example.com:80/page/1#dup"))
      q.processAllAvailable()
      val s2 = store.read(spark).get
      assert(s2.step == 2)
      val hosts = s2.frontier.select("host").distinct().as[String].collect().toSet
      assert(hosts.contains("host1.example.com"))
      // the duplicate seed did not create a second row for page/1@host0
      assert(s2.frontier
        .where($"url" === "http://host0.example.com/page/1").count() == 1)

      // empty batch still advances the crawl (continuous ticking)
      seeds.addData()
      q.processAllAvailable()
    } finally q.stop()

    // batch-mode driver continues from the streaming store seamlessly
    val run = graft.sched.Crawler.run(spark, pages, projects, Seq.empty,
      graft.sched.Crawler.CrawlConfig(maxSteps = store.read(spark).get.step + 2),
      Some(store))
    assert(run.steps > 2)
    assert(run.frontier.groupBy("project", "url_hash").count()
      .where($"count" > 1).count() == 0)
  }

  test("streaming supersteps shuffle-join a robots side larger than the broadcast gate") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = java.nio.file.Files.createTempDirectory("graft-srobots").toString
    val store = new FrontierStore(dir, 8)
    val cfg = PageGen.Config(nHosts = 2, pagesPerHost = 6, hotHosts = 0, fanout = 2)
    // one robots.txt per host: the graph's hosts plus enough others that
    // the robots side holds one host more than the gate allows
    val hosts = graft.sched.Crawler.BroadcastRobotsMaxHosts + 1
    val extraRobots = spark.range(hosts - cfg.nHosts).selectExpr(
      "concat('http://r', id, '.example.org/robots.txt') as url",
      "timestamp_seconds(1700000000) as warc_ts",
      "cast('User-agent: *' as binary) as html", "'User-agent: *' as text", "'en' as lang")
    val pages = PageGen.pages(spark, cfg).toDF().unionByName(extraRobots)
    val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")

    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case r: ReusedExchangeExec => nodes(r.child)
      case other => other.children.flatMap(nodes)
    })
    def carriesRobots(p: SparkPlan): Boolean = p.output.exists(_.name == "robots_txt")
    @volatile var robotsJoins = 0
    @volatile var robotsBroadcasts = 0
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val all = nodes(qe.executedPlan)
        robotsJoins += all.count {
          case j: BaseJoinExec => j.children.exists(carriesRobots)
          case _ => false
        }
        robotsBroadcasts += all.count {
          case b: BroadcastExchangeExec => carriesRobots(b)
          case _ => false
        }
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // only hints may broadcast: the planner's size-based choice is off
    val thresholds = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = thresholds.map(k => k -> spark.conf.getOption(k))
    thresholds.foreach(spark.conf.set(_, "-1"))
    implicit val sqlCtx = spark.sqlContext
    val seeds = MemoryStream[(String, String)]
    spark.listenerManager.register(listener)
    val q = StreamingCrawl.start(spark, pages, projects, store,
      seeds.toDF().toDF("project", "url"))
    try {
      seeds.addData(("p1", "http://host0.example.com/page/1"))
      q.processAllAvailable()
      seeds.addData()
      q.processAllAvailable()
      Udfs.drainListenerBus(spark.sparkContext, 10000L)
    } finally {
      q.stop()
      spark.listenerManager.unregister(listener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(store.read(spark).get.step == 2)
    assert(robotsJoins > 0, "no robots gate join was planned")
    assert(robotsBroadcasts == 0, "the robots side was broadcast above the gate")
  }

  test("streaming J1 shape: the seen-index step probes delta files and adds no full-frontier key join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sj1").toString
    val store = new FrontierStore(dir, 8)
    val cfg = PageGen.Config(nHosts = 2, pagesPerHost = 8, hotHosts = 0, fanout = 2)
    val pages = PageGen.pages(spark, cfg).toDF()
    val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
    val now0 = 1700000000.0
    graft.sched.Crawler.run(spark, pages, projects,
      Seq("p1" -> "http://host0.example.com/page/1"),
      graft.sched.Crawler.CrawlConfig(maxSteps = 2, now0 = now0), Some(store))
    val snap = store.read(spark).get
    val (pagesIdx, robots) = graft.sched.Superstep.preparePages(spark, pages)
    // shape detection on the ANALYZED plan (persisted intermediates hide
    // file relations behind InMemoryRelation further down). The bad shape
    // is J1's exact fallback: a join whose one side is a PURE projection of
    // the frontier relation (its only file relation is the frontier, and no
    // extraction Generate in between) — i.e. "join candidates against the
    // full frontier key set". The seen-index mode must not contain it.
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def fileRels(p: LogicalPlan): Seq[String] = p.collect {
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation => f.location.rootPaths.map(_.toString)
        case _ => Seq.empty[org.apache.hadoop.fs.Path].map(_.toString)
      }
    }.flatten
    def refs(df: org.apache.spark.sql.DataFrame, frag: String): Int =
      fileRels(df.queryExecution.analyzed).count(_.contains(frag))
    // ... joined against the EXTRACTION output (a Generate in the other
    // side): that is "check every candidate against all frontier keys".
    // The lifecycle gate (frontier semi-join vs the tiny projects dim) is
    // fine and must not trip this.
    def hasFullFrontierKeyJoin(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect { case j: Join => j }.exists { j =>
        Seq((j.left, j.right), (j.right, j.left)).exists { case (side, other) =>
          val rels = fileRels(side)
          rels.nonEmpty && rels.forall(_.contains("/frontier/")) &&
            side.collect { case g: Generate => g }.isEmpty &&
            other.collect { case g: Generate => g }.nonEmpty
        }
      }
    val extra = Seq(("p1", 12345L)).toDF("project", "url_hash")
    val rIdx = graft.sched.Superstep.run(spark, snap.frontier, snap.budgets, pagesIdx,
      robots, projects, now0 + 3, graft.sched.Superstep.Config(),
      store.seenFilter(spark), Some(extra))
    val rExact = graft.sched.Superstep.run(spark, snap.frontier, snap.budgets, pagesIdx,
      robots, projects, now0 + 3, graft.sched.Superstep.Config())
    // the J1 output's lineage: the seen-index mode reads the pruned
    // seen-delta bucket files and adds NO full-frontier key join; the exact
    // fallback (the shape streaming mode must avoid) shows both inversions
    assert(refs(rIdx.freshKeys, "/seen-delta/") > 0,
      "seen-index mode must probe the bucketed seen-delta files")
    assert(refs(rExact.freshKeys, "/seen-delta/") == 0)
    assert(!hasFullFrontierKeyJoin(rIdx.freshKeys),
      "seen-index mode must not join against the full frontier key set")
    assert(hasFullFrontierKeyJoin(rExact.freshKeys)) // contrast: detector sees the bad shape
    // and the two paths agree on the data
    val a = rIdx.upserts.select("project", "url_hash", "status").orderBy("url_hash").collect().toSeq
    val b = rExact.upserts.select("project", "url_hash", "status").orderBy("url_hash").collect().toSeq
    assert(a == b)
    rIdx.unpersistAll(); rExact.unpersistAll()
  }

  test("W3 processing-timeout analogue: a batch killed after selection, before commit, is re-selected on resume") {
    // the reference re-queues tasks whose status pack never arrives within
    // processing_timeout (task_queue.py:117,160-170). In the snapshot model
    // selection+ack commit atomically: a superstep that dies mid-flight
    // leaves no trace, and resume re-selects exactly the in-flight batch —
    // the timeout is the snapshot boundary itself.
    val dir = java.nio.file.Files.createTempDirectory("graft-w3").toString
    val store = new FrontierStore(dir, 8)
    val cfg = PageGen.Config(nHosts = 2, pagesPerHost = 6, hotHosts = 0, fanout = 2)
    val pages = PageGen.pages(spark, cfg).toDF()
    val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
    val now0 = 1700000000.0

    // one committed step
    graft.sched.Crawler.run(spark, pages, projects,
      Seq("p1" -> "http://host0.example.com/page/1"),
      graft.sched.Crawler.CrawlConfig(maxSteps = 1, now0 = now0), Some(store))
    val committed = store.read(spark).get
    val committedKeys = committed.frontier.select("url_hash").as[Long].collect().sorted.toSeq

    // simulate a crash: run the NEXT superstep but never commit it
    val (pagesIdx, robots) = graft.sched.Superstep.preparePages(spark, pages)
    val dead = graft.sched.Superstep.run(spark, committed.frontier, committed.budgets,
      pagesIdx, robots, projects, now0 + 2, graft.sched.Superstep.Config())
    val selectedByDead = dead.upserts.where($"lastcrawltime" === now0 + 2)
      .select("url_hash").as[Long].collect().sorted.toSeq
    assert(selectedByDead.nonEmpty)
    dead.unpersistAll()

    // store is untouched (snapshot atomicity)...
    assert(store.read(spark).get.id == committed.id)
    assert(store.read(spark).get.frontier.select("url_hash").as[Long]
      .collect().sorted.toSeq == committedKeys)

    // ...and the resumed run re-selects exactly the same in-flight batch
    val resumed = graft.sched.Superstep.run(spark, store.read(spark).get.frontier,
      store.read(spark).get.budgets, pagesIdx, robots, projects, now0 + 2,
      graft.sched.Superstep.Config())
    val reSelected = resumed.upserts.where($"lastcrawltime" === now0 + 2)
      .select("url_hash").as[Long].collect().sorted.toSeq
    assert(reSelected == selectedByDead)
    resumed.unpersistAll()
  }
}
