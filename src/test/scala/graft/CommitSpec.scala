package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.frontier.FrontierStore
import graft.gen.PageGen
import graft.sched.{Crawler, StepDriver, Superstep}

/** The store commit: one materialization of the step's outputs, and a
  * commit that fails releases what it persisted. */
class CommitSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val now0 = 1700000000.0

  private def tempStore(): (java.nio.file.Path, FrontierStore) = {
    val dir = Files.createTempDirectory("graft-commit")
    (dir, new FrontierStore(dir.toString, 8, seenBuckets = 16))
  }

  private def rmrf(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }

  test("a store-mode step runs its output graph in one SQL execution") {
    val cfg = PageGen.Config(nHosts = 3, pagesPerHost = 10, hotHosts = 0, fanout = 3)
    val (pagesIdx, robots) = Superstep.preparePages(spark, PageGen.pages(spark, cfg).toDF())
    pagesIdx.persist(); robots.persist()
    val projects = Seq(("p1", 1000.0, 1000.0)).toDF("name", "rate", "burst")
    val (dir, store) = tempStore()
    // the persisted `fetched` frame is the one whose rows carry the decoded
    // page text next to the conditional-fetch flag
    def readsFetched(qe: QueryExecution): Boolean = qe.optimizedPlan.exists {
      case r: InMemoryRelation =>
        val names = r.output.map(_.name).toSet
        names("page_text") && names("not_modified")
      case _ => false
    }
    val reads = new AtomicInteger()
    val executions = new AtomicInteger()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        executions.incrementAndGet()
        if (readsFetched(qe)) reads.incrementAndGet()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    try {
      val driver = new StepDriver(spark, projects, Some(store), now0, 1.0,
        Seq("p1" -> "http://host0.example.com/page/1"), terminates = true)
      // the small-chain seen path: the step runs no action of its own
      // before the commit (the bloom probe path collects its buckets)
      assert(store.seenFilter(spark).get.deltaChain.map(_._2.size).sum <= 64)
      Udfs.drainListenerBus(spark.sparkContext, 10000L)
      spark.listenerManager.register(listener)
      try {
        driver.step(pagesIdx, robots, Superstep.Config())
        Udfs.drainListenerBus(spark.sparkContext, 10000L)
      } finally spark.listenerManager.unregister(listener)
      assert(driver.steps == 1 && store.currentId.contains(2L))
      assert(driver.result().totalFresh > 0)
      assert(executions.get > 1, "the commit's writes are SQL executions too")
      assert(reads.get == 1, s"${reads.get} SQL executions read the step's fetched frame")
    } finally {
      pagesIdx.unpersist(false); robots.unpersist(false)
      rmrf(dir)
    }
  }

  test("a commit whose section throws releases its persisted frames; the next commit succeeds") {
    val (dir, store) = tempStore()
    try {
      val seeds = Crawler.seedFrontier(spark,
        (1 to 6).map(i => "p1" -> s"http://h${i % 3}.test/p/$i"), now0)
      store.writeIncremental(spark, 0, now0, seeds, seeds.select("project", "url_hash"),
        Crawler.emptyBudgets(spark), Crawler.emptyResults(spark), Crawler.emptyCounters(spark))
      val more = Crawler.seedFrontier(spark,
        (7 to 12).map(i => "p1" -> s"http://h${i % 3}.test/p/$i"), now0 + 1)
      val results = more.select($"project", $"url_hash", $"url", lit("link").as("type"),
        map().cast("map<string,string>").as("data"), $"seed_url", $"updatetime")
      // the results section runs after the frontier and seen sections have
      // persisted their frames; evaluating this frame throws
      val failing = results.withColumn("url",
        when($"url_hash".isNotNull, raise_error(lit("results section failed")))
          .cast("string"))
      // RDDs persisted before the commit may be cleaned meanwhile; none the
      // commit persisted may stay
      def persisted = spark.sparkContext.getPersistentRDDs.keySet
      val persistedBefore = persisted
      val e = intercept[Exception](store.writeIncremental(spark, 1, now0 + 1, more,
        more.select("project", "url_hash"), Crawler.emptyBudgets(spark), failing,
        Crawler.emptyCounters(spark)))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("results section failed")), e)
      assert((persisted -- persistedBefore).isEmpty)
      assert(store.currentId.contains(1L))

      assert(store.writeIncremental(spark, 1, now0 + 1, more, more.select("project", "url_hash"),
        Crawler.emptyBudgets(spark), results, Crawler.emptyCounters(spark)) == 2L)
      val snap = store.read(spark).get
      assert(snap.frontier.count() == 12 && snap.frontierRows == 12)
      assert(snap.results.select("url").as[String].collect().sorted.toSeq ==
        more.select("url").as[String].collect().sorted.toSeq)
      assert((persisted -- persistedBefore).isEmpty)
    } finally rmrf(dir)
  }
}
