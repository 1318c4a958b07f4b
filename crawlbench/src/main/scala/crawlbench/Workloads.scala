package crawlbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.fetch.{LiveCrawler, LiveFetch}
import graft.gen.PageGen
import graft.sched.{Crawler, Superstep}
import graft.streaming.StreamingCrawl

/** What the timed crawls of one run added up to. */
final class RunStats {
  var crawls = 0
  var urls = 0L
  var timedNs = 0L
  val stepWalls = ArrayBuffer.empty[Double]
  /** process CPU seconds per superstep, same spans as stepWalls */
  val stepCpu = ArrayBuffer.empty[Double]
  var timedCpuNs = 0L
  val storeBytes = ArrayBuffer.empty[Long]
  val violations = ArrayBuffer.empty[String]
  /** supersteps that hit a known engine fault (see Checks.duplicateSteps) */
  var failedSteps = 0
  // traced run only
  val commits = ArrayBuffer.empty[Commit]
  /** (start, end) epoch ms of each superstep, for the job/stage roll-up */
  val stepSpansMs = ArrayBuffer.empty[(Long, Long)]
  /** per superstep: wall minus time in store calls minus fetch wall */
  val loopSecs = ArrayBuffer.empty[Double]
  /** per superstep: time in store reads and in seen-index calls */
  val readSecs = ArrayBuffer.empty[Double]
  val seenSecs = ArrayBuffer.empty[Double]
  val snapshotDirs = ArrayBuffer.empty[Int]
  val jobs = ArrayBuffer.empty[(Long, Long)]
  val stages = ArrayBuffer.empty[StageRec]
  var fetchRequests = 0L
  var robotsRequests = 0L
  var serverBusyNs = 0L
  var fetchWallNs = 0L
  val progress = ArrayBuffer.empty[Map[String, Long]]
  var bloomProbeNs = 0.0

  def steps: Int = stepWalls.size
}

/** One crawl loop over the engine, driven the same way on every run. */
abstract class Workload(val spark: SparkSession, val seed: Long, val scratch: Path,
    val trace: Boolean, val tracer: Option[Tracer]) {
  import spark.implicits._

  val nproc: Int = spark.sparkContext.defaultParallelism
  private var storeNo = 0

  /** A fresh store with one frontier bucket per core, as `graft.Main crawl
    * --checkpoint` lays it out. The seen index is sized to the run: 8
    * buckets with blooms for 2^16 keys each, hundreds of times the keys a
    * run inserts. Every commit rewrites the full bloom of each bucket it
    * touches, so at the engine's default sizing (64 buckets, 2^22 keys)
    * each commit writes ~300 MB and a run overruns its time budget. */
  def newStore(compactEvery: Int, onCommit: Int => Unit = _ => ()): TimedStore = {
    storeNo += 1
    new TimedStore(scratch.resolve(s"store-$storeNo"), nproc, compactEvery, trace, onCommit)
  }

  /** Engine module of this workload's crawl loop (stage attribution). */
  def loopModule: String

  /** Build inputs; part of set-up. */
  def setup(): Unit

  /** One whole timed crawl, checked once it has returned. */
  def crawl(stats: RunStats): Unit

  def close(): Unit = ()

  protected def resultKeys(results: DataFrame): Seq[(Long, String)] =
    results.select("url_hash", "url").as[(Long, String)].collect().toSeq

  /** Step walls between successive commit returns (the first from the
    * bootstrap commit), and in the traced run the per-step roll-up. */
  protected def recordSteps(stats: RunStats, store: TimedStore, fetchSpans: Seq[(Long, Long)]): Unit = {
    val cs = store.commitLog
    cs.sliding(2).foreach {
      case Seq(a, b) =>
        stats.stepWalls += (b.endNs - a.endNs) / 1e9
        stats.stepCpu += (b.cpuNs - a.cpuNs) / 1e9
        if (trace) {
          stats.stepSpansMs += ((a.wallMs, b.wallMs))
          val inStore = b.storeNs - a.storeNs
          val inFetch = Tracer.covered(fetchSpans, a.endNs, b.endNs)
          stats.fetchWallNs += inFetch
          stats.loopSecs += (b.endNs - a.endNs - inStore - inFetch) / 1e9
          stats.readSecs += (b.readNs - a.readNs) / 1e9
          stats.seenSecs += (b.seenNs - a.seenNs) / 1e9
        }
      case _ =>
    }
    if (trace) {
      stats.commits ++= cs
      stats.snapshotDirs += store.snapshotDirs
    }
  }

  /** Bloom probe timing against this store's seen index (traced run). */
  protected def probeBloom(stats: RunStats, store: TimedStore): Unit = if (trace) {
    store.inner.seenFilter(spark).foreach { sf =>
      val deltas = sf.deltaChain.flatMap { case (snap, bs) =>
        bs.toSeq.map(b => graft.frontier.SeenFilter.deltaPath(sf.root, snap, b))
      }.filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      val keys =
        if (deltas.isEmpty) Array.empty[Long]
        else spark.read.parquet(deltas: _*).select("skey").as[Long].limit(20000).collect()
      stats.bloomProbeNs = Kernels.bloomProbeNs(sf, keys)
    }
  }

  protected def traceTake(stats: RunStats): Unit = tracer.foreach { t =>
    org.apache.spark.CrawlbenchBus.drain(spark.sparkContext)
    val (js, ss) = t.take()
    stats.jobs ++= js
    stats.stages ++= ss
  }
}

/**
 * bulk_bfs: `Crawler.run` through the store with unlimited politeness from
 * one seed per host. Each superstep schedules thousands of URLs, so the
 * per-row kernels and the commit's data volume do the work; the crawl is
 * shorter than `compactEvery`, so no compaction runs.
 */
final class BulkBfs(spark: SparkSession, seed: Long, scratch: Path, trace: Boolean,
    tracer: Option[Tracer]) extends Workload(spark, seed, scratch, trace, tracer) {
  import spark.implicits._

  val cfg = PageGen.Config(nHosts = 300, pagesPerHost = 24, hotHosts = 6, hotFactor = 5,
    fanout = 5, seed = seed)
  val steps = 4
  private val seeds = (0 until cfg.nHosts).map(h => "p1" -> s"http://${PageGen.hostName(h)}/page/0")

  private var pages: DataFrame = _
  private var expected: Set[String] = _
  private val projects = Seq(("p1", 1e9, 1e9)).toDF("name", "rate", "burst")

  def loopModule: String = "sched"

  def setup(): Unit = {
    pages = PageGen.pages(spark, cfg).toDF().localCheckpoint()
    expected = new Bfs(cfg).results(seeds.map(_._2), steps)
  }

  def crawl(stats: RunStats): Unit = {
    val store = newStore(compactEvery = 32)
    try {
      val t0 = System.nanoTime()
      val c0 = TimedStore.cpuNs()
      val run = Crawler.run(spark, pages, projects, seeds,
        Crawler.CrawlConfig(maxSteps = steps), Some(store))
      stats.crawls += 1
      stats.timedNs += System.nanoTime() - t0
      stats.timedCpuNs += TimedStore.cpuNs() - c0
      stats.urls += run.totalScheduled + run.totalFresh
      stats.storeBytes += store.bytesOnDisk
      recordSteps(stats, store, Nil)
      traceTake(stats)
      probeBloom(stats, store)
      stats.violations ++= Checks.bulk(expected, resultKeys(run.results),
        run.frontier.count(), seeds.size, run.totalFresh)
    } finally store.delete()
  }
}

/**
 * polite_live: `LiveCrawler.run` through the store with a tight token
 * bucket (rate = burst = 4 per host). Pages come over loopback HTTP from
 * the benchmark's fixture server via `LiveFetch.fetchPages`. Steps are
 * small, so per-step fixed cost does the work; `compactEvery` is short
 * enough that every crawl crosses a compaction.
 */
final class PoliteLive(spark: SparkSession, seed: Long, scratch: Path, trace: Boolean,
    tracer: Option[Tracer]) extends Workload(spark, seed, scratch, trace, tracer) {
  import spark.implicits._

  val burst = 4
  val cfg = PageGen.Config(nHosts = 24, pagesPerHost = 60, hotHosts = 0, fanout = 5,
    seed = seed)
  val steps = 2
  /** the second superstep's commit is a compaction */
  val compactEvery = 2
  private val bfs = new Bfs(cfg)
  private val projects = Seq(("p1", burst.toDouble, burst.toDouble)).toDF("name", "rate", "burst")
  private val seeds = (0 until cfg.nHosts).map(h => "p1" -> s"http://${PageGen.hostName(h)}/page/0")
  private var server: FixtureServer = _

  def loopModule: String = "fetch"

  def setup(): Unit = {
    server = new FixtureServer(cfg, nproc)
    server.install()
  }

  /** The traced run wraps each fetch so its Spark-side spans are recorded;
    * the untraced run passes `LiveFetch.fetchPages` itself. */
  private val timedFetch: (SparkSession, DataFrame) => DataFrame = { (s, urls) =>
    val df = LiveFetch.fetchPages(s, urls)
    df.mapPartitions(it => new FetchClock.Timed[Row](it))(
      org.apache.spark.sql.Encoders.row(df.schema))
  }

  def crawl(stats: RunStats): Unit = {
    server.drain()
    FetchClock.take()
    server.currentStep.set(1)
    val store = newStore(compactEvery = compactEvery,
      onCommit = step => server.currentStep.set(step + 1))
    try {
      val t0 = System.nanoTime()
      val c0 = TimedStore.cpuNs()
      val run = LiveCrawler.run(spark, projects, seeds, steps, Superstep.Config(),
        store = Some(store),
        fetch = if (trace) timedFetch else (s, u) => LiveFetch.fetchPages(s, u))
      stats.crawls += 1
      stats.timedNs += System.nanoTime() - t0
      stats.timedCpuNs += TimedStore.cpuNs() - c0
      val (log, busy) = server.drain()
      stats.urls += run.totalScheduled + run.totalFresh
      stats.storeBytes += store.bytesOnDisk
      recordSteps(stats, store, FetchClock.take())
      if (trace) {
        stats.fetchRequests += log.size
        stats.robotsRequests += log.count(_.isRobots)
        stats.serverBusyNs += busy
      }
      traceTake(stats)
      probeBloom(stats, store)
      stats.failedSteps += Checks.duplicateSteps(log).count(s => s >= 1 && s <= run.steps)
      stats.violations ++= Checks.live(log, resultKeys(run.results), burst, bfs)
    } finally store.delete()
  }

  override def close(): Unit = if (server != null) server.stop()
}

/**
 * stream_seeds: `StreamingCrawl.start` fed by a `MemoryStream` in a closed
 * loop, each seed batch added after the previous one commits. A batch
 * holds the roots of hosts not seen yet and re-seeds of the roots the
 * previous batch crawled, so the on_request merge both inserts and
 * updates frontier rows.
 */
final class StreamSeeds(spark: SparkSession, seed: Long, scratch: Path, trace: Boolean,
    tracer: Option[Tracer]) extends Workload(spark, seed, scratch, trace, tracer) {
  import spark.implicits._

  val hostsPerBatch = 12
  val batches = 2
  val cfg = PageGen.Config(nHosts = hostsPerBatch * batches, pagesPerHost = 40,
    hotHosts = 0, fanout = 5, seed = seed)
  private val bfs = new Bfs(cfg)
  private val projects = Seq(("p1", 1e9, 1e9)).toDF("name", "rate", "burst")
  private var pages: DataFrame = _
  private var queryNo = 0

  def loopModule: String = "streaming"

  private def root(h: Int) = s"http://${PageGen.hostName(h)}/page/0"

  /** Results of an n-batch session with unlimited politeness: batch b's
    * new roots are crawled from superstep b+1, so their hosts get n-b
    * supersteps, i.e. BFS levels 0..n-1-b. Re-seeded roots were already
    * crawled and add no result. */
  def expected(n: Int): Set[String] = (0 until n).flatMap { b =>
    val roots = (b * hostsPerBatch until (b + 1) * hostsPerBatch).map(root)
    bfs.results(roots, n - b)
  }.toSet

  /** Batch b: roots of hosts b*k until (b+1)*k, plus re-seeds of batch
    * b-1's roots. */
  def batch(b: Int): Seq[(String, String)] = {
    val fresh = (b * hostsPerBatch until (b + 1) * hostsPerBatch).map(root)
    val again = if (b == 0) Nil else ((b - 1) * hostsPerBatch until b * hostsPerBatch).map(root)
    (fresh ++ again).map("p1" -> _)
  }

  def setup(): Unit = {
    pages = PageGen.pages(spark, cfg).toDF().localCheckpoint()
  }

  def crawl(stats: RunStats): Unit = {
    val store = newStore(compactEvery = 32)
    queryNo += 1
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(String, String)]
    try {
      val t0 = System.nanoTime()
      val c0 = TimedStore.cpuNs()
      val q = StreamingCrawl.start(spark, pages, projects, store,
        input.toDF().toDF("project", "url"),
        queryCheckpointDir = Some(scratch.resolve(s"query-$queryNo").toString))
      val walls = ArrayBuffer.empty[Double]
      val cpus = ArrayBuffer.empty[Double]
      try {
        (0 until batches).foreach { b =>
          val tAdd = System.nanoTime()
          val cAdd = TimedStore.cpuNs()
          input.addData(batch(b))
          q.processAllAvailable()
          walls += (store.commitLog.last.endNs - tAdd) / 1e9
          cpus += (store.commitLog.last.cpuNs - cAdd) / 1e9
          if (trace) Option(q.lastProgress).foreach { p =>
            stats.progress += p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          }
        }
      } finally q.stop()
      stats.crawls += 1
      stats.timedNs += System.nanoTime() - t0
      stats.timedCpuNs += TimedStore.cpuNs() - c0
      val snap = store.inner.read(spark).get
      val totals = snap.counterTotals.values
      stats.urls += totals.map(m => m.getOrElse("scheduled", 0L) + m.getOrElse("new_tasks", 0L)).sum
      stats.storeBytes += store.bytesOnDisk
      stats.stepWalls ++= walls
      stats.stepCpu ++= cpus
      if (trace) {
        val cs = store.commitLog
        stats.commits ++= cs
        stats.snapshotDirs += store.snapshotDirs
        cs.zip(walls).foreach { case (c, w) =>
          stats.stepSpansMs += ((c.wallMs - (w * 1000).toLong, c.wallMs))
        }
        // a batch's store share: its commit plus the read and seen-index
        // calls made since the previous commit
        val before = Commit(0, 0, 0, 0, 0, 0, false, 0, 0, 0, 0) +: cs
        before.zip(cs).zip(walls).foreach { case ((a, b), w) =>
          stats.loopSecs += w - (b.storeNs - a.storeNs) / 1e9
          stats.readSecs += (b.readNs - a.readNs) / 1e9
          stats.seenSecs += (b.seenNs - a.seenNs) / 1e9
        }
      }
      traceTake(stats)
      probeBloom(stats, store)
      val seeds = (0 until batches).flatMap(batch).map(_._2).distinct
      val frontierUrls = snap.frontier.select("url").as[String].collect().toSeq
      val newTasks = totals.map(_.getOrElse("new_tasks", 0L)).sum
      stats.violations ++= Checks.stream(seeds.toSet, frontierUrls, newTasks,
        resultKeys(snap.results), expected(batches), bfs.closure(seeds))
    } finally store.delete()
  }
}
