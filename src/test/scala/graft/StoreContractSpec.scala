package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.frontier.{FrontierStore, SnapshotStore}
import graft.sched.{Crawler, Superstep}
import graft.gen.PageGen

/**
 * The [[SnapshotStore]] CONTRACT, as a reusable abstract suite: every
 * invariant the crawl loops rely on, stated against the trait only — an
 * `iceberg-spark-runtime`-backed implementation must pass this suite
 * UNCHANGED by overriding the three factory hooks (the Iceberg swap-in seam,
 * SURVEY §7.1 / verdict r04 item 8). `FrontierStoreContractSpec` below runs
 * it against the parquet implementation.
 */
abstract class SnapshotStoreContract extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** A fresh, EMPTY store (new backing location per call). */
  def newStore(): SnapshotStore

  /** A fresh store that compacts every `every` snapshots; None if the
    * implementation has no test-tunable compaction cadence (the compaction
    * tests are then skipped via assume). */
  def newCompactingStore(every: Int): Option[SnapshotStore] = None

  /** Simulate a crash that interrupted the commit of snapshot `nextId` on
    * `store`, leaving whatever partial on-disk state the implementation's
    * commit protocol can leave. No-op default = the crash-debris test only
    * asserts the trivial part for such implementations. */
  def injectCrashDebris(store: SnapshotStore, nextId: Long): Unit = ()

  private def frontierOf(rows: Seq[(String, Long, String, String, Int)]): DataFrame =
    rows.map { case (p, h, u, host, st) =>
      (p, h, u, host, st, 0, 0.0, 3, 0, -1.0, null: String, false, false, false,
        u, "link", "", 0.0, 1.0, null: String, null: String, st == 2)
    }.toDF(Superstep.frontierCols: _*)

  private def keysOf(f: DataFrame): DataFrame = f.select("project", "url_hash")

  private def commit(s: SnapshotStore, step: Int, up: DataFrame,
      results: DataFrame = null, budgets: DataFrame = null): Long =
    s.writeIncremental(spark, step, step.toDouble, up, keysOf(up),
      Option(budgets).getOrElse(Crawler.emptyBudgets(spark)),
      Option(results).getOrElse(Crawler.emptyResults(spark)),
      Crawler.emptyCounters(spark))

  private def rowsByKey(f: DataFrame): Map[(String, Long), (Int, Boolean)] =
    f.select("project", "url_hash", "status", "crawled_ok").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getInt(2), r.getBoolean(3))).toMap

  test("contract: empty store exposes nothing") {
    val s = newStore()
    assert(s.currentId.isEmpty && s.read(spark).isEmpty && s.seenFilter(spark).isEmpty)
  }

  test("contract: ids are monotonic and read returns the upserted state") {
    val s = newStore()
    val f1 = frontierOf(Seq(("p", 1L, "http://a.test/1", "a.test", 1),
      ("p", 2L, "http://a.test/2", "a.test", 1)))
    val id1 = commit(s, 0, f1)
    assert(s.currentId.contains(id1))
    // replace key 1 (now SUCCESS), insert key 3
    val f2 = frontierOf(Seq(("p", 1L, "http://a.test/1", "a.test", 2),
      ("p", 3L, "http://a.test/3", "a.test", 1)))
    val id2 = commit(s, 1, f2)
    assert(id2 > id1 && s.currentId.contains(id2))
    val snap = s.read(spark).get
    assert(snap.step == 1)
    assert(rowsByKey(snap.frontier) == Map(
      ("p", 1L) -> (2, true), ("p", 2L) -> (1, false), ("p", 3L) -> (1, false)))
  }

  test("contract: results are append-only across commits; budgets replaced") {
    val s = newStore()
    val f1 = frontierOf(Seq(("p", 1L, "http://a.test/1", "a.test", 1)))
    def res(h: Long) = Seq(("p", h, s"http://a.test/$h", "link",
      Map.empty[String, String], "seed", 1.0))
      .toDF("project", "url_hash", "url", "type", "data", "seed_url", "updatetime")
    def bud(tok: Double) = Seq(("p", "a.test", tok, 1.0))
      .toDF("project", "host", "tokens", "last_update")
    commit(s, 0, f1, res(1L), bud(5.0))
    commit(s, 1, frontierOf(Seq(("p", 2L, "http://a.test/2", "a.test", 1))),
      res(2L), bud(3.0))
    val snap = s.read(spark).get
    assert(snap.results.select("url_hash").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val b = snap.budgets.collect()
    assert(b.length == 1 && b.head.getAs[Double]("tokens") == 3.0)
  }

  test("contract: counter totals fold across commits") {
    val s = newStore()
    def ctr(n: Long) = Seq(("p", n)).toDF("project", "scheduled")
    val f = frontierOf(Seq(("p", 1L, "http://a.test/1", "a.test", 1)))
    s.writeIncremental(spark, 0, 0.0, f, keysOf(f),
      Crawler.emptyBudgets(spark), Crawler.emptyResults(spark), ctr(2L))
    s.writeIncremental(spark, 1, 1.0, f, keysOf(f).limit(0),
      Crawler.emptyBudgets(spark), Crawler.emptyResults(spark), ctr(3L))
    assert(s.read(spark).get.counterTotals("p")("scheduled") == 5L)
  }

  test("contract: seen filter covers exactly the committed freshKeys") {
    val s = newStore()
    val f1 = frontierOf((1 to 40).map(i =>
      ("p", i.toLong, s"http://a.test/$i", "a.test", 1)))
    commit(s, 0, f1)
    val f2 = frontierOf((41 to 60).map(i =>
      ("p", i.toLong, s"http://a.test/$i", "a.test", 1)))
    commit(s, 1, f2)
    val sf = s.seenFilter(spark).get
    val keys = sf.keysFor(spark, 0 until sf.numBuckets)
      .select("url_hash").as[Long].collect().toSet
    assert(keys == (1 to 60).map(_.toLong).toSet)
    // and the bloom probe admits every committed key (no false negatives)
    val probed = f1.unionByName(f2)
      .withColumn("b", sf.bucketCol($"project", $"url_hash"))
      .withColumn("hit", sf.probe($"b", xxhash64($"project", $"url_hash")))
      .where(!$"hit").count()
    assert(probed == 0, "bloom probe must never miss a committed key")
  }

  test("contract: zero-upsert commit carries the frontier forward unchanged") {
    val s = newStore()
    val f1 = frontierOf(Seq(("p", 1L, "http://a.test/1", "a.test", 1)))
    commit(s, 0, f1)
    val before = rowsByKey(s.read(spark).get.frontier)
    val id = commit(s, 1, f1.limit(0))
    assert(s.currentId.contains(id))
    assert(rowsByKey(s.read(spark).get.frontier) == before)
  }

  test("contract: crash debris for the next id is invisible and non-blocking") {
    val s = newStore()
    val f1 = frontierOf(Seq(("p", 1L, "http://a.test/1", "a.test", 1)))
    val id1 = commit(s, 0, f1)
    injectCrashDebris(s, id1 + 1)
    // reader still sees the last COMMITTED snapshot...
    assert(s.currentId.contains(id1))
    assert(rowsByKey(s.read(spark).get.frontier).keySet == Set(("p", 1L)))
    // ...and the interrupted id commits cleanly on retry
    val f2 = frontierOf(Seq(("p", 2L, "http://a.test/2", "a.test", 1)))
    val id2 = commit(s, 1, f2)
    assert(id2 == id1 + 1)
    assert(rowsByKey(s.read(spark).get.frontier).keySet ==
      Set(("p", 1L), ("p", 2L)))
  }

  test("contract: a crawl resumed from the store equals the uninterrupted crawl") {
    val cfg = PageGen.Config(nHosts = 2, pagesPerHost = 8, hotHosts = 0, fanout = 3)
    val pages = PageGen.pages(spark, cfg).toDF()
    val projects = Seq(("p", 1000.0, 1000.0)).toDF("name", "rate", "burst")
    val seeds = Seq("p" -> "http://host0.example.com/page/1",
      "p" -> "http://host1.example.com/page/1")
    val straight = Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 3))
    val s = newStore()
    Crawler.run(spark, pages, projects, seeds,
      Crawler.CrawlConfig(maxSteps = 1), Some(s))
    val resumed = Crawler.run(spark, pages, projects, Seq.empty,
      Crawler.CrawlConfig(maxSteps = 3), Some(s))
    val a = straight.frontier.select(Superstep.frontierCols.map(col): _*)
    val b = resumed.frontier.select(Superstep.frontierCols.map(col): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(straight.results.select("project", "url_hash")
      .exceptAll(resumed.results.select("project", "url_hash")).isEmpty)
  }

  test("contract: state reads back identically across a compaction boundary; drained projects drop") {
    val storeOpt = newCompactingStore(every = 3)
    assume(storeOpt.nonEmpty, "implementation has no tunable compaction cadence")
    val s = storeOpt.get
    // live project advances every step; ghost project is ACTIVE at
    // bootstrap (the first commit is itself a full snapshot) and drains
    // (all SUCCESS, zero ACTIVE) mid-chain — the NEXT compaction drops it
    commit(s, 0, frontierOf(Seq(
      ("live", 1L, "http://a.test/1", "a.test", 1),
      ("ghost", 100L, "http://g.test/1", "g.test", 1))))
    commit(s, 1, frontierOf(Seq(("ghost", 100L, "http://g.test/1", "g.test", 2))))
    commit(s, 2, frontierOf(Seq(("live", 2L, "http://a.test/2", "a.test", 1))))
    val preCompact = rowsByKey(s.read(spark).get.frontier)
    assert(preCompact.keySet == Set(("live", 1L), ("live", 2L), ("ghost", 100L)))
    // this commit crosses the every=3 cadence -> compaction + GC
    commit(s, 3, frontierOf(Seq(("live", 3L, "http://a.test/3", "a.test", 1))))
    val post = rowsByKey(s.read(spark).get.frontier)
    // live rows identical across the boundary; the drained project is gone
    assert(post == preCompact.removed(("ghost", 100L)) +
      (("live", 3L) -> (1, false)))
    // its seen keys went with it — a re-seeded ghost URL is brand-new
    val sf = s.seenFilter(spark).get
    val keys = sf.keysFor(spark, 0 until sf.numBuckets)
      .select("project").as[String].collect().toSet
    assert(keys == Set("live"))
  }
}

/** The parquet [[FrontierStore]] run against the full contract. */
class FrontierStoreContractSpec extends SnapshotStoreContract {
  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-contract").toString

  override def newCompactingStore(every: Int): Option[SnapshotStore] =
    Some(new FrontierStore(tmp(), 4, seenBuckets = 8,
      compactEvery = every))

  /** Both debris shapes the parquet commit protocol can leave: a half-staged
    * `snap-N.tmp` (killed mid-write) and an orphan renamed `snap-N` whose
    * VERSION swap never landed (killed between the two renames). */
  override def injectCrashDebris(store: SnapshotStore, nextId: Long): Unit = {
    val root = storeRoots(store)
    val tmpDir = root.resolve(f"snap-$nextId%06d.tmp")
    java.nio.file.Files.createDirectories(tmpDir.resolve("frontier"))
    java.nio.file.Files.writeString(
      tmpDir.resolve("frontier").resolve("part-00000.parquet"), "half-written")
    val orphan = root.resolve(f"snap-$nextId%06d")
    java.nio.file.Files.createDirectories(orphan.resolve("budgets"))
    java.nio.file.Files.writeString(
      orphan.resolve("manifest.json"), s"""{"format":999,"snapshot":$nextId,TRUNC""")
  }

  // track roots per store instance so debris injection knows where to write
  private val roots = new java.util.IdentityHashMap[SnapshotStore, java.nio.file.Path]()
  private def storeRoots(s: SnapshotStore): java.nio.file.Path = roots.get(s)
  override def newStore(): SnapshotStore = {
    val dir = tmp()
    val s = new FrontierStore(dir, 4, seenBuckets = 8)
    roots.put(s, java.nio.file.Paths.get(dir))
    s
  }
}
