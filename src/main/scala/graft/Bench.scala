package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.gen.PageGen
import graft.sched.Crawler

/**
 * Round benchmark. Prints ONE JSON line:
 *   {"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...,
 *    "crawl":{...},"scaling":{...}}
 *
 * - `queries`: per-query wall seconds of every SparkEntry query on
 *   $SPARK_GRAFT_SF_DIR at local[$SPARK_GRAFT_CPUS].
 * - `crawl`: full crawl (generate synthetic web graph, crawl it) with
 *   urls_per_sec = (scheduled + deduped-new) / sec — the BASELINE.json metric.
 * - `scaling`: the north_rule two-cluster-size evidence in sandbox form —
 *   the same frontier schedule+dedup job at local[8] vs local[32]
 *   (BASELINE.md "Sandbox evidence protocol"); efficiency = (r32/r8)/4.
 *   Disable with SPARK_GRAFT_SCALING=0.
 */
object Bench {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The metric job: canonicalize + hash + in-batch merge + seen anti-join +
    * per-host ranked politeness selection over `n` synthetic frontier URLs
    * vs `m` seen URLs. CPU-bound (codegen'd canonicalizer) + one shuffle per
    * stage — the shape that must scale N -> 4N. */
  def scheduleDedupJob(spark: SparkSession, n: Long, m: Long): Long = {
    scheduleDedupPlan(spark, n, m,
      sys.env.getOrElse("SPARK_GRAFT_DEDUP_VARIANT", "unionagg")).count()
    n
  }

  /** The metric job's plan, variant-selectable ("unionagg" | "join") so the
    * two physical strategies stay A/B-able and their result equivalence
    * stays a test (QueriesSpec). `hotHostShare` > 0 makes host 0 hold that
    * fraction of the rows (pathological hot-domain skew, north_rule) —
    * the skew bench's input; 0 = the uniform metric job. */
  def scheduleDedupPlan(spark: SparkSession, n: Long, m: Long,
      variant: String, hotHostShare: Double = 0.0): org.apache.spark.sql.DataFrame = {
    Udfs.register(spark)
    val hosts = 5000
    // ~4x duplicate discovery per URL (a crawl's follow stream is heavily
    // duplicated — that is what the W4 in-batch merge exists for)
    val distinctPaths = math.max(n / 4, 1)
    // skewed mode: every id with (id mod round(1/share)) == 0 lands on
    // host 0 — at share 0.5 that is every even id, one host owning half
    // the frontier slice
    val hostExpr =
      if (hotHostShare <= 0.0) s"cast(id % $hosts as string)"
      else {
        val everyK = math.max(2L, math.round(1.0 / hotHostShare))
        s"cast(case when id % $everyK = 0 then 0 else id % $hosts end as string)"
      }
    val newTasks = spark.range(n).selectExpr(
      s"id",
      s"concat('HTTP://Host', $hostExpr, '.Example.COM:80/p/', cast(id % $distinctPaths as string), '?b=', cast(id % 7 as string), '&a=1#f') as raw_url",
      s"cast(id % 4 as int) as priority")
    val seen = spark.range(m).selectExpr(
      s"xxhash64(concat('http://host', cast(id % $hosts as string), '.example.com/p/', cast(id % $distinctPaths as string), '?a=1&b=', cast(id % 7 as string))) as url_hash")
    val canon = newTasks
      // the politeness/selection key travels as the 8-byte xxhash64 of the
      // canonical host, never the host string: budget/selection state is
      // keyed, not displayed, so host identity == host-hash identity, and
      // the merge+selection shuffles carry fixed ~28-byte rows instead of
      // variable ~70-byte rows — the memory-bandwidth diet the N->4N
      // scaling lives on. Strings (url, host) re-enter only AFTER selection
      // via a hash join over the selected subset, the same discipline as
      // the superstep's flag join. url_keys computes both hashes in ONE
      // byte pass with the canonical form held in per-thread scratch — the
      // canonical string itself is never materialized as a row value
      // (UrlKeys scaladoc: the map stage is bandwidth-bound at 32 threads;
      // fewer allocated bytes per row is what scales).
      .selectExpr("url_keys(raw_url) as k", "priority", "id")
      .selectExpr("k.host_hash as host_hash", "k.url_hash as url_hash", "priority", "id")
    // W4 merge + J1 seen-dedup in ONE hash aggregate: the seen side rides
    // the SAME union/exchange as the task rows (flag column) and the
    // anti-join becomes `max(seen_flag) = 0` — one reduce-side structure
    // instead of agg hash table + join build/sort over the same 1.7 GB of
    // shuffled bytes. Stage tables (BENCH.md round 4) had the join stage at
    // 99 s CPU of the 205 s total at p=32; this removes its second pass.
    // Identical result set to groupBy + left_anti (asserted in QueriesSpec;
    // the variant parameter keeps the join strategy measurable).
    val fresh =
      if (variant == "unionagg") {
        val t = canon.selectExpr("url_hash", "host_hash", "priority", "id",
          "cast(0 as int) as seen_flag")
        val sj = seen.selectExpr("url_hash", "cast(null as bigint) as host_hash",
          "cast(-1 as int) as priority", "cast(null as bigint) as id",
          "cast(1 as int) as seen_flag")
        t.unionByName(sj).groupBy("url_hash")
          .agg(max("priority").as("priority"), min("id").as("first_id"),
            // host_hash is functionally dependent on url_hash (the host is
            // part of the url), so min == the value (nulls from seen rows
            // are ignored by min); min's agg buffer is simpler than
            // First(ignoreNulls) in codegen
            min("host_hash").as("host_hash"), max("seen_flag").as("seen_flag"))
          .where(col("seen_flag") === 0).drop("seen_flag")
      } else {
        val merged = canon.groupBy("url_hash")
          .agg(max("priority").as("priority"), min("id").as("first_id"),
            min("host_hash").as("host_hash"))
        merged.join(seen, Seq("url_hash"), "left_anti")
      }
    // ranked politeness selection via the partial-aggregable bounded heap
    // (TopKSelect) — no per-partition full sort; window fallback otherwise
    val selected =
      if (spark.catalog.functionExists("topk_select"))
        fresh.groupBy("host_hash")
          .agg(expr("topk_select(50, priority, cast(0.0 as double), url_hash)").as("sel"))
          .select(explode(col("sel")).as("url_hash"))
      else
        fresh.withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("host_hash")
              .orderBy(col("priority").desc, col("url_hash").asc)))
          .where(col("rnk") <= 50)
    selected
  }

  // Incrementally-built result state: the shutdown hook prints whatever is
  // complete if the JVM dies mid-bench (Spark's uncaught-OOM handler exits
  // via System.exit(52), which DOES run shutdown hooks) — round 1 lost 26
  // minutes of measurements to a single terminal print.
  @volatile private var queriesJson = "{}"
  @volatile private var totalSec = 0.0
  @volatile private var crawlJson = "null"
  @volatile private var scalingJson = "null"
  @volatile private var scalingStoreJson = "null"
  @volatile private var storeLifeJson = "null"
  @volatile private var skewJson = "null"
  @volatile private var sfDirState = ""
  private val printed = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def emitJson(): Unit = if (printed.compareAndSet(false, true)) {
    val json =
      f"""{"metric":"total","value":${totalSec}%.3f,"unit":"sec","queries":$queriesJson,"sf":"$sfDirState","crawl":$crawlJson,"scaling":$scalingJson,"scaling_store":$scalingStoreJson,"store_life":$storeLifeJson,"scaling_skew":$skewJson}"""
    // belt-and-braces for the driver's parser (rounds 1+2 both ended with
    // parsed:null because sbt's logger wrapped the line): (1) the JSON to a
    // well-known file in the working directory (= the repo root when run
    // via sbt), (2) a bare JSON line as the LAST stdout line (raw —
    // build.sbt sets run/outputStrategy := StdoutOutput so no [info] prefix)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_JSON_PATH", "BENCH_LAST.json")), json)
    catch { case e: Throwable => System.err.println(s"[bench] BENCH_LAST.json write failed: $e") }
    System.out.flush(); System.err.flush()
    println(json)
    // compact headline (≤500 chars) as the FINAL stdout line: the full line
    // above is ~3.4 KB and a short tail window can truncate it mid-JSON
    // (observed rounds 1-3); this one always fits whole in any tail capture.
    def g(src: String, key: String): String =
      ("\"" + key + "\":(-?[0-9.eE+]+)").r.findFirstMatchIn(src).map(_.group(1)).getOrElse("null")
    val headline =
      f"""{"metric":"total","value":${totalSec}%.3f,"unit":"sec","sf":"$sfDirState","n_queries":${queriesJson.count(_ == ':')},"crawl":{"urls_per_sec":${g(crawlJson, "urls_per_sec")},"store_urls_per_sec":${g(crawlJson, "store_urls_per_sec")},"calib_spin_per_sec":${g(crawlJson, "calib_spin_per_sec")},"calib_maponly_per_sec":${g(crawlJson, "calib_maponly_per_sec")}},"scaling":{"efficiency_8_to_32":${g(scalingJson, "efficiency_8_to_32")},"efficiency_vs_maponly":${g(scalingJson, "efficiency_vs_maponly")},"efficiency_hw_ceiling":${g(scalingJson, "efficiency_hw_ceiling")},"urls_per_sec_local32":${g(scalingJson, "urls_per_sec_local32")}},"scaling_store":{"efficiency_8_to_32":${g(scalingStoreJson, "efficiency_8_to_32")},"urls_per_sec_local32":${g(scalingStoreJson, "urls_per_sec_local32")}},"store_life":{"compaction_sec":${g(storeLifeJson, "compaction_sec")},"post_compact_median_sec":${g(storeLifeJson, "post_compact_median_sec")}},"scaling_skew":{"max_ratio":${g(skewJson, "max_ratio")}},"full":"BENCH_LAST.json"}"""
    println(headline)
    System.out.flush()
  }

  /** Append `,<fields>` inside a JSON object string. The splice contract —
    * the target ends with '}' — is asserted, not assumed: a silent dropRight
    * on anything else would emit malformed JSON that only fails at the
    * driver's parse (ADVICE r04). */
  private def spliceJson(json: String, fields: String): String = {
    require(json.endsWith("}"), s"spliceJson target must end with '}': ...${json.takeRight(40)}")
    json.dropRight(1) + "," + fields + "}"
  }

  /** Drop every cached/persisted dataset (incl. localCheckpoints) between
    * sections so one section's working set can't OOM the next. */
  private def releaseAll(spark: SparkSession, gc: Boolean = false): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    if (gc) System.gc()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val doScaling = sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") != "0"
    // 64M rows (was 32M): in a fair weather window the local[32] job at 32M
    // finishes in ~5s, so per-job fixed costs (AQE planning, 4 stage
    // barriers x scheduling delay) eat a visibly larger fraction at 32
    // threads than in the ~20s local[8] run and depress the ratio for a
    // structural (not algorithmic) reason; doubling n halves that bias and
    // is closer to the sustained-throughput regime the 10^10 claim is about
    val scaleN = sys.env.getOrElse("SPARK_GRAFT_SCALE_N", "64000000").toLong
    // 2 in-JVM reps x 4 alternating forked rounds = 8 samples per level:
    // the VM's minute-scale throughput weather (3x swings that can invert
    // an A/B verdict between windows 20 min apart) makes best-of sampling
    // the only honest defense; more independent windows beat more reps
    // inside one window
    val scaleReps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    sfDirState = sfDir
    // section gating (debug/bisect aid): e.g. SPARK_GRAFT_SECTIONS=crawl
    val sections = sys.env.getOrElse("SPARK_GRAFT_SECTIONS",
      "queries,crawl,scaling,scalestore,storelife,skew").split(",").toSet
    Runtime.getRuntime.addShutdownHook(new Thread(() => emitJson()))

    val spark = Udfs.newSession(s"local[$cpus]", cpus, "graft-bench")

    // ---- per-query timings (state updated after every query: a crash mid-
    // section still reports the queries measured so far)
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    if (sections("queries")) try {
      // untimed JVM warmup (codegen pipeline, shuffle machinery, parquet
      // reader classes) so the alphabetically-first query doesn't absorb
      // first-use class-loading/JIT cost in its number; touches no test table
      time {
        val w = spark.range(2000000).selectExpr("id",
          "concat('http://w', cast(id % 97 as string), '.example.com/p/', cast(id as string)) as u")
        w.selectExpr("xxhash64(u) as h", "id % 97 as g")
          .groupBy("g").agg(count(lit(1)), sum("h")).count()
        // one tiny untimed crawl: the superstep's generated classes compile
        // ONCE per JVM (RuntimeConst keeps later plans cache-identical), and
        // that one-time Janino+JIT cost otherwise lands inside whichever
        // crawl oracle runs first (c1, alphabetically)
        import spark.implicits._
        val wCfg = PageGen.Config(nHosts = 2, pagesPerHost = 6, hotHosts = 0, fanout = 2)
        Crawler.run(spark, PageGen.pages(spark, wCfg).toDF(),
          Seq(("warm", 1e9, 1e9)).toDF("name", "rate", "burst"),
          Seq("warm" -> "http://host0.example.com/page/1"),
          Crawler.CrawlConfig(maxSteps = 2))
      }
      releaseAll(spark)
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        def once(): Double = time {
          try fn(spark, sfDir).count()
          catch { case e: Throwable => System.err.println(s"[bench] $name: ${e.getMessage}"); -1L }
        }._2
        val sec1 = once()
        // the sandbox VM has time-varying CPU steal: re-measure mid-cost
        // queries and keep the best (documented best-of methodology, same
        // as the scaling section). Sub-second queries don't need it, and
        // the 8s+ multi-superstep crawl oracles would double the section
        // wall for marginal precision — they run once. EXCEPT on a stall
        // signature: no legitimate query reads >20 s in a fair window (the
        // slowest, c6, is ~17 s), but minute-scale VM stalls hit one
        // arbitrary query per run for 2-27x (r4: w2 at 179 s; r5: x13 at
        // 27.9 s then w2 at 28.2 s) — one re-measure stops a single stall
        // from owning the reported wall. Queries whose first invocation
        // PAYS a memoized crawl are excluded: their re-run would read the
        // memo (~0 s) and under-report the crawl's true cost
        val memoBacked = Set("c1_crawl_frontier", "c3_crawl_store", "c6_streaming_crawl")
        val sec = if ((sec1 > 1.0 && sec1 <= 8.0) ||
            (sec1 > 20.0 && !memoBacked(name))) {
          releaseAll(spark); math.min(sec1, once())
        } else sec1
        results += (name -> sec)
        queriesJson = results.map { case (k, v) => "\"" + k + f"\":${v}%.3f" }.mkString("{", ",", "}")
        totalSec = results.map(_._2).filter(_ >= 0).sum
        releaseAll(spark) // queries like c1 persist crawl intermediates
      }
    } catch { case e: Throwable => System.err.println(s"[bench] query section died: $e") }
    releaseAll(spark, gc = true)

    // ---- full-crawl throughput (the BASELINE metric at bench scale)
    val crawlCfg = PageGen.Config(nHosts = 2000, pagesPerHost = 60, hotHosts = 20,
      hotFactor = 5, fanout = 8)
    def crawlBench(spark0: SparkSession,
        store: Option[graft.frontier.FrontierStore] = None): (Long, Long, Long, Seq[Double]) = {
      import spark0.implicits._
      // DISK_ONLY: page html lives in spark.local.dir (tmpfs), not JVM heap
      val pages = PageGen.pages(spark0, crawlCfg).toDF()
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      pages.count()
      val projects = Seq(("bench", 1e9, 1e9)).toDF("name", "rate", "burst")
      val seeds = (0 until 1000).map(h => "bench" -> s"http://host$h.example.com/page/1")
      val stepCfg = graft.sched.Superstep.Config(topKAggSelection =
        sys.env.getOrElse("SPARK_GRAFT_TOPK", "1") != "0")
      val run = Crawler.run(spark0, pages, projects, seeds,
        Crawler.CrawlConfig(maxSteps = 4, step = stepCfg), store)
      val nRes = run.results.count()
      pages.unpersist()
      (run.totalScheduled, run.totalFresh, nRes, run.stepSeconds)
    }
    // same-window micro-calibration, co-measured with each crawl round so a
    // slow crawl number is attributable IN the artifact: spin = raw-thread
    // CPU delivery, maponly = one codegen stage incl. memory traffic
    def calibrate(): (Double, Double) = {
      val iters = 2000000000L
      val t0 = System.nanoTime(); ScalingRun.spinJob(cpus, iters / cpus)
      val spinRate = iters / ((System.nanoTime() - t0) / 1e9)
      val mn = 4000000L
      val (_, mSec) = time(ScalingRun.mapOnlyJob(spark, mn))
      (spinRate, mn / mSec)
    }
    if (sections("crawl")) try {
      val crawlRounds = sys.env.getOrElse("SPARK_GRAFT_CRAWL_ROUNDS", "2").toInt
      // best-of rounds (same anti-steal methodology as scaling); the JSON is
      // refreshed after each round so a crash keeps the measured-so-far best
      (1 to crawlRounds).foreach { _ =>
        val (crawlStats, crawlSec) = time(crawlBench(spark))
        val (calibSpin, calibMap) = calibrate()
        val crawlUrls = crawlStats._1 + crawlStats._2
        val crawlRate = crawlUrls / crawlSec
        if (crawlJson == "null" || crawlRate >
            "\"urls_per_sec\":([0-9.]+)".r.findFirstMatchIn(crawlJson).map(_.group(1).toDouble).getOrElse(0.0))
          crawlJson =
            f"""{"pages":${PageGen.totalPages(crawlCfg)},"urls_scheduled_plus_new":$crawlUrls,"results":${crawlStats._3},"sec":${crawlSec}%.2f,"urls_per_sec":${crawlRate}%.0f,"step_sec":${crawlStats._4.map(s => f"$s%.2f").mkString("[", ",", "]")},"calib_spin_per_sec":${calibSpin}%.0f,"calib_maponly_per_sec":${calibMap}%.0f}"""
        releaseAll(spark, gc = true)
      }
      // ---- the real deployment path: the SAME graph through the COW
      // FrontierStore (snapshot commits + bloom seen-index + O(touched)
      // bucket writes per step) — turns the store's scale claim into a
      // throughput number next to the no-store figure (verdict r03 item 3)
      val storeRounds = sys.env.getOrElse("SPARK_GRAFT_CRAWL_STORE_ROUNDS", "2").toInt
      var bestStoreRate = -1.0
      (1 to storeRounds).foreach { _ =>
        val dir = Udfs.scratchDir("graft-bench-store")
        val store = new graft.frontier.FrontierStore(dir.toString, 32,
          seenBuckets = 32, bloomItemsPerBucket = 1 << 20)
        val (st, sec) = time(crawlBench(spark, Some(store)))
        val urls = st._1 + st._2
        val rate = urls / sec
        if (rate > bestStoreRate && crawlJson != "null") {
          bestStoreRate = rate
          // splice into the crawl object (strip any previous store_* keys
          // from an earlier round first)
          val baseJson = crawlJson.replaceAll(""","store_urls_per_sec":[^}]*""", "")
          crawlJson = spliceJson(baseJson,
            f""""store_urls_per_sec":${rate}%.0f,"store_sec":${sec}%.2f,"store_step_sec":${st._4.map(x => f"$x%.2f").mkString("[", ",", "]")},"store_snapshots":${st._4.size}""")
        }
        // temp store cleanup (snapshots can reach hundreds of MB)
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => }
        releaseAll(spark, gc = true)
      }
      // ---- superstep fixed cost: a near-empty graph's steps are ~pure
      // per-step overhead (analysis/AQE planning + codegen + scheduling) —
      // the constant every crawl's step wall converges to as data -> 0,
      // and the cost the store bench pays per snapshot on top of IO.
      // step_first_sec includes the one-time Janino compile of the
      // superstep's generated classes; step_fixed_sec is the steady state
      // after RuntimeConst makes later steps' codegen cache-hit.
      try {
        import spark.implicits._
        val tinyCfg = PageGen.Config(nHosts = 2, pagesPerHost = 10, hotHosts = 0, fanout = 3)
        val tinyPages = PageGen.pages(spark, tinyCfg).toDF().localCheckpoint()
        val tinyProjects = Seq(("tiny", 1e9, 1e9)).toDF("name", "rate", "burst")
        val run = Crawler.run(spark, tinyPages, tinyProjects,
          Seq("tiny" -> "http://host0.example.com/page/1"),
          Crawler.CrawlConfig(maxSteps = 3))
        if (crawlJson != "null" && run.stepSeconds.size >= 2)
          crawlJson = spliceJson(crawlJson,
            f""""step_first_sec":${run.stepSeconds.head}%.2f,"step_fixed_sec":${run.stepSeconds.drop(1).min}%.2f""")
        // the same near-empty probe THROUGH the store: per-step floor of the
        // deployment path (planning + commit protocol + read-backs as
        // data -> 0) — the parallelism-independent constant that explains
        // scaling_store's near-identical step walls at local[8] and
        // local[32] (divide it out of step_sec_* to see the executor slice)
        val dir2 = Udfs.scratchDir("graft-bench-storefloor")
        val store2 = new graft.frontier.FrontierStore(dir2.toString, 32,
          seenBuckets = 32, bloomItemsPerBucket = 1 << 20)
        val run2 = Crawler.run(spark, tinyPages, tinyProjects,
          Seq("tiny" -> "http://host1.example.com/page/1"),
          Crawler.CrawlConfig(maxSteps = 3), Some(store2))
        if (crawlJson != "null" && run2.stepSeconds.size >= 2)
          crawlJson = spliceJson(crawlJson,
            f""""store_step_fixed_sec":${run2.stepSeconds.drop(1).min}%.2f""")
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(dir2).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => }
      } catch { case e: Throwable => System.err.println(s"[bench] fixed-cost probe died: $e") }
    } catch { case e: Throwable => System.err.println(s"[bench] crawl section died: $e") }
    releaseAll(spark, gc = true)

    // ---- scaling evidence: same job, two parallelism levels, each in a
    // FRESH forked JVM (shared-heap/JIT state otherwise biases whichever
    // level runs second — observed ±30% swings in-process)
    // shuffle bytes + per-stage table + raw stdout of the most recent forked run
    var lastShW = -1L; var lastShR = -1L; var lastStages = "null"; var lastOut = ""
    def runForked(p: Int, job: String = "full", reps: Int = scaleReps): Double = {
        val javaBin = System.getProperty("java.home") + "/bin/java"
        val opens = Seq(
          "java.base/java.lang", "java.base/java.lang.invoke",
          "java.base/java.lang.reflect", "java.base/java.io",
          "java.base/java.net", "java.base/java.nio",
          "java.base/java.util", "java.base/java.util.concurrent",
          "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs",
          "java.base/sun.security.action", "java.base/sun.util.calendar"
        ).flatMap(m => Seq("--add-opens", s"$m=ALL-UNNAMED"))
        // fixed pre-touched heap: an elastic heap makes the kernel zero pages
        // inside the measurement (observed 35-87% SYSTEM cpu at 32 threads)
        val xmx = sys.env.getOrElse("SPARK_GRAFT_SCALE_MEM", "16g")
        val cmd = Seq(javaBin) ++ opens ++ Seq(
          s"-Xms$xmx", s"-Xmx$xmx", "-XX:+AlwaysPreTouch",
          "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
          "-cp", System.getProperty("java.class.path"),
          "graft.ScalingRun", p.toString,
          (if (job == "spin") sys.env.getOrElse("SPARK_GRAFT_SPIN_N", "100000000000") else scaleN.toString),
          reps.toString, job)
        val out = new StringBuilder
        val proc = new ProcessBuilder(cmd: _*)
          .redirectError(ProcessBuilder.Redirect.INHERIT).start()
        val rdr = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
        var line = rdr.readLine()
        while (line != null) { out.append(line).append('\n'); line = rdr.readLine() }
        proc.waitFor()
        val m = "RATE ([0-9.]+)(?: SHW ([0-9]+) SHR ([0-9]+))?".r.findFirstMatchIn(out.toString)
        m.foreach { mm =>
          if (mm.group(2) != null) {
            lastShW = mm.group(2).toLong; lastShR = mm.group(3).toLong
          }
        }
        lastStages = "(?m)^STAGES (\\[.*\\])$".r.findFirstMatchIn(out.toString)
          .map(_.group(1)).getOrElse("null")
        lastOut = out.toString
        m.map(_.group(1).toDouble)
          .getOrElse { System.err.println(s"[bench] scaling at $p failed:\n$out"); -1.0 }
      }
    if (doScaling && sections("scaling")) try {
      // the sandbox VM shows time-varying CPU steal/throttle: alternate the
      // two levels and keep the best rate per level, so a throttled window
      // doesn't land entirely on one side of the ratio
      // 4 alternating rounds (was 3): with the VM's 3x minute-scale weather
      // swings — measured base-vs-offheap A/B inverted its verdict between
      // windows 20 min apart — an extra best-of sample per level materially
      // raises the odds both levels see one fair window
      val rounds = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROUNDS", "4").toInt
      var r8 = -1.0; var r32 = -1.0
      var shW = -1L; var shR = -1L
      var st8 = "null"; var st32 = "null"
      (1 to rounds).foreach { _ =>
        val a = runForked(8)
        if (a > r8) { r8 = a; st8 = lastStages
          if (lastShW >= 0) { shW = lastShW; shR = lastShR } }
        val b = runForked(32)
        if (b > r32) { r32 = b; st32 = lastStages }
      }
      if (r8 > 0 && r32 > 0) {
        val eff = (r32 / r8) / 4.0
        val bytesRow = if (shW >= 0) f""","shuffle_write_bytes":$shW,"shuffle_read_bytes":$shR,"shuffle_write_bytes_per_row":${shW.toDouble / scaleN}%.1f""" else ""
        scalingJson = f"""{"job":"schedule_dedup","n_urls":$scaleN,"urls_per_sec_local8":${r8}%.0f,"urls_per_sec_local32":${r32}%.0f,"efficiency_8_to_32":${eff}%.3f$bytesRow,"stages_8":$st8,"stages_32":$st32}"""
        // decomposition tiers: is the sub-4x residue ours or the VM's?
        // maponly = same map work, zero shuffles; spin = pure-register
        // threads (the VM's hard 8->32 CPU-delivery ceiling)
        if (sys.env.getOrElse("SPARK_GRAFT_SCALE_DECOMP", "1") != "0") {
          val m8 = runForked(8, "maponly"); val m32 = runForked(32, "maponly")
          val s8 = runForked(8, "spin"); val s32 = runForked(32, "spin")
          if (m8 > 0 && m32 > 0 && s8 > 0 && s32 > 0) {
            val effM = (m32 / m8) / 4.0
            val effS = (s32 / s8) / 4.0
            scalingJson = spliceJson(scalingJson,
              f""""maponly_8":${m8}%.0f,"maponly_32":${m32}%.0f,"efficiency_maponly":${effM}%.3f,"spin_8":${s8}%.0f,"spin_32":${s32}%.0f,"efficiency_hw_ceiling":${effS}%.3f,"efficiency_vs_hw":${math.min(1.0, eff / effS)}%.3f,"efficiency_vs_maponly":${math.min(1.0, eff / effM)}%.3f""")
          }
        }
      }
    } catch { case e: Throwable => System.err.println(s"[bench] scaling section died: $e") }

    // ---- store-path scaling: the N->4N pair on the DEPLOYMENT path itself
    // (store-backed crawl through FrontierStore), forked JVMs like the
    // kernel pair above (verdict r04 item 3). One alternating round by
    // default — the store crawl is minutes at local[8]; raise
    // SPARK_GRAFT_STORE_SCALE_ROUNDS for best-of sampling in a fair window.
    if (doScaling && sections("scalestore")) try {
      val rounds = sys.env.getOrElse("SPARK_GRAFT_STORE_SCALE_ROUNDS", "1").toInt
      var r8 = -1.0; var r32 = -1.0
      var steps8 = "null"; var steps32 = "null"
      def storeSteps(out: String): String =
        "(?m)^STORE_STEPS (\\[.*\\])$".r.findFirstMatchIn(out).map(_.group(1)).getOrElse("null")
      (1 to rounds).foreach { _ =>
        val a = runForked(8, "store", reps = 1)
        if (a > r8) { r8 = a; steps8 = storeSteps(lastOut) }
        val b = runForked(32, "store", reps = 1)
        if (b > r32) { r32 = b; steps32 = storeSteps(lastOut) }
      }
      if (r8 > 0 && r32 > 0) {
        val eff = (r32 / r8) / 4.0
        val hosts = sys.env.getOrElse("SPARK_GRAFT_STORE_SCALE_HOSTS", "8000")
        val pph = sys.env.getOrElse("SPARK_GRAFT_STORE_SCALE_PPH", "60")
        val nSeeds = sys.env.getOrElse("SPARK_GRAFT_STORE_SCALE_SEEDS", "4000")
        val steps = sys.env.getOrElse("SPARK_GRAFT_STORE_SCALE_STEPS", "4")
        scalingStoreJson =
          f"""{"job":"store_crawl","hosts":$hosts,"pages_per_host":$pph,"seeds":$nSeeds,"steps":$steps,"urls_per_sec_local8":${r8}%.0f,"urls_per_sec_local32":${r32}%.0f,"efficiency_8_to_32":${eff}%.3f,"step_sec_8":$steps8,"step_sec_32":$steps32}"""
      }
    } catch { case e: Throwable => System.err.println(s"[bench] store-scaling section died: $e") }
    releaseAll(spark, gc = true)

    // ---- store lifecycle under load: a politeness-limited long crawl whose
    // snapshot chain CROSSES a compaction boundary (compactEvery=32) — the
    // store's only O(frontier) operation — plus the GC that follows it.
    // Reports the full step-time series, the compaction step's wall, and the
    // snapshot-dir count after GC (verdict r04 item 4: compaction's
    // amortized cost is the store's real steady-state price).
    if (sections("storelife")) try {
      import spark.implicits._
      val lifeSteps = sys.env.getOrElse("SPARK_GRAFT_LIFE_STEPS", "42").toInt
      val cfg = PageGen.Config(nHosts = 50, pagesPerHost = 400, hotHosts = 2,
        hotFactor = 3, fanout = 6)
      val pages = PageGen.pages(spark, cfg).toDF()
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      pages.count()
      // rate 4/s, burst 4, tick 1s: each host schedules <=4 urls per step —
      // the frontier outlives the window (400 pages/host vs ~4*steps
      // fetched), so every step commits real work
      val projects = Seq(("life", 4.0, 4.0)).toDF("name", "rate", "burst")
      val seeds = (0 until cfg.nHosts).map(h => "life" -> s"http://host$h.example.com/page/1")
      val dir = Udfs.scratchDir("graft-bench-life")
      val store = new graft.frontier.FrontierStore(dir.toString, 32,
        seenBuckets = 32, bloomItemsPerBucket = 1 << 20)
      val run = Crawler.run(spark, pages, projects, seeds,
        Crawler.CrawlConfig(maxSteps = lifeSteps), Some(store))
      pages.unpersist()
      // bootstrap snapshot = id 1 at step 0; compaction at id 33 = step 32
      val compactStep = 32
      val stepSecs = run.stepSeconds
      val snapDirs = {
        val ls = java.nio.file.Files.list(dir)
        try ls.filter(p => p.getFileName.toString.startsWith("snap-")).count()
        finally ls.close()
      }
      def median(xs: Seq[Double]): Double =
        if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
      val pre = stepSecs.take(compactStep - 1)
      val post = stepSecs.drop(compactStep)
      val urls = run.totalScheduled + run.totalFresh
      storeLifeJson =
        f"""{"steps":${run.steps},"urls":$urls,"compact_step":$compactStep,"compaction_sec":${stepSecs.lift(compactStep - 1).getOrElse(-1.0)}%.2f,"pre_compact_median_sec":${median(pre)}%.2f,"post_compact_median_sec":${median(post)}%.2f,"snap_dirs_after_gc":$snapDirs,"snaps_committed":${run.steps + 1},"step_sec":${stepSecs.map(x => f"$x%.2f").mkString("[", ",", "]")}}"""
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    } catch { case e: Throwable => System.err.println(s"[bench] storelife section died: $e") }
    releaseAll(spark, gc = true)

    // ---- hot-host skew: the schedule+dedup kernel over a PATHOLOGICAL
    // frontier (ONE host holds ~50% of the rows — north_rule names
    // hot-domain skew) with per-task time balance recorded per stage. The
    // design claim under test: selection is a partial-aggregable bounded
    // heap (map-side combine caps any host's reduce-side group at k rows
    // per map partition) and dedup keys by url_hash (uniform by
    // construction) — so NO stage's max/median task time should blow up
    // (target < 3, verdict r04 item 5).
    if (sections("skew")) try {
      val n = sys.env.getOrElse("SPARK_GRAFT_SKEW_N", "8000000").toLong
      final case class TaskRec(stage: Int, ms: Long)
      val recs = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskInfo != null && e.taskInfo.successful)
            recs.add(TaskRec(e.stageId, e.taskInfo.duration))
      }
      spark.sparkContext.addSparkListener(listener)
      val (_, sec) = time {
        scheduleDedupPlan(spark, n, n / 2,
          sys.env.getOrElse("SPARK_GRAFT_DEDUP_VARIANT", "unionagg"),
          hotHostShare = 0.5).count()
      }
      try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
          .invoke(bus, java.lang.Long.valueOf(10000L))
      } catch { case _: Throwable => Thread.sleep(500) }
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val byStage = recs.asScala.toSeq.groupBy(_.stage).toSeq.sortBy(_._1)
      // only stages with enough tasks for a meaningful ratio; a 1-task AQE
      // final stage has ratio 1 by definition
      val stages = byStage.collect { case (sid, rs) if rs.size >= 8 =>
        val ds = rs.map(_.ms.toDouble).sorted
        val med = math.max(1.0, ds(ds.size / 2))
        (sid, rs.size, ds.last, med, ds.last / med)
      }
      val maxRatio = if (stages.isEmpty) -1.0 else stages.map(_._5).max
      val stagesJson = stages.map { case (sid, nT, mx, md, r) =>
        f"""{"id":$sid,"tasks":$nT,"max_ms":${mx}%.0f,"median_ms":${md}%.0f,"ratio":${r}%.2f}"""
      }.mkString("[", ",", "]")
      skewJson =
        f"""{"job":"schedule_dedup_skewed","n_urls":$n,"hot_share":0.5,"sec":${sec}%.2f,"max_ratio":${maxRatio}%.2f,"stages":$stagesJson}"""
    } catch { case e: Throwable => System.err.println(s"[bench] skew section died: $e") }

    emitJson()
    spark.stop()
  }
}
