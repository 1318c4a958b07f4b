package graft

import org.apache.spark.sql.SparkSession

/** Single-configuration scaling measurement, meant to run in a FRESH JVM
  * (forked by Bench) so the two parallelism levels don't share heap/JIT
  * state. Prints "RATE <urls/sec>" on stdout.
  *
  * args: <threads> <nUrls> <reps> [job]
  *
  * job selects the measured workload — the three tiers of the scaling
  * DECOMPOSITION (is the sub-linear residue ours or the VM's?):
  *   full    (default) the BASELINE.json metric job: canonicalize + hash +
  *           in-batch merge + seen anti-join + ranked politeness selection
  *   maponly the same canonicalize+hash map WITHOUT any shuffle — isolates
  *           memory-bandwidth + Spark task overhead scaling
  *   spin    a pure-register spin loop on raw threads (no Spark, no memory
  *           traffic) — measures what 8->32 threads the VM actually delivers
  *   store   the DEPLOYMENT path end to end: a multi-superstep crawl of a
  *           PageGen graph through the COW FrontierStore (snapshot commits,
  *           bucketed bloom seen-index, parquet read-backs) — the north_rule
  *           scaling number on the store-backed path itself, not just the
  *           in-memory schedule+dedup kernel (verdict r04 item 3). nUrls is
  *           ignored; the graph is sized by SPARK_GRAFT_STORE_SCALE_HOSTS /
  *           _PPH / _SEEDS / _STEPS. Pages are generated and persisted
  *           OUTSIDE the timer (fixture construction, not crawl work); the
  *           measured wall is seed -> final snapshot.
  */
object ScalingRun {

  /** store tier: full store-backed crawl; returns (urls, seconds). */
  def storeJob(spark: SparkSession, pages: org.apache.spark.sql.DataFrame,
      seeds: Seq[(String, String)], steps: Int): (Long, Double) = {
    import spark.implicits._
    val projects = Seq(("bench", 1e9, 1e9)).toDF("name", "rate", "burst")
    val dir = graft.Udfs.scratchDir("graft-scale-store")
    val store = new graft.frontier.FrontierStore(dir.toString, 32, seenBuckets = 32)
    val t0 = System.nanoTime()
    val run = graft.sched.Crawler.run(spark, pages, projects, seeds,
      graft.sched.Crawler.CrawlConfig(maxSteps = steps), Some(store))
    val sec = (System.nanoTime() - t0) / 1e9
    val urls = run.totalScheduled + run.totalFresh
    // decomposition line on STDOUT (Bench lifts it into scaling_store as
    // steps_<p>): which steps carry the wall, and how much is the
    // parallelism-independent floor — near-identical step walls at p=8 and
    // p=32 attribute the residue to the shared driver, not executor work
    println("STORE_STEPS " +
      run.stepSeconds.map(x => f"$x%.2f").mkString("[", ",", "]"))
    Udfs.deleteDir(dir)
    (urls, sec)
  }

  /** map-only tier: one wide codegen'd stage, zero exchanges — the SAME
    * canonicalize+hash map work the full job starts with (fused url_keys,
    * both fields consumed so nothing prunes away). */
  def mapOnlyJob(spark: SparkSession, n: Long): Long = {
    val hosts = 5000
    spark.range(n).selectExpr(
        s"url_keys(concat('HTTP://Host', cast(id % $hosts as string), '.Example.COM:80/p/', cast(id as string), '?b=', cast(id % 7 as string), '&a=1#f')) as k")
      .selectExpr("count(1) as c", "bit_xor(k.url_hash) as s", "bit_xor(k.host_hash) as t").collect()
    n
  }

  /** spin tier: raw threads, no allocation, no memory traffic. */
  def spinJob(threads: Int, itersPerThread: Long): Unit = {
    val ts = (0 until threads).map { t =>
      new Thread(() => {
        var x = t.toLong; var i = 0L
        while (i < itersPerThread) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        if (x == 42L) println(x) // defeat dead-code elimination
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  def main(args: Array[String]): Unit = {
    val p = args(0).toInt
    val n = args(1).toLong
    val reps = args(2).toInt
    val job = if (args.length > 3) args(3) else "full"

    if (job == "spin") {
      val iters = n / p
      spinJob(p, iters / 8) // warmup
      val best = (1 to math.max(reps, 2)).map { _ =>
        val t0 = System.nanoTime(); spinJob(p, iters); (System.nanoTime() - t0) / 1e9
      }.min
      println(f"RATE ${n / best}%.0f")
      return
    }
    // a real N-vs-4N comparison holds the JOB configuration fixed and varies
    // only the compute: shuffle partitioning is part of the job, so the
    // store pair pins it (default 32) at both levels instead of tying it to
    // the thread count
    val shuf = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt)
      .getOrElse(if (job == "store") 32 else p)
    val s = Udfs.newSession(s"local[$p]", shuf, s"graft-scaling-$p")
    s.sparkContext.setLogLevel("ERROR")
    // per-stage record: the "which stage stopped scaling" evidence the
    // artifact carries at BOTH parallelism levels (wall/cpu/run/gc/shuffle
    // per stage of the best rep), plus the aggregate SHW/SHR totals
    final case class StageRec(id: Int, wallMs: Long, cpuMs: Long, runMs: Long,
      gcMs: Long, shW: Long, shR: Long, spill: Long, tasks: Int) {
      def json: String =
        s"""{"id":$id,"wall_ms":$wallMs,"cpu_ms":$cpuMs,"run_ms":$runMs,"gc_ms":$gcMs,""" +
          s""""shuffle_write":$shW,"shuffle_read":$shR,"spill":$spill,"tasks":$tasks}"""
    }
    val stages = new scala.collection.mutable.ArrayBuffer[StageRec]
    val shW = new java.util.concurrent.atomic.AtomicLong
    val shR = new java.util.concurrent.atomic.AtomicLong
    s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        val rec = StageRec(si.stageId,
          si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L),
          m.executorCpuTime / 1000000, m.executorRunTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled, si.numTasks)
        stages.synchronized(stages += rec)
      }
    })
    if (job == "store") {
      import s.implicits._
      val hosts = sys.env.getOrElse("SPARK_GRAFT_STORE_SCALE_HOSTS", "8000").toInt
      val pph = sys.env.getOrElse("SPARK_GRAFT_STORE_SCALE_PPH", "60").toInt
      val nSeeds = sys.env.getOrElse("SPARK_GRAFT_STORE_SCALE_SEEDS", "4000").toInt
      val steps = sys.env.getOrElse("SPARK_GRAFT_STORE_SCALE_STEPS", "4").toInt
      val cfg = graft.gen.PageGen.Config(nHosts = hosts, pagesPerHost = pph,
        hotHosts = math.max(1, hosts / 100), hotFactor = 5, fanout = 8)
      val pages = graft.gen.PageGen.pages(s, cfg).toDF()
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
      pages.count()
      val seeds = (0 until nSeeds).map(h => "bench" -> s"http://host$h.example.com/page/1")
      // small warmup crawl (no store): codegen + superstep classes
      graft.sched.Crawler.run(s, pages, Seq(("bench", 1e9, 1e9)).toDF("name", "rate", "burst"),
        seeds.take(50), graft.sched.Crawler.CrawlConfig(maxSteps = 2))
      s.catalog.clearCache(); pages.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY); pages.count()
      val best = (1 to reps).map { _ =>
        System.gc()
        val (urls, sec) = storeJob(s, pages, seeds, steps)
        urls / sec
      }.max
      println(f"RATE ${best}%.0f")
      s.stop()
      return
    }
    def run1(): Unit = job match {
      case "maponly" => mapOnlyJob(s, n)
      case _ => Bench.scheduleDedupJob(s, n, n / 2)
    }
    def warmup(): Unit = job match {
      case "maponly" => mapOnlyJob(s, n / 8)
      case _ => Bench.scheduleDedupJob(s, n / 8, n / 16)
    }
    warmup() // JIT + codegen warmup
    val measured = (1 to reps).map { _ =>
      System.gc()
      val w0 = shW.get; val r0 = shR.get
      val i0 = stages.synchronized(stages.size)
      val t0 = System.nanoTime()
      run1()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are posted async — drain the bus deterministically
      // before reading the SHW/SHR deltas (a fixed sleep under-counts on a
      // loaded VM and bleeds late events into the next rep)
      Udfs.drainListenerBus(s.sparkContext, 5000L)
      (sec, shW.get - w0, shR.get - r0, stages.synchronized(stages.slice(i0, stages.size).toList))
    }
    val (best, bw, br, bestStages) = measured.minBy(_._1)
    // per-stage table of the best rep, one machine-readable line (Bench
    // lifts it into scaling.stages_<p> in the round artifact)
    println("STAGES " + bestStages.map(_.json).mkString("[", ",", "]"))
    println(f"RATE ${n / best}%.0f SHW $bw SHR $br")
    s.stop()
  }
}
