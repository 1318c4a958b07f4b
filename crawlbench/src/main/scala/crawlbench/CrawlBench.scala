package crawlbench

import java.nio.file.{Files, Paths}
import graft.Udfs

/**
 * Crawl benchmark entry point: one workload in one JVM.
 *
 *   CrawlBench --workload bulk_bfs|polite_live|stream_seeds --seed N
 *     --seconds S --trace 0|1 --scratch DIR [--t0-ms EPOCH_MS]
 *
 * Set-up (session, inputs, fixture server) is timed from `--t0-ms`, the
 * launcher's start. Then whole crawls run back to back until `--seconds`
 * have passed, at least one; each is checked against the plain-Scala BFS
 * once it has returned. The last stdout line is one JSON object:
 * end-to-end metrics untraced, per-layer metrics with `--trace 1`.
 */
object CrawlBench {

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val t0Ms = a.get("t0-ms").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val workload = a.getOrElse("workload", sys.error("--workload is required"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val scratch = Paths.get(a.getOrElse("scratch", sys.error("--scratch is required")))
    Files.createDirectories(scratch)

    def mark(what: String): Unit =
      System.err.println(f"[crawlbench] $what at ${(System.currentTimeMillis() - t0Ms) / 1000.0}%.1f s")
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = Udfs.newSession(s"local[$nproc]", nproc, "crawlbench")
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val w: Workload = workload match {
      case "bulk_bfs" => new BulkBfs(spark, seed, scratch, trace, tracer)
      case "polite_live" => new PoliteLive(spark, seed, scratch, trace, tracer)
      case "stream_seeds" => new StreamSeeds(spark, seed, scratch, trace, tracer)
      case other => sys.error(s"unknown workload $other")
    }
    val stats = new RunStats
    try {
      w.setup()
      tracer.foreach(_.take())
      val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
      mark("set-up done")

      val gc0 = Jvm.gcMs
      val start = System.nanoTime()
      while (stats.crawls == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
        w.crawl(stats)
        mark(s"crawl ${stats.crawls} done")
      }
      val gcS = (Jvm.gcMs - gc0) / 1000.0

      stats.violations.take(10).foreach(v => System.err.println(s"[crawlbench] check failed: $v"))
      val e2e = Report.endToEnd(stats, setupS)
      System.err.println(s"[crawlbench] ${if (trace) "traced" else "untraced"} run end-to-end: " +
        (e2e ++ Report.wall(stats)).map { case (n, v, u) => s"$n=$v $u" }.mkString(" "))
      val metrics = if (trace) Report.perLayer(stats, w.loopModule, gcS, Jvm.heapAfterGcMb) else e2e
      println(Report.json(stats.violations.isEmpty, stats.steps, stats.failedSteps, metrics))
    } finally {
      w.close()
      spark.stop()
    }
  }
}
