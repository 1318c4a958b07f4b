package crawlbench

/** Turns a run's [[RunStats]] into the metrics the benchmark prints. */
object Report {

  type Metrics = Seq[(String, Double, String)]

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def endToEnd(st: RunStats, setupS: Double): Metrics = Seq(
    ("setup_s", setupS, "s"),
    ("urls_per_cpu_s", st.urls / (st.timedCpuNs / 1e9), "1/s"),
    ("step_cpu_p50_s", median(st.stepCpu.toSeq), "s"),
    ("store_mb", median(st.storeBytes.map(_.toDouble).toSeq) / 1e6, "MB"))

  /** Wall-clock figures: logged, not gated (they follow the host's CPU
    * steal; see the README). */
  def wall(st: RunStats): Metrics = Seq(
    ("urls_per_s", st.urls / (st.timedNs / 1e9), "1/s"),
    ("step_p50_s", median(st.stepWalls.toSeq), "s"))

  /** Stage groups: the crawl loop's own module, the store, the rest. */
  val StageGroups: Seq[String] = Seq("loop", "frontier", "other")

  def perLayer(st: RunStats, loopModule: String, gcS: Double, heapMb: Double): Metrics = {
    val steps = math.max(1, st.steps).toDouble
    val crawls = math.max(1, st.crawls).toDouble
    val superCommits = st.commits.filter(_.step > 0)
    val regular = superCommits.filterNot(_.compaction)
    val compactions = superCommits.filter(_.compaction)
    val inSteps = (t: Long) => st.stepSpansMs.exists { case (a, b) => t >= a && t < b }
    val stepJobs = st.jobs.filter(j => inSteps(j._1))
    val stepStages = st.stages.filter(s => inSteps(s.startMs))
    val gaps = st.stepSpansMs.map { case (a, b) => (b - a - Tracer.covered(st.jobs.toSeq, a, b)) / 1000.0 }
    def progressMs(key: String) = mean(st.progress.map(_.getOrElse(key, 0L).toDouble))
    val urls = math.max(1L, st.urls).toDouble
    def group(module: String) =
      if (module == loopModule) "loop" else if (module == "frontier") "frontier" else "other"
    val byModule = StageGroups.flatMap { m =>
      val ss = st.stages.filter(s => group(s.module) == m)
      Seq((s"sched.executor_s.$m", ss.map(_.runMs).sum / 1000.0 / crawls, "s"),
        (s"sched.shuffle_bytes_per_url.$m", ss.map(_.shuffleBytes).sum / urls, "B/url"))
    }
    Seq(
      ("url.canonicalize_ns", Kernels.canonicalizeNs(), "ns"),
      ("text.extract_ns", Kernels.extractNs(), "ns"),
      ("text.decode_ns", Kernels.decodeNs(), "ns"),
      ("frontier.bloom_probe_ns", st.bloomProbeNs, "ns"),
      ("sched.jobs_per_step", stepJobs.size / steps, "count"),
      ("sched.stages_per_step", stepStages.size / steps, "count"),
      ("sched.driver_gap_s", mean(gaps), "s"),
      ("sched.loop_s", mean(st.loopSecs), "s"),
      ("frontier.commit_s", mean(regular.map(_.secs)), "s"),
      ("frontier.bytes_written_per_commit", mean(regular.map(_.bytes.toDouble)), "B"),
      ("frontier.compact_s", mean(compactions.map(_.secs)), "s"),
      ("frontier.snapshot_dirs", mean(st.snapshotDirs.map(_.toDouble)), "count"),
      ("frontier.read_s", mean(st.readSecs), "s"),
      ("frontier.seen_filter_s", mean(st.seenSecs), "s"),
      ("fetch.requests", st.fetchRequests / crawls, "count"),
      ("fetch.robots_requests", st.robotsRequests / crawls, "count"),
      ("fetch.server_busy_s", st.serverBusyNs / 1e9 / crawls, "s"),
      ("fetch.call_s", st.fetchWallNs / 1e9 / steps, "s"),
      ("streaming.query_planning_ms", progressMs("queryPlanning"), "ms"),
      ("streaming.add_batch_ms", progressMs("addBatch"), "ms"),
      ("streaming.wal_commit_ms", progressMs("walCommit"), "ms"),
      ("jvm.gc_s", gcS / crawls, "s"),
      ("jvm.heap_after_gc_mb", heapMb, "MB")) ++ byModule
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0.0" else java.lang.Double.toString(x)

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Metrics): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
