package graft

/**
 * Round-6 SUPPLEMENTARY benchmarks (the frozen `graft.Bench` harness is the
 * driver's measurement surface and is untouched; this main carries the extra
 * evidence VERDICT r05 asked for). Prints ONE JSON line:
 *
 *   {"metric":"extra","pipeline_ops":{...},"scaling_store_by_step":[...]}
 *
 * - `pipeline_ops` (verdict item 5): MinHash+LSH near-dup candidate
 *   generation and ANN search (LSH∪IVF, exact-cosine verify, top-3) priced
 *   at 10^6-row scale, forked fresh-JVM local[8] vs local[32] (the same
 *   methodology as Bench's scaling section) — rows/s + N→4N efficiency for
 *   the "bucketed, 100 TB-ready" dedup/ANN claims.
 * - `scaling_store_by_step` (verdict item 3): the store-backed crawl's
 *   N→4N efficiency as a function of STEP SIZE (seed count scales the
 *   per-step batch on the same graph) — the measured form of the "a real
 *   cluster amortizes the per-step driver floor" argument: efficiency must
 *   climb with step size if the floor is fixed-cost, not algorithmic.
 *
 * Env: SPARK_GRAFT_EXTRA_SECTIONS=pipeline,storesteps
 *      SPARK_GRAFT_PIPE_N (default 2000000), SPARK_GRAFT_EXTRA_REPS (2)
 *      SPARK_GRAFT_STORE_STEP_SEEDS (default "1000,4000,16000")
 */
object BenchExtra {

  private def runForked(p: Int, job: String, n: Long, reps: Int,
      extraEnv: Map[String, String] = Map.empty): Double = {
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
    val xmx = sys.env.getOrElse("SPARK_GRAFT_SCALE_MEM", Udfs.halfRamHeap)
    val cmd = Seq(javaBin) ++ opens ++ Seq(
      s"-Xms$xmx", s"-Xmx$xmx", "-XX:+AlwaysPreTouch",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.ScalingRun", p.toString, n.toString, reps.toString, job)
    // stderr drains to ours: a chatty child never blocks on a full pipe
    val pb = new ProcessBuilder(cmd: _*).redirectError(ProcessBuilder.Redirect.INHERIT)
    extraEnv.foreach { case (k, v) => pb.environment().put(k, v) }
    val proc = pb.start()
    val out = new StringBuilder
    val rdr = new java.io.BufferedReader(new java.io.InputStreamReader(proc.getInputStream))
    var line = rdr.readLine()
    while (line != null) { out.append(line).append('\n'); line = rdr.readLine() }
    proc.waitFor()
    "RATE ([0-9.]+)".r.findFirstMatchIn(out.toString).map(_.group(1).toDouble)
      .getOrElse { System.err.println(s"[bench-extra] $job at local[$p] failed:\n$out"); -1.0 }
  }

  def main(args: Array[String]): Unit = {
    val sections = sys.env.getOrElse("SPARK_GRAFT_EXTRA_SECTIONS", "pipeline,storesteps")
      .split(",").toSet
    val pipeN = sys.env.getOrElse("SPARK_GRAFT_PIPE_N", "2000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "2").toInt

    var pipelineJson = "null"
    if (sections("pipeline")) {
      // alternate levels, best-of (same anti-steal policy as Bench.scaling)
      def pair(job: String, n: Long): (Double, Double) = {
        var r8 = -1.0; var r32 = -1.0
        (1 to 2).foreach { _ =>
          r8 = math.max(r8, runForked(8, job, n, reps))
          r32 = math.max(r32, runForked(32, job, n, reps))
        }
        (r8, r32)
      }
      val (m8, m32) = pair("minhash", pipeN)
      val (a8, a32) = pair("ann", pipeN)
      pipelineJson =
        f"""{"n_rows":$pipeN,"minhash_lsh":{"rows_per_sec_local8":${m8}%.0f,"rows_per_sec_local32":${m32}%.0f,"efficiency_8_to_32":${(m32 / m8) / 4.0}%.3f},"ann_lsh_ivf":{"rows_per_sec_local8":${a8}%.0f,"rows_per_sec_local32":${a32}%.0f,"efficiency_8_to_32":${(a32 / a8) / 4.0}%.3f}}"""
      println("PIPELINE " + pipelineJson)
    }

    var storeStepsJson = "null"
    if (sections("storesteps")) {
      val seedSizes = sys.env.getOrElse("SPARK_GRAFT_STORE_STEP_SEEDS", "1000,4000,16000")
        .split(",").map(_.trim.toInt).toSeq
      val rows = seedSizes.map { seeds =>
        val env = Map("SPARK_GRAFT_STORE_SCALE_SEEDS" -> seeds.toString)
        var r8 = -1.0; var r32 = -1.0
        (1 to math.max(1, reps - 1)).foreach { _ =>
          r8 = math.max(r8, runForked(8, "store", 0L, 1, env))
          r32 = math.max(r32, runForked(32, "store", 0L, 1, env))
        }
        val eff = if (r8 > 0 && r32 > 0) (r32 / r8) / 4.0 else -1.0
        println(f"STORESTEP seeds=$seeds r8=$r8%.0f r32=$r32%.0f eff=$eff%.3f")
        f"""{"seeds":$seeds,"urls_per_sec_local8":${r8}%.0f,"urls_per_sec_local32":${r32}%.0f,"efficiency_8_to_32":${eff}%.3f}"""
      }
      storeStepsJson = rows.mkString("[", ",", "]")
    }

    val json =
      s"""{"metric":"extra","pipeline_ops":$pipelineJson,"scaling_store_by_step":$storeStepsJson}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_EXTRA_JSON", "BENCH_EXTRA_r06.json")), json)
    catch { case e: Throwable => System.err.println(s"[bench-extra] write failed: $e") }
    println(json)
  }
}
