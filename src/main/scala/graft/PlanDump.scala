package graft

import org.apache.spark.sql.functions._
import graft.sched.Crawler

/**
 * Dev harness: print the formatted physical plan + per-job trace of ONE
 * fixture-sized superstep's materialization action (the fused carry), to
 * attribute the ~25 AQE stage-jobs a superstep pays at small step sizes.
 *   sbt "runMain graft.PlanDump"
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Udfs.newSession("local[32]", 32, "plan-dump")
    import spark.implicits._
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
    sys.env.get("SPARK_GRAFT_DUMP_EXTRA").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) }

    val html = "<html><body>no links here</body></html>".getBytes("UTF-8")
    val ts = new java.sql.Timestamp(0L)
    val pages = (for { h <- 0 until 2; i <- 0 until 8 } yield
        (s"http://h$h.test/p/$i", ts, html, "", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val (idx, robots) = graft.sched.Superstep.preparePages(spark, pages)
    val seeds = (for { p <- Seq("p1", "p2"); h <- 0 until 2; i <- 0 until 8 } yield
      (p, s"http://h$h.test/p/$i")).toDF("project", "raw_url")
    val frontier0 = Crawler.seedFrontierDf(spark, seeds, 0.0)
      .withColumn("priority", regexp_extract($"url", "/p/([0-9]+)$", 1).cast("int"))
      .localCheckpoint()
    val projects = Seq(("p1", 2.0, 3.0), ("p2", 1.0, 2.0)).toDF("name", "rate", "burst")
    val cfg = graft.sched.Superstep.Config(respectRobots = false,
      collectCounters = false,
      smallStep = sys.env.getOrElse("SPARK_GRAFT_DUMP_SMALL", "0") == "1")

    // warm (codegen etc), step 1
    val r1 = graft.sched.Superstep.run(spark, frontier0, Crawler.emptyBudgets(spark),
      idx, robots, projects, 1.0, cfg)
    val (f2, b2, _, _, _) = Crawler.checkpointCarryFused(r1.frontier, r1.budgets,
      Crawler.emptyResults(spark), Some(r1.counters), None)
    r1.unpersistAll()

    // traced step 2
    val clock = new StepProbe.JobClock
    spark.sparkContext.addSparkListener(clock)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(j.jobId, (System.nanoTime(),
          "stages=" + j.stageInfos.size + " [" +
            j.stageInfos.map(si => si.name.split(" at ").lastOption.getOrElse(si.name))
              .mkString(";").take(160) + "]"))
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = starts.remove(j.jobId)
        if (s != null)
          println(f"JOB ${j.jobId}%4d ${(System.nanoTime() - s._1) / 1e6}%7.1fms ${s._2}")
      }
    })
    val (j0, t0) = clock.snap()
    val w0 = System.nanoTime()
    val r2 = graft.sched.Superstep.run(spark, f2, b2, idx, robots, projects, 2.0, cfg)
    val union = Crawler.carryUnion(r2.frontier, r2.budgets,
      Crawler.emptyResults(spark), Some(r2.counters), None)
    println("==== PHYSICAL PLAN OF THE FUSED CARRY ====")
    union.explain("formatted")
    val (f3, b3, _, _, _) = Crawler.checkpointCarryFused(r2.frontier, r2.budgets,
      Crawler.emptyResults(spark), Some(r2.counters), None)
    val wall = (System.nanoTime() - w0) / 1e9
    val (j1, t1) = clock.snap()
    println(f"STEP2 wall=${wall}%.2fs jobs=${j1 - j0} exec=${t1 - t0}%.2fs gap=${wall - (t1 - t0)}%.2fs")
    spark.stop()
  }
}
