package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Dev probe: runs SparkEntry queries in one session and reports their Spark
 * jobs and, with a plan directory, their physical plans.
 *
 *   sbt "runMain graft.Probe <q1,q2,...> [reps] [plan-dir]"
 *
 * Each job prints `JOB <id> <ms> stages=<n> [<stage call sites>]` as it
 * ends; each query and rep prints `PROBE rep=<r> <query> wall=… jobs=…
 * sql=… exec=… gap=… rows=…`, where `sql` counts the SQL executions
 * (actions, writes and checkpoints) the rep ran, `exec` sums the query's
 * job walls and `gap` is the rest of its wall (driver planning and
 * scheduling between jobs; negative when jobs overlap).
 * The first rep includes JIT and codegen warm-up. With a plan directory,
 * each query writes `<query>_after.txt` in the layout of `plans/r06/`: the
 * formatted plan of the returned frame and of the largest execution the
 * query ran (for a crawl fixture, the superstep's materialization action),
 * cut at [[PlanLines]] lines, then an operator histogram of the whole text.
 *
 * Data: the sf directory in `SPARK_GRAFT_SF_DIR` (default: the working
 * directory; the crawl fixtures read none). Cores:
 * `SPARK_GRAFT_CPUS`, else the machine's. A crawl's per-step jobs and
 * driver gap over the real loops come from crawlbench's traced run
 * (`--trace 1`); thread scaling from Bench's `scaling` section.
 */
object Probe {

  /** One query run: wall and summed job seconds, jobs ended, SQL
    * executions ended, rows counted. */
  final case class Summary(query: String, rep: Int, wall: Double, jobs: Int,
      sql: Int, exec: Double, rows: Long)

  /** Lines of plan text a plan file keeps before its histogram. */
  val PlanLines = 1200

  /** Operators the histogram counts, in print order; zero counts are left
    * out. A tree node counts once per line it is drawn on, root or child,
    * codegen'd (`*`-prefixed) or not. */
  private val HistogramOps = Seq("Exchange", "BroadcastExchange", "AQEShuffleRead",
    "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "SortAggregate",
    "HashAggregate", "ObjectHashAggregate", "Window", "Generate", "InMemoryTableScan",
    "LocalTableScan", "Scan ExistingRDD")
  private val TreeNode = """^[ :|]*(?:[+:]- )?(?:\* )?([A-Z][A-Za-z ]*) \(\d+\)$""".r

  /** A plan file: the plan text cut at [[PlanLines]] lines, then the
    * operator histogram of the whole text. */
  def planReport(plans: String): String = {
    val lines = plans.split("\n", -1).toSeq
    val counts = lines.collect { case TreeNode(node) =>
      HistogramOps.find(op => node == op || node.startsWith(op + " "))
    }.flatten.groupBy(identity).map { case (op, n) => op -> n.size }
    val cut =
      if (lines.size <= PlanLines) lines
      else lines.take(PlanLines) :+ s"... [TRUNCATED: ${lines.size - PlanLines} more " +
        "lines; operator histogram of the FULL untruncated output below] ..."
    (cut ++ Seq("", "==== OPERATOR HISTOGRAM (full untruncated output; tree nodes " +
      "incl. codegen'd '*'-prefixed) ====") ++
      HistogramOps.filter(counts.contains).map(op => s"$op: ${counts(op)}"))
      .mkString("", "\n", "\n")
  }

  /** Run each query `reps` times on `spark`, printing job and query lines,
    * and leave the session as it was apart from the released caches. */
  def run(spark: SparkSession, names: Seq[String], reps: Int, planDir: Option[Path],
      sfDir: String): Seq[Summary] = {
    val started = new ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new AtomicInteger()
    val jobMs = new AtomicLong()
    val clock = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        started.put(j.jobId, (j.time, s"stages=${j.stageInfos.size} [" + j.stageInfos
          .map(si => si.name.split(" at ").last).mkString(";").take(160) + "]"))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(started.remove(j.jobId)).foreach { case (t0, stages) =>
          jobs.incrementAndGet(); jobMs.addAndGet(j.time - t0)
          println(f"JOB ${j.jobId}%5d ${j.time - t0}%7dms $stages")
        }
    }
    @volatile var largest = ""
    val executions = new AtomicInteger()
    val plans = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        executions.incrementAndGet()
        if (planDir.nonEmpty) try {
          val s = qe.explainString(FormattedMode)
          if (s.length > largest.length) largest = s
        } catch { case _: Exception => }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(clock)
    spark.listenerManager.register(plans)
    planDir.foreach(Files.createDirectories(_))
    try for (rep <- 1 to reps; name <- names) yield {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      Udfs.drainListenerBus(sc, 10000L)
      val (j0, ms0, x0) = (jobs.get, jobMs.get, executions.get)
      largest = ""
      val w0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val rows = df.count()
      val wall = (System.nanoTime() - w0) / 1e9
      Udfs.drainListenerBus(sc, 10000L)
      val s = Summary(name, rep, wall, jobs.get - j0, executions.get - x0,
        (jobMs.get - ms0) / 1e3, rows)
      println(f"PROBE rep=$rep $name%-24s wall=${s.wall}%7.2fs jobs=${s.jobs} sql=${s.sql} " +
        f"exec=${s.exec}%7.2fs gap=${s.wall - s.exec}%7.2fs rows=$rows")
      planDir.foreach { d =>
        Files.writeString(d.resolve(s"${name}_after.txt"), planReport(
          s"""== $name (after) ==
             |
             |---- returned frame (what the bench counts / Verify writes) ----
             |${df.queryExecution.explainString(FormattedMode)}
             |---- largest internal execution (the superstep/crawl materialization action) ----
             |$largest""".stripMargin))
      }
      s
    } finally {
      sc.removeSparkListener(clock)
      spark.listenerManager.unregister(plans)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Probe <q1,q2,...> [reps] [plan-dir]")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Udfs.newSession(s"local[$cpus]", cpus, "graft-probe")
    try run(spark, args(0).split(",").toSeq, args.lift(1).fold(1)(_.toInt),
      args.lift(2).map(Paths.get(_)), sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "."))
    finally spark.stop()
  }
}
