package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Dev harness for the round-6 plan evidence (`plans/r06/<query>_{before,after}.txt`):
 * runs each named SparkEntry query and writes the `.explain("formatted")`-style
 * output of BOTH the query's returned frame and the LARGEST internal
 * execution it triggered (for the crawl-fixture queries that is the
 * superstep's materialization action — the plan the optimization work
 * actually reshapes; the returned frame of a memoized/checkpointed query is
 * just a LocalRelation/RDD scan).
 *
 *   sbt "runMain graft.PlanCapture <out-dir> <suffix> <q1,q2,...>"
 *
 * It captures the current plans only. The committed "before" files are the
 * historical round-5 shapes, captured while the small-step broadcast plan
 * still had a kill switch; "after" files regenerate from the defaults.
 */
object PlanCapture {
  def main(args: Array[String]): Unit = {
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    Files.createDirectories(outDir)
    val spark = Udfs.newSession(s"local[$cpus]", cpus, "plan-capture")

    @volatile var biggest: (Int, String) = (0, "")
    val listener = new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = try {
        val s = qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        if (s.length > biggest._1) biggest = (s.length, s)
      } catch { case _: Throwable => }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    names.foreach { name =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      biggest = (0, "")
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.count()
      // drain listener events
      Thread.sleep(1500)
      val returned = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val body =
        s"""== ${name} (${suffix}) ==
           |
           |---- returned frame (what the bench counts / Verify writes) ----
           |$returned
           |---- largest internal execution (the superstep/crawl materialization action) ----
           |${biggest._2}
           |""".stripMargin
      Files.writeString(outDir.resolve(s"${name}_${suffix}.txt"), body)
      println(s"PLANCAP wrote ${name}_${suffix}.txt (${body.length} chars)")
    }
    spark.stop()
  }
}
