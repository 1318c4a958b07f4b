package graft

import org.apache.spark.sql.{Row, SparkSession}
import graft.sched.Superstep

/** One shared local session for all Spark-backed specs. */
object SparkTestSession {
  lazy val spark: SparkSession = Udfs.newSession("local[4]", 8, "graft-test")
}

/** A superstep's counters, collected from its lazy aggregate (one job). */
object StepCounters {
  def rows(r: Superstep.StepResult): Seq[Row] = r.counters.collect().toSeq

  /** Counter `name` summed over the step's projects (0 for an idle step). */
  def total(r: Superstep.StepResult, name: String): Long =
    rows(r).map(_.getAs[Long](name)).sum

  /** The counter row of `project`. */
  def of(r: Superstep.StepResult, project: String): Row =
    rows(r).find(_.getAs[String]("project") == project).get
}
