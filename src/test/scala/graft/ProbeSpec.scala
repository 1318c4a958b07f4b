package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("Probe: a c5 run writes the fused carry's plan, counts its jobs and leaves the session up") {
    val dir = Files.createTempDirectory("graft-probe")
    try {
      val Seq(s) = Probe.run(spark, Seq("c5_politeness_schedule"), 1, Some(dir), "unused")
      assert(s.query == "c5_politeness_schedule" && s.rows == 32)
      assert(s.jobs >= 1 && s.sql >= 1, s.toString)
      val plan = Files.readString(dir.resolve("c5_politeness_schedule_after.txt"))
      val largest = plan.split("---- largest internal execution").last
      // the carry checkpoint: a tagged union of the frontier, budgets and
      // results legs, whose superset schema carries the budget columns
      assert(largest.linesIterator.exists(_.matches("""[ :|]*[+:]- Union \(\d+\)""")), largest.take(2000))
      assert(largest.contains("b_tokens"))
      assert(plan.contains("==== OPERATOR HISTOGRAM") && plan.contains("BroadcastHashJoin: "))
      assert(!spark.sparkContext.isStopped && spark.range(3).count() == 3)
    } finally {
      import scala.jdk.CollectionConverters._
      Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }
  }
}
