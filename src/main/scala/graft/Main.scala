package graft

import org.apache.spark.sql.functions._
import graft.frontier.FrontierStore
import graft.gen.PageGen
import graft.sched.Crawler

/**
 * spark-submit / CLI entry (SURVEY §7.2): crawl a pages table.
 *
 *   runMain graft.Main crawl --pages <parquet dir|gen:H,P> --seeds <csv urls>
 *     [--project p1] [--steps 5] [--checkpoint dir] [--cpus 8]
 *     [--rate 1000] [--burst 1000] [--seen-buckets 64]
 *   runMain graft.Main demo        # fixture-graph demo crawl, prints results
 *
 * An unknown mode or flag, or a flag without a value, exits with code 2.
 */
object Main {
  private val Flags = Set("pages", "seeds", "project", "steps", "checkpoint", "cpus",
    "rate", "burst", "seen-buckets")

  /** The `--flag value` pairs after the mode, or the first argument that is
    * not a known flag followed by a value. */
  private[graft] def parseArgs(args: Seq[String]): Either[String, Map[String, String]] =
    args.grouped(2).foldLeft[Either[String, Map[String, String]]](Right(Map.empty)) {
      case (Right(m), Seq(k, v)) if k.startsWith("--") && Flags(k.drop(2)) =>
        Right(m + (k.drop(2) -> v))
      case (Right(_), Seq(k)) if k.startsWith("--") && Flags(k.drop(2)) =>
        Left(s"missing value for $k")
      case (Right(_), k +: _) => Left(s"unknown option: $k")
      case (err, _) => err
    }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("demo")
    val a = parseArgs(args.toSeq.drop(1)) match {
      case Right(m) => m
      case Left(err) =>
        System.err.println(s"$err (flags: ${Flags.toSeq.sorted.map("--" + _).mkString(" ")})")
        sys.exit(2)
    }
    val cpus = a.getOrElse("cpus", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).toInt
    val spark = Udfs.newSession(s"local[$cpus]", cpus, "graft-crawl")
    import spark.implicits._

    mode match {
      case "demo" =>
        val results = SparkEntry.entry(spark)
        results.show(20, truncate = false)
        println(s"demo crawl: ${results.count()} results")

      case "crawl" =>
        val pagesSpec = a.getOrElse("pages", "gen:20,30")
        val pages =
          if (pagesSpec.startsWith("gen:")) {
            val Array(h, p) = pagesSpec.drop(4).split(",").map(_.toInt)
            PageGen.pages(spark, PageGen.Config(nHosts = h, pagesPerHost = p)).toDF()
          } else spark.read.parquet(pagesSpec)
        val project = a.getOrElse("project", "p1")
        val seeds = a.get("seeds") match {
          case Some(csv) => csv.split(",").toSeq.map(u => project -> u)
          case None => Seq(project -> "http://host0.example.com/page/1")
        }
        val projects = Seq((project, a.getOrElse("rate", "1000").toDouble,
          a.getOrElse("burst", "1000").toDouble)).toDF("name", "rate", "burst")
        val store = a.get("checkpoint").map(new FrontierStore(_, cpus,
          seenBuckets = a.getOrElse("seen-buckets", "64").toInt))
        val run = Crawler.run(spark, pages, projects, seeds,
          Crawler.CrawlConfig(maxSteps = a.getOrElse("steps", "5").toInt),
          store)
        val byStatus = run.frontier.groupBy("status").count().orderBy("status")
          .collect().map(r => s"status=${r.getInt(0)}:${r.getLong(1)}").mkString(" ")
        println(s"crawl done: steps=${run.steps} scheduled=${run.totalScheduled} " +
          s"new=${run.totalFresh} results=${run.results.count()} frontier[$byStatus]" +
          store.map(s => s" snapshot=${s.currentId.get}").getOrElse(""))

      case other =>
        System.err.println(s"unknown mode: $other (use demo|crawl)")
        sys.exit(2)
    }
    spark.stop()
  }
}
