package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.frontier.SnapshotStore
import graft.sched.{Crawler, StepDriver, Superstep}

/**
 * Continuous-mode wrapper (SURVEY §2.10): the reference is a long-running
 * 0.1s-tick loop; the Spark-native continuous variant is a Structured
 * Streaming query where each micro-batch = one superstep. New seed tasks
 * arrive on an unbounded stream (file source, Kafka, or MemoryStream in
 * tests); every trigger merges the batch's seeds into the persisted
 * frontier and advances the crawl by one superstep, committing a snapshot.
 *
 * The frontier itself stays in the FrontierStore (not in streaming state):
 * it is the same resumable state the batch driver uses, so batch and
 * streaming modes interoperate — you can stop the stream and continue with
 * `Crawler.run`, or vice versa. At-least-once semantics match the
 * reference's restart contract (SURVEY §3.2): an uncommitted superstep is
 * simply re-selected.
 */
object StreamingCrawl {

  /**
   * @param seedStream streaming DataFrame with columns (project, url)
   * @param tickSeconds deterministic virtual-clock advance per micro-batch
   */
  def start(spark: SparkSession, pages: DataFrame, projects: DataFrame,
      store: SnapshotStore, seedStream: DataFrame,
      cfg: Superstep.Config = Superstep.Config(),
      now0: Double = 1700000000.0, tickSeconds: Double = 1.0,
      trigger: Trigger = Trigger.ProcessingTime(0L),
      queryCheckpointDir: Option[String] = None): StreamingQuery = {

    val (pagesIdx, robots) = Superstep.preparePages(spark, pages)
    pagesIdx.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    robots.persist()
    // resumes whatever the store holds; after each commit it reads the new
    // snapshot back, so a batch starts from the last committed state
    val driver = new StepDriver(spark, projects, Some(store), now0, tickSeconds, Nil,
      terminates = false)

    val writer = seedStream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // merge newly arrived seeds with full on_request semantics (J1/F5/F6:
        // unknown -> insert; known + force_update/itag/age -> restart). The
        // seeds stay a DataFrame end-to-end (no driver collect), and every
        // frontier-side operation is a scan probed by the BROADCAST seed
        // keys — a micro-batch never shuffles or full-outer-joins the
        // frontier: the on_request merge itself runs over only the frontier
        // rows whose keys appear in the batch. Empty batches (pure superstep
        // ticks) skip the seed joins outright.
        val keys = Seq("project", "url_hash")
        val merge = if (batch.isEmpty) None else {
          val now = driver.nextNow
          val seedRows = Crawler.seedFrontierDf(spark,
            batch.selectExpr("project", "url as raw_url"), now).localCheckpoint()
          val incKeys = seedRows.select(keys.map(functions.col): _*)
          val existing = driver.frontier.join(broadcast(incKeys), keys, "left_semi")
          val mergedSeed = Superstep.mergeIncoming(existing, seedRows, now).localCheckpoint()
          Some(StepDriver.SeedMerge(
            frontier = driver.frontier.join(broadcast(incKeys), keys, "left_anti")
              .unionByName(mergedSeed),
            upserts = mergedSeed,
            freshKeys = incKeys.join(
              broadcast(existing.select(keys.map(functions.col): _*)), keys, "left_anti"),
            // this batch's seed keys postdate the snapshot seen-index
            seen = incKeys))
        }
        // J1 probes the snapshot's bucketed bloom side-file index (+ the
        // in-batch seed overlay) — never an exact join against the full
        // frontier key set per micro-batch
        // the batch's checkpoints: the merged seeds, and the seed rows
        // under their keys
        driver.step(pagesIdx, robots, cfg, seedMerge = merge,
          checkpoints = merge.toSeq.flatMap(m => Seq(m.upserts, m.seen)))
      }

    queryCheckpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }
}
