package crawlbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.frontier.{FrontierStore, SeenFilter, SnapshotStore, StoreSnapshot}

/** One `writeIncremental` as the decorator saw it. `wallMs` is the epoch
  * time of its return, comparable with Spark listener event times;
  * `cpuNs` is the process CPU time then. `storeNs`, `readNs` and `seenNs`
  * are the store's running totals at the return. */
final case class Commit(step: Int, id: Long, startNs: Long, endNs: Long, wallMs: Long,
    cpuNs: Long, compaction: Boolean, bytes: Long, storeNs: Long, readNs: Long,
    seenNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
}

/**
 * Timing decorator around [[FrontierStore]]: it is the store the crawl
 * loops receive, so every call they make into the store layer passes
 * through it. It keeps running totals of the time spent in the store and
 * a record per commit; the step walls are the gaps between successive
 * commit returns. With `trace`, each commit also records the bytes of the
 * snapshot directory it wrote.
 */
final class TimedStore(val root: Path, numPartitions: Int, compactEvery: Int, trace: Boolean,
    /** called after each commit returns (the fixture server's step clock) */
    onCommit: Int => Unit = _ => ()) extends SnapshotStore {

  val inner = new FrontierStore(root.toString, numPartitions, seenBuckets = 8,
    bloomItemsPerBucket = 1L << 16, compactEvery = compactEvery)

  private var storeNs = 0L
  private var readNs = 0L
  private var seenNs = 0L
  private val commits = Vector.newBuilder[Commit]

  private def timed[T](add: Long => Unit)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally {
      val d = System.nanoTime() - t0
      add(d); storeNs += d
    }
  }

  override def currentId: Option[Long] = timed(_ => ())(inner.currentId)

  override def read(spark: SparkSession): Option[StoreSnapshot] =
    timed(readNs += _)(inner.read(spark))

  override def seenFilter(spark: SparkSession): Option[SeenFilter] =
    timed(seenNs += _)(inner.seenFilter(spark))

  override def writeIncremental(spark: SparkSession, step: Int, now: Double,
      upserts: DataFrame, freshKeys: DataFrame, budgets: DataFrame,
      newResults: DataFrame, counters: DataFrame): Long = {
    val t0 = System.nanoTime()
    val id = inner.writeIncremental(spark, step, now, upserts, freshKeys, budgets,
      newResults, counters)
    val t1 = System.nanoTime()
    storeNs += t1 - t0
    val wallMs = System.currentTimeMillis()
    // the manifest marks full snapshots; the first one writes a new store
    // (a bootstrap, or a streaming store's first batch), every later one is
    // a compaction
    val full = inner.manifestJson(id).contains("\"full\":true")
    val bytes = if (trace) TimedStore.du(root.resolve(f"snap-$id%06d")) else 0L
    val c = Commit(step, id, t0, t1, wallMs, TimedStore.cpuNs(), full && id > 1, bytes,
      storeNs, readNs, seenNs)
    synchronized { commits += c }
    onCommit(step)
    id
  }

  def commitLog: Vector[Commit] = synchronized(commits.result())

  /** Bytes under the store's root now. */
  def bytesOnDisk: Long = TimedStore.du(root)

  def snapshotDirs: Int = {
    val ls = Files.list(root)
    try ls.filter(p => p.getFileName.toString.matches("snap-\\d+")).count().toInt
    finally ls.close()
  }

  def delete(): Unit = TimedStore.rmrf(root)
}

object TimedStore {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process, all threads. */
  def cpuNs(): Long = os.getProcessCpuTime

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
