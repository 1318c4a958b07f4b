package crawlbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** A finished stage: epoch-ms submission time, the engine module of its
  * call site, executor run time (ms) and shuffle bytes written. */
final case class StageRec(startMs: Long, module: String, runMs: Long, shuffleBytes: Long)

/**
 * The traced run's Spark listener. It keeps job spans and finished stages
 * in memory; the benchmark reads them after each crawl, once the listener
 * bus is drained.
 */
final class Tracer extends SparkListener {
  private val started = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobQ = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stageQ = new ConcurrentLinkedQueue[StageRec]()
  private val execModule = new ConcurrentHashMap[Long, String]()
  private val stageModule = new ConcurrentHashMap[Int, String]()

  // A SQL execution's call site is the stack of the thread that started
  // it; the stage jobs adaptive execution submits from its own threads
  // carry no engine frame, so a job takes the module of its execution.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execModule.put(s.executionId, Tracer.module(s.details))
    case s: SparkListenerSQLExecutionEnd => execModule.remove(s.executionId)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.put(e.jobId, e.time)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val m = exec.flatMap(id => Option(execModule.get(id.toLong)))
      .getOrElse(Tracer.module(e.stageInfos.headOption.map(_.details).orNull))
    e.stageIds.foreach(stageModule.put(_, m))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach(s => jobQ.add((s.longValue, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    stageQ.add(StageRec(si.submissionTime.getOrElse(0L),
      Option(stageModule.remove(si.stageId)).getOrElse(Tracer.module(si.details)),
      if (tm == null) 0L else tm.executorRunTime,
      if (tm == null) 0L else tm.shuffleWriteMetrics.bytesWritten))
  }

  /** Job spans and stages recorded since the last call. */
  def take(): (Seq[(Long, Long)], Seq[StageRec]) = (Tracer.drain(jobQ), Tracer.drain(stageQ))
}

object Tracer {
  /** Everything in `q` now, removed from it. */
  def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val b = Seq.newBuilder[T]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.result()
  }

  private val Frame = """\bgraft\.([a-z]+)\.[A-Z]""".r

  /** Module (package under `graft`) of the innermost engine frame in a
    * call-site stack; `other` when there is none. */
  def module(details: String): String =
    Frame.findFirstMatchIn(Option(details).getOrElse("")).map(_.group(1)).getOrElse("other")

  /** Length of the union of `spans` clipped to [a, b]. */
  def covered(spans: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/**
 * Spans of the live fetch as it runs inside Spark tasks: the traced run
 * wraps `LiveFetch.fetchPages`' output so that each partition records when
 * it started and finished pulling fetched rows. Local mode runs tasks in
 * this JVM, so the spans land here.
 */
object FetchClock {
  val spans = new ConcurrentLinkedQueue[(Long, Long)]()

  final class Timed[T](it: Iterator[T]) extends Iterator[T] {
    private var t0 = 0L
    private var open = true
    override def hasNext: Boolean = {
      if (t0 == 0L) t0 = System.nanoTime()
      val h = it.hasNext
      if (!h && open) { open = false; spans.add((t0, System.nanoTime())) }
      h
    }
    override def next(): T = it.next()
  }

  def take(): Seq[(Long, Long)] = Tracer.drain(spans)
}

/** JVM-wide counters read before and after the timed crawls. */
object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after the most recent collection, summed over heap pools. */
  def heapAfterGcMb: Double = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}
