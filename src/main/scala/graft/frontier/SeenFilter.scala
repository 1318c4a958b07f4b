package graft.frontier

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter

/**
 * Distributed URL-seen probe over a bucketed Bloom side-file index — the
 * scale replacement for round 1's driver-held Bloom (which collected the
 * whole filter to the driver and re-broadcast it every superstep; at 10^10
 * URLs a 1% Bloom is ~12 GB on one node — a hard ceiling).
 *
 * Here the seen set is sharded into `numBuckets` buckets by
 * `pmod(xxhash64(project, url_hash), numBuckets)`. Every snapshot that adds
 * keys to bucket `b` writes, for exactly those keys,
 *  - key-delta parquet (`snap-N/seen-delta/bucket=<b>/`), and
 *  - a delta Bloom (`snap-N/blooms/<b>.bloom`) sized to them.
 * `deltaChain` (the manifest's `seen_chain`) is the one lineage for both: a
 * bucket's seen set is the union of its chain, and the probe ORs the
 * chain's blooms (a scalable Bloom filter, Almeida et al. 2007). Compaction
 * re-bases the chain every `compactEvery` snapshots, so a chain holds at
 * most that many blooms; the store sizes each for its share of the FPR
 * budget (union bound, [[FrontierStore]]).
 *
 * The probe is a partition-local function: each executor lazily loads the
 * blooms for the buckets its rows touch (JVM-wide cache keyed by file path
 * — snapshot paths are immutable so the cache never invalidates). No
 * driver round-trip, no per-step broadcast, memory bounded per executor by
 * the buckets it actually probes. False positives fall through to the exact
 * anti-join over ONLY the probed buckets' key files (partition-pruned read)
 * — the Bloom is never the source of truth (SURVEY §2.4).
 */
final case class SeenFilter(
    numBuckets: Int,
    root: String,
    /** (snapshotId, seen-buckets touched in it) — the delta chain */
    deltaChain: Seq[(Long, Set[Int])]) {

  /** Bloom paths of each bucket's chain, oldest first, built once here so
    * the per-row probe formats no path. */
  private val chainPaths: Array[Array[String]] = Array.tabulate(numBuckets) { b =>
    deltaChain.collect { case (snap, bs) if bs.contains(b) => SeenFilter.bloomPath(root, snap, b) }
      .toArray
  }

  /** Newest snapshot in each bucket's chain; 0 = bucket has no keys yet. */
  lazy val bloomOwner: Array[Long] = Array.tabulate(numBuckets) { b =>
    deltaChain.collect { case (snap, bs) if bs.contains(b) => snap }.lastOption.getOrElse(0L)
  }

  def bucketCol(project: Column, urlHash: Column): Column =
    pmod(xxhash64(project, urlHash), lit(numBuckets)).cast("int")

  /** might-contain probe usable as a filter column: (bucket, skey) -> bool.
    * A codegen'd native expression (not a Scala UDF): the probe sits on the
    * J1 hot path — every follow candidate of every superstep — where UDF
    * dispatch + Int/Long boxing would be the single highest-volume per-row
    * overhead in the crawl. */
  def probe: (Column, Column) => Column = {
    val chains = chainPaths
    (bucket, skey) =>
      org.apache.spark.sql.GraftColumnShim.column(BloomSeenProbe(
        org.apache.spark.sql.GraftColumnShim.expression(bucket),
        org.apache.spark.sql.GraftColumnShim.expression(skey),
        chains))
  }

  /** Exact seen keys (project, url_hash) for the given buckets only —
    * reads just those buckets' delta files across the snapshot chain. */
  def keysFor(spark: SparkSession, buckets: Seq[Int]): DataFrame = {
    val want = buckets.toSet
    val paths = for {
      (snap, touched) <- deltaChain
      b <- want if touched.contains(b)
    } yield SeenFilter.deltaPath(root, snap, b)
    val existing = paths.filter(p => Files.exists(Paths.get(p)))
    if (existing.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("project", StringType), StructField("url_hash", LongType))))
    // explicit schema: the delta layout is ours — don't pay parquet schema
    // inference per probe (this read happens at superstep cadence)
    else spark.read.schema(FrontierStore.seenKeySchema).parquet(existing: _*)
      .select("project", "url_hash")
  }
}

object SeenFilter {
  def bloomPath(root: String, snap: Long, bucket: Int): String =
    root + "/" + FrontierStore.snapName(snap) + "/blooms/" + bucket + ".bloom"
  def deltaPath(root: String, snap: Long, bucket: Int): String =
    root + "/" + FrontierStore.snapName(snap) + "/seen-delta/bucket=" + bucket

  /** Executor-JVM-wide bloom cache. Snapshot files are immutable so an
    * entry is never WRONG — but every snapshot adds new bloom files and
    * compaction garbage-collects old ones, so a path-keyed unbounded cache
    * would keep every bloom the JVM ever probed (stale snapshots' entries
    * linger after GC). Bounded byte-budget LRU: stale paths simply age out. */
  private val maxBytes: Long = 512L * 1024 * 1024
  private var cachedBytes = 0L
  private val cache = new java.util.LinkedHashMap[String, (BloomFilter, Long)](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, (BloomFilter, Long)]): Boolean =
      false // eviction handled explicitly (byte budget, not entry count)
  }
  def load(path: String): BloomFilter = {
    val hit = cache.synchronized(cache.get(path))
    if (hit != null) hit._1
    else {
      // deserialize OUTSIDE the monitor: concurrent tasks loading different
      // buckets must not serialize their multi-MB reads behind one lock
      // (a rare duplicate same-path load is benign — first insert wins)
      val bytes = Files.size(Paths.get(path))
      val in = Files.newInputStream(Paths.get(path))
      val bloom = try BloomFilter.readFrom(in) finally in.close()
      cache.synchronized {
        val raced = cache.get(path)
        if (raced != null) raced._1
        else {
          cache.put(path, (bloom, bytes))
          cachedBytes += bytes
          val it = cache.entrySet().iterator()
          while (cachedBytes > maxBytes && cache.size() > 1 && it.hasNext) {
            val eldest = it.next()
            if (eldest.getKey != path) { cachedBytes -= eldest.getValue._2; it.remove() }
          }
          bloom
        }
      }
    }
  }

  /** One bloom of a bucket's chain: the delta that snapshot `snap` wrote. */
  def probeOne(root: String, snap: Long, bucket: Int, key: Long): Boolean =
    load(bloomPath(root, snap, bucket)).mightContainLong(key)

  /** The blooms of one bucket's chain, through the cache. */
  def loadChain(paths: Array[String]): Array[BloomFilter] = paths.map(load)

  /** Static chain probe, called from generated Java and from `nullSafeEval`:
    * true when any bloom of the chain might contain `key`. */
  def mightContain(chain: Array[BloomFilter], key: Long): Boolean = {
    var i = 0
    while (i < chain.length) {
      if (chain(i).mightContainLong(key)) return true
      i += 1
    }
    false
  }
}

/**
 * Codegen'd Bloom-probe predicate `(bucket:int, skey:long) -> boolean` over
 * the filter's side-files — stays inside whole-stage codegen with primitive
 * locals (the generated code loads each bucket's chain once per partition
 * and calls the static [[SeenFilter.mightContain]]), replacing the boxed
 * per-row ScalaUDF that used to sit on the J1 dedup hot path (SURVEY §2.4;
 * verdict r03 item 2).
 */
case class BloomSeenProbe(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression,
    /** bloom paths per bucket, built once by [[SeenFilter]] */
    chains: Array[Array[String]])
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def nullIntolerant: Boolean = true
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_seen_probe"

  override protected def nullSafeEval(b: Any, k: Any): Any =
    SeenFilter.mightContain(SeenFilter.loadChain(chains(b.asInstanceOf[Int])), k.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bloomCls = classOf[BloomFilter].getName
    val chainsRef = ctx.addReferenceObj("bloomChains", chains, "java.lang.String[][]")
    // a bucket's blooms are resolved on its first probe in the partition:
    // later rows take no cache lock
    val loaded = ctx.addMutableState(s"$bloomCls[][]", "bloomChain",
      v => s"$v = new $bloomCls[${chains.length}][];")
    nullSafeCodeGen(ctx, ev, (b, k) =>
      s"""
         |if ($loaded[$b] == null) $loaded[$b] = graft.frontier.SeenFilter.loadChain($chainsRef[$b]);
         |${ev.value} = graft.frontier.SeenFilter.mightContain($loaded[$b], $k);
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: org.apache.spark.sql.catalyst.expressions.Expression,
      newRight: org.apache.spark.sql.catalyst.expressions.Expression): BloomSeenProbe =
    copy(left = newLeft, right = newRight)
}
