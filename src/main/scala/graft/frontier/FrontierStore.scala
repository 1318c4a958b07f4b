package graft.frontier

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/**
 * Iceberg-SEMANTICS snapshot store on plain Parquet (no Iceberg runtime jar
 * exists in this offline sandbox — verified /opt/spark/jars; SURVEY §7.1).
 * The layout keeps Iceberg's contract (snapshots + manifests + per-partition
 * lineage, atomic pointer swap) so `iceberg-spark-runtime` can slot in later.
 *
 * Storage model: copy-on-write of the touched buckets only, so a commit's
 * I/O follows the step, not the frontier:
 *
 *   root/VERSION                     current snapshot id (atomic swap)
 *   root/snap-N/manifest.json        [[FrontierStore.Manifest]] as compact
 *                                    JSON: step, now, the layout's bucket
 *                                    counts (checked on every read),
 *                                    per-bucket OWNER lineage (which
 *                                    snapshot last wrote each bucket),
 *                                    per-bucket row counts, counters
 *   root/snap-N/frontier/bucket=B/   ONLY the buckets this step touched;
 *                                    untouched buckets resolve through the
 *                                    owner lineage to older snapshots
 *   root/snap-N/seen-delta/bucket=B/ key-only (project, url_hash, skey)
 *                                    APPEND deltas of newly-seen URLs,
 *                                    bucketed by pmod(xxhash64(project,
 *                                    url_hash), seenBuckets)
 *   root/snap-N/blooms/B.bloom       delta Bloom of the same keys, sized to
 *                                    them; the manifest's seen_chain (which
 *                                    snapshots added keys to which buckets)
 *                                    is the one lineage of deltas and blooms,
 *                                    and the partition-local probe
 *                                    (SeenFilter) ORs a bucket's chain
 *   root/snap-N/budgets/, results-delta/
 *
 * A write is O(touched buckets + step size), not O(frontier). Every
 * `compactEvery` snapshots a FULL rewrite (compaction) re-bases the lineage
 * so the chain stays bounded, and older snapshots are garbage-collected.
 * A seen chain therefore holds at most `compactEvery` blooms. Each is built
 * for `bloomFpp / (2 * compactEvery)` at its key count (at least
 * [[FrontierStore.MinBloomItems]]), so by the union bound their OR stays
 * under `bloomFpp`. The factor 2 is headroom: a bloom filled to its key
 * count sits slightly above its design rate (its hash count is rounded), and
 * a full 32-bloom chain sized at `bloomFpp / compactEvery` measured 1.01 %
 * false positives at a 1 % budget.
 * A commit writes its sections one after another into `snap-N.tmp/`:
 * frontier, seen delta + blooms, results, budgets, then the manifest (a
 * compaction's seen and results rewrites read the project set its frontier
 * merge keeps, so the frontier goes first). It commits via atomic directory
 * rename + VERSION pointer swap — a reader never observes a half-written
 * snapshot (resume contract, SURVEY §3.2).
 *
 * The frontier buckets by pmod(xxhash64(host, project), P) — the salted
 * host-hash politeness layout (north_rule) — while the seen index buckets
 * by the dedup key: two independent physical layouts for two access paths.
 */
final class FrontierStore(rootDir: String, numPartitions: Int,
    val seenBuckets: Int = 64,
    /** Ignored: each delta bloom is sized to the keys it holds. Kept so
      * existing callers still compile. */
    bloomItemsPerBucket: Long = 1L << 22,
    bloomFpp: Double = 0.01,
    compactEvery: Int = 32) extends SnapshotStore {
  private val root: Path = Paths.get(rootDir)
  Files.createDirectories(root)

  private def snapDir(id: Long): Path = root.resolve(FrontierStore.snapName(id))

  def currentId: Option[Long] = {
    val v = root.resolve("VERSION")
    if (Files.exists(v)) Some(Files.readString(v).trim.toLong) else None
  }

  /** Frontier bucket — salted host-hash layout (north_rule): a hot host of
    * one project spreads across projects, and the politeness agg and ranked
    * selection see co-located (project, host) groups. */
  def frontierBucket = pmod(xxhash64(col("host"), col("project")), lit(numPartitions)).cast("int")
  private def seenBucket(skey: org.apache.spark.sql.Column) =
    pmod(skey, lit(seenBuckets)).cast("int")

  // ---------------- manifest ----------------

  /** The manifest of committed snapshot `id`. A manifest of another format,
    * one that cannot be read, or a store written with other bucket counts
    * than this instance's fails with a descriptive `IllegalStateException`. */
  def manifest(id: Long): FrontierStore.Manifest = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    def corrupt(e: Exception) = new IllegalStateException(
      s"frontier-store manifest for snapshot $id cannot be read (${e.getMessage}) — " +
        s"incompatible or corrupt store at $rootDir (expected format ${FrontierStore.FormatVersion})", e)
    val json = try org.json4s.jackson.JsonMethods.parse(manifestJson(id))
      catch { case e: Exception => throw corrupt(e) }
    val fmt = (json \ "format").extractOpt[Int].getOrElse(0)
    if (fmt != FrontierStore.FormatVersion)
      throw new IllegalStateException(
        s"frontier store at $rootDir has manifest format $fmt but this build " +
          s"reads format ${FrontierStore.FormatVersion}; recreate the store " +
          "(snapshot layouts are not cross-version compatible)")
    val mf = try json.extract[FrontierStore.Manifest]
      catch { case e: Exception => throw corrupt(e) }
    if (mf.num_partitions != numPartitions || mf.seen_buckets != seenBuckets)
      throw new IllegalStateException(
        s"frontier store at $rootDir was written with numPartitions = ${mf.num_partitions} " +
          s"and seenBuckets = ${mf.seen_buckets} but is opened with numPartitions = " +
          s"$numPartitions and seenBuckets = $seenBuckets; reopen it with the values it was written with")
    mf
  }

  // ---------------- read ----------------

  private def frontierView(spark: SparkSession, mf: FrontierStore.Manifest): DataFrame = {
    val paths = mf.frontier_owner.zipWithIndex.collect {
      case (owner, b) if owner != 0L => snapDir(owner).resolve(s"frontier/bucket=$b").toString
    }
    // explicit schema on every store read: the layout is ours, so paying
    // parquet schema inference (footer reads + a listing pass per read, at
    // superstep cadence) buys nothing (guide §6: the store read path is
    // fixed-cost-bound at small step sizes)
    if (paths.isEmpty) emptyFrontier(spark)
    else spark.read.schema(FrontierStore.frontierSchema)
      .parquet(paths.toIndexedSeq: _*)
  }

  private def resultsView(spark: SparkSession, mf: FrontierStore.Manifest): DataFrame = {
    val paths = mf.results_snaps.map(s => snapDir(s).resolve("results-delta").toString)
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.sched.Crawler.resultSchema)
    else spark.read.schema(graft.sched.Crawler.resultSchema).parquet(paths: _*)
  }

  private def emptyFrontier(spark: SparkSession): DataFrame =
    graft.sched.Crawler.seedFrontier(spark, Seq.empty, 0.0)

  def read(spark: SparkSession): Option[StoreSnapshot] = currentId.map { id =>
    val mf = manifest(id)
    StoreSnapshot(id, mf.step, mf.now, frontierView(spark, mf),
      spark.read.schema(FrontierStore.budgetsSchema)
        .parquet(snapDir(id).resolve("budgets").toString),
      resultsView(spark, mf), mf.counter_totals, frontierRows = mf.frontier_rows)
  }

  /** The distributed URL-seen probe for the current snapshot (None before
    * the first write). */
  def seenFilter(spark: SparkSession): Option[SeenFilter] = currentId.map { id =>
    SeenFilter(seenBuckets, rootDir, manifest(id).deltaChain)
  }

  // ---------------- write ----------------

  /**
   * Commit one superstep as a new snapshot: copy-on-write of the frontier
   * buckets touched by `upserts`, append-only seen-key + results deltas,
   * one delta bloom per touched seen-bucket. O(touched + step), never
   * O(frontier) — except on compaction snapshots. The sections run in the
   * order the header gives; every input is read by the sections that use
   * it, so a caller passes materialized frames ([[graft.sched.StepDriver]]
   * passes the splits of its step checkpoint and a local counters frame).
   *
   * @param upserts  full frontier rows to insert-or-replace (frontierCols)
   * @param freshKeys (project, url_hash) subset of upserts that are NEW —
   *                  these enter the seen index
   */
  def writeIncremental(spark: SparkSession, step: Int, now: Double,
      upserts: DataFrame, freshKeys: DataFrame,
      budgets: DataFrame, newResults: DataFrame, counters: DataFrame): Long = {
    val prevId = currentId.getOrElse(0L)
    val prev = if (prevId == 0) None else Some(manifest(prevId))
    val id = prevId + 1
    val full = prev.isEmpty || (id - prev.get.base) >= compactEvery
    val tmp = root.resolve(FrontierStore.snapName(id) + ".tmp")
    deleteRecursively(tmp)
    Files.createDirectories(tmp)

    // Frames this commit persists, released however it ends: a section that
    // throws stops the commit there, leaving only staged debris in
    // snap-N.tmp, which the next commit of the same id deletes.
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persisted(df: DataFrame): DataFrame = {
      cached += df
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    def withSeenKey(keys: DataFrame): DataFrame = keys
      .withColumn("skey", xxhash64(col("project"), col("url_hash")))
      .withColumn("bucket", seenBucket(col("skey")))
    try {
      val keyCols = Seq("project", "url_hash")
      val up = persisted(upserts.withColumn("bucket", frontierBucket))
      val seenKeyedInc: Option[DataFrame] =
        if (full) None else Some(persisted(withSeenKey(freshKeys.select("project", "url_hash"))))
      // Incremental steps: ONE stats job covers both per-bucket breakdowns
      // (frontier buckets touched by upserts + seen buckets of fresh keys),
      // materializing both persisted frames as it goes.
      val incStats: Map[(Int, Int), Long] =
        if (full) Map.empty
        else up.select(col("bucket"), lit(0).as("kind"))
          .unionByName(seenKeyedInc.get.select(col("bucket"), lit(1).as("kind")))
          .groupBy("kind", "bucket").count().collect()
          .map(r => (r.getAs[Int]("kind"), r.getAs[Int]("bucket")) -> r.getAs[Long]("count"))
          .toMap

      // ---- 1. frontier: copy-on-write of the touched buckets
      val touched: Array[Int] =
        if (full) (0 until numPartitions).toArray
        else incStats.keys.collect { case (0, b) => b }.toArray.sorted
      val oldTouched = prev.flatMap { mf =>
        val paths = touched.collect {
          case b if mf.frontier_owner(b) != 0L =>
            snapDir(mf.frontier_owner(b)).resolve(s"frontier/bucket=$b").toString
        }
        if (paths.isEmpty) None
        else Some(spark.read.schema(FrontierStore.frontierSchema).parquet(paths.toIndexedSeq: _*))
      }
      // broadcast-hint the step-sized key side of the COW anti-join when
      // small (known exactly from incStats, no extra job): without the hint
      // a plan-time SMJ shuffles the touched buckets' full row set every
      // commit — two materialized exchanges of pure fixed cost at
      // politeness-small step sizes (same rationale as
      // Superstep.Config.smallStep; threshold shared)
      val upRows = incStats.collect { case ((0, _), n) => n }.sum
      val upKeys0 = up.select(keyCols.map(col): _*)
      val upKeys =
        if (!full && upRows < graft.sched.StepDriver.SmallStepRows) broadcast(upKeys0)
        else upKeys0
      val merged0 = oldTouched.fold(up)(old =>
        old.join(upKeys, keyCols, "left_anti").withColumn("bucket", frontierBucket)
          .unionByName(up))
      // compaction reads every live bucket; persist so the ACTIVE-project
      // scan and the partitionBy write don't both re-read the whole
      // frontier from parquet
      val merged = if (full && oldTouched.nonEmpty) persisted(merged0) else merged0
      // FINISHED-project cleanup: at compaction a project with zero ACTIVE
      // rows has drained — drop all its rows (and, below, its seen keys and
      // results). This matches the reference EXACTLY: when a project's
      // unfinished count reaches 0 the scheduler sets status FINISHED and
      // calls taskdb.drop (scheduler.py:348-374 delete_project) — drain IS
      // deletion there too, and a re-seeded URL after the drop is
      // legitimately brand-new; without it dead projects accumulate in the
      // frontier forever. Projects with ACTIVE work (incl. STOP-ed ones
      // awaiting re-activation) keep their full row set.
      val keepProjects: Option[DataFrame] =
        if (full) Some(merged.where(col("status") === graft.model.TaskStatus.Active)
          .select("project").distinct())
        else None
      def keptOnly(df: DataFrame): DataFrame =
        keepProjects.fold(df)(k => df.join(broadcast(k), Seq("project"), "left_semi"))
      // Zero-upsert superstep (retry backoff / politeness lull while ACTIVE
      // tasks remain): a partitionBy write of an empty frame produces NO
      // parquet files, so the read-back would throw UNABLE_TO_INFER_SCHEMA.
      // Skip the frontier write entirely and carry the lineage forward
      // unchanged — the snapshot still commits budgets/results/manifest.
      val writtenCounts: Map[Int, Long] =
        if (!full && touched.isEmpty) Map.empty
        else {
          // one writer task per touched bucket: without this, every upstream
          // task writes into every bucket dir — O(tasks x buckets) tiny files
          // per snapshot, and the read-back + every later resume pays a
          // footer-read per file. Bucket = the store's read parallelism unit,
          // so one file per bucket is the intended layout.
          keptOnly(merged).repartition(math.max(1, touched.length), col("bucket"))
            .write.mode(SaveMode.Overwrite)
            .partitionBy("bucket").parquet(tmp.resolve("frontier").toString)
          // per-bucket lineage: owner + row count — from the parquet FOOTERS
          // of the files just written (driver-side metadata reads, a few ms
          // per touched bucket), NOT a read-back scan job of every touched
          // bucket per snapshot.
          val d = tmp.resolve("frontier")
          if (!Files.exists(d)) Map.empty
          else {
            import scala.jdk.CollectionConverters._
            val ls = Files.list(d)
            try ls.iterator().asScala
              .filter(_.getFileName.toString.startsWith("bucket="))
              .map(bd => bd.getFileName.toString.stripPrefix("bucket=").toInt ->
                FrontierStore.footerRowCount(spark, bd))
              .toMap
            finally ls.close()
          }
        }

      // ---- 2. seen index: key delta + delta bloom (append-only; compaction
      // rewrites the full key set so the chain re-bases)
      val seenKeyed = seenKeyedInc.getOrElse {
        // full snapshot: re-base from the whole committed key set + fresh
        // keys; a dropped (drained) project's seen keys go with it — the
        // reference forgets a deleted project's taskdb entirely
        val fresh = freshKeys.select("project", "url_hash")
        persisted(withSeenKey(keptOnly(prev.fold(fresh)(mf =>
          SeenFilter(seenBuckets, rootDir, mf.deltaChain).keysFor(spark, 0 until seenBuckets)
            .unionByName(fresh)))))
      }
      val keysPerBucket: Map[Int, Long] =
        if (full)
          seenKeyed.groupBy("bucket").count().collect()
            .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("count")).toMap
        else incStats.collect { case ((1, b), n) => b -> n }
      val seenTouched: Array[Int] = keysPerBucket.keys.toArray.sorted
      if (seenTouched.nonEmpty) {
        seenKeyed.repartition(math.max(1, seenTouched.length), col("bucket"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("bucket").parquet(tmp.resolve("seen-delta").toString)
        // delta blooms: executors write side-files into the staged snapshot
        // (shared FS — same contract as any shuffle/output commit), each sized
        // to its bucket's keys in this snapshot; file names are deterministic
        // so task retries overwrite identically
        Files.createDirectories(tmp.resolve("blooms"))
        val tmpStr = tmp.toString
        val fpp = bloomFpp / (2 * compactEvery)
        seenKeyed.select(col("bucket"), col("skey")).as[(Int, Long)](
            org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaInt,
              org.apache.spark.sql.Encoders.scalaLong))
          .repartition(math.max(1, seenTouched.length), col("bucket"))
          .foreachPartition { (it: Iterator[(Int, Long)]) =>
            val byBucket = scala.collection.mutable.HashMap
              .empty[Int, org.apache.spark.util.sketch.BloomFilter]
            it.foreach { case (b, k) =>
              byBucket.getOrElseUpdate(b,
                org.apache.spark.util.sketch.BloomFilter.create(
                  math.max(keysPerBucket(b), FrontierStore.MinBloomItems), fpp)).putLong(k)
            }
            byBucket.foreach { case (b, bloom) =>
              val out = Files.newOutputStream(Paths.get(s"$tmpStr/blooms/$b.bloom"))
              try bloom.writeTo(out) finally out.close()
            }
          }
      }
      val delta =
        if (seenTouched.nonEmpty) Seq(FrontierStore.SeenDelta(id, seenTouched.toSeq)) else Seq.empty
      val seenChain = if (full) delta else prev.map(_.seen_chain).getOrElse(Seq.empty) ++ delta

      // ---- 3. results: an appended delta; a compaction rewrites the history
      // without the dropped projects' rows — otherwise a later re-seed of
      // the same URL starts crawled_ok=false and appends a duplicate
      // (project, url_hash) the first-writer-wins contract promises never
      // exists (StepResult.firstResults invariant). Written unconditionally:
      // emptiness is read from the written files' parquet footers on the
      // driver (a few ms), not from an `.isEmpty` probe job.
      val resultsDir = tmp.resolve("results-delta")
      keptOnly(prev.filter(_ => full).fold(newResults)(mf =>
          resultsView(spark, mf).unionByName(newResults)))
        .write.mode(SaveMode.Overwrite).parquet(resultsDir.toString)
      val hasResults = FrontierStore.footerRowCount(spark, resultsDir) > 0
      if (!hasResults) deleteRecursively(resultsDir) // keep zero-row dirs out of the view
      val resultSnaps =
        (if (full) Seq.empty else prev.map(_.results_snaps).getOrElse(Seq.empty)) ++
          (if (hasResults) Seq(id) else Seq.empty)

      // ---- 4. budgets: the whole politeness state, replaced
      budgets.coalesce(math.max(1, numPartitions / 8))
        .write.mode(SaveMode.Overwrite).parquet(tmp.resolve("budgets").toString)

      val frontierOwner = Vector.tabulate(numPartitions) { b =>
        if (writtenCounts.contains(b)) id
        // a touched-but-now-empty bucket must NOT keep pointing at an old
        // snapshot: on a compaction snapshot the old owners are GC'd below
        else if (full || touched.contains(b)) 0L
        else prev.map(_.frontier_owner(b)).getOrElse(0L)
      }
      val rowsPerBucket = Vector.tabulate(numPartitions) { b =>
        if (writtenCounts.contains(b)) writtenCounts(b)
        else if (full || touched.contains(b)) 0L
        else prev.map(_.rows_per_bucket(b)).getOrElse(0L)
      }

      // ---- manifest. The counter rows arrive as a handful of rows (one per
      // project; the crawl loops pass the rows their step checkpoint
      // returned as a local frame). This step's counters and the cumulative
      // totals (reference counter reload semantics) share one shape.
      val counterRows = counters.collect().map(r => r.getAs[String]("project") -> r)
      val prevTotals = prev.map(_.counter_totals).getOrElse(Map.empty)
      val mf = FrontierStore.Manifest(FrontierStore.FormatVersion, id, step, now,
        base = if (full) id else prev.get.base, full = full,
        num_partitions = numPartitions, seen_buckets = seenBuckets,
        frontier_rows = rowsPerBucket.sum, frontier_owner = frontierOwner,
        rows_per_bucket = rowsPerBucket, seen_chain = seenChain,
        results_snaps = resultSnaps,
        counter_totals = prevTotals ++ counterRows.map { case (p, r) =>
          p -> FrontierStore.foldCounterRowOne(prevTotals.getOrElse(p, Map.empty), r) },
        touched_partitions = touched.toSeq,
        counters = counterRows.map { case (p, r) =>
          p -> FrontierStore.foldCounterRowOne(Map.empty, r) }.toMap)
      Files.writeString(tmp.resolve("manifest.json"),
        org.json4s.jackson.Serialization.write(mf)(org.json4s.DefaultFormats))
    } finally cached.foreach(_.unpersist(false))

    val fin = snapDir(id)
    deleteRecursively(fin)
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE)
    val vTmp = root.resolve("VERSION.tmp")
    Files.writeString(vTmp, id.toString)
    Files.move(vTmp, root.resolve("VERSION"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // gc: after a compaction nothing references snapshots older than base
    if (full) (1L until id).foreach(old => deleteRecursively(snapDir(old)))
    id
  }

  def manifestJson(id: Long): String = Files.readString(snapDir(id).resolve("manifest.json"))

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
    }
  }
}

object FrontierStore {
  /** Bumped whenever the snapshot/manifest layout changes — a mismatched
    * store fails fast with a descriptive error.
    * v4: frontier rows carry `crawled_ok` (first-writer-wins result dedup
    * without an O(history) anti-join).
    * v5: the seen index is one lineage, `seen_chain`, of per-snapshot key
    * deltas and delta blooms (no `seen_owner`/`seen_rows`/`seen_cap`).
    * v6: the manifest is [[Manifest]] as plain JSON: lists are arrays,
    * counters are project → name → value objects. */
  val FormatVersion = 6

  /** One snapshot's `manifest.json`, written and read by json4s with its
    * default formats; the field names are the JSON keys.
    *
    * @param frontier_owner per frontier bucket, the snapshot that last
    *                       wrote it (0 = empty bucket)
    * @param seen_chain     which snapshots added keys to which seen buckets,
    *                       oldest first — the lineage of key deltas and blooms
    * @param results_snaps  snapshots holding a results delta, oldest first
    * @param counter_totals cumulative project → counter → value over every
    *                       committed step (the reference reloads its counters
    *                       on restart: scheduler.py:135-137)
    * @param counters       this step's counters, in the same shape
    */
  final case class Manifest(format: Int, snapshot: Long, step: Int, now: Double,
      base: Long, full: Boolean, num_partitions: Int, seen_buckets: Int,
      frontier_rows: Long, frontier_owner: Vector[Long], rows_per_bucket: Vector[Long],
      seen_chain: Seq[SeenDelta], results_snaps: Seq[Long],
      counter_totals: Map[String, Map[String, Long]],
      touched_partitions: Seq[Int],
      counters: Map[String, Map[String, Long]]) {
    /** `seen_chain` in [[SeenFilter]]'s form. */
    def deltaChain: Seq[(Long, Set[Int])] = seen_chain.map(d => d.snapshot -> d.buckets.toSet)
  }

  /** One `seen_chain` entry: `snapshot` added keys to these seen buckets. */
  final case class SeenDelta(snapshot: Long, buckets: Seq[Int])

  /** Smallest key count a delta bloom is built for. Spark's bloom indexes
    * its bits by double hashing modulo the bit count, which degenerates in
    * small bit arrays: a full chain of 32 blooms built for 10 keys each
    * measured 13 % false positives at a 1 % budget; at 256 keys, 0.9 %. */
  val MinBloomItems = 256L

  /** Snapshot directory name, `snap-` + the id zero-padded to six digits. */
  def snapName(id: Long): String = {
    val s = id.toString
    "snap-" + "000000".substring(math.min(6, s.length)) + s
  }

  /** Static schemas of the store's own layouts: every read passes them
    * explicitly, so no superstep pays parquet schema inference (a listing +
    * footer pass per `spark.read.parquet` call — pure fixed cost at
    * superstep cadence, guide §6). The frontier schema is derived from the
    * [[graft.model.Task]] case class, whose field order IS `frontierCols`. */
  val frontierSchema: StructType =
    org.apache.spark.sql.Encoders.product[graft.model.Task].schema
  val budgetsSchema: StructType = StructType(Seq(
    StructField("project", StringType), StructField("host", StringType),
    StructField("tokens", DoubleType), StructField("last_update", DoubleType)))
  val seenKeySchema: StructType = StructType(Seq(
    StructField("project", StringType), StructField("url_hash", LongType),
    StructField("skey", LongType)))

  /** Sum of parquet-footer record counts under `dir` (recursive) — a
    * driver-side metadata read of a few ms, replacing `.isEmpty` probe jobs
    * on the store's write path. */
  def footerRowCount(spark: SparkSession, dir: Path): Long = {
    if (!Files.exists(dir)) return 0L
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toUri), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
    finally walk.close()
  }

  /** The one counter fold: a project's counter row, its Long fields added
    * into that project's running entry. The manifest's step counters and
    * totals and [[graft.sched.StepDriver]]'s in-memory totals all use it, so
    * they cannot diverge. */
  def foldCounterRowOne(prevForProject: Map[String, Long],
      row: org.apache.spark.sql.Row): Map[String, Long] =
    row.schema.fields.collect {
      case f if f.name != "project" && row.getAs[Any](f.name).isInstanceOf[Long] =>
        f.name -> row.getAs[Long](f.name)
    }.foldLeft(prevForProject) {
      case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v)
    }
}
