package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.udf
import graft.text.{Encoding, HtmlScanner, Robots, TextStats}
import graft.dedup.MinHash
import graft.ann.Vectors

/**
 * Scala-UDF surface of the engine (tier-1 per SURVEY.md §2.11; the URL hot
 * path has codegen'd native expressions instead — graft.url.UrlExpressions).
 * Registered once per session; everything is deterministic.
 */
object Udfs {

  /** One follow candidate produced by extraction (SURVEY §2.9 P6). */
  final case class Follow(url: String, method: String, data: String, text: String)

  /** Struct shape of the `url_keys` UDF fallback (native: [[graft.url.UrlKeys]]). */
  final case class UrlKeyPair(url_hash: Long, host_hash: Long)

  /** Static page extraction -> follow candidates, already absolutized but NOT
    * yet canonicalized/filtered (same-domain filter F7 happens relationally). */
  def extractFollows(html: String, baseUrl: String): Array[Follow] = {
    if (html == null || baseUrl == null) return Array.empty
    val ex = HtmlScanner.extract(html, baseUrl)
    val links = ex.links.iterator.map(l => Follow(l.url, "link", "", l.text))
    val forms = ex.forms.iterator.map(f => Follow(f.url, f.method, f.data, ""))
    (links ++ forms).toArray
  }

  def register(spark: SparkSession): Unit = {
    val u = spark.udf
    // Native codegen'd expressions arrive via GraftExtensions when the session
    // was built with spark.sql.extensions=graft.GraftExtensions. On a vanilla
    // session (e.g. an external driver), fall back to equivalent Scala UDFs
    // under the same names so every query still resolves.
    if (!spark.catalog.functionExists("canonicalize_url"))
      u.register("canonicalize_url", (s: String) => graft.url.UrlCanon.canonicalize(s))
    if (!spark.catalog.functionExists("url_host"))
      u.register("url_host", (s: String) => graft.url.UrlCanon.hostOf(s))
    if (!spark.catalog.functionExists("url_keys"))
      u.register("url_keys", (s: String) =>
        if (s == null) null
        else {
          val r = graft.url.UrlCanon.urlKeysRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(s))
          UrlKeyPair(r.getLong(0), r.getLong(1))
        })
    u.register("extract_text",
      (html: Array[Byte]) => Encoding.extractText(html, null))
    u.register("extract_text_ct",
      (html: Array[Byte], ct: String) => Encoding.extractText(html, ct))
    u.register("extract_follows",
      (html: String, base: String) => extractFollows(html, base))
    u.register("robots_can_fetch",
      (robotsTxt: String, ua: String, path: String) =>
        if (robotsTxt == null) true else Robots.canFetch(robotsTxt, ua, path))
    u.register("lang_id", (t: String) => TextStats.langId(t))
    u.register("quality_score", (t: String) => TextStats.qualityScore(t))
    u.register("token_count_ws", (t: String) => TextStats.tokenCountWs(t))
    u.register("token_count_bpe", (t: String) => TextStats.tokenCountBpe(t))
    u.register("fingerprint64", (t: String) => TextStats.fingerprint64(t))
    u.register("simhash64", (t: String) => MinHash.simhash64(t))
    u.register("hamming64", (a: Long, b: Long) => MinHash.hamming64(a, b))
    u.register("minhash_sig",
      (t: String, k: Int, perm: Int) => MinHash.signature(t, k, perm))
    u.register("minhash_bands",
      (sig: Seq[Long], bands: Int) => MinHash.bandKeys(sig.toArray, bands))
    u.register("ngram_jaccard",
      (a: String, b: String, k: Int) => MinHash.ngramJaccard(a, b, k))
    // native codegen'd expression when the extensions are installed; the
    // UDF fallback implements the identical accumulation order
    if (!spark.catalog.functionExists("cosine_sim"))
      u.register("cosine_sim",
        (a: Seq[Float], b: Seq[Float]) => Vectors.cosine(a, b))
    u.register("lsh_key",
      (v: Seq[Float], planes: Int, seed: Long) => Vectors.lshKey(v, planes, seed))
    u.register("lsh_probes",
      (key: Int, planes: Int) => Vectors.lshProbes(key, planes))
    u.register("ivf_cell",
      (v: Seq[Float], cells: Int, seed: Long) => Vectors.ivfCell(v, cells, seed))
    u.register("ivf_probes",
      (v: Seq[Float], cells: Int, probes: Int, seed: Long) =>
        Vectors.ivfProbes(v, cells, probes, seed))
    u.register("data_url_decode", (u: String) => dataUrlDecode(u))
    // X10: curl command line -> fetch arguments (url.py:70-120); struct
    // surface for SQL (first url + scalar fields; full list via CurlArgs)
    u.register("curl_to_args", (c: String) => {
      val r = graft.url.CurlArgs.parse(c)
      (r.urls.head, r.method, r.data.orNull, r.headers.size.toLong, r.useGzip)
    })
    // RFC 3986 resolution (X5) — redirect Location headers are often relative
    u.register("url_resolve",
      (base: String, ref: String) =>
        if (base == null || ref == null) null
        else graft.url.UrlCanon.absolutize(base, ref).orNull)
    graft.mm.Multimodal.register(spark)
  }

  /** data: URL decode (reference sspider/libs/dataurl.py:12-62 — S11/X9):
    * `data:[mime][;base64],payload` -> decoded text (utf-8). Scheme and the
    * base64 marker match case-insensitively (RFC 3986 §3.1 / RFC 2397):
    * opaque-scheme canonicalization preserves the url's original case, so
    * `DATA:` must still dispatch here. */
  def dataUrlDecode(u: String): String = {
    if (u == null || u.length < 5 || !u.regionMatches(true, 0, "data:", 0, 5)) return null
    val comma = u.indexOf(',')
    if (comma < 0) return null
    val header = u.substring(5, comma)
    val payload = u.substring(comma + 1)
    if (header.length >= 7 &&
        header.regionMatches(true, header.length - 7, ";base64", 0, 7))
      new String(java.util.Base64.getDecoder.decode(payload), "UTF-8")
    else
      java.net.URLDecoder.decode(payload, "UTF-8")
  }

  /** Scratch directory for TRANSIENT snapshot stores (bench runs, oracle
    * crawls, tests): tmpfs when available, for the same reason shuffle
    * lives there (below) — in this single-box sandbox /tmp is one spinning
    * vda that 32 concurrent parquet writers thrash (measured: store steps
    * SLOWER at local[32] than local[8]), whereas a real deployment writes
    * snapshots to a distributed FS whose aggregate bandwidth scales with
    * the executor count. Durable stores (Main --checkpoint) keep whatever
    * path the user gives. Override the base with SPARK_GRAFT_SCRATCH. */
  def scratchDir(prefix: String): java.nio.file.Path =
    scratchDirIn(sys.env.get("SPARK_GRAFT_SCRATCH").map(java.nio.file.Paths.get(_)).getOrElse {
      val shm = new java.io.File("/dev/shm")
      java.nio.file.Paths.get(
        if (shm.isDirectory && shm.canWrite) "/dev/shm" else System.getProperty("java.io.tmpdir"))
    }, prefix)

  /** [[scratchDir]] under `base`: every scratch directory lives in the
    * graft-owned `base/graft-scratch` and is named `graft-*`. */
  private[graft] def scratchDirIn(base: java.nio.file.Path,
      prefix: String): java.nio.file.Path = {
    val owned = java.nio.file.Files.createDirectories(base.resolve("graft-scratch"))
    // RAM-backed scratch is cleaned best-effort at each call site, but a
    // crashed/killed run (forked scaling JVMs, bench section failures) leaks
    // its directory until reboot (ADVICE r05). Purge graft-* entries of the
    // owned directory old enough that no live run can still own them (age
    // >= 6h; any legitimate bench/oracle run completes well inside that).
    // Nothing else is touched: the base may be a shared temp directory.
    try {
      val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
      val ls = java.nio.file.Files.list(owned)
      try {
        ls.iterator().forEachRemaining { p =>
          try {
            if (p.getFileName.toString.startsWith("graft-") &&
                java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff) {
              import scala.jdk.CollectionConverters._
              java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
                .foreach(f => java.nio.file.Files.deleteIfExists(f))
            }
          } catch { case _: Throwable => }
        }
      } finally ls.close()
    } catch { case _: Throwable => }
    java.nio.file.Files.createTempDirectory(owned,
      if (prefix.startsWith("graft-")) prefix else s"graft-$prefix")
  }

  /** Session factory used by mains/tests: graft extensions + UDFs + sane
    * local-mode scale defaults (AQE on, shuffle partitions = cores). */
  def newSession(master: String, shufflePartitions: Int, appName: String = "graft"): SparkSession = {
    // In this single-box sandbox all "executors" share one disk; tmpfs shuffle
    // dirs emulate the per-node local SSDs a real cluster would have
    // (documented in BENCH.md). Override with SPARK_GRAFT_LOCAL_DIR.
    val localDir = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-spark" else System.getProperty("java.io.tmpdir")
    })
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.local.dir", localDir)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Spark 4's runtime row-level bloom filter injection for shuffle joins
      // (SURVEY §4: evaluate before hand-rolling) — complements the explicit
      // driver-held seen-set Bloom in Crawler
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled",
        sys.env.getOrElse("SPARK_GRAFT_RUNTIME_BLOOM", "true"))
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      // Spark 4 per-session artifact isolation installs an ExecutorClassLoader
      // that probes the driver's RPC file server for EVERY class Janino
      // resolves while compiling generated code ON THE EXECUTORS — observed
      // via jstack as FileDownloadChannel reads ending in ClassNotFound on
      // each whole-stage-codegen compile. This engine adds no session
      // artifacts (no addArtifact/REPL classes), so in local mode the
      // isolation layer is pure per-compile RPC overhead; disabling it cuts
      // the fixed cost of every first-seen plan (each superstep compiles
      // fresh plans — the crawl loop pays this dozens of times per run).
      // LOCAL SESSIONS ONLY: on a real multi-tenant cluster, per-session
      // artifact isolation is a correctness/hygiene boundary between
      // sessions sharing executors — re-evaluate before copying this
      // default into any shared-cluster deployment (env-overridable here).
      .config("spark.sql.artifact.isolation.enabled",
        sys.env.getOrElse("SPARK_GRAFT_ARTIFACT_ISOLATION", "false"))
    // free-form conf passthrough (semicolon-separated k=v) — lets bench
    // experiments A/B a shuffle codec / memory-mode setting without a
    // rebuild; empty by default so driver runs are untouched
    val withExtra = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.contains("="))
      .foldLeft(spark) { (b, kv) =>
        val Array(k, v) = kv.split("=", 2); b.config(k, v)
      }
    val built = withExtra.getOrCreate()
    built.sparkContext.setLogLevel("WARN")
    register(built)
    built
  }
}
