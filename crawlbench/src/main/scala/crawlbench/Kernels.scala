package crawlbench

import graft.frontier.SeenFilter
import graft.gen.PageGen
import graft.text.{Encoding, HtmlScanner}
import graft.url.UrlCanon

/**
 * The per-row kernels timed outside Spark on a fixed PageGen corpus (seed
 * 42, independent of the workload seed): URL canonicalization, HTML link
 * extraction, charset detection + decode, and the bloom seen probe.
 */
object Kernels {
  private val cfg = PageGen.Config(nHosts = 8, pagesPerHost = 150, hotHosts = 1,
    hotFactor = 4, fanout = 8, seed = 42L)

  private lazy val pages: IndexedSeq[(Int, Int)] =
    (0 until cfg.nHosts).flatMap(h => (0 until PageGen.pagesOf(cfg, h)).map(k => (h, k)))

  /** Median over 5 rounds of the time per call, each round looping over
    * the corpus for at least 100 ms, after 300 ms of untimed loops that let
    * the JIT compile the kernel. */
  private def nsPerCall(n: Int)(body: Int => Unit): Double = {
    def loop(ns: Long): Double = {
      var calls = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < ns) {
        var i = 0
        while (i < n) { body(i); i += 1 }
        calls += n
        t = System.nanoTime()
      }
      (t - t0).toDouble / calls
    }
    loop(300000000L)
    (0 until 5).map(_ => loop(100000000L)).sorted.apply(2)
  }

  @volatile private var sink = 0L

  def canonicalizeNs(): Double = {
    val urls = pages.map { case (h, k) => PageGen.servedUrl(cfg, h, k) }.toArray
    nsPerCall(urls.length)(i => sink += UrlCanon.canonicalize(urls(i)).length)
  }

  def extractNs(): Double = {
    val docs = pages.map { case (h, k) =>
      (new String(PageGen.htmlFor(cfg, h, k)._1, "UTF-8"), PageGen.pageUrl(cfg, h, k))
    }.toArray
    nsPerCall(docs.length)(i => sink += HtmlScanner.extract(docs(i)._1, docs(i)._2).links.size)
  }

  def decodeNs(): Double = {
    val bodies = pages.map { case (h, k) => PageGen.htmlFor(cfg, h, k)._1 }.toArray
    nsPerCall(bodies.length)(i => sink += Encoding.extractText(bodies(i), "text/html").length)
  }

  /** Time per bloom probe against a store's seen index: `keys` are real
    * seen keys (hits), interleaved with as many pseudo-random keys. */
  def bloomProbeNs(sf: SeenFilter, keys: Array[Long]): Double = {
    val rnd = new java.util.Random(42L)
    val all = keys.flatMap(k => Array(k, rnd.nextLong()))
    if (all.isEmpty) 0.0
    else nsPerCall(all.length) { i =>
      val key = all(i)
      val b = Math.floorMod(key, sf.numBuckets.toLong).toInt
      val owner = sf.bloomOwner(b)
      if (owner != 0L && SeenFilter.probeOne(sf.root, owner, b, key)) sink += 1
    }
  }
}
