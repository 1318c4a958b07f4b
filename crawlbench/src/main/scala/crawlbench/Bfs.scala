package crawlbench

import graft.gen.PageGen

/**
 * The PageGen link graph walked in plain Scala, apart from the engine: no
 * Spark, no UrlCanon, no HtmlScanner. The rules are those of the c1 oracle
 * (`SparkEntry.c1BfsCte`): links stay on their host, `/private/` pages are
 * robots-denied, and `/submit`, `/old/page<k>.php` and `/assets/img<k>.png` are
 * discovered, attempted and fail because no page serves them.
 */
final class Bfs(cfg: PageGen.Config) {

  private val UrlRe = """http://host(\d+)\.example\.com(/.*)""".r
  private val PageRe = """/page/(\d+)""".r
  private val PrivRe = """/private/page/(\d+)""".r

  def base(h: Int): String = s"http://${PageGen.hostName(h)}"

  /** (host, page index) of a URL PageGen serves, or None when no page
    * lives there (a 404 on a live server, a missing row in the table). */
  def page(url: String): Option[(Int, Int)] = url match {
    case UrlRe(hs, path) =>
      val h = hs.toInt
      if (h >= cfg.nHosts) None
      else {
        val np = PageGen.pagesOf(cfg, h)
        path match {
          case PageRe(ks) =>
            val k = ks.toInt
            if (k < np && !(k % 13 == 0 && k > 0)) Some((h, k)) else None
          case PrivRe(ks) =>
            val k = ks.toInt
            if (k < np && k % 13 == 0 && k > 0) Some((h, k)) else None
          case _ => None
        }
      }
    case _ => None
  }

  def exists(url: String): Boolean = page(url).isDefined

  def robotsDenied(url: String): Boolean = url match {
    case UrlRe(_, path) => path.startsWith("/private/")
    case _ => false
  }

  /** A crawl fetches a URL successfully iff a page is served there and
    * robots allows it. */
  def fetchable(url: String): Boolean = exists(url) && !robotsDenied(url)

  /** Canonical same-host out-links of a fetched page. */
  def links(h: Int, k: Int): Seq[String] = {
    val b = base(h)
    val np = PageGen.pagesOf(cfg, h)
    if (k % 17 == 0 && k > 0) Seq(s"$b/page/${(k + 1) % np}")
    else {
      val out = Seq.newBuilder[String]
      PageGen.linkTargets(cfg, h, k).foreach(t => out += s"$b/page/$t")
      if (k % 5 == 0) out += s"$b/private/page/${k + 13 - (k % 13)}"
      if (k % 7 == 0) out += s"$b/submit"
      if (k % 11 == 0) out += s"$b/old/page$k.php?ref=c"
      out += s"$b/assets/img$k.png"
      out.result().distinct
    }
  }

  /** BFS levels from `seeds`: level(u) = the superstep (0-based) at which
    * an unlimited-politeness crawl schedules u. */
  def levels(seeds: Seq[String], maxLevel: Int): Map[String, Int] = {
    val level = scala.collection.mutable.HashMap.empty[String, Int]
    var cur = seeds.distinct
    cur.foreach(level(_) = 0)
    var d = 0
    while (d < maxLevel && cur.nonEmpty) {
      val next = Vector.newBuilder[String]
      cur.foreach { u =>
        page(u).filter(_ => fetchable(u)).foreach { case (h, k) =>
          links(h, k).foreach { v =>
            if (!level.contains(v)) { level(v) = d + 1; next += v }
          }
        }
      }
      cur = next.result()
      d += 1
    }
    level.toMap
  }

  /** Result URLs of a `steps`-superstep crawl with unlimited politeness:
    * every fetchable URL scheduled in steps 1..steps (levels 0..steps-1).
    * Failed URLs back off for 30 s of virtual time, past any run here. */
  def results(seeds: Seq[String], steps: Int): Set[String] =
    levels(seeds, steps - 1).collect { case (u, d) if d <= steps - 1 && fetchable(u) => u }.toSet

  /** Every URL reachable from `seeds`, at any depth. */
  def closure(seeds: Seq[String]): Set[String] = levels(seeds, Int.MaxValue).keySet
}
