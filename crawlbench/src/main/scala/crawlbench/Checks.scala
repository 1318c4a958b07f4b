package crawlbench

/** One request the fixture server answered. `step` is the superstep that
  * was running when it arrived (the count of commits so far, plus one). */
final case class Req(step: Int, host: String, path: String, status: Int) {
  def url: String = s"http://$host$path"
  def isRobots: Boolean = path == "/robots.txt"
}

/**
 * Output checks of the three workloads, computed apart from the engine:
 * each compares what the crawl returned (or what the fixture server saw)
 * with the plain-Scala [[Bfs]]. Every check returns its violations; an
 * empty list means the output is correct.
 */
object Checks {

  private def dupHashes(results: Seq[(Long, String)]): Seq[String] =
    results.groupBy(_._1).collect {
      case (h, rs) if rs.size > 1 => s"url_hash $h appears ${rs.size} times in the results"
    }.toSeq

  private def sample(xs: Iterable[String]): String = xs.toSeq.sorted.take(3).mkString(", ")

  /** bulk_bfs: the result URLs equal the BFS result set, no url_hash is
    * repeated, and the frontier holds the seeds plus every fresh URL. */
  def bulk(expected: Set[String], results: Seq[(Long, String)],
      frontierRows: Long, seedCount: Long, totalFresh: Long): Seq[String] = {
    val got = results.map(_._2).toSet
    val missing = expected -- got
    val extra = got -- expected
    Seq(
      if (missing.nonEmpty) Some(s"${missing.size} BFS result URLs missing: ${sample(missing)}") else None,
      if (extra.nonEmpty) Some(s"${extra.size} result URLs not in the BFS: ${sample(extra)}") else None,
      if (frontierRows != seedCount + totalFresh)
        Some(s"frontier has $frontierRows rows, seeds + totalFresh = ${seedCount + totalFresh}")
      else None).flatten ++ dupHashes(results)
  }

  /** polite_live steps in which the server was asked for the same URL
    * more than once. `LiveCrawler` evaluates its lazy capture frame once
    * for the pages index and once more for the robots side of
    * `Superstep.preparePages`, so every step that fetches pages fetches
    * each of them twice; such a step counts as a failed operation. */
  def duplicateSteps(log: Seq[Req]): Set[Int] =
    log.filterNot(_.isRobots).groupBy(r => (r.step, r.url)).collect {
      case ((s, _), rs) if rs.size > 1 => s
    }.toSet

  /** polite_live: what the fixture server saw. No `/private/` request, at
    * most `burst` distinct pages requested per host per step, exactly one
    * robots.txt request per crawled host (the crawl is shorter than the
    * robots TTL), as many pages served with 200 as result rows, and every
    * 404 on a URL the BFS says does not exist. Repeated requests for one
    * URL within a step are counted by [[duplicateSteps]], not here. */
  def live(log: Seq[Req], results: Seq[(Long, String)], burst: Int,
      bfs: Bfs): Seq[String] = {
    val priv = log.filter(_.path.startsWith("/private/"))
    val pages = log.filterNot(_.isRobots).groupBy(r => (r.step, r.url)).values.map(_.head).toSeq
    val overBurst = pages.groupBy(r => (r.step, r.host)).collect {
      case ((s, h), rs) if rs.size > burst => s"step $s host $h: ${rs.size} pages requested > burst $burst"
    }
    val robots = log.filter(_.isRobots).groupBy(_.host).map { case (h, rs) => h -> rs.size }
    val crawledHosts = pages.map(_.host).toSet
    val robotsBad = (crawledHosts ++ robots.keySet).toSeq.sorted.collect {
      case h if robots.getOrElse(h, 0) != 1 => s"host $h: ${robots.getOrElse(h, 0)} robots.txt requests"
    }
    val ok = pages.count(_.status == 200)
    val bad404 = pages.filter(r => r.status == 404 && bfs.exists(r.url))
    val otherStatus = log.filter(r => r.status != 200 && r.status != 404)
    Seq(
      if (priv.nonEmpty) Some(s"${priv.size} /private/ requests: ${sample(priv.map(_.url))}") else None,
      if (ok != results.size) Some(s"server served $ok pages with 200 but the crawl has ${results.size} results") else None,
      if (bad404.nonEmpty) Some(s"${bad404.size} 404s on existing pages: ${sample(bad404.map(_.url))}") else None,
      if (otherStatus.nonEmpty) Some(s"${otherStatus.size} responses neither 200 nor 404") else None
    ).flatten ++ overBurst.take(3) ++ robotsBad.take(3) ++ dupHashes(results) ++
      results.collect { case (_, u) if !bfs.fetchable(u) => s"result $u is not a fetchable page" }.take(3)
  }

  /** stream_seeds: every seed is in the final frontier, the frontier
    * holds the seeds plus every new task, no url_hash is repeated, the
    * results lie in the BFS closure of all seeds, and they equal the BFS
    * result set for the depth each host was given. */
  def stream(seeds: Set[String], frontierUrls: Seq[String], newTasks: Long,
      results: Seq[(Long, String)], expected: Set[String], closure: Set[String]): Seq[String] = {
    val lost = seeds -- frontierUrls
    val got = results.map(_._2).toSet
    val outside = got.filterNot(closure)
    val missing = expected -- got
    val extra = got -- expected -- outside
    Seq(
      if (lost.nonEmpty) Some(s"${lost.size} seeds missing from the frontier: ${sample(lost)}") else None,
      if (frontierUrls.size != seeds.size + newTasks)
        Some(s"frontier has ${frontierUrls.size} rows, seeds + new tasks = ${seeds.size + newTasks}")
      else None,
      if (outside.nonEmpty) Some(s"${outside.size} results outside the BFS closure: ${sample(outside)}") else None,
      if (missing.nonEmpty) Some(s"${missing.size} BFS result URLs missing: ${sample(missing)}") else None,
      if (extra.nonEmpty) Some(s"${extra.size} result URLs not in the BFS: ${sample(extra)}") else None
    ).flatten ++ dupHashes(results)
  }
}
