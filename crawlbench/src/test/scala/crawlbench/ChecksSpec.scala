package crawlbench

import org.scalatest.funsuite.AnyFunSuite
import graft.gen.PageGen

/** The output checks must reject broken outputs, not only pass good ones:
  * each case starts from an output that passes and breaks it one way. */
class ChecksSpec extends AnyFunSuite {
  private val cfg = PageGen.Config(nHosts = 4, pagesPerHost = 40, hotHosts = 1, hotFactor = 2,
    fanout = 4, seed = 7L)
  private val bfs = new Bfs(cfg)
  private val seeds = (0 until cfg.nHosts).map(h => s"http://${PageGen.hostName(h)}/page/0")
  private def keyed(urls: Iterable[String]): Seq[(Long, String)] =
    urls.toSeq.sorted.zipWithIndex.map { case (u, i) => (i.toLong, u) }

  test("the BFS follows the c1 rules") {
    val lv = bfs.levels(seeds, 3)
    assert(lv.keys.exists(_.endsWith("/submit")))
    assert(lv.keys.exists(_.contains("/assets/img")))
    assert(lv.keys.exists(_.contains("/private/")))
    assert(!bfs.fetchable("http://host0.example.com/submit"))
    assert(!bfs.fetchable("http://host0.example.com/private/page/13"))
    assert(bfs.exists("http://host0.example.com/private/page/13"))
    assert(!bfs.exists("http://host1.example.com/page/13"))
    assert(bfs.results(seeds, 3).forall(bfs.fetchable))
    assert(bfs.results(seeds, 1) == seeds.toSet)
  }

  test("bulk check: passes the BFS, rejects a dropped URL and a repeated url_hash") {
    val expected = bfs.results(seeds, 3)
    val good = keyed(expected)
    assert(Checks.bulk(expected, good, 100, 10, 90).isEmpty)
    assert(Checks.bulk(expected, good.tail, 100, 10, 90).exists(_.contains("missing")))
    val dup = good :+ (good.head._1, "http://host0.example.com/page/999")
    assert(Checks.bulk(expected, dup, 100, 10, 90).exists(_.contains("url_hash")))
    assert(Checks.bulk(expected, good, 101, 10, 90).exists(_.contains("frontier")))
  }

  /** A polite crawl's server log: per host one robots.txt, then at most
    * `burst` pages per step in BFS order. */
  private def politeLog(burst: Int, steps: Int): (Seq[Req], Set[String]) = {
    val lv = bfs.levels(seeds, steps)
    val log = Seq.newBuilder[Req]
    val served = Set.newBuilder[String]
    (0 until cfg.nHosts).foreach { h =>
      val host = PageGen.hostName(h)
      log += Req(1, host, "/robots.txt", 200)
      val mine = lv.keys.filter(_.startsWith(s"http://$host/")).filterNot(bfs.robotsDenied)
        .toSeq.sortBy(u => (lv(u), u))
      mine.take(burst * steps).grouped(burst).zipWithIndex.foreach { case (us, s) =>
        us.foreach { u =>
          val ok = bfs.exists(u)
          if (ok) served += u
          log += Req(s + 1, host, u.stripPrefix(s"http://$host"), if (ok) 200 else 404)
        }
      }
    }
    (log.result(), served.result())
  }

  test("live check: passes a polite log, rejects a /private/ request and a second robots.txt") {
    val (log, served) = politeLog(burst = 4, steps = 3)
    val results = keyed(served)
    assert(Checks.live(log, results, 4, bfs).isEmpty)
    assert(Checks.duplicateSteps(log).isEmpty)
    val priv = log :+ Req(2, "host1.example.com", "/private/page/13", 200)
    assert(Checks.live(priv, results, 4, bfs).exists(_.contains("/private/")))
    val robots = log :+ Req(3, "host2.example.com", "/robots.txt", 200)
    assert(Checks.live(robots, results, 4, bfs).exists(_.contains("robots.txt")))
  }

  test("live check: rejects a dropped result, a page over the burst and a 404 on a real page") {
    val (log, served) = politeLog(burst = 4, steps = 3)
    val results = keyed(served)
    assert(Checks.live(log, results.tail, 4, bfs).exists(_.contains("200")))
    val extra = log :+ Req(1, "host0.example.com", "/page/39", 200)
    assert(Checks.live(extra, results :+ ((999L, "http://host0.example.com/page/39")), 4, bfs)
      .exists(_.contains("burst")))
    val lost = log :+ Req(4, "host3.example.com", "/page/1", 404)
    assert(Checks.live(lost, results, 4, bfs).exists(_.contains("404")))
  }

  test("a URL requested twice in one step marks that step failed, not the output") {
    val (log, served) = politeLog(burst = 4, steps = 3)
    val page = log.find(r => r.step == 2 && !r.isRobots).get
    val twice = log :+ page
    assert(Checks.duplicateSteps(twice) == Set(2))
    assert(Checks.live(twice, keyed(served), 4, bfs).isEmpty)
  }

  test("stream check: passes the BFS, rejects a lost seed, a dropped result and a repeated url_hash") {
    val expected = bfs.results(seeds, 3)
    val closure = bfs.closure(seeds)
    val frontier = bfs.levels(seeds, 3).keys.toSeq
    val fresh = frontier.size - seeds.size
    val good = keyed(expected)
    assert(Checks.stream(seeds.toSet, frontier, fresh, good, expected, closure).isEmpty)
    val lostSeed = frontier.filterNot(_ == seeds.head)
    assert(Checks.stream(seeds.toSet, lostSeed, fresh - 1, good, expected, closure)
      .exists(_.contains("seeds missing")))
    assert(Checks.stream(seeds.toSet, frontier, fresh, good.tail, expected, closure)
      .exists(_.contains("missing")))
    val dup = good :+ (good.head._1, good.last._2)
    assert(Checks.stream(seeds.toSet, frontier, fresh, dup, expected, closure)
      .exists(_.contains("url_hash")))
    val outside = good :+ ((-1L, "http://host9.example.com/page/1"))
    assert(Checks.stream(seeds.toSet, frontier, fresh, outside, expected, closure)
      .exists(_.contains("closure")))
  }
}
