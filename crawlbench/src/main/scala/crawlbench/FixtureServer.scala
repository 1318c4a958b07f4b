package crawlbench

import java.net.{InetSocketAddress, Proxy, ProxySelector, SocketAddress, URI}
import java.util.concurrent.{ConcurrentLinkedQueue, ExecutorService, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.gen.PageGen

/**
 * Loopback HTTP server that serves a PageGen graph the way a live web
 * would: `/page/k` and `/private/page/k` of `hostN.example.com` with
 * PageGen's bytes, `robots.txt` with PageGen's rules, 404 elsewhere.
 *
 * The crawl's URLs keep their `hostN.example.com` names. A JVM-wide
 * [[ProxySelector]] routes plain-HTTP requests for `hostN.example.com` to this
 * server as an HTTP proxy, so the request line carries the absolute URL,
 * no name is resolved, and the engine's fetcher runs unchanged.
 *
 * Every request is logged with the superstep running when it arrived
 * (`currentStep`, which the benchmark advances at each commit).
 */
final class FixtureServer(cfg: PageGen.Config, threads: Int) {
  private val bfs = new Bfs(cfg)
  val currentStep = new AtomicInteger(1)
  val log = new ConcurrentLinkedQueue[Req]()
  val busyNs = new AtomicLong(0L)
  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.start()
  val port: Int = server.getAddress.getPort

  private val robots = PageGen.robotsBody.getBytes("UTF-8")

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    try {
      val uri = ex.getRequestURI
      val host = Option(uri.getHost)
        .getOrElse(Option(ex.getRequestHeaders.getFirst("Host")).getOrElse(""))
        .toLowerCase.stripSuffix(":80")
      val path = uri.getRawPath
      val body: Option[Array[Byte]] =
        if (path == "/robots.txt") Some(robots)
        else bfs.page(s"http://$host$path").map { case (h, k) => PageGen.htmlFor(cfg, h, k)._1 }
      val status = if (body.isDefined) 200 else 404
      log.add(Req(currentStep.get(), host, path, status))
      body match {
        case Some(b) =>
          val ct = if (path == "/robots.txt") "text/plain" else "text/html"
          ex.getResponseHeaders.set("Content-Type", ct)
          ex.sendResponseHeaders(200, b.length)
          ex.getResponseBody.write(b)
        case None => ex.sendResponseHeaders(404, -1)
      }
    } finally {
      ex.close()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Take the log and the busy time, and start a new one. */
  def drain(): (Seq[Req], Long) = (Tracer.drain(log), busyNs.getAndSet(0L))

  /** Route plain-HTTP requests for example.com hosts through this server. */
  def install(): Unit = {
    val proxy = new Proxy(Proxy.Type.HTTP, new InetSocketAddress("127.0.0.1", port))
    val fallback = ProxySelector.getDefault
    ProxySelector.setDefault(new ProxySelector {
      override def select(uri: URI): java.util.List[Proxy] =
        if (uri.getScheme == "http" && Option(uri.getHost).exists(_.endsWith(".example.com")))
          java.util.List.of(proxy)
        else fallback.select(uri)
      override def connectFailed(uri: URI, sa: SocketAddress, e: java.io.IOException): Unit = ()
    })
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
