package perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process SciCat REST stub answering the calls `HttpScicatCatalog`
  * makes: instrument GETs (SC variables), `datasets/<pid>` existence
  * probes, `datasets?filter=` metadata probes, and the dataset /
  * origdatablock POSTs. Every dataset POST is timestamped by pid on
  * arrival (the latency end point) and repeated pids are counted.
  * Two handler threads at most.
  */
final class SciCatStub(knownPids: Set[String], knownJobIds: Set[String]) {
  // The JDK server writes headers and body separately; without
  // TCP_NODELAY each response waits out the client's delayed ACK
  // (~40 ms), a stub artifact no real catalog server has.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("localhost", 0), 64)
  private val pool = Executors.newFixedThreadPool(2)

  /** pid → (arrival nanoTime, document) of its first POST. */
  val posts = new ConcurrentHashMap[String, (Long, String)]()
  private val postedJobIds = ConcurrentHashMap.newKeySet[String]()
  val duplicatePosts = new AtomicLong
  val datablockPosts = new AtomicLong
  val badRequests = new AtomicLong

  private val PidField = "\"pid\":\"([^\"]*)\"".r
  private val JobIdField = "\"job_id\":\\{\"value\":\"([^\"]*)\"".r
  private val FilterValue = "\"scientificMetadata\\.job_id\\.value\":\"([^\"]*)\"".r

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
  }

  private def handle(ex: HttpExchange): Unit = {
    val now = System.nanoTime()
    try {
      val path = ex.getRequestURI.getRawPath.stripPrefix("/api/v3/")
      val query = Option(ex.getRequestURI.getRawQuery).map(URLDecoder.decode(_, UTF_8)).getOrElse("")
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      (ex.getRequestMethod, path) match {
        case ("GET", p) if p.startsWith("instruments/") =>
          val name = URLDecoder.decode(p.stripPrefix("instruments/"), UTF_8)
          respond(ex, 200, s"""{"pid":"instrument-${name.toLowerCase}","name":"$name"}""")
        case ("GET", p) if p.startsWith("datasets/") =>
          val pid = URLDecoder.decode(p.stripPrefix("datasets/"), UTF_8)
          if (knownPids(pid) || posts.containsKey(pid)) respond(ex, 200, s"""{"pid":"$pid"}""")
          else respond(ex, 404, "not found")
        case ("GET", "datasets") =>
          FilterValue.findFirstMatchIn(query).map(_.group(1)) match {
            case Some(v) if knownJobIds(v) || postedJobIds.contains(v) =>
              respond(ex, 200, s"""[{"scientificMetadata":{"job_id":{"value":"$v"}}}]""")
            case _ => respond(ex, 200, "[]")
          }
        case ("POST", "datasets") =>
          PidField.findFirstMatchIn(body).map(_.group(1)) match {
            case Some(pid) =>
              if (posts.putIfAbsent(pid, (now, body)) != null) duplicatePosts.incrementAndGet()
              JobIdField.findFirstMatchIn(body).foreach(m => postedJobIds.add(m.group(1)))
              respond(ex, 201, s"""{"pid":"$pid"}""")
            case None =>
              badRequests.incrementAndGet()
              respond(ex, 400, """{"error":"dataset without pid"}""")
          }
        case ("POST", "origdatablocks") =>
          datablockPosts.incrementAndGet()
          respond(ex, 201, """{"_id":"datablock"}""")
        case _ =>
          badRequests.incrementAndGet()
          respond(ex, 404, "no route")
      }
    } catch {
      case e: Exception =>
        badRequests.incrementAndGet()
        try respond(ex, 500, e.toString) catch { case _: Exception => () }
    }
  }

  server.createContext("/api/v3/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  def baseUrl: String = s"http://localhost:${server.getAddress.getPort}/api/v3/"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
