package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** One generated feed, rendered: its page bodies (page 1 first) and how many
  * events each readable page carries.
  */
final case class Feed(id: String, mediaId: String, day: String,
                      pages: IndexedSeq[String], events: IndexedSeq[Int],
                      empty: String, corrupt: Boolean)

/** The generated inputs, rendered into what the API serves. */
final case class Served(feeds: Map[String, Feed], media: Map[String, String]) {
  def mediaIds: Seq[String] = media.keys.toSeq.sorted
  def days: Seq[String] = feeds.values.map(_.day).toSeq.distinct.sorted
}

object Served {
  /** Loads the generator's rendered feeds (pages.jsonl) and media objects
    * (media.jsonl).
    */
  def load(dir: String): Served = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    def lines(f: String): List[String] = {
      val src = scala.io.Source.fromFile(s"$dir/$f", "UTF-8")
      try src.getLines().filter(_.nonEmpty).toList finally src.close()
    }
    val feeds = lines("pages.jsonl").map { line =>
      val j = JsonMethods.parse(line)
      val f = Feed((j \ "feed").extract[String], (j \ "media_id").extract[String],
        (j \ "day").extract[String], (j \ "pages").extract[Vector[String]],
        (j \ "events").extract[Vector[Int]], (j \ "empty").extract[String],
        (j \ "corrupt").extract[Boolean])
      f.id -> f
    }.toMap
    val media = lines("media.jsonl").map { line =>
      (JsonMethods.parse(line) \ "hashed_id").extract[String] -> line
    }.toMap
    Served(feeds, media)
  }
}

/** In-process HTTP stand-in for the Wistia API over [[Served]] content:
  * `/feeds/<feed>?page=N` (a page past the end is an empty page of the
  * feed's shape) and `/media/<id>`. It serves from a pool of `threads`
  * threads and counts the GETs it answers.
  */
final class StandIn(val served: Served, threads: Int) extends AutoCloseable {
  // Read once when the first HttpServer is created in this JVM: without it
  // every localhost GET pays Nagle plus delayed-ACK latency.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  val gets = new AtomicLong
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val b = body.getBytes(UTF_8)
    gets.incrementAndGet()
    ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) ex.getResponseBody.write(b)
    ex.close()
  }

  private def handle(ex: HttpExchange)(f: => (Int, String)): Unit = {
    val (status, body) =
      try f catch { case e: Exception => (500, String.valueOf(e.getMessage)) }
    respond(ex, status, body)
  }

  server.createContext("/feeds/", (ex: HttpExchange) => handle(ex) {
    val feed = served.feeds.get(ex.getRequestURI.getPath.stripPrefix("/feeds/"))
    val page = Option(ex.getRequestURI.getQuery).toSeq.flatMap(_.split("&"))
      .collectFirst { case p if p.startsWith("page=") => p.drop(5).toInt }
    (feed, page) match {
      case (Some(f), Some(p)) if p >= 1 =>
        (200, if (p <= f.pages.size) f.pages(p - 1) else f.empty)
      case _ => (404, "")
    }
  })
  server.createContext("/media/", (ex: HttpExchange) => handle(ex) {
    served.media.get(ex.getRequestURI.getPath.stripPrefix("/media/"))
      .fold((404, ""))(m => (200, m))
  })
  server.setExecutor(pool)
  server.start()

  val base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  override def close(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
