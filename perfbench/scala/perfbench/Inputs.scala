package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.{Duration, Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import graft.model.CandleTimeFrame

/** One gateway request of the serve mix. `arg` is the route's
  * parameter (range start day, point key) for the direct-call path. */
final case class Req(route: String, sym: String, tf: String, arg: String) {
  def path: String = route match {
    case "recent" => s"/candles/$sym/$tf/recent?n=${Inputs.RecentN}"
    case "range" => s"/candles/$sym/$tf?from=$arg+00:00:00&to=${LocalDate.parse(arg).plusDays(1)}+00:00:00"
    case "point" => s"/candles/$sym/$tf/point?key=$arg"
    case "keys" => s"/keys/$sym/$tf?limit=${Inputs.KeysLimit}"
    case "symbols" => "/symbols"
  }
}

/** Everything the seed decides. The program under test sees only the
  * values produced here (and the fixed generated tables). */
object Inputs {
  /** Requests in one shuffled block of the serve mix. */
  val BlockSize = 20
  val RecentN = 25
  val KeysLimit = 100
  val SweepQueries: Seq[String] = Seq(
    "q_pipeline_full", "q_dedup_cluster", "q_knn_graph",
    "q_bpe_train", "q_candle_multi_tf", "q_store_roundtrip")

  /** The serve mix: recent 40%, one-day MINUTE range 30%, point 20%,
    * keys 5%, symbols 5%, with recent and point spread evenly over the
    * four timeframes. Drawn in shuffled blocks of 20 that each hold the
    * mix exactly, so every run's sample has the same composition
    * whatever the seed. Days and keys fall inside [fromS, toS). */
  def requests(seed: Long, n: Int, symbols: Seq[String], fromS: Long, toS: Long): IndexedSeq[Req] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val tfs = CandleTimeFrame.all
    val firstDay = LocalDate.ofEpochDay(Math.floorDiv(fromS, 86400L))
    val days = math.max(1L, (toS - 1) / 86400L - fromS / 86400L + 1)
    def block(b: Int): Array[(String, String)] = {
      val a = (tfs.flatMap(tf => Seq("recent" -> tf, "recent" -> tf, "point" -> tf)) ++
        Seq.fill(6)("range" -> CandleTimeFrame.Minute) ++
        Seq("keys" -> tfs(b % tfs.size), "symbols" -> "")).toArray
      require(a.length == BlockSize)
      a
    }
    def shuffled(b: Int): Seq[(String, String)] = {
      val a = block(b)
      for (i <- a.indices.reverse) { val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }
    Iterator.from(0).flatMap(shuffled).take(n).map { case (route, tf) =>
      val sym = symbols(rnd.nextInt(symbols.size))
      route match {
        case "range" => Req(route, sym, tf, firstDay.plusDays(rnd.nextLong(days)).toString)
        case "point" => Req(route, sym, tf, key(tf, fromS + rnd.nextLong(math.max(1L, toS - fromS))))
        case "symbols" => Req(route, "", "", "")
        case _ => Req(route, sym, tf, "")
      }
    }.toIndexedSeq
  }

  /** The reference's date key for the window holding epoch second `s`. */
  def key(tf: String, s: Long): String =
    DateTimeFormatter.ofPattern(CandleTimeFrame.keyFormat(tf)).withZone(ZoneOffset.UTC)
      .format(Instant.ofEpochSecond(s))

  def sweepOrder(seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(SweepQueries)

  /** 00:00 UTC on the 1st of a seeded month in 2021–2025: the month
    * the ingest stream runs in. */
  def simEpoch(seed: Long): Long = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    LocalDate.of(2021 + rnd.nextInt(5), 1 + rnd.nextInt(12), 1).toEpochDay * 86400L
  }

  def hash(parts: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

/** One closed-loop client: one HttpClient, used serially, so it holds
  * one persistent HTTP/1.1 connection. */
final class GatewayClient(base: String, timeoutS: Long) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofSeconds(timeoutS)).GET().build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }
}
