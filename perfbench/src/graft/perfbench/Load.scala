package graft.perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The Carbon path catalog both daemon workloads draw from. Three tenants
  * (first segment): `servers` paths hit every rule of
  * `RollupConfig.reference` (click → sum, error → max, purchase → sum,
  * signup → last, `*.u0-3` → min, the rest → the average catchall), while
  * `apps` (depth 4) and `db` (depth 3) fall to the catchall.
  */
object Catalog {
  val paths: Vector[String] =
    (for (t <- Seq("click", "error", "purchase", "signup", "view", "login"); u <- 0 until 8)
      yield s"servers.$t.u$u").toVector ++
    (for (s <- Seq("web", "api", "batch"); h <- Seq("h01", "h02", "h03");
          m <- Seq("latency", "errors")) yield s"apps.$s.$h.$m") ++
    (for (c <- Seq("c1", "c2"); m <- Seq("reads", "writes", "lag")) yield s"db.$c.$m")

  /** Seeded Zipf(1) sampler over `n` items in a seeded popularity order. */
  final class Zipf(n: Int, rnd: Random) {
    private val order = rnd.shuffle((0 until n).toVector)
    private val cdf = {
      val w = (1 to n).map(1.0 / _)
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      order(math.min(if (i >= 0) i else -i - 1, n - 1))
    }
  }
}

/** One generated Carbon point; `ts` is epoch seconds. */
final case class Point(path: String, value: Double, ts: Long, id: Long)

object Points {
  /** Two-decimal values, so the store's cent-exact sums are exact. */
  def value(rnd: Random): Double = rnd.nextInt(1000000) / 100.0

  def line(p: Point): String =
    String.format(java.util.Locale.ROOT, "%s %.2f %d\n", p.path, Double.box(p.value), Long.box(p.ts))

  /** The malformed forms the listener must reject, one picked per line. */
  def malformed(rnd: Random, path: String, ts: Long): String = rnd.nextInt(5) match {
    case 0 => s"$path 1.5\n"                 // two fields
    case 1 => s"$path abc $ts\n"             // value not a number
    case 2 => s"$path 2.5 0x1p4\n"           // hex float timestamp
    case 3 => s"$path 1 2 3\n"               // four fields
    case _ => s"$path 3.25 ${ts}z\n"         // trailing garbage
  }

  def frame(spark: SparkSession, pts: Seq[Point]): DataFrame = {
    import spark.implicits._
    pts.map(p => (p.path, p.value, p.ts, p.id)).toDF("path", "value", "ts", "event_id")
  }
}

/** One HTTP answer with its client-side interval. */
final case class Reply(code: Int, body: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One blocking HTTP/1.1 client (keep-alive) against the daemon's API. */
final class ApiClient(port: Int) {
  def get(pathAndQuery: String): Reply = {
    val t0 = System.nanoTime()
    val c = URI.create(s"http://127.0.0.1:$port$pathAndQuery").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    Reply(code, body, t0, System.nanoTime())
  }
}

object ApiClient {
  private def enc(s: String) = URLEncoder.encode(s, UTF_8)

  def metricsUrl(paths: Seq[String], from: Long, to: Long): String =
    "/metrics?" + (paths.map(p => s"path=${enc(p)}") ++ Seq(s"from=$from", s"to=$to")).mkString("&")

  def pathsUrl(glob: String, tenant: Option[String]): String =
    s"/paths?query=${enc(glob)}" + tenant.fold("")(t => s"&tenant=${enc(t)}")

  /** Does a served `GET /metrics` body equal the expected response? */
  def metricsMatch(body: String, want: graft.api.MetricsApi.MetricsResponse): Boolean = {
    val j = Json.parse(body)
    j.get("from").asLong == want.from && j.get("to").asLong == want.to &&
    j.get("step").asLong == want.step && {
      val got = Json.fields(j.get("series")).map { case (p, arr) =>
        p -> (0 until arr.size).map { i =>
          val v = arr.get(i)
          if (v.isNull) None else Some(v.asDouble)
        }
      }.toMap
      got == want.series.map { case (p, s) => p -> s.toVector }
    }
  }

  /** Does a served `GET /paths` body equal the expected entries? */
  def pathsMatch(body: String, want: Seq[graft.api.MetricsApi.PathEntry]): Boolean = {
    val j = Json.parse(body)
    val got = (0 until j.size).map { i =>
      val e = j.get(i)
      graft.api.MetricsApi.PathEntry(e.get("path").asText, e.get("depth").asInt, e.get("leaf").asBoolean)
    }
    got == want
  }
}
