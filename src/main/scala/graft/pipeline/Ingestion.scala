package graft.pipeline

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import scala.concurrent.{blocking, Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.control.NonFatal

/** Concurrent weather ingestion with retry/backoff.
  *
  * Mirrors the reference's async fan-out fetch (ingestion.py:36-45:
  * asyncio.gather over all cities, shared client, 10 s timeout) and its
  * retry policy (ingestion.py:22-33: 3 attempts, sleep 2**attempt, re-raise
  * on the last). The HTTP transport is injected so tests run without a
  * network; failure of any city is fatal to the whole batch, matching the
  * reference's asyncio.gather without return_exceptions (main.py:32).
  *
  * Scale note: at 4 cities this is driver-side Futures. For a large city
  * list the same `Fetcher` plugs into
  * `cities.toDF.repartition(n).mapPartitions(...)` so the fan-out runs on
  * executors; the retry loop is transport-agnostic either way.
  */
object Ingestion {

  final case class City(name: String, lat: Double, lon: Double)

  /** The reference's city list (main.py:14-19). */
  val defaultCities: Seq[City] = Seq(
    City("Delhi", 28.6139, 77.2090),
    City("London", 51.5072, -0.1276),
    City("NewYork", 40.7128, -74.0060),
    City("Tokyo", 35.6764, 139.6500)
  )

  /** Transport abstraction: returns the raw JSON body for one city. */
  trait Fetcher { def fetch(city: City): String }

  /** Real transport: HTTPS GET api.open-meteo.com/v1/forecast with the
    * reference's parameter set (ingestion.py:11-20), 10 s timeout. */
  final class HttpFetcher extends Fetcher {
    private val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofSeconds(10)).build()
    def fetch(city: City): String = {
      val url = "https://api.open-meteo.com/v1/forecast" +
        s"?latitude=${city.lat}&longitude=${city.lon}" +
        "&current=temperature_2m,wind_speed_10m,wind_direction_10m,weather_code" +
        "&timezone=UTC"
      val req = HttpRequest.newBuilder(URI.create(url))
        .timeout(Duration.ofSeconds(10)).GET().build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() >= 400)
        throw new RuntimeException(s"HTTP ${resp.statusCode()} for ${city.name}")
      resp.body()
    }
  }

  /** Retry with exponential backoff: `attempts` tries, sleeping 2^attempt
    * seconds between failures, re-raising the last error. */
  def withRetry[A](attempts: Int = 3, sleepMs: Long => Long = a => (1L << a) * 1000)(f: => A): A = {
    var attempt = 0
    var out: Option[A] = None
    while (out.isEmpty) {
      try out = Some(f)
      catch {
        case NonFatal(e) =>
          attempt += 1
          if (attempt >= attempts) throw e
          Thread.sleep(sleepMs(attempt - 1))
      }
    }
    out.get
  }

  /** Fan out over all cities concurrently; any final failure aborts the
    * batch. Returns (cityName, rawJson) pairs. The fetches and retry sleeps
    * block their thread, so they run inside `blocking`: the global pool
    * then adds threads instead of capping the fan-out at one fetch per
    * core. */
  def fetchAll(cities: Seq[City], fetcher: Fetcher, attempts: Int = 3,
               sleepMs: Long => Long = a => (1L << a) * 1000): Seq[(String, String)] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = cities.map { c =>
      Future(blocking(c.name -> withRetry(attempts, sleepMs)(fetcher.fetch(c))))
    }
    Await.result(Future.sequence(fs), 5.minutes)
  }
}
