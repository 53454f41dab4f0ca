package graft.pipeline

import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Ingestion._

/** Retry/backoff and fan-out semantics (reference ingestion.py:22-45) —
  * pure JVM, no Spark, no network. */
class IngestionSpec extends AnyFunSuite {

  private val city = City("Delhi", 28.6, 77.2)
  private val noSleep: Long => Long = _ => 0L

  test("withRetry succeeds after transient failures") {
    val calls = new AtomicInteger(0)
    val out = withRetry(attempts = 3, sleepMs = noSleep) {
      if (calls.incrementAndGet() < 3) throw new RuntimeException("timeout")
      else "ok"
    }
    assert(out == "ok" && calls.get() == 3)
  }

  test("withRetry re-raises after the final attempt (ingestion.py:31-32)") {
    val calls = new AtomicInteger(0)
    val e = intercept[RuntimeException] {
      withRetry(attempts = 3, sleepMs = noSleep) {
        calls.incrementAndGet(); throw new RuntimeException("down")
      }
    }
    assert(e.getMessage == "down" && calls.get() == 3)
  }

  test("backoff schedule is exponential: 1s, 2s, 4s") {
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val sched: Long => Long = a => { slept += (1L << a); 0L }
    intercept[RuntimeException] {
      withRetry(attempts = 4, sleepMs = sched) { throw new RuntimeException("x") }
    }
    assert(slept.toSeq == Seq(1L, 2L, 4L))
  }

  test("fetchAll fans out over all cities and returns (name, body) pairs") {
    val fetcher = new Fetcher {
      def fetch(c: City): String = s"""{"city":"${c.name}"}"""
    }
    val out = fetchAll(defaultCities, fetcher, sleepMs = noSleep).toMap
    assert(out.keySet == Set("Delhi", "London", "NewYork", "Tokyo"))
  }

  test("fetchAll runs blocking fetches all at once, not one per core") {
    val n = 32
    val (inflight, peak) = (new AtomicInteger(0), new AtomicInteger(0))
    val fetcher = new Fetcher {
      def fetch(c: City): String = {
        peak.accumulateAndGet(inflight.incrementAndGet(), math.max)
        try { Thread.sleep(100); "{}" } finally inflight.decrementAndGet()
      }
    }
    val cities = (1 to n).map(i => City(s"C$i", 0.0, 0.0))
    val t0 = System.nanoTime()
    assert(fetchAll(cities, fetcher, sleepMs = noSleep).size == n)
    val ms = (System.nanoTime() - t0) / 1000000
    assert(ms < 1000, s"$n 100 ms fetches took $ms ms")
    assert(peak.get == n, s"at most ${peak.get} of $n fetches were in flight at once")
  }

  test("one city failing all retries aborts the whole batch (asyncio.gather semantics)") {
    val fetcher = new Fetcher {
      def fetch(c: City): String =
        if (c.name == "Tokyo") throw new RuntimeException("tokyo down") else "{}"
    }
    val e = intercept[RuntimeException] {
      fetchAll(defaultCities, fetcher, attempts = 2, sleepMs = noSleep)
    }
    assert(e.getMessage == "tokyo down")
  }
}
