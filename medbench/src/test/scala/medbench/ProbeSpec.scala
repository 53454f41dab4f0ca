package medbench

import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Ingestion

class ProbeSpec extends AnyFunSuite {

  private val cities = Gen(1).cities(8)

  test("the fetcher wrapper counts calls, retries and failures of Ingestion.fetchAll") {
    val flaky = Set("C0001", "C0004", "C0006")
    val seen = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    val inner = new Ingestion.Fetcher {
      def fetch(c: Ingestion.City): String =
        if (flaky(c.name) && seen.merge(c.name, 1, (a: Integer, b: Integer) => a + b) == 1)
          throw new RuntimeException(s"first attempt for ${c.name}")
        else Gen(1).fetchBody(c, 0)
    }
    val counting = new CountingFetcher(inner)
    val raw = Ingestion.fetchAll(cities, counting, attempts = 3, sleepMs = _ => 1L)
    assert(raw.map(_._1) == cities.map(_.name))
    assert(counting.fetches == 11)
    assert(counting.retries == 3)
    assert(counting.failures == 3)
  }

  test("the fetcher wrapper sees exactly the calls in flight at once") {
    val barrier = new CyclicBarrier(3)
    val started = new AtomicInteger
    val inner = new Ingestion.Fetcher {
      def fetch(c: Ingestion.City): String = {
        // the first three calls return only once all three are in flight
        if (started.incrementAndGet() <= 3) barrier.await(10, TimeUnit.SECONDS)
        "{}"
      }
    }
    val counting = new CountingFetcher(inner)
    val threads = cities.take(3).map(c => new Thread(() => counting.fetch(c)))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(counting.inflightMax == 3)
    counting.fetch(cities.last) // alone: the peak stays 3
    assert(counting.inflightMax == 3 && counting.fetches == 4 && counting.retries == 0)
  }
}
