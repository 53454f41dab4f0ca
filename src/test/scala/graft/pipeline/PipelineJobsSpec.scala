package graft.pipeline

import java.sql.Date
import java.time.LocalDate

import graft.SparkFunSuite
import graft.meta.MetadataLedger
import graft.pipeline.WeatherFixtures._

/** Spark jobs one incremental daily cycle launches on a lake past Spark's
  * 32-path parallel-listing threshold: the partition catalog must keep
  * listing on the driver and the cycle's job count flat. */
class PipelineJobsSpec extends SparkFunSuite {

  test("daily cycle on 2 cities x 33 dates: no listing job, at most 4 jobs") {
    val cities = Ingestion.defaultCities.take(2)
    val days = (0 until 33).map(d => LocalDate.of(2026, 1, 1).plusDays(d))
    val conf = Pipeline.Config(tmpDir("jobs"), cities, fullRefreshGold = false)
    writeBronze(spark, for (c <- cities; d <- days) yield bronzeRow(c.name, d.toString),
      conf.bronzeRoot)
    MetadataLedger.ensure(spark, conf.metadataPath)
    assert(Silver.run(spark, conf.bronzeRoot, conf.silverRoot, conf.metadataPath) == 66)
    assert(Gold.run(spark, conf.silverRoot, conf.goldRoot, conf.metadataPath) == 66)

    val fetcher = new Ingestion.Fetcher {
      def fetch(city: Ingestion.City): String = apiJson(12.5, time = "2026-02-03T09:30")
    }
    var res: Pipeline.RunResult = null
    val jobs = jobsOf {
      res = Pipeline.run(spark, conf, fetcher, Date.valueOf(days.last.plusDays(1)))
    }
    assert(res == Pipeline.RunResult(2, 2))
    assert(jobs.count(_.startsWith("Listing leaf files")) == 0, jobs.mkString("\n"))
    // bronze 1, silver 1, gold 2; the ledger is read and written on the driver
    assert(jobs.size <= 4, jobs.mkString("\n"))
    // the ledger is rewritten as one data file
    assert(spark.read.parquet(conf.metadataPath).inputFiles.length == 1)
    assert(MetadataLedger.read(spark, conf.metadataPath).size == 2 * 2 * 34)
  }
}
