package graft.pipeline

import scala.util.Try

import org.apache.spark.sql.SparkSession

import graft.meta.MetadataLedger

/** End-to-end orchestrator mirroring the reference's main.py:27-36 order:
  * metadata init → ingestion → bronze landing → silver → gold(fullRefresh).
  * A silver partition the transform left empty does not hold back gold for
  * the others: gold still runs, then silver's error is rethrown. Any other
  * silver failure stops the run before gold, so gold never runs ahead of
  * silver's stamped state.
  */
object Pipeline {

  final case class Config(
      root: String,
      cities: Seq[Ingestion.City] = Ingestion.defaultCities,
      fullRefreshGold: Boolean = true // the reference's shipped default (main.py:36)
  ) {
    def bronzeRoot: String = s"$root/data"
    def silverRoot: String = s"$root/silver"
    def goldRoot: String = s"$root/gold"
    def metadataPath: String = s"$root/pipeline_metadata"
  }

  final case class RunResult(silverPartitions: Long, goldPartitions: Long)

  /** Run the full pipeline. `fetcher` is injected (tests pass a fake; the
    * real `Ingestion.HttpFetcher` needs network egress). */
  def run(spark: SparkSession, conf: Config, fetcher: Ingestion.Fetcher,
          runDate: java.sql.Date): RunResult = {
    MetadataLedger.ensure(spark, conf.metadataPath)
    val raw = Ingestion.fetchAll(conf.cities, fetcher)
    Bronze.run(spark, raw, conf.bronzeRoot, runDate)
    def gold() = Gold.run(spark, conf.silverRoot, conf.goldRoot, conf.metadataPath,
      fullRefresh = conf.fullRefreshGold)
    val s = try Silver.run(spark, conf.bronzeRoot, conf.silverRoot, conf.metadataPath)
    catch {
      case e: Layers.EmptyPartitionsException =>
        Try(gold()).failed.foreach(e.addSuppressed)
        throw e
    }
    RunResult(s, gold())
  }
}
