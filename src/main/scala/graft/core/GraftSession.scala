package graft.core

import org.apache.spark.sql.SparkSession

import graft.sources.LocalLakeFileSystem

/** Canonical session factory for the graft engine.
  *
  * `master` defaults to every local core; `shufflePartitions` to 32. Every
  * other knob is the one you'd set on a real cluster too: AQE on (runtime
  * re-planning + skew-join splitting), shuffle partitions matched to
  * parallelism instead of the 200 default, UTC session timezone so
  * timestamp semantics match the DuckDB oracle. `file:` paths resolve to
  * [[graft.sources.LocalLakeFileSystem]], which sets the mode of each file
  * it writes without forking `chmod`.
  */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(LocalLakeFileSystem.sparkConf)
}
