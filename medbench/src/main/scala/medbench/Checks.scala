package medbench

import java.time.LocalDate

import org.apache.spark.sql.{Row, SparkSession}

import graft.pipeline.Schemas
import medbench.Gen.GoldRow

/** Output checks. They read the lake with plain Spark reads, not through
  * the program's own read path, and compare with the generator's
  * closed-form answers. */
object Checks {

  type Key = (String, LocalDate)

  /** Keys of `expected` whose gold row is missing, duplicated or wrong, plus
    * every gold key that is not expected at all. */
  def badGold(spark: SparkSession, goldRoot: String, expected: Map[Key, GoldRow]): Set[Key] = {
    val rows = spark.read.schema(Schemas.gold).parquet(goldRoot).collect().toSeq
      .map { r =>
        (r.getAs[String]("city"), r.getAs[java.sql.Date]("date").toLocalDate) ->
          GoldRow(r.getAs[Double]("avg_temp"), r.getAs[Double]("min_temp"),
            r.getAs[Double]("max_temp"), r.getAs[Long]("record_count"))
      }
    val seen = rows.groupBy(_._1)
    val wrong = expected.keySet.filter { k =>
      seen.get(k) match {
        case Some(Seq((_, got))) => got != expected(k)
        case _ => true
      }
    }
    wrong ++ (seen.keySet -- expected.keySet)
  }

  /** Dates on which the ledger does not hold exactly one `silver` and one
    * `gold` row for each city of `expected` (and nothing else). */
  def badLedger(spark: SparkSession, ledgerPath: String, expected: Map[LocalDate, Set[String]]): Set[LocalDate] = {
    val rows = spark.read.schema(Schemas.metadata).parquet(ledgerPath).collect().toSeq
      .map(r => (r.getAs[String]("layer"), r.getAs[String]("city"),
        r.getAs[java.sql.Date]("date").toLocalDate))
    val byDate = rows.groupBy(_._3)
    val want = expected.map { case (d, cs) => d -> cs.toSeq.flatMap(c => Seq(("gold", c, d), ("silver", c, d))).sorted }
    (want.keySet ++ byDate.keySet).filter(d => byDate.getOrElse(d, Nil).sorted != want.getOrElse(d, Nil))
  }

  /** A collected result row as plain comparable values. */
  def plain(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.sql.Date => d.toLocalDate
    case t: java.sql.Timestamp => t.getTime / 1000
    case v => v
  }
}
