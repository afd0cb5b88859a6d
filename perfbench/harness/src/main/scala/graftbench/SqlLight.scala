package graftbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** One workload of the closed loop: a set-up step, then units of work
  * (a pass over the keys, or a write/read/compact cycle) repeated until
  * the run's time is up.
  */
trait Workload {
  /** Prepares the inputs: fixtures, seeded stores. Timed as `seed`. */
  def seed(): Unit
  /** One unit of operations, in an order drawn from `rng`. */
  def unit(rng: Random): Unit
  /** The store the workload reads, when it reads one. */
  def storeRoot: Option[Path]
  /** Workload-specific end-to-end figures for the report. */
  def report(samples: Seq[Sample]): Map[String, Double] = Map.empty
}

/** Checksum of a result: row count plus two order-insensitive folds of
  * the row hashes. Doubles are rounded to 9 decimals first, as the
  * oracle comparison in `tools/check.py` does, so a sum whose last bits
  * depend on task order still checks.
  */
final case class Checksum(rows: Long, xor: Long, sum: Long)

object Checksum {
  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 9)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 9))
    case _ => c
  }

  /** Materializes every column of `df` into one checksum row. Results
    * holding a type `xxhash64` cannot hash (maps) check by row count.
    */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      normalized(col("`" + f.name.replace("`", "``") + "`"), f.dataType).as(f.name)
    }
    try df.select(xxhash64(struct(cols.toIndexedSeq: _*)).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)"), sum(col("h").bitwiseAND(0xffffffffL)))
    catch { case _: AnalysisException => df.agg(count(lit(1)), lit(0L), lit(0L)) }
  }

  def of(rows: Array[Row]): Checksum = {
    val r = rows.head
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Checksum(l(0), l(1), l(2))
  }
}

/** Light query keys from `SparkEntry.queries`, each timed as the builder
  * call plus the checksum materialization, and checked against a
  * checksum recorded from an execution the DuckDB oracle verified. None
  * of them reads the connector.
  */
final class SqlLight(spark: SparkSession, runner: Runner, sfDir: String,
    expected: Map[String, Checksum]) extends Workload {
  import SqlLight.keys

  private val fns = keys.map(k => k -> SparkEntry.queries(k)).toMap

  /** Building each key once resolves the fixture tables it reads. */
  def seed(): Unit = keys.foreach(k => fns(k)(spark, sfDir))

  def storeRoot: Option[Path] = None

  def unit(rng: Random): Unit = rng.shuffle(keys).foreach { k =>
    runner.query(k)(fns(k)(spark, sfDir))(Checksum.frame) { rows =>
      val got = Checksum.of(rows)
      expected.get(k) match {
        case None => Some("no verified checksum recorded for this key")
        case Some(want) if want != got => Some(s"checksum $got, expected $want")
        case _ => None
      }
    }
  }
}

object SqlLight {
  /** The ten keys BASELINE.md maps to a baseline, plus four light SQL
    * shapes.
    */
  val keys = Seq("q_scan_full", "q_scan_filter", "q_agg_group",
    "q_topk_group", "q_sort_limit", "q_stream_tumbling",
    "q_agg_count_distinct", "q_stream_session", "q_sim_cosine_pairs",
    "q_tok_explode", "q_sql_tpch_q1", "q_sql_tpch_q6", "q_join_inner",
    "q_win_rank")
}
