package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An op's output disagreed with what the generator knows. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Spark-side twin of [[Checksum]]: the same order-independent sums,
  * computed over what the connector returns. */
object Check {

  private def term(f: StructField): Column = {
    val c = col(f.name)
    f.dataType match {
      case IntegerType => c.cast(LongType)
      case DoubleType => (c * 1024).cast(LongType)
      case StringType => crc32(c.cast(BinaryType))
      case DateType => unix_date(c).cast(LongType)
      case TimestampType => unix_millis(c)
      case BooleanType => when(c, 1L).otherwise(0L)
      case other => throw new IllegalArgumentException(s"no checksum for $other")
    }
  }

  /** rows, then (non-null count, sum) per column of `df`. */
  def actual(df: DataFrame): Seq[Long] = {
    val aggs = count(lit(1)) +: df.schema.fields.toSeq.flatMap(f =>
      Seq(count(col(f.name)), coalesce(sum(term(f)), lit(0L))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (0 until r.length).map(r.getLong)
  }

  /** Checksum of `df` (every column) against the generator's; throws
    * [[CheckFailed]] naming each component that differs. */
  def checksum(what: String, df: DataFrame, expected: Checksum): Unit = {
    val cols = df.schema.fieldNames.toSeq
    val (want, got) = (expected.values(cols), actual(df))
    val labels = "rows" +: cols.flatMap(c => Seq(s"$c.count", s"$c.sum"))
    val bad = labels.indices.filter(i => want(i) != got(i))
    if (bad.nonEmpty)
      throw new CheckFailed(s"$what: " + bad.map(i =>
        s"${labels(i)} expected ${want(i)} got ${got(i)}").mkString(", "))
  }

  def equal(what: String, expected: Any, got: Any): Unit =
    if (expected != got) throw new CheckFailed(s"$what: expected $expected got $got")
}
