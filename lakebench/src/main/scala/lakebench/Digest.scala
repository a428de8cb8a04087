package lakebench

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive digest of a gate's output.
  *
  * Each row becomes one canonical text per column: floating-point values
  * rounded to 9 significant digits (so the last-ulp differences that a
  * different summation order or partitioning produces do not show), every
  * other value in its string form, and null as a marker no value prints
  * as. Two 64-bit hashes of each row's texts are summed over all rows as
  * exact decimals, so the digest does not depend on row order or on how
  * the rows are partitioned, and a row that appears twice counts twice.
  */
object Digest {

  private def canonical(f: StructField): Column = {
    val c = col(s"`${f.name.replace("`", "``")}`")
    val text = f.dataType match {
      // adding 0.0 turns -0.0 into 0.0
      case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType) + lit(0.0))
      case _: ArrayType | _: MapType | _: StructType => to_json(struct(c))
      case _ => c.cast(StringType)
    }
    coalesce(text, lit("\u0000"))
  }

  /** Aggregates that together make the digest; usable in `agg` or `observe`. */
  def aggregates(schema: StructType): Seq[Column] = {
    val texts = schema.fields.toSeq.map(canonical)
    Seq(
      count(lit(1)).as("rows"),
      sum(xxhash64(texts: _*).cast(DecimalType(20, 0))).as("h1"),
      sum(xxhash64(lit("lakebench") +: texts: _*).cast(DecimalType(20, 0))).as("h2"))
  }

  /** The digest text from the values of [[aggregates]]. */
  def render(schema: StructType, rows: Long, h1: Any, h2: Any): String = {
    val names = schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    def h(v: Any): String = Option(v).map(_.toString).getOrElse("0")
    f"${java.lang.Integer.toHexString(names.hashCode)}%s/$rows/${h(h1)}/${h(h2)}"
  }

  def of(df: DataFrame): String = {
    val aggs = aggregates(df.schema)
    val r: Row = df.agg(aggs.head, aggs.tail: _*).head()
    render(df.schema, r.getLong(0), r.get(1), r.get(2))
  }
}
