package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent result checksum over EVERY column: the row count
  * plus the exact (decimal) sum of `xxhash64` over each row's
  * normalized values. Computing it is the timed action of an op, so
  * Catalyst has to produce every projected value (a `.count()` lets it
  * prune them). The same hash is computed in plain Scala for reference
  * results, so an expected value needs no second Spark plan.
  *
  * Normalization keeps the two sides type-agnostic: integral and
  * boolean values hash as longs, floating values as doubles rounded to
  * 6 decimals (HALF_UP, the rounding Spark's `round` applies), strings
  * as UTF-8. Nulls leave the running hash unchanged, as in Spark.
  */
final case class Checksum(rows: Long, hash: BigInt) {
  override def toString: String = s"rows=$rows hash=$hash"
}

object Checksum {

  private val Seed = 42L

  private def norm(c: Column, t: DataType): Column = t match {
    case ByteType | ShortType | IntegerType | LongType => c.cast(LongType)
    case BooleanType => c.cast(LongType)
    case FloatType | DoubleType | _: DecimalType => round(c.cast(DoubleType), 6)
    case StringType => c
    case _ => c.cast(StringType)
  }

  /** The checksum aggregate of `df` (one row: count, hash sum). */
  def frame(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(Seed) else xxhash64(cols: _*)
    df.agg(count(lit(1)).as("rows"),
      coalesce(sum(h.cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))).as("hash"))
  }

  /** Run the checksum action. */
  def of(df: DataFrame): Checksum = fromRow(frame(df).head())

  def fromRow(r: org.apache.spark.sql.Row): Checksum =
    Checksum(r.getLong(0), BigInt(r.getDecimal(1).toBigInteger))

  private def roundHalfUp(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Driver-side hash of one row of plain Scala values, identical to the
    * Spark side for the same normalized values.
    */
  def rowHash(values: Seq[Any]): Long = {
    var h = Seed
    values.foreach {
      case null | None => ()
      case Some(v) => h = hashOne(v, h)
      case v => h = hashOne(v, h)
    }
    h
  }

  private def hashOne(v: Any, seed: Long): Long = v match {
    case l: Long => XxHash64Function.hash(l, LongType, seed)
    case i: Int => XxHash64Function.hash(i.toLong, LongType, seed)
    case b: Boolean => XxHash64Function.hash(if (b) 1L else 0L, LongType, seed)
    case d: Double => XxHash64Function.hash(roundHalfUp(d), DoubleType, seed)
    case s: String => XxHash64Function.hash(UTF8String.fromString(s), StringType, seed)
    case other => throw new IllegalArgumentException(s"unhashable value $other")
  }

  /** Checksum of in-memory rows. */
  def ofRows(rows: Iterable[Seq[Any]]): Checksum = {
    var n = 0L
    // a wrapping Long plus a count of 2^64 carries keeps BigInt
    // allocation off the per-row path
    var acc = 0L
    var carry = 0L
    rows.foreach { r =>
      val h = rowHash(r)
      n += 1
      val next = acc + h
      if (((acc ^ next) & (h ^ next)) < 0) carry += (if (h > 0) 1 else -1)
      acc = next
    }
    Checksum(n, BigInt(carry) * (BigInt(1) << 64) + BigInt(acc))
  }
}
