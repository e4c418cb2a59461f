package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order- and arrival-insensitive fingerprint of a result, computed in one
  * aggregate job: the row count, the sum of a 64-bit hash of each row's
  * exact-typed columns (integers, strings, booleans, dates, timestamps),
  * and per floating-point column its non-null count, sum and sum of
  * absolute values (compared with a tolerance, since summation order
  * changes the last bits). Integral widths are unified (an int32 count and
  * an int64 count hash alike) and columns are taken in name order, so a
  * DuckDB result and a Spark result of the same rows agree. */
final case class Digest(rows: Long, keys: String,
    floats: Map[String, (Long, Double, Double)]) {

  def sameRows(o: Digest): Boolean = rows == o.rows && keys == o.keys

  def sameFloats(o: Digest): Boolean =
    floats.keySet == o.floats.keySet && floats.forall { case (c, (n, s, a)) =>
      val (n2, s2, a2) = o.floats(c)
      n == n2 && math.abs(s - s2) <= 1e-7 * math.max(a, a2) + 1e-9
    }

  def toJson: Map[String, Any] = Map("rows" -> rows, "keys" -> keys,
    "floats" -> floats.map { case (c, (n, s, a)) => c -> Seq[Any](n, s, a) })
}

object Digest {
  private val Null = lit("\u0000")

  private def exact(c: Column, t: DataType): Option[Column] = t match {
    case ByteType | ShortType | IntegerType | LongType =>
      Some(c.cast(DecimalType(38, 0)).cast(StringType))
    case d: DecimalType if d.scale == 0 =>
      Some(c.cast(DecimalType(38, 0)).cast(StringType))
    case StringType | BooleanType | DateType => Some(c.cast(StringType))
    case TimestampType => Some(unix_micros(c).cast(StringType))
    case TimestampNTZType => Some(unix_micros(c.cast(TimestampType)).cast(StringType))
    case _: FloatType | DoubleType | _: DecimalType => None
    case _ => Some(c.cast(StringType)) // nested values: exact text form
  }

  private def isFloat(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case d: DecimalType => d.scale > 0
    case _ => false
  }

  def of(df: DataFrame): Digest = {
    val fields = df.schema.fields.sortBy(_.name)
    val keyParts = fields.flatMap(f => exact(col(s"`${f.name}`"), f.dataType)
      .map(c => coalesce(c, Null)))
    val keyHash =
      if (keyParts.isEmpty) lit(0L) else xxhash64(concat_ws("\u0001", keyParts.toIndexedSeq: _*))
    val floatCols = fields.filter(f => isFloat(f.dataType)).map(_.name)
    val aggs = Seq(count(lit(1)).as("n"),
      coalesce(sum(keyHash.cast(DecimalType(38, 0))), lit(BigDecimal(0)))
        .cast(StringType).as("k")) ++
      floatCols.zipWithIndex.flatMap { case (c, i) =>
        val x = col(s"`$c`").cast(DoubleType)
        Seq(count(x).as(s"c$i"), coalesce(sum(x), lit(0.0)).as(s"s$i"),
          coalesce(sum(abs(x)), lit(0.0)).as(s"a$i"))
      }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    Digest(r.getLong(0), r.getString(1),
      floatCols.zipWithIndex.map { case (c, i) =>
        c -> ((r.getLong(2 + 3 * i), r.getDouble(3 + 3 * i), r.getDouble(4 + 3 * i)))
      }.toMap)
  }

  def fromJson(m: Map[String, Any]): Digest = Digest(
    m("rows").asInstanceOf[Number].longValue, m("keys").toString,
    m.getOrElse("floats", Map.empty).asInstanceOf[Map[String, Any]].map {
      case (c, v) =>
        val xs = v.asInstanceOf[Seq[Any]].map(_.asInstanceOf[Number].doubleValue)
        c -> ((xs(0).toLong, xs(1), xs(2)))
    })
}
