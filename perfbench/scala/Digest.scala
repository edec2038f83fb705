package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-sensitive digest of a fully materialized result.
  *
  * Each row renders to a canonical string (columns sorted by name, the
  * same normalization `tools/oracle_probe.py` compares under: integral
  * numbers as integers whatever their column type, other doubles by
  * their IEEE bits, NULL as its own token), hashes to the first 8 bytes
  * of its MD5, and the row hashes fold as H = H * B + h (mod 2^64) in
  * result order. Partitions fold independently and combine in
  * partition order, so the digest does not depend on how AQE cut the
  * result into partitions. `perfbench/oracle.py` computes the same
  * digest over DuckDB rows.
  */
object Digest {
  private val B = 1099511628211L

  final case class Result(rows: Long, hash: Long) {
    def text: String = f"$rows:$hash%016x"
  }

  /** Execute `df` (every column of every row) and digest it, skipping
    * the named columns (run-dependent values such as timings). */
  def of(df: DataFrame, skip: Set[String] = Set.empty): Result = {
    val fields = df.schema.fields
    val order = fields.indices.filterNot(i => skip(fields(i).name))
      .sortBy(i => fields(i).name).toArray
    val types = fields.map(_.dataType)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      val sb = new java.lang.StringBuilder
      var n = 0L
      var h = 0L
      it.foreach { row =>
        sb.setLength(0)
        var j = 0
        while (j < order.length) {
          if (j > 0) sb.append('|')
          value(sb, row, order(j), types(order(j)))
          j += 1
        }
        h = h * B + rowHash(md, sb)
        n += 1
      }
      Iterator.single((n, h))
    }.collect()
    parts.foldLeft(Result(0L, 0L)) { case (acc, (n, h)) =>
      Result(acc.rows + n, acc.hash * pow(n) + h)
    }
  }

  private def pow(n: Long): Long = {
    var r = 1L
    var b = B
    var e = n
    while (e > 0) {
      if ((e & 1L) == 1L) r *= b
      b *= b
      e >>= 1
    }
    r
  }

  private def rowHash(md: MessageDigest, sb: java.lang.StringBuilder): Long = {
    val d = md.digest(sb.toString.getBytes(UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xff); i += 1 }
    h
  }

  private def dbl(sb: java.lang.StringBuilder, v: Double): Unit =
    if (v.isNaN) sb.append('n')
    else if (v == math.rint(v) && math.abs(v) < 9.007199254740992e15) sb.append('i').append(v.toLong)
    else sb.append('f').append(java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(v)))

  private def value(sb: java.lang.StringBuilder, g: SpecializedGetters, i: Int, dt: DataType): Unit =
    if (g.isNullAt(i)) sb.append('N')
    else dt match {
      case BooleanType => sb.append(if (g.getBoolean(i)) "b1" else "b0")
      case ByteType => sb.append('i').append(g.getByte(i).toLong)
      case ShortType => sb.append('i').append(g.getShort(i).toLong)
      case IntegerType | DateType => sb.append('i').append(g.getInt(i).toLong)
      case LongType | TimestampType | TimestampNTZType => sb.append('i').append(g.getLong(i))
      case FloatType => dbl(sb, g.getFloat(i).toDouble)
      case DoubleType => dbl(sb, g.getDouble(i))
      case d: DecimalType =>
        sb.append('d').append(g.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString)
      case _: StringType =>
        val s = g.getUTF8String(i)
        sb.append('s').append(s.numBytes).append(':').append(s.toString)
      case BinaryType =>
        sb.append('x')
        g.getBinary(i).foreach(b => sb.append(f"${b & 0xff}%02x"))
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        sb.append('[')
        var j = 0
        while (j < a.numElements()) {
          if (j > 0) sb.append(',')
          value(sb, a, j, et)
          j += 1
        }
        sb.append(']')
      case st: StructType =>
        val r: InternalRow = g.getStruct(i, st.length)
        sb.append('{')
        st.fields.indices.foreach { j =>
          if (j > 0) sb.append(',')
          value(sb, r, j, st.fields(j).dataType)
        }
        sb.append('}')
      case other => throw new IllegalArgumentException(s"digest: unsupported type $other")
    }
}
