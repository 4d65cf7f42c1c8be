package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a result: columns sorted by name, every
  * value in one canonical spelling, rows sorted. Numbers of any type
  * that are equal as doubles spell the same, so a DECIMAL result from
  * one engine matches a DOUBLE from another when their values agree. */
object Digest {

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => canon(r.get(i))).mkString("|"))
      .sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.fieldNames.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString + s":${rows.length}"
  }

  private def num(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) s"n${d.toLong}" else s"n$d"

  def canon(v: Any): String = v match {
    case null => "~"
    case x: java.math.BigDecimal => num(x.doubleValue)
    case x: scala.math.BigDecimal => num(x.toDouble)
    case x: Long => if (math.abs(x) < (1L << 53)) num(x.toDouble) else s"n$x"
    case x: Int => num(x.toDouble)
    case x: Short => num(x.toDouble)
    case x: Byte => num(x.toDouble)
    case x: Double => num(x)
    case x: Float => num(x.toDouble)
    case x: Boolean => s"b$x"
    case x: String => s"s$x"
    case x: java.sql.Timestamp =>
      s"t${x.getTime / 1000 * 1000000 + x.getNanos / 1000 % 1000000}"
    case x: java.time.Instant => s"t${x.getEpochSecond * 1000000 + x.getNano / 1000}"
    case x: java.time.LocalDateTime =>
      canon(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => s"d${x.toLocalDate.toEpochDay}"
    case x: java.time.LocalDate => s"d${x.toEpochDay}"
    case x: Array[Byte] => "x" + x.map(b => f"$b%02x").mkString
    case x: Row => (0 until x.length).map(i => canon(x.get(i))).mkString("{", ",", "}")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => canon(k) + "=" + canon(w) }.sorted
        .mkString("<", ",", ">")
    case x: scala.collection.Seq[_] => x.map(canon).mkString("[", ",", "]")
    case x => s"?$x"
  }
}
