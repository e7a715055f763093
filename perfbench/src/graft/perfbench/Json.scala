package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString) else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Collected rows as typed JSON, for the DuckDB oracle check: numbers
  * stay numbers, timestamps become `ts:<epoch micros>`, dates
  * `date:<epoch days>`, binary `hex:<bytes>`, structs and arrays lists. */
object ResultJson {
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Byte => i.toString
    case i: Short => i.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case f: Float => Json.num(f.toDouble)
    case d: Double => Json.num(d)
    case d: java.math.BigDecimal => d.toPlainString
    case d: scala.math.BigDecimal => d.bigDecimal.toPlainString
    case s: String => Json.str(s)
    case t: java.sql.Timestamp =>
      Json.str(s"ts:${Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000}")
    case t: java.time.Instant => Json.str(s"ts:${t.getEpochSecond * 1000000L + t.getNano / 1000}")
    case d: java.sql.Date => Json.str(s"date:${d.toLocalDate.toEpochDay}")
    case d: java.time.LocalDate => Json.str(s"date:${d.toEpochDay}")
    case b: Array[Byte] => Json.str("hex:" + b.map(x => f"${x & 0xff}%02x").mkString)
    case r: Row => r.toSeq.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"[${value(k)},${value(x)}]" }.sorted.mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => Json.str(other.toString)
  }

  def rows(schema: StructType, rs: Seq[Row]): String =
    Json.obj(Seq(
      "columns" -> schema.fieldNames.map(Json.str).mkString("[", ",", "]"),
      "rows" -> rs.map(value).mkString("[\n", ",\n", "\n]")))

  /** order-insensitive digest of a result, to compare passes */
  def canonical(rs: Seq[Row]): String = rs.map(value).sorted.mkString("\n")
}

object FileTree {
  /** delete everything under `dir`, keeping `dir` itself */
  def delete(dir: Path): Unit = {
    val s = Files.walk(dir)
    try s.sorted(Comparator.reverseOrder[Path]()).filter(_ != dir).forEach(p => Files.deleteIfExists(p))
    finally s.close()
  }

  /** (files, bytes) of the parquet data files under `dir` */
  def parquetFiles(dir: Path): (Int, Long) = {
    val s = Files.walk(dir)
    try {
      val fs = s.filter(p => p.getFileName.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[Path])
      (fs.length, fs.map(Files.size).sum)
    } finally s.close()
  }
}
