package sqlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive result comparison and checksums. */
object Compare {
  private def close(a: Double, b: Double): Boolean =
    a == b || (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))

  private def norm(v: Any): Any = v match {
    case null => null
    case n: java.math.BigDecimal => n.doubleValue
    case n: scala.math.BigDecimal => n.toDouble
    case n: java.lang.Number => n.doubleValue
    case s: scala.collection.Seq[_] => s.map(norm).toList
    case r: Row => r.toSeq.map(norm).toList
    case t: java.sql.Timestamp => t.toInstant.toString
    case t: java.time.LocalDateTime => t.toString
    case d: java.sql.Date => d.toLocalDate.toString
    case other => other.toString
  }

  private def sortKey(v: Any): String = v match {
    case d: Double => f"$d%.5e"
    case l: List[_] => l.map(sortKey).mkString("[", ",", "]")
    case other => String.valueOf(other)
  }

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => close(x, y)
    case (x: List[_], y: List[_]) => x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  /** None when `got` and `want` hold the same rows in any order, numbers
    * equal within a relative 1e-6; otherwise the first difference. */
  def rows(got: Array[Row], want: Array[Row]): Option[String] = {
    def canon(rs: Array[Row]) = rs.map(r => norm(r).asInstanceOf[List[Any]]).sortBy(sortKey)
    val (g, w) = (canon(got), canon(want))
    if (g.length != w.length) Some(s"${g.length} rows, want ${w.length}")
    else g.zip(w).collectFirst { case (a, b) if !same(a, b) => s"row $a, want $b" }
  }

  /** Row count plus one order-insensitive value per column: numbers (and
    * arrays of numbers) sum as doubles, compared within tolerance; any
    * other value sums the 32-bit MurmurHash3 of its canonical text as an
    * exact integer, marked with a leading '#'. */
  final case class Checksum(rows: Long, cols: Seq[(String, String)])

  def checksum(rows: Array[Row], schema: StructType): Checksum = {
    def num(v: Any): Option[Double] = norm(v) match {
      case d: Double => Some(d)
      case l: List[_] if l.forall(_.isInstanceOf[Double]) => Some(l.map(_.asInstanceOf[Double]).sum)
      case _ => None
    }
    Checksum(rows.length, schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val vs = rows.map(_.get(i)).filter(_ != null)
      val numeric = f.dataType match {
        case _: NumericType | ArrayType(_: NumericType, _) => true
        case _ => false
      }
      f.name -> (if (numeric) vs.flatMap(num).sum.toString
        else "#" + vs.map(v => BigInt(MurmurHash3.stringHash(String.valueOf(norm(v))))).sum)
    })
  }

  def checksumDiff(got: Checksum, want: Checksum): Option[String] =
    if (got.rows != want.rows) Some(s"${got.rows} rows, want ${want.rows}")
    else if (got.cols.map(_._1) != want.cols.map(_._1))
      Some(s"columns ${got.cols.map(_._1)}, want ${want.cols.map(_._1)}")
    else got.cols.zip(want.cols).collectFirst {
      case ((n, g), (_, w)) if !(g == w || (!g.startsWith("#") &&
          g.toDoubleOption.zip(w.toDoubleOption).exists { case (a, b) => close(a, b) })) =>
        s"column $n: $g, want $w"
    }

  // file format: one line per query, tab-separated:
  //   query  rows  column=value ...   ('#' values are exact hash sums)
  def writeChecksums(path: Path, sf: Double, sums: Iterable[(String, Checksum)]): Unit = {
    val header = s"# pipeline_df checksums at sf$sf, data ${DataGen.Version}; " +
      "regenerate with: python3 sqlbench/run.py --workload pipeline_df --seed 1 --seconds 6 --write-expected"
    val lines = sums.toSeq.sortBy(_._1).map { case (q, c) =>
      (Seq(q, c.rows.toString) ++ c.cols.map { case (n, v) => s"$n=$v" }).mkString("\t")
    }
    Files.write(path, (header +: lines).asJava, UTF_8)
  }

  def readChecksums(path: Path): Map[String, Checksum] =
    Files.readAllLines(path, UTF_8).asScala.filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l =>
        val f = l.split("\t", -1)
        f(0) -> Checksum(f(1).toLong, f.drop(2).toSeq.map { kv =>
          val i = kv.lastIndexOf('='); kv.take(i) -> kv.drop(i + 1)
        })
      }.toMap
}
