package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

/** Output fingerprint: row count plus the order-insensitive sum of
  * `xxhash64` over every column (the `CpaParity.hashAgg` idea). Hashing
  * every column materialises every column, so Catalyst cannot prune the
  * work the way it can for `count()`.
  */
final case class Fp(rows: Long, hash: BigDecimal) {
  def +(o: Fp): Fp = Fp(rows + o.rows, hash + o.hash)
}

object Fingerprint {
  val Zero: Fp = Fp(0L, BigDecimal(0))

  /** Maps are not hashable in Spark; their sorted entry arrays are. */
  private def hashable(df: DataFrame): Seq[Column] =
    df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }

  def of(df: DataFrame): Fp = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(hashable(df): _*).cast(DecimalType(38, 0)))).head()
    Fp(r.getLong(0),
      Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

/** Committed expected fingerprints, one `name<TAB>rows<TAB>hash` line per
  * query or monitor. A hash of `*` marks an output that is not stable run
  * to run; it is checked by row count only.
  */
final class Expected(entries: Map[String, (Long, Option[BigDecimal])],
    acceptAll: Boolean = false) {
  def check(name: String, fp: Fp): Option[String] = entries.get(name) match {
    case None if acceptAll => None
    case None => Some(s"no expected fingerprint for $name")
    case Some((rows, _)) if rows != fp.rows =>
      Some(s"$name: rows ${fp.rows}, expected $rows")
    case Some((_, Some(h))) if h != fp.hash =>
      Some(s"$name: hash ${fp.hash}, expected $h")
    case _ => None
  }
}

object Expected {
  /** Accepts every output: used while generating the expected file. */
  val none: Expected = new Expected(Map.empty, acceptAll = true)

  def load(path: Path): Expected =
    new Expected(Files.readAllLines(path, StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, h) = l.split("\t")
        n -> (rows.toLong, if (h == "*") None else Some(BigDecimal(h)))
      }.toMap)
}
