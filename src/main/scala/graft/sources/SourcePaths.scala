package graft.sources

import java.io.RandomAccessFile
import java.nio.file.{Files, FileSystems, Paths}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Path-spec resolution shared by the raster DSv2 sources (GeoTIFF,
  * NetCDF, GRIB2): a production sweep reads a DIRECTORY of product
  * files (one GOES-R file per observation slot, one GRIB per forecast
  * run), not a single path — the file is the natural top-level
  * parallel unit at 100 TB, multiplied by each source's per-file
  * partitioning (strips/tiles, variables, messages).
  *
  * Accepted `path` forms, comma-separable:
  * - a file: read as-is;
  * - a directory: every regular file directly inside, sorted by name
  *   (deterministic partition order);
  * - a glob (`*`/`?`/`[]` in the last segment): matched against the
  *   parent directory's entries, sorted.
  */
object SourcePaths {
  def resolve(spec: String): Seq[String] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.flatMap { one =>
      val p = Paths.get(one)
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(_.toString).toSeq.sorted
        finally s.close()
      } else if (one.exists("*?[".contains(_))) {
        val parent = Option(p.getParent).getOrElse(Paths.get("."))
        val matcher = FileSystems.getDefault
          .getPathMatcher("glob:" + p.getFileName.toString)
        if (!Files.isDirectory(parent)) Seq.empty
        else {
          val s = Files.list(parent)
          try s.iterator().asScala
            .filter(f => Files.isRegularFile(f) && matcher.matches(f.getFileName))
            .map(_.toString).toSeq.sorted
          finally s.close()
        }
      } else Seq(one)
    }

  def baseName(path: String): String =
    Paths.get(path).getFileName.toString

  /** `n` bytes of `path` from offset `off` (see [[RangeFile.read]]). */
  def readRange(path: String, off: Long, n: Long): Array[Byte] =
    RangeFile(path)(_.read(off, n))
}

/** A file opened for range reads. Every offset and length these readers
  * seek to comes from the file's own headers (strip/tile tables, GRIB2
  * section-0 lengths, NetCDF `begin`, HDF5 addresses), so a read first
  * checks that its range lies inside the file: a corrupt or truncated
  * header fails with an error that names the file and the range, never
  * with a huge allocation, an `EOFException` or a negative array size.
  */
final class RangeFile(val path: String) extends java.io.Closeable {
  private val raf = new RandomAccessFile(path, "r")
  val size: Long = raf.length()
  def read(off: Long, n: Long): Array[Byte] = {
    require(off >= 0 && n >= 0 && off <= size && n <= size - off,
      s"read of $n bytes at offset $off outside file $path (size $size) " +
        "— corrupt or truncated header offset/length")
    val a = new Array[Byte](n.toInt)
    raf.seek(off); raf.readFully(a)
    a
  }
  def close(): Unit = raf.close()
}

object RangeFile {
  def apply[A](path: String)(use: RangeFile => A): A = {
    val f = new RangeFile(path)
    try use(f) finally f.close()
  }
}

/** One partition's cells, in order. `next` moves to the next cell;
  * `column(name, at)` is the writer that puts the current cell's `name`
  * into slot `at` of a row. A reader asks for each column's writer once,
  * so a source states its columns once, not once per cell.
  */
trait Cells {
  def next(): Boolean
  def column(name: String, at: Int): GenericInternalRow => Unit
}

/** What decodes a partition into [[Cells]]. It travels to the executors
  * inside the reader factory, so it carries no open file or stream.
  */
trait CellSource extends Serializable {
  def cells(partition: InputPartition): Cells
}

/** The decisions a grid file format makes for [[GridSource]]: its name
  * (in the table name and errors), its schema, and the partitions of one
  * file — strips/tiles, messages, variables — each decoded by `cells`.
  */
trait GridFormat extends CellSource {
  def name: String
  def schema: StructType
  def partitions(file: String, options: CaseInsensitiveStringMap): Seq[InputPartition]
}

/** The DataSource V2 frame of graft's grid-file readers (GeoTIFF, GRIB2,
  * NetCDF/HDF5): `spark.read.format(provider).option("path", p)` with `p`
  * as [[SourcePaths.resolve]] accepts. The frame decides, once for every
  * format: the required `path` option, the table's name, schema and
  * batch-read capability, column pruning (declaration order; an empty
  * projection such as `count()` keeps the first column), partition
  * planning (resolved files × the format's per-file partitions) and the
  * reader ([[CellReaderFactory]]). Options reach the format from the one
  * case-insensitive options map of the read.
  */
class GridSource(format: GridFormat) extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GridTable(format, new CaseInsensitiveStringMap(properties))
}

class GridTable(format: GridFormat, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val path = Option(options.get("path")).getOrElse(throw
    new IllegalArgumentException(s"${format.name} source requires option 'path'"))
  override def name(): String = s"${format.name}($path)"
  override def schema(): StructType = format.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  // a `spark.read` load passes these same options to the scan builder
  override def newScanBuilder(scanOptions: CaseInsensitiveStringMap): ScanBuilder =
    new GridScanBuilder(format, path, options)
}

class GridScanBuilder(format: GridFormat, path: String,
    options: CaseInsensitiveStringMap) extends ScanBuilder
    with SupportsPushDownRequiredColumns {
  private var required: StructType = format.schema
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val keep = requiredSchema.fieldNames.toSet
    val pruned = StructType(format.schema.fields.filter(f => keep(f.name)))
    required = if (pruned.isEmpty) StructType(format.schema.fields.take(1)) else pruned
  }
  override def build(): Scan = new GridScan(format, path, options, required)
}

class GridScan(format: GridFormat, path: String,
    options: CaseInsensitiveStringMap, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    SourcePaths.resolve(path).flatMap(format.partitions(_, options)).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new CellReaderFactory(format, required.fieldNames)
}

/** The one partition reader of graft's DSv2 sources: it resolves each
  * requested column to its writer once per partition and fills one
  * reused row per cell. Reuse is safe because Spark follows a row-based
  * DSv2 scan with an unsafe projection that copies each row out.
  */
class CellReaderFactory(source: CellSource, cols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val cells = source.cells(partition)
    val row = new GenericInternalRow(cols.length)
    val writers = cols.indices.map(c => cells.column(cols(c), c)).toArray
    new PartitionReader[InternalRow] {
      override def next(): Boolean = cells.next()
      override def get(): InternalRow = {
        var c = 0
        while (c < writers.length) { writers(c)(row); c += 1 }
        row
      }
      override def close(): Unit = ()
    }
  }
}
