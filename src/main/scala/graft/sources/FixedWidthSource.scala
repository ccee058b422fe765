package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** A batch DataSource V2 for FIXED-WIDTH text files — the mainframe /
  * COBOL-copybook layout Spark has no native reader for (O4 source
  * family, SURVEY.md §2a; the reference's scan stage ingests exactly
  * such opaque per-file records, `Program.cs:248-290`).
  *
  * Connector surface demonstrated, each piece the real DSv2 contract:
  *
  *  - `TableProvider.inferSchema` derives the schema from the `fields`
  *    option (`name:start:len:type,...`) — no user-supplied StructType;
  *  - `SupportsPushDownRequiredColumns`: column PRUNING reaches the
  *    reader — unprojected fields are never even substring'd, the
  *    fixed-width analog of parquet's ReadSchema (spec-pinned);
  *  - `SupportsReportStatistics`: the scan reports projected-size /
  *    row-count estimates from the file listing, so Catalyst's join
  *    planning sees the table's true size — a small fixed-width
  *    dimension auto-broadcasts instead of forcing a fact shuffle
  *    (spec-pinned);
  *  - `planInputPartitions`: one partition per data file, so a
  *    directory of N shards reads N-wide with zero shuffle — the
  *    reference's one-task-per-file model, recovered inside Spark's
  *    scheduler;
  *  - readers emit `InternalRow` directly (UTF8String / primitive longs
  *    / micros timestamps), no Row-encoder round trip on the scan path.
  *
  * At 100 TB: fixed-width files are line-splittable in principle, but
  * this source deliberately splits at FILE granularity (like the
  * reference); the ingest layout guarantees shard-sized files, and the
  * partition count tracks the shard count. Filters are left to Spark —
  * a scan this cheap (one substring per projected field) gains little
  * from pushdown, and correctness stays trivially auditable.
  */
class FixedWidthDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FixedWidth.schemaOf(FixedWidth.parseSpec(options.get("fields")))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FixedWidthTable(properties.get("path"), properties.get("fields"))
}

/** Field layout: `name:start:len:type` (0-based byte offsets; types
  * long | double | string | timestamp). One object so the writer-side
  * fixture and the reader agree on a single spec string. */
object FixedWidth {
  case class Field(name: String, start: Int, len: Int, tpe: String)

  private[sources] val tsFormat: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def parseSpec(spec: String): Seq[Field] = {
    require(spec != null && spec.nonEmpty, "fixed-width source needs a 'fields' option")
    spec.split(",").toSeq.map { f =>
      val Array(name, start, len, tpe) = f.trim.split(":")
      Field(name, start.toInt, len.toInt, tpe)
    }
  }

  /** Nullable so ordinary (nullable-column) DataFrames pass the V2 write
    * schema check; the format itself has no null encoding — the writer
    * rejects null values at write time instead. */
  def schemaOf(fields: Seq[Field]): StructType =
    StructType(fields.map(f => StructField(f.name, f.tpe match {
      case "long"      => LongType
      case "double"    => DoubleType
      case "string"    => StringType
      case "timestamp" => TimestampNTZType
      case other       => throw new IllegalArgumentException(s"type $other")
    }, nullable = true)))

  /** The session's Hadoop conf, for the driver-side FileSystem lookups
    * (listing, truncate, job commit/abort): a bare `new Configuration()`
    * would drop settings made on the session, such as object-store
    * credentials or a custom scheme's `fs.<scheme>.impl`. */
  private[sources] def sessionConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** [[sessionConf]] broadcast for the executor-side reader and writer
    * tasks (the `FileOps.writeFiles` idiom). */
  private[sources] def broadcastConf(): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(sessionConf))

  /** Total line length: fields may leave gaps; gaps render as spaces. */
  def lineLen(fields: Seq[Field]): Int = fields.map(f => f.start + f.len).max

  /** Render one value into its field cell. Strings left-justify (parse
    * strips the padding, keeps interior spaces); numerics/timestamps
    * right-justify — both directions round-trip through [[parse]]
    * because every rendering trims cleanly. Longs/doubles use the JVM
    * canonical decimal strings (`Double.toString` round-trips exactly);
    * timestamps render the NTZ micros as wall-clock text. */
  def render(value: Any, f: Field): String = {
    require(value != null, s"fixed-width field ${f.name} cannot encode NULL")
    val s = f.tpe match {
      case "string" => value.asInstanceOf[UTF8String].toString
      case "long"   => value.asInstanceOf[Long].toString
      case "double" => value.asInstanceOf[Double].toString
      case "timestamp" =>
        val micros = value.asInstanceOf[Long]
        LocalDateTime.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          (Math.floorMod(micros, 1000000L) * 1000L).toInt,
          ZoneOffset.UTC).format(tsFormat)
    }
    require(s.length <= f.len,
      s"value '$s' does not fit field ${f.name} (len ${f.len})")
    if (f.tpe == "string") s.padTo(f.len, ' ')
    else (" " * (f.len - s.length)) + s
  }

  /** Parse one projected field out of a line. Strings keep interior
    * spaces but drop the padding; numerics trim both sides. */
  def parse(line: String, f: Field): Any = {
    val raw = line.substring(f.start, math.min(f.start + f.len, line.length))
    f.tpe match {
      case "string" => UTF8String.fromString(raw.trim)
      case "long"   => raw.trim.toLong
      case "double" => raw.trim.toDouble
      case "timestamp" =>
        // TIMESTAMP_NTZ: micros of the wall-clock LocalDateTime against
        // the epoch — no zone in the file, none applied on read (matches
        // how Spark 4 surfaces tz-less parquet timestamps)
        val ldt = LocalDateTime.parse(raw.trim, tsFormat)
        ldt.toEpochSecond(ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
    }
  }
}

class FixedWidthTable(path: String, fieldsSpec: String)
    extends Table with SupportsRead with SupportsWrite {
  require(path != null, "fixed-width source needs a 'path' option")
  private val fields = FixedWidth.parseSpec(fieldsSpec)

  override def name(): String = s"fixedwidth($path)"
  override def schema(): StructType = FixedWidth.schemaOf(fields)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FixedWidthScanBuilder(path, fields)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FixedWidthWriteBuilder(path, fields, info.schema())
}

class FixedWidthScanBuilder(path: String, fields: Seq[FixedWidth.Field])
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: Seq[FixedWidth.Field] = fields

  /** Catalyst hands the pruned schema down; keep the surviving fields in
    * the REQUESTED order so the reader emits rows matching readSchema. */
  override def pruneColumns(requiredSchema: StructType): Unit = {
    val byName = fields.map(f => f.name -> f).toMap
    required = requiredSchema.fieldNames.toSeq.flatMap(byName.get)
  }

  override def build(): Scan = new FixedWidthScan(path, fields, required)
}

class FixedWidthScan(
    path: String,
    all: Seq[FixedWidth.Field],
    required: Seq[FixedWidth.Field])
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = FixedWidth.schemaOf(required)
  override def description(): String =
    s"FixedWidthScan(path=$path, fields=${required.map(_.name).mkString(",")})"
  override def toBatch: Batch = this

  /** Driver-side listing, shared by partition planning and statistics —
    * metadata only; bytes are first touched by executors. */
  private lazy val dataFiles = {
    val root = new Path(path)
    val fs = root.getFileSystem(FixedWidth.sessionConf)
    fs.listStatus(root)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
  }

  /** One InputPartition per data file. */
  override def planInputPartitions(): Array[InputPartition] =
    dataFiles.map(s => FixedWidthFilePartition(s.getPath.toString): InputPartition)

  /** `SupportsReportStatistics`: without it a DSv2 relation falls back to
    * `spark.sql.defaultSizeInBytes` (effectively infinite), so a
    * dimension table served by this connector would NEVER auto-broadcast
    * and every join against it would shuffle the fact side — the single
    * worst silent planning failure a custom source can cause at scale.
    * Size = on-disk bytes scaled by the PROJECTED fraction of the line
    * (pruning shrinks the estimate exactly as parquet's column stats
    * would); rows = bytes over the line width (+1 for a \n terminator).
    * The row count rounds UP so a final line missing its newline — legal
    * for files written outside this connector's writer — still counts;
    * CRLF line endings would overcount by ~lineLen/(lineLen+2) per row,
    * acceptable for a planning-grade estimate (reads themselves split on
    * actual newlines and are unaffected). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val lineBytes = FixedWidth.lineLen(all) + 1
    private val totalBytes = dataFiles.map(_.getLen).sum
    private val projBytes =
      if (all == required) totalBytes
      else totalBytes * math.max(1, required.map(_.len).sum) /
        math.max(1, FixedWidth.lineLen(all))
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, projBytes))
    override def numRows(): java.util.OptionalLong =
      // ceiling PER FILE: a single pooled ceiling would still undercount
      // when several files each miss their trailing newline
      java.util.OptionalLong.of(
        dataFiles.map(f => (f.getLen + lineBytes - 1) / lineBytes).sum)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FixedWidthReaderFactory(required, FixedWidth.broadcastConf())
}

case class FixedWidthFilePartition(file: String) extends InputPartition

class FixedWidthReaderFactory(
    required: Seq[FixedWidth.Field], hconf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[FixedWidthFilePartition].file
    new PartitionReader[InternalRow] {
      private val p = new Path(file)
      private val in = p.getFileSystem(hconf.value.value).open(p)
      private val reader =
        new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
      private var line: String = _

      override def next(): Boolean = {
        line = reader.readLine()
        while (line != null && line.isEmpty) line = reader.readLine()
        line != null
      }

      override def get(): InternalRow = {
        val values = new ArrayBuffer[Any](required.length)
        required.foreach(f => values += FixedWidth.parse(line, f))
        InternalRow.fromSeq(values.toSeq)
      }

      override def close(): Unit = reader.close()
    }
  }
}

/** Write side of the connector (BATCH_WRITE + TRUNCATE): `overwrite`
  * mode truncates driver-side before the factory ships, each task
  * streams its partition into one uniquely-named shard file (so the
  * layout a later scan sees is exactly the one-partition-per-file model
  * the read side plans around), task commits are atomic at file
  * granularity (abort deletes the task's own file), and the job commit
  * drops a `_SUCCESS` marker — the same protocol shape as Spark's file
  * sinks, small enough to audit. */
class FixedWidthWriteBuilder(
    path: String, fields: Seq[FixedWidth.Field], dfSchema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new FixedWidthBatchWrite(
      path, fields, dfSchema, doTruncate)
  }
}

class FixedWidthBatchWrite(
    path: String, fields: Seq[FixedWidth.Field], dfSchema: StructType,
    truncate: Boolean) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val root = new Path(path)
    val fs = root.getFileSystem(FixedWidth.sessionConf)
    if (truncate && fs.exists(root)) {
      fs.listStatus(root).filter(_.isFile)
        .foreach(s => fs.delete(s.getPath, false))
    }
    fs.mkdirs(root)
    // splice df ordinals onto the layout fields once, driver-side
    val ordinals = fields.map(f => dfSchema.fieldIndex(f.name))
    new FixedWidthWriterFactory(path, fields, ordinals, FixedWidth.broadcastConf())
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(FixedWidth.sessionConf)
    fs.create(new Path(root, "_SUCCESS"), true).close()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(FixedWidth.sessionConf)
    messages.collect { case FixedWidthCommit(file) =>
      fs.delete(new Path(file), false)
    }
  }
}

case class FixedWidthCommit(file: String) extends WriterCommitMessage

class FixedWidthWriterFactory(
    path: String, fields: Seq[FixedWidth.Field], ordinals: Seq[Int],
    hconf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val file = new Path(path, f"part-$partitionId%05d-$taskId.fw")
    val fs = file.getFileSystem(hconf.value.value)
    val out = fs.create(file, true)
    val width = FixedWidth.lineLen(fields)
    val types = FixedWidth.schemaOf(fields).fields.map(_.dataType)

    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = {
        val line = new Array[Char](width)
        java.util.Arrays.fill(line, ' ')
        fields.indices.foreach { i =>
          val f = fields(i)
          val cell = FixedWidth.render(row.get(ordinals(i), types(i)), f)
          cell.getChars(0, f.len, line, f.start)
        }
        out.write((new String(line) + "\n").getBytes(StandardCharsets.UTF_8))
      }

      override def commit(): WriterCommitMessage = {
        out.close()
        FixedWidthCommit(file.toString)
      }

      override def abort(): Unit = {
        out.close()
        fs.delete(file, false)
      }

      override def close(): Unit = ()
    }
  }
}
