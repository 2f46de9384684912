package graft.engine

import java.nio.file.Path
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types._

/** Direct driver-side parquet writer for the batch-append hot path
  * (reference query.go:294-307 — client batches land as one storage
  * write). A 10k-row wire batch is driver-resident by contract, so
  * funneling it through a Spark job (createDataFrame → coalesce(1) →
  * committer) pays scheduler and commit-protocol overhead per batch for
  * no parallelism. This writes the part file with parquet-java directly:
  * same schema Spark wrote (INT64 TIMESTAMP_MICROS, snappy), read back
  * by the same scans. Bulk imports and compaction stay on the
  * distributed Spark writer — this path is only for driver-resident
  * appends.
  */
object LocalParquet {
  /** Spark StructType → parquet MessageType with the logical-type
    * annotations Spark's reader maps back to the same Catalyst types.
    */
  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case ByteType =>
          Types.optional(INT32).as(LogicalTypeAnnotation.intType(8, true))
        case ShortType =>
          Types.optional(INT32).as(LogicalTypeAnnotation.intType(16, true))
        case IntegerType => Types.optional(INT32)
        case LongType => Types.optional(INT64)
        case FloatType => Types.optional(FLOAT)
        case DoubleType => Types.optional(DOUBLE)
        case BooleanType => Types.optional(BOOLEAN)
        case StringType =>
          Types.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case TimestampType => Types.optional(INT64).as(
          LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS))
        case other => throw OtError(s"Unsupported append type $other")
      }
      b.addField(t.named(f.name))
    }
    b.named("spark_schema")
  }

  /** Write `rows` (cell arrays positional against `schema`; timestamp
    * cells are µs-truncated Instants) as one snappy parquet file. The
    * catalog calls this once per commit, so one file holds one commit's
    * rows — a group of concurrent appends, or a lone caller's batch.
    *
    * Commit protocol: the bytes stream into a dot-prefixed sibling
    * (hidden from Spark's file listing, like the committer's
    * `_temporary` staging) and only an ATOMIC_MOVE publishes the final
    * name — a concurrent reader never lists a footerless in-progress
    * file, and a mid-batch failure deletes the staging file instead of
    * committing a partial batch.
    */
  def write(file: Path, schema: StructType,
      rows: Iterator[Array[Any]]): Unit = {
    val mt = messageType(schema)
    // no default resources: parsing core-default.xml on every call was
    // most of a one-row write, and the writer reads no Hadoop setting
    // (LocalOutputFile bypasses FileSystem; the codec is set below and
    // page sizes keep parquet's defaults)
    val conf = new Configuration(false)
    GroupWriteSupport.setSchema(mt, conf)
    val staging = file.resolveSibling("." + file.getFileName + ".inprogress")
    // LocalOutputFile writes through java.nio directly — no Hadoop
    // FileSystem (whose cached ChecksumFileSystem would leak .crc
    // sidecars past the rename)
    val writer = ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(staging))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val factory = new SimpleGroupFactory(mt)
    val n = schema.length
    try {
      rows.foreach { cells =>
        val g = factory.newGroup().asInstanceOf[SimpleGroup]
        var i = 0
        while (i < n) {
          cells(i) match {
            case null => ()
            case x: Byte => g.add(i, x.toInt)
            case x: Short => g.add(i, x.toInt)
            case x: Int => g.add(i, x)
            case x: Long => g.add(i, x)
            case x: Float => g.add(i, x)
            case x: Double => g.add(i, x)
            case x: Boolean => g.add(i, x)
            case x: String => g.add(i, Binary.fromString(x))
            case t: java.time.Instant =>
              g.add(i, t.getEpochSecond * 1000000L + t.getNano / 1000L)
            case other =>
              throw OtError(s"Unsupported append value class $other")
          }
          i += 1
        }
        writer.write(g)
      }
      writer.close()
      java.nio.file.Files.move(staging, file,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Throwable =>
        try writer.close() catch { case _: Throwable => () }
        try java.nio.file.Files.deleteIfExists(staging)
        catch { case _: Throwable => () }
        throw e
    }
  }

  /** Rows of the parquet file at `file`, from its footer alone (no Hadoop
    * Configuration, as for [[write]]).
    */
  def rowCount(file: Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(file),
      org.apache.parquet.ParquetReadOptions.builder(
        new org.apache.parquet.conf.PlainParquetConfiguration()).build())
    try r.getRecordCount finally r.close()
  }
}
