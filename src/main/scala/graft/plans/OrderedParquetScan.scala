package graft.plans

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.{FilePartition, FileScanRDD, PartitionedFile}
import org.apache.spark.sql.graftshim.GraftSqlShims
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch
import scala.jdk.CollectionConverters._

/** Order-preserving parquet scan over an explicit file list, built on
  * Spark's own [[FileScanRDD]] + parquet reader — the scale path for the
  * compat ordered read (reference range scans return rows in key order,
  * query.go:158).
  *
  * Why not a plain multi-file `spark.read.parquet`: FileSourceScanExec
  * packs splits into partitions SORTED BY SIZE, so scan-partition order
  * is unrelated to key order. Why not one single-file DataFrame per file
  * unioned in order (the previous shape): the plan grows one node per
  * file — thousands of files blow up analysis time. Here the file list
  * lives in the RDD, not the plan: ONE LogicalRDD node whatever the file
  * count, partitions enumerate files in name order (the clean layout's
  * range order), files are never split, and concatenated partition order
  * IS global PK order — zero Exchange, zero Sort.
  *
  * Forward scans pack consecutive files into partitions up to
  * `maxPartitionBytes` (Spark's own packing budget, minus the
  * reordering). Reverse scans take one file per partition and reverse
  * the file's rows in memory — bounded by one file, the same bound the
  * per-file union paid, and reversal is exact because each file is
  * written fully PK-sorted.
  *
  * Pushed filters reach the parquet reader exactly as FileSourceScanExec
  * pushes them: row-group pruning via min/max stats, so a point/prefix
  * predicate still skips almost every file's data even though the scan
  * is an opaque RDD to Catalyst. Callers keep the exact predicate as a
  * DataFrame filter on top (parquet pruning is a superset gate, not
  * row-exact).
  */
object OrderedParquetScan {
  final case class FileMeta(path: String, size: Long)

  def read(spark: SparkSession, files: Seq[FileMeta], schema: StructType,
      pushedFilters: Seq[Filter], reverse: Boolean,
      maxPartitionBytes: Long): DataFrame = {
    val ordered = if (reverse) files.reverse else files
    val parts =
      if (reverse) ordered.zipWithIndex.map { case (f, i) =>
        FilePartition(i, Array(toPartitionedFile(f)))
      }
      else pack(ordered, maxPartitionBytes)
    val readFn = reader(spark, schema, pushedFilters)
    val scan = new FileScanRDD(spark, readFn, parts, schema)
    val rev = reverse
    val rows = scan.mapPartitions { it =>
      // UnsafeRow out, for the downstream operators that require it
      val proj = UnsafeProjection.create(schema)
      val flat = flatten(it)
      if (rev)
        // one file per partition; rows are PK-ascending within the file,
        // so exact per-file reversal needs no comparator — buffer copies
        // of one file's rows (bounded by the file, as documented)
        flat.map(r => proj(r).copy()).toArray.reverseIterator
      else flat.map(proj)
    }
    GraftSqlShims.internalDf(spark, rows, schema)
  }

  /** Visit the rows of `files` in file order on the calling thread — no
    * Spark job — until `visit` returns false; returns whether every row
    * was visited. Same reader and pushed filters as [[read]]. Rows are
    * reused buffers: `visit` copies what it keeps.
    */
  def scanLocal(spark: SparkSession, files: Seq[FileMeta], schema: StructType,
      pushedFilters: Seq[Filter])(visit: InternalRow => Boolean): Boolean = {
    val readFn = reader(spark, schema, pushedFilters)
    files.forall { f =>
      val it = readFn(toPartitionedFile(f))
      var drained = false
      try { drained = flatten(it).forall(visit); drained }
      finally if (!drained) release(it)
    }
  }

  /** Release a file's reader left undrained — stopped early, or `visit`
    * or the reader threw. A reader closes itself once drained, and
    * outside a task no completion listener closes it; the vectorized
    * reader's iterator is Closeable, the row-based one can only be
    * drained (best effort: after a failure it may fail again).
    */
  private def release(it: Iterator[InternalRow]): Unit = it match {
    case c: java.io.Closeable => c.close()
    case rest => try rest.foreach(_ => ()) catch {
      case scala.util.control.NonFatal(_) =>
    }
  }

  /** The parquet read function for `schema`. VECTORIZED reading where the
    * schema supports it (round-11 scan profile: the row-based reader was
    * the dominant component of the ordered-scan wall — decoding
    * column-by-column into batches and flattening batch→row is
    * measurably faster than the record-at-a-time parquet-mr path, and
    * row order is unchanged: batches arrive in file order and
    * rowIterator preserves in-batch order).
    * `spark.graft.orderedScan.vectorized=false` restores the row-based
    * reader for A/B profiling.
    */
  private def reader(spark: SparkSession, schema: StructType,
      pushedFilters: Seq[Filter]): PartitionedFile => Iterator[InternalRow] = {
    val vectorized = spark.conf
      .get("spark.graft.orderedScan.vectorized", "true").toBoolean &&
      GraftSqlShims.parquetSupportsBatch(spark, schema)
    GraftSqlShims.parquetReader(spark, schema, schema,
      pushedFilters, Map("returning_batch" -> vectorized.toString),
      GraftSqlShims.hadoopConf(spark))
  }

  /** The reader may emit ColumnarBatch (vectorized path) disguised as
    * InternalRow — flatten it to rows.
    */
  private def flatten(it: Iterator[InternalRow]): Iterator[InternalRow] =
    it.asInstanceOf[Iterator[Any]].flatMap {
      case b: ColumnarBatch => b.rowIterator().asScala
      case r: InternalRow => Iterator.single(r)
    }

  /** Pack consecutive files into partitions up to `maxBytes`, preserving
    * order (never splitting a file — a split would interleave its rows
    * across partitions and break within-scan ordering).
    */
  private def pack(files: Seq[FileMeta],
      maxBytes: Long): Seq[FilePartition] = {
    val parts = Seq.newBuilder[FilePartition]
    val cur = scala.collection.mutable.ArrayBuffer.empty[PartitionedFile]
    var bytes = 0L
    var idx = 0
    def flush(): Unit = if (cur.nonEmpty) {
      parts += FilePartition(idx, cur.toArray)
      idx += 1; cur.clear(); bytes = 0L
    }
    files.foreach { f =>
      if (cur.nonEmpty && bytes + f.size > maxBytes) flush()
      cur += toPartitionedFile(f)
      bytes += f.size
    }
    flush()
    parts.result()
  }

  private def toPartitionedFile(f: FileMeta): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(f.path),
      0L, f.size, Array.empty, 0L, f.size, Map.empty)
}
