package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Filesystem-backed catalog + table storage.
  *
  * Layout (one directory tree per warehouse — the Spark-native analog of
  * the reference's FDB directory layer, reference schema.go:40-47):
  *
  *   warehouse/<db>/<table>/schema.json      column defs + PK (logical names)
  *   warehouse/<db>/<table>/phys.json        physical parquet column names
  *   warehouse/<db>/<table>/data/            parquet, append-only, __seq col
  *   warehouse/<db>/<table>/deletes/         deletion vectors (PK + __dseq)
  *   warehouse/<db>/<table>/seq              monotonic write counter
  *
  * Write semantics: INSERT appends whole rows stamped with a monotonic
  * `__seq`; the read path resolves last-write-wins per PK with a window
  * (SURVEY.md §1.3). At 100 TB this is the standard log+compact layout:
  * appends are cheap parallel parquet writes, and `compact()` folds the
  * log back to one version per key.
  *
  * DELETE writes deletion vectors: the matched PK tuples land in
  * `deletes/` stamped with the delete's sequence number, and reads mask
  * any row version older than a tombstone for its key. No data file is
  * rewritten (a 100 TB table must not be rewritten to drop a range);
  * `compact()` folds tombstones away.
  *
  * Column renames are metadata-only: every data file is written with the
  * table's PHYSICAL column names (`phys.json`, fixed at CREATE TABLE) and
  * reads rename physical→logical, so files written before and after a
  * rename agree and no rewrite happens.
  *
  * DDL serializes on one catalog lock ([[ddl]]), writes to a table on its
  * commit lock ([[withCommitLock]]); reads take neither.
  */
final class Catalog(val spark: SparkSession, val warehouse: String) {
  val SeqCol = "__seq"
  // the live TableDef per "db.tbl": set by create and renames, removed by
  // drop, and filled on a miss, all under the DDL lock
  private val schemaCache = TrieMap.empty[String, TableDef]
  private val ddlLock = new Object

  /** Run `body` under the (reentrant) DDL lock, which every create, drop
    * and rename and every [[getSchema]] miss takes; reads, appends and
    * DELETE never do.
    */
  private def ddl[A](body: => A): A = ddlLock.synchronized(body)

  // ── nanosecond fidelity ──────────────────────────────────────────
  // Spark TimestampType is µs; the reference keys rows by (sec, nsec)
  // at full ns (query.go:754-779). Every Timestamp column therefore
  // stores a companion `<name>__ns` INT remainder (0-999): it joins the
  // key identity (LWW windows, deletion vectors, compaction), the sort
  // order, and the engine's predicate bounds, so ns-distinct keys stay
  // distinct and ns ranges compare exactly. External reads hide the
  // remainder; the µs TimestampType column is the display value.

  /** Logical ns-remainder column name. */
  def nsCol(name: String): String = name + "__ns"

  /** Timestamp columns of the table (the ones carrying remainders). */
  private def tsCols(td: TableDef): Seq[String] =
    td.cols.filter(_.tpe == OtType.Timestamp).map(_.name)

  /** Key columns expanded with ns remainders — the PHYSICAL key
    * identity used by windows, DVs and sorts.
    */
  def keyColsWithNs(td: TableDef): Seq[String] =
    td.keys.flatMap(k =>
      if (k.tpe == OtType.Timestamp) Seq(k.name, nsCol(k.name))
      else Seq(k.name))

  private def nsColNames(td: TableDef): Seq[String] = tsCols(td).map(nsCol)

  private def dbPath(db: String): Path = Paths.get(warehouse, db)
  private def tblPath(db: String, tbl: String): Path = Paths.get(warehouse, db, tbl)

  // ── databases ──

  /** Physical data directory of a table — for the bench harness's scan
    * profiling (reading the same files without the engine's ordered
    * machinery); not part of the query surface.
    */
  def dataPath(td: TableDef): String = dataDir(td).toString

  def hasDatabase(db: String): Boolean = Files.isDirectory(dbPath(db))

  /** Create `db` with its `_adj_` table; when the name is taken, do
    * nothing if `ifNotExists`, else fail.
    */
  def createDatabase(db: String, ifNotExists: Boolean = false): Unit = ddl {
    if (hasDatabase(db)) {
      if (!ifNotExists) throw OtError(s"Database $db already exists")
    } else {
      Files.createDirectories(Paths.get(warehouse))
      Files.createDirectory(dbPath(db))
      // every database gets its _adj_ table (reference schema.go:65,247-262)
      createTable(db, "_adj_")(TableDef.build(db, "_adj_",
        Seq("sec" -> OtType.Int, "time" -> OtType.Timestamp,
          "px" -> OtType.Double, "vol" -> OtType.Double),
        Seq("sec", "time")))
    }
  }

  def dropDatabase(db: String): Unit = ddl {
    listTables(db).foreach(t => dropTable(db, t)) // fails for a missing db
    deleteRecursively(dbPath(db))
  }

  def listDatabases(): Seq[String] = listDirs(Paths.get(warehouse))

  def listTables(db: String): Seq[String] = {
    if (!hasDatabase(db)) throw OtError(s"Database $db does not exist")
    listDirs(dbPath(db))
  }

  /** Directory-stream helper: `Files.list`/`Files.walk` hold an open
    * fd until closed — and several of these run on the per-query hot
    * path, where leaked handles would exhaust the ulimit on a
    * long-lived server.
    */
  private def withStream[A, B](s: java.util.stream.Stream[A])(
      f: Iterator[A] => B): B =
    try f(s.iterator.asScala) finally s.close()

  private def listDirs(p: Path): Seq[String] =
    if (!Files.isDirectory(p)) Nil
    else withStream(Files.list(p))(_.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted)

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      withStream(Files.walk(p))(_.toSeq).reverse.foreach(Files.delete)
    }
  }

  // ── tables ──

  def hasTable(db: String, tbl: String): Boolean =
    Files.isDirectory(tblPath(db, tbl))

  /** Create table `db.tbl` as `define`s under a new incarnation and return
    * it; if the name is taken, return that table when `ifNotExists`, else
    * fail. `define` may reject the definition; it runs for a free name only.
    */
  def createTable(db: String, tbl: String, ifNotExists: Boolean = false)(
      define: => TableDef): TableDef = ddl {
    if (!hasDatabase(db)) throw OtError(s"Database $db does not exist")
    if (hasTable(db, tbl)) {
      if (ifNotExists) getSchema(db, tbl)
      else throw OtError(s"Table $db.$tbl already exists")
    } else {
      val td = define
      val dir = Files.createDirectory(tblPath(db, tbl))
      // physical parquet names are fixed forever at creation; renames only
      // touch schema.json, whose presence marks the table complete
      writePhysNames(dir, td.cols.map(_.name))
      val created = td.copy(incarnation =
        java.util.concurrent.ThreadLocalRandom.current.nextLong(1, Long.MaxValue))
      writeSchema(dir, created)
      schemaCache.put(s"$db.$tbl", created)
      created
    }
  }

  def dropTable(db: String, tbl: String): Unit = ddl(withCommitLock(db, tbl) {
    // error string parity: "does not exists" [sic] (reference schema.go:356)
    if (!hasTable(db, tbl)) throw OtError(s"Table $db.$tbl does not exists")
    schemaCache.remove(s"$db.$tbl")
    deleteRecursively(tblPath(db, tbl))
  })

  def getSchema(db: String, tbl: String): TableDef = {
    val key = s"$db.$tbl"
    schemaCache.getOrElse(key, ddl(schemaCache.getOrElseUpdate(key, {
      if (!hasTable(db, tbl)) throw OtError(s"Table $db.$tbl does not exists")
      readSchema(tblPath(db, tbl), db, tbl)
    })))
  }

  def renameTable(db: String, tbl: String,
      to: String): Unit = ddl(withCommitLock(db, tbl) {
    val td = getSchema(db, tbl)
    Files.move(tblPath(db, tbl), tblPath(db, to),
      StandardCopyOption.ATOMIC_MOVE)
    schemaCache.remove(s"$db.$tbl")
    schemaCache.put(s"$db.$to", td.copy(tblName = to))
    commitLog(db, to).version.incrementAndGet()
  })

  def renameColumn(db: String, tbl: String, from: String,
      to: String): Unit = ddl(withCommitLock(db, tbl) {
    val td = getSchema(db, tbl)
    if (!td.nameMap.contains(from)) throw OtError(s"Column $from does not exist")
    if (td.nameMap.contains(to)) throw OtError(s"Column $to already exists")
    // mirror CREATE TABLE's reserved-suffix validation: a logical name
    // colliding with the ns-companion/seq storage columns would corrupt
    // the phys↔logical mapping
    if (to.endsWith("__ns") || to == "__seq")
      throw OtError(s"Column name $to is reserved")
    val nd = td.copy(
      cols = td.cols.map(c => if (c.name == from) c.copy(name = to) else c),
      keyNames = td.keyNames.map(k => if (k == from) to else k))
    writeSchema(tblPath(db, tbl), nd)
    schemaCache.put(s"$db.$tbl", nd)
    // data untouched: files keep the physical names recorded in phys.json
    // (fixed at CREATE TABLE), and both reads and future writes go through
    // that mapping — so files written before and after the rename agree
  })

  // ── data ──

  private def dataDir(td: TableDef): Path = tblPath(td.dbName, td.tblName).resolve("data")
  private def deletesDir(td: TableDef): Path =
    tblPath(td.dbName, td.tblName).resolve("deletes")

  private def hasParquet(d: Path): Boolean =
    Files.isDirectory(d) && withStream(Files.list(d))(_.exists { f =>
      f.getFileName.toString.endsWith(".parquet")
    })

  private def hasData(td: TableDef): Boolean = hasParquet(dataDir(td))
  private def hasDeletes(td: TableDef): Boolean = hasParquet(deletesDir(td))

  /** Logical to physical column names (the recorded mapping is
    * positional against td.cols; ns remainder columns follow their
    * timestamp column's name).
    */
  private def physNameMap(td: TableDef): Map[String, String] =
    td.cols.map(_.name).zip(physNames(td)).flatMap { case (l, p) =>
      Seq(l -> p, nsCol(l) -> nsCol(p))
    }.toMap

  /** Rename a file-schema DataFrame from physical to logical names. */
  private def physToLogical(td: TableDef, df: DataFrame): DataFrame =
    renameAll(df, physNameMap(td).map(_.swap))

  /** Apply a whole column-rename mapping in ONE positional select —
    * chained withColumnRenamed would pass through intermediate states
    * where a cyclic mapping (a→c, b→a, c→b) creates duplicate names and
    * renames the wrong column. Columns outside the mapping (__seq,
    * __dseq, __rn) pass through unchanged; identity mappings short-
    * circuit to keep clean-read plans Project-free.
    */
  private def renameAll(df: DataFrame, m: Map[String, String]): DataFrame = {
    val cols = df.columns
    if (cols.forall(c => m.getOrElse(c, c) == c)) df
    else df.select(cols.map(c => col(c).as(m.getOrElse(c, c))).toSeq: _*)
  }

  /** Raw append-log rows incl. __seq and ns remainders, with the
    * physical→logical column rename applied. Deletion vectors NOT
    * applied — see [[maskedData]].
    */
  private def rawData(td: TableDef): DataFrame = {
    if (!hasData(td)) {
      val schema = logicalSchemaWithNs(td).add(SeqCol, LongType,
        nullable = false)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], schema)
    }
    // the file schema is fixed at CREATE TABLE: giving it skips the
    // footer-inference job spark.read.parquet would run on every read
    physToLogical(td, spark.read.schema(physSchema(td).add(SeqCol, LongType,
      nullable = true)).parquet(dataDir(td).toString))
  }

  /** Deletion vectors as (logical key cols..., __dseq), or None. */
  private def deleteVectors(td: TableDef): Option[DataFrame] =
    if (!hasDeletes(td)) None
    else {
      val phys = physSchema(td)
      val schema = StructType(logicalToPhysNames(td, keyColsWithNs(td))
        .map(phys(_))).add("__dseq", LongType, nullable = true)
      Some(physToLogical(td,
        spark.read.schema(schema).parquet(deletesDir(td).toString)))
    }

  /** Append-log rows with deletion vectors applied: a row is masked when
    * some tombstone for its key is newer than the row version. One
    * max-aggregate over the (small) DV side plus a left join that AQE
    * broadcasts when the DV set is small — data files are never read for
    * masking beyond the scan already happening.
    */
  private def maskedData(td: TableDef,
      maxSeqExclusive: Option[Long] = None): DataFrame = {
    val base0 = rawData(td)
    val base = maxSeqExclusive.fold(base0)(s => base0.filter(col(SeqCol) < s))
    deleteVectors(td) match {
      case None => base
      case Some(dv0) =>
        val kc = keyColsWithNs(td)
        val dv = maxSeqExclusive.fold(dv0)(s => dv0.filter(col("__dseq") < s))
          .groupBy(kc.map(col): _*)
          .agg(max(col("__dseq")).as("__dseq"))
        base.join(dv, kc, "left")
          .filter(col("__dseq").isNull || col(SeqCol) > col("__dseq"))
          .drop("__dseq")
    }
  }

  /** Last-write-wins view of a table (upsert semantics, whole-row
    * replace — reference query.go:302 `tr.Set`). When the log is known
    * clean — nothing written since the last compaction/import — the
    * dedup window (a full shuffle) is skipped entirely: reads of
    * read-mostly tables are plain pruned parquet scans.
    */
  def readTable(td: TableDef): DataFrame =
    readTableKeepNs(td).drop(nsColNames(td): _*)

  /** [[readTable]] keeping the ns remainder columns — the engine's
    * SELECT path needs them for ns-exact predicates and sort.
    */
  def readTableKeepNs(td: TableDef): DataFrame =
    // rawData's parquet source lists data/ as it is built
    whileClean(td)(rawData(td)) match {
      case Some(df) => df.drop(SeqCol)
      case None => newestPerKey(td, maskedData(td)).drop(SeqCol)
    }

  /** The newest version of each key in `df` (last-write-wins by a window
    * over the PK incl. ns remainders, `__seq` descending).
    */
  private def newestPerKey(td: TableDef, df: DataFrame): DataFrame = {
    val w = Window.partitionBy(keyColsWithNs(td).map(col): _*)
      .orderBy(col(SeqCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Range-ordered read of a CLEAN table with no sort in the plan: the
    * compacted/imported layout is `repartitionByRange` on the leading key
    * + `sortWithinPartitions` on the full PK, so the part files form
    * disjoint, name-ordered key ranges and are internally PK-sorted.
    * [[graft.plans.OrderedParquetScan]] enumerates them in that order
    * through ONE scan node — plan size is O(1) in the file count (the
    * previous per-file union chain grew a plan node per file), collect
    * order IS global PK order, zero Exchange, and files of any size are
    * fine (they are never split).
    *
    * `pushed` filters use LOGICAL column names; they are remapped to the
    * physical file names and handed to the parquet reader for row-group
    * pruning — the pushdown that makes a point/prefix SELECT skip nearly
    * all data even at thousands of files. Callers must keep the exact
    * predicate on top (pruning is a superset gate).
    *
    * Returns None (caller falls back to an explicit sort) when the table
    * is dirty or empty, or a commit lands while its files are listed.
    */
  def readTableOrdered(td: TableDef, reverse: Boolean,
      pushed: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : Option[DataFrame] = {
    val files = whileClean(td)(dataFiles(td)).getOrElse(Nil)
      .sortBy(_.getFileName.toString)
    if (files.isEmpty) return None
    val maxSplit = maxSplitBytes
    val metas = files.map(f =>
      graft.plans.OrderedParquetScan.FileMeta(f.toString, Files.size(f)))
    // Reverse scans reverse one whole file's rows on-heap (one file per
    // partition). Bound that buffer: if any part file outgrew the split
    // budget (e.g. an oversized compaction), decline the ordered path and
    // let the caller's explicit-sort fallback — which spills — handle it.
    if (reverse && metas.exists(_.size > maxSplit)) return None
    val schema = physSchema(td).add(SeqCol, LongType, nullable = true)
    val physFilters = pushed.map(remapFilterToPhys(td, _))
    val df = graft.plans.OrderedParquetScan.read(spark, metas, schema,
      physFilters, reverse, maxSplit)
    Some(physToLogical(td, df).drop(SeqCol))
  }

  /** The table's `data/` parquet files. */
  private def dataFiles(td: TableDef): Seq[Path] =
    if (!Files.isDirectory(dataDir(td))) Nil
    else withStream(Files.list(dataDir(td)))(
      _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq)

  /** The session's scan split size (`spark.sql.files.maxPartitionBytes`):
    * data that fits it is read as one partition by both Spark read paths.
    */
  private def maxSplitBytes: Long =
    spark.conf.get("spark.sql.files.maxPartitionBytes",
      (128L * 1024 * 1024).toString).takeWhile(_.isDigit).toLong

  /** The rows `pred` selects, read on the calling thread with no Spark
    * job, as a DataFrame over a LocalRelation in PK order (reversed when
    * `reverse`) with last-write-wins applied — the SELECT path for small
    * tables. It applies when the table's data files together fit both
    * one scan split and [[Catalog.LocalReadBytes]], and `deletes/` holds
    * no file; otherwise, or when more than [[Catalog.MaxHeldRows]] row
    * versions match, it returns None and the caller takes a Spark read.
    * Without `pred` every row version matches, so the files' footer row
    * counts decide that before any row is decoded.
    *
    * Files are read through the parquet reader Spark's scans use, with
    * the `pushed` PK filters (logical names, as for [[readTableOrdered]])
    * pruning row groups and pages; `pred`, the exact PK predicate, is
    * evaluated interpreted on each row. Kept rows sort by the PK incl.
    * ns remainders, then `__seq` descending, and the first row of each
    * key run wins ([[Catalog.firstOfKeyRuns]], as in
    * [[readTableOrderedDirty]]).
    *
    * It needs no [[whileClean]] check: it always dedupes, so a file a
    * commit publishes while `data/` is listed is either read whole or
    * not at all. Deletion vectors are checked for after the listing, so
    * a DELETE that lands before it sends the read to the masking path.
    */
  def readTableLocal(td: TableDef, reverse: Boolean,
      pushed: Seq[org.apache.spark.sql.sources.Filter],
      pred: Option[org.apache.spark.sql.Column]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending,
      BoundReference, Descending, InterpretedOrdering, SortOrder}
    import org.apache.spark.sql.graftshim.GraftSqlShims
    val paths = dataFiles(td)
    val files = paths.map(f =>
      graft.plans.OrderedParquetScan.FileMeta(f.toString, Files.size(f)))
    if (files.map(_.size).sum > math.min(maxSplitBytes, Catalog.LocalReadBytes)
        || hasDeletes(td)) return None
    // an unfiltered read holds every row version: the footers tell
    // whether they fit before any row is decoded
    if (pred.isEmpty && paths.iterator.scanLeft(0L)(_ + LocalParquet.rowCount(_))
        .exists(_ > Catalog.MaxHeldRows)) return None
    val schema = logicalSchemaWithNs(td).add(SeqCol, LongType, nullable = false)
    val keep = pred.map(GraftSqlShims.interpretedPredicate(spark, schema, _))
    val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    // physical and logical schemas differ in names only: same positions
    val complete = graft.plans.OrderedParquetScan.scanLocal(spark, files,
      physSchema(td).add(SeqCol, LongType, nullable = true),
      pushed.map(remapFilterToPhys(td, _))) { r =>
      if (keep.forall(_(r))) rows += r.copy()
      rows.length <= Catalog.MaxHeldRows
    }
    if (!complete) return None
    val keyIdx = keyColsWithNs(td).map(schema.fieldIndex).toArray
    val keyTypes = keyIdx.map(schema(_).dataType)
    def ref(i: Int) = BoundReference(i, schema(i).dataType, nullable = false)
    rows.sortInPlace()(new InterpretedOrdering(keyIdx.toSeq.map(i =>
      SortOrder(ref(i), if (reverse) Descending else Ascending)) :+
      SortOrder(ref(schema.fieldIndex(SeqCol)), Descending)))
    val winners = Catalog.firstOfKeyRuns(rows.iterator, keyIdx, keyTypes).toSeq
    Some(GraftSqlShims.localDf(spark, schema, winners).drop(SeqCol))
  }

  /** Range-ordered LWW read of a DIRTY table — the SELECT fallback when
    * [[readTableOrdered]] declines. One range exchange + in-partition
    * sort on (PK incl. ns remainders, `__seq` desc) + an adjacent-run
    * first-wins dedupe, instead of the previous two-shuffle shape (hash
    * window for LWW, then a global sort for presentation order). After
    * the sort, all versions of a key are adjacent with the newest
    * first, so keeping each key-run's first row IS last-write-wins, and
    * concatenated range partitions are already in global PK order
    * (reverse order when `reverse`) — the same presentation contract as
    * the clean path (reference query.go:158). At 100 TB this is the
    * standard LSM merge-read: one shuffle of the log, however many
    * appends have landed.
    *
    * `pre` is an optional PK predicate applied BEFORE the exchange —
    * every version of a key shares its PK values, so PK predicates
    * commute with per-key LWW dedupe, and filtering early keeps the
    * shuffle sized to the selected range. The adjacent dedupe is a
    * `mapPartitions` (the narrow-operator exception the design doc
    * allows): no composition of declarative ops expresses "first row
    * of each equal-key run" without re-introducing a hash exchange.
    */
  def readTableOrderedDirty(td: TableDef, reverse: Boolean,
      pre: Option[org.apache.spark.sql.Column]): DataFrame = {
    val base0 = maskedData(td)
    val base = pre.map(base0.filter).getOrElse(base0)
    val keys = keyColsWithNs(td)
    def dir(n: String) = if (reverse) col(n).desc else col(n).asc
    val sortCols = keys.map(dir) :+ col(SeqCol).desc
    // range partitioning pays a SAMPLING pass over the source to pick
    // boundaries; when the whole log fits one scan split the sorted
    // output is a single partition anyway, so a plain 1-partition
    // exchange (no sampling) is strictly cheaper. The byte gate keeps
    // this a small-table fast path — big logs take the sampled range
    // exchange that scales.
    val logBytes = dataFiles(td).map(p =>
      try Files.size(p) catch { case _: Throwable => 0L }).sum
    val sorted =
      if (logBytes <= maxSplitBytes)
        base.repartition(1).sortWithinPartitions(sortCols: _*)
      else base.repartitionByRange(keys.map(dir): _*)
        .sortWithinPartitions(sortCols: _*)
    // adjacent-run first-wins dedupe at the InternalRow level: the
    // external-Row encoder round trip costs more than the whole scan
    // at this shape
    val schema = sorted.schema
    val keyIdx = keys.map(schema.fieldIndex).toArray
    val keyTypes = keyIdx.map(schema(_).dataType)
    val rdd = sorted.queryExecution.toRdd.mapPartitions(
      Catalog.firstOfKeyRuns(_, keyIdx, keyTypes))
    org.apache.spark.sql.graftshim.GraftSqlShims
      .internalDf(spark, rdd, schema).drop(SeqCol)
  }

  /** Rename the column of a pushed-down filter from logical to physical
    * (only the comparison shapes the engine generates).
    */
  private def remapFilterToPhys(td: TableDef,
      f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.sources.Filter = {
    import org.apache.spark.sql.sources._
    def p(n: String): String = logicalToPhysNames(td, Seq(n)).head
    f match {
      case EqualTo(n, v) => EqualTo(p(n), v)
      case GreaterThan(n, v) => GreaterThan(p(n), v)
      case GreaterThanOrEqual(n, v) => GreaterThanOrEqual(p(n), v)
      case LessThan(n, v) => LessThan(p(n), v)
      case LessThanOrEqual(n, v) => LessThanOrEqual(p(n), v)
      case other => other
    }
  }

  /** Time-travel: the LWW view as of commit `seq` (inclusive) — a free
    * capability of the append-log layout. `writeVersion` returns the
    * current commit counter to capture before mutating. Versions count
    * commits, not calls: concurrent appends drained into one group
    * commit share one version, so travel cannot stop between them.
    * Deletion vectors newer than `seq` are ignored, so travel before a
    * DELETE resurrects the rows.
    */
  def readTableAsOf(td: TableDef, seq: Long): DataFrame =
    // batch seqs pack the row index
    newestPerKey(td, maskedData(td, Some((seq + 1) * 1000000L)))
      .drop((SeqCol +: nsColNames(td)): _*)

  /** The table's current commit counter (see [[readTableAsOf]]). */
  def writeVersion(td: TableDef): Long = currentSeq(td)

  private def cleanMarker(td: TableDef): Path =
    tblPath(td.dbName, td.tblName).resolve("clean_at_seq")

  private def seqFile(td: TableDef): Path =
    tblPath(td.dbName, td.tblName).resolve("seq")

  /** The number a metadata file holds, 0 when it is absent. */
  private def readLong(p: Path): Long =
    if (!Files.exists(p)) 0L
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toLong

  private def currentSeq(td: TableDef): Long = readLong(seqFile(td))

  /** `list` (a listing of `data/`) when the table is clean — no write
    * since the last compact/import — from before the listing to after
    * it; None when dirty. Readers hold no commit lock, and a commit
    * claims its seq before it publishes its file, so an unchanged seq
    * around the listing means the listing holds no newer file (and needs
    * no LWW dedupe).
    */
  private[engine] def whileClean[A](td: TableDef)(list: => A): Option[A] = {
    val m = cleanMarker(td)
    if (!Files.exists(m)) return None
    val seq = currentSeq(td)
    if (readLong(m) != seq) return None
    val listed = list
    if (currentSeq(td) == seq) Some(listed) else None
  }

  private def markClean(td: TableDef): Unit =
    replaceFile(cleanMarker(td), currentSeq(td).toString)

  /** Replace a small metadata file by an atomic rename, so readers that
    * hold no lock never see it truncated. Writers of one file hold the
    * lock that orders them (the commit lock for `seq` and `clean_at_seq`,
    * the DDL lock for `schema.json`), so the staging name is theirs alone.
    */
  private def replaceFile(p: Path, content: String): Unit = {
    val tmp = p.resolveSibling("." + p.getFileName + ".tmp")
    Files.write(tmp, content.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Claim the table's next seq. Every caller (a commit, an import, a
    * DELETE) holds the table's commit lock, which serializes the
    * read-modify-write. Cross-process claims are out of scope (the
    * reference is a single server process too).
    */
  private def nextSeq(td: TableDef): Long = {
    val next = currentSeq(td) + 1
    replaceFile(seqFile(td), next.toString)
    next
  }

  /** Rename a logical-name DataFrame to physical names for writing. */
  private def logicalToPhys(td: TableDef, df: DataFrame): DataFrame =
    renameAll(df, physNameMap(td))

  /** The table's schema under `names` (positional against td.cols): each
    * Timestamp column is followed by its `__ns` remainder.
    */
  private def schemaWithNs(td: TableDef, names: Seq[String]): StructType =
    StructType(td.cols.zip(names).flatMap { case (c, n) =>
      val main = StructField(n, c.tpe.spark, nullable = !c.isKey)
      if (c.tpe == OtType.Timestamp)
        Seq(main, StructField(nsCol(n), IntegerType, nullable = !c.isKey))
      else Seq(main)
    })

  /** Physical file schema. */
  private def physSchema(td: TableDef): StructType =
    schemaWithNs(td, physNames(td))

  /** Logical schema incl. ns remainders (the rawData shape). */
  private def logicalSchemaWithNs(td: TableDef): StructType =
    schemaWithNs(td, td.cols.map(_.name))

  /** Append whole rows (order matches td.cols); returns once they are
    * committed. One COMMIT — not one call — is one batch, one `__seq`
    * stamp and one parquet file: appends to the same table that queue
    * while another commit is writing are drained together, in arrival
    * order, by whichever caller next holds the table's commit lock
    * (group commit; a lone caller commits a group of one, and nothing
    * waits on a timer). Rows within a commit share its seq, and a later
    * row wins via the row index tiebreak packed into the low 6 decimal
    * digits — so a later arrival in the same group wins just as a later
    * commit does. Hence the 1M-row cap, per call and per group, which
    * keeps a batch from overflowing into the next batch's seq space and
    * corrupting LWW/time-travel ordering; a group also stays within
    * [[Catalog.MaxBatchBytes]] and to appends of one table incarnation:
    * if the table was dropped or re-created since `td` was resolved, the
    * commit fails with the missing-table error. A failed write fails every
    * call of its group and publishes no file; a written one bumps the
    * table's [[version]] before any call of its group returns.
    */
  def appendRows(td: TableDef, rows: Seq[Seq[Any]]): Unit = {
    if (rows.length >= Catalog.MaxBatchRows)
      throw OtError(s"Batch insert of ${Catalog.MaxBatchRows} rows or more " +
        "is not supported; split into smaller batches")
    // FDB-analog BYTE bound (reference bindings/go/test.go:58-59 sizes
    // its batches "limited by foundationdb transaction size" — FDB
    // caps a transaction at 10 MB): the row-count guard alone misses
    // wide text rows (500k 1 KB documents is 500 MB of driver-held
    // payload under the 1M-row cap). The estimate is one cheap pass —
    // ~9 bytes per fixed-width cell (tag + value), string length + 13
    // framing — deliberately coarse; it guards driver memory and
    // mirrors the reference's batch-size contract, not an exact codec.
    var estBytes = 0L
    rows.foreach { r =>
      var c = 0
      while (c < r.length) {
        estBytes += (r(c) match {
          case s: String => 13L + s.length
          case null => 1L
          case _ => 9L
        })
        c += 1
      }
    }
    if (estBytes > Catalog.MaxBatchBytes)
      throw OtError(s"Batch insert of ~$estBytes bytes exceeds the " +
        s"${Catalog.MaxBatchBytes}-byte batch bound (the reference's " +
        "FoundationDB transaction-size limit); split into smaller batches")
    val log = commitLog(td.dbName, td.tblName)
    val me = new Catalog.Append(td, rows, estBytes)
    log.queue.add(me)
    log.lock.lock()
    try while (!me.done) commitGroup(log)
    finally log.lock.unlock()
    if (me.error != null) throw me.error
  }

  // per-table commit lock, queue of appends waiting on it and version;
  // kept for the catalog's life (one small entry per table name ever used)
  private val commitLogs = TrieMap.empty[String, Catalog.CommitLog]

  private def commitLog(db: String, tbl: String): Catalog.CommitLog =
    commitLogs.getOrElseUpdate(s"$db.$tbl", new Catalog.CommitLog)

  /** The table's version, bumped once a change to its rows or schema is
    * visible: what is derived from the table after reading version v is
    * current while the version is still v.
    */
  private[engine] def version(db: String, tbl: String): Long =
    commitLog(db, tbl).version.get

  /** Run `body` holding the table's commit lock: no append commits, and
    * no other holder drops, renames, deletes from or rewrites the table
    * meanwhile. Every change to a table's rows or schema runs in here, so
    * the table's [[version]] is bumped as `body` ends, before the lock is
    * released (a needless bump only costs a recompute). Lock order: the DDL lock (when taken) before a
    * commit lock, and one table's commit lock at a time. So a commit-lock
    * holder never waits on the DDL lock: a commit checks its table by
    * [[tableNow]], not [[getSchema]].
    */
  private[engine] def withCommitLock[A](db: String, tbl: String)(body: => A): A = {
    val log = commitLog(db, tbl)
    log.lock.lock()
    try body finally { log.version.incrementAndGet(); log.lock.unlock() }
  }

  /** [[withCommitLock]] on `td`'s table, failing as a missing table unless
    * it still has `td`'s incarnation: a write resolved before a DROP or
    * RENAME must neither re-create a directory nor land in a new table.
    */
  private def withTableLock[A](td: TableDef)(body: => A): A =
    withCommitLock(td.dbName, td.tblName) {
      if (!tableNow(td).exists(_.incarnation == td.incarnation))
        throw OtError(s"Table ${td.dbName}.${td.tblName} does not exists")
      body
    }

  /** Appends queued on the table's commit lock (for specs that park it). */
  private[engine] def queuedAppends(td: TableDef): Int =
    commitLog(td.dbName, td.tblName).queue.size

  /** Under the table's commit lock: take the queued appends from the head
    * in arrival order while they were bound to the head's incarnation and
    * the group stays under both batch bounds, and write them as one file
    * under one seq with the head's TableDef. Every member learns the
    * outcome. An append bound to another incarnation (its table was
    * dropped and re-created meanwhile) heads a later group of its own.
    */
  private def commitGroup(log: Catalog.CommitLog): Unit = {
    // non-empty: the caller's own append stays queued until a commit
    // under this lock takes it, and each call passed both bounds alone
    val head = log.queue.poll()
    val members = scala.collection.mutable.ArrayBuffer(head)
    var nRows = head.rows.length.toLong
    var nBytes = head.estBytes
    var next = log.queue.peek()
    while (next != null && next.td.incarnation == head.td.incarnation &&
        nRows + next.rows.length < Catalog.MaxBatchRows &&
        nBytes + next.estBytes <= Catalog.MaxBatchBytes) {
      members += log.queue.poll()
      nRows += next.rows.length
      nBytes += next.estBytes
      next = log.queue.peek()
    }
    // re-entered: the version is bumped before any member sees `done`
    val error =
      try {
        withTableLock(head.td)(
          writeBatch(head.td, members.iterator.flatMap(_.rows)))
        null
      } catch { case e: Throwable => e }
    members.foreach { m => m.error = error; m.done = true }
  }

  /** The table now named like `td`, read without the DDL lock: under the
    * commit lock no DROP or RENAME of it runs, and CREATE writes the cache
    * entry after `schema.json`, whole.
    */
  private def tableNow(td: TableDef): Option[TableDef] =
    schemaCache.get(s"${td.dbName}.${td.tblName}").orElse {
      val dir = tblPath(td.dbName, td.tblName)
      if (!Files.exists(dir.resolve("schema.json"))) None
      else Some(readSchema(dir, td.dbName, td.tblName))
    }

  /** One commit: a new seq and one part file holding `rows`. */
  private def writeBatch(td: TableDef, rows: Iterator[Seq[Any]]): Unit = {
    val seq = nextSeq(td)
    val schema = physSchema(td).add(SeqCol, LongType, nullable = false)
    // tight loop: this is the 100k-rows/batch ingest hot path
    val isTs = td.cols.map(_.tpe == OtType.Timestamp).toArray
    val width = schema.length
    val nCols = isTs.length
    var i = 0
    val cellRows = rows.map { r =>
      val cells = new Array[Any](width)
      var c = 0
      var o = 0
      while (c < nCols) {
        val v = r(c)
        if (isTs(c)) {
          // Timestamp splits into (µs Instant, sub-µs remainder)
          v match {
            case t: java.time.Instant =>
              val nano = t.getNano
              cells(o) = java.time.Instant.ofEpochSecond(t.getEpochSecond,
                nano / 1000L * 1000L)
              cells(o + 1) = nano % 1000
            case other =>
              cells(o) = other
              cells(o + 1) = if (other == null) null else 0
          }
          o += 2
        } else { cells(o) = v; o += 1 }
        c += 1
      }
      cells(width - 1) = seq * 1000000L + i
      i += 1
      cells
    }
    // a batch is driver-resident by contract: write the part file
    // directly (LocalParquet), skipping a per-batch Spark job + commit
    // protocol that buys no parallelism for a coalesce(1) write
    Files.createDirectories(dataDir(td))
    LocalParquet.write(
      dataDir(td).resolve(f"part-append-$seq%06d-${
        java.util.UUID.randomUUID}.parquet"),
      schema, cellRows)
  }

  /** Bulk import: distributed write of a whole DataFrame as seq-0 rows in
    * the PK-sorted layout (`repartitionByRange` on the leading key +
    * `sortWithinPartitions` on the full PK — SURVEY.md §1.3), so parquet
    * min/max stats give range pruning on PK scans. Column order/types
    * must already match the TableDef.
    */
  def importData(td: TableDef, df: DataFrame): Unit = withTableLock(td) {
    val wasEmpty = !hasData(td)
    val seq = nextSeq(td)
    // bulk imports arrive through Spark TimestampType (µs): remainders 0
    val withNs = tsCols(td).foldLeft(df)((d, c) =>
      d.withColumn(nsCol(c), lit(0)))
      .select(logicalSchemaWithNs(td).fieldNames.toIndexedSeq.map(col): _*)
    val sorted = logicalToPhys(td, withNs)
      .withColumn(SeqCol, lit(seq * 1000000L))
      .repartitionByRange(col(physNames(td).head))
      .sortWithinPartitions(logicalToPhysNames(td, keyColsWithNs(td))
        .map(col): _*)
    sorted.write.mode("append").parquet(dataDir(td).toString)
    // a bulk import into an empty table IS its compacted form: reads can
    // skip the LWW window until the next append lands
    if (wasEmpty) markClean(td)
  }

  /** Map logical column names (possibly incl. ns remainders) to their
    * physical file names.
    */
  private def logicalToPhysNames(td: TableDef,
      names: Seq[String]): Seq[String] = {
    val m = physNameMap(td)
    names.map(n => m.getOrElse(n, n))
  }

  /** Delete rows matching `pred` by writing deletion vectors: the
    * matched PK tuples land in `deletes/` stamped with this delete's
    * seq, and reads mask older row versions. O(matched keys), no data
    * file rewritten — the shape that survives a 100 TB table. A full
    * DELETE (no predicate) is a metadata drop of the data dir.
    */
  def deleteWhere(td: TableDef, pred: Option[org.apache.spark.sql.Column]): Unit =
      withTableLock(td) {
    val dir = tblPath(td.dbName, td.tblName)
    if (hasData(td)) pred match {
      case None =>
        deleteRecursively(dir.resolve("data"))
        deleteRecursively(dir.resolve("deletes"))
      case Some(p) =>
        // WHERE is PK-only (resolveWhere), so any version of a key
        // matches iff all do: distinct matched keys from the raw log
        val seq = nextSeq(td)
        val matched = rawData(td).filter(p)
          .select(keyColsWithNs(td).map(col): _*).distinct()
          .withColumn("__dseq", lit(seq * 1000000L))
        logicalToPhys(td, matched).coalesce(1)
          .write.mode("append").parquet(deletesDir(td).toString)
    }
  }

  /** Tail the table's append log as a stream: every append commit is
    * one parquet file, so Spark's file-stream source surfaces each
    * commit — one caller's batch, or a group of concurrent appends — as
    * its unit of change: a live subscription to table changes (the push
    * counterpart of the reference clients' polling).
    * Rows keep `__seq` for downstream LWW/ordering; physical→logical
    * renames are applied like any read.
    */
  def tailTable(td: TableDef): DataFrame = {
    Files.createDirectories(dataDir(td))
    val schema = physSchema(td).add(SeqCol, LongType, nullable = true)
    physToLogical(td,
      spark.readStream.schema(schema).parquet(dataDir(td).toString))
  }

  /** Fold the append log to one version per PK and fold deletion
    * vectors away (the scale-path maintenance op; optional for
    * correctness). Holds the table's commit lock throughout, so no
    * commit lands between the read of `data/` and its replacement.
    */
  def compact(td: TableDef): Unit = withTableLock(td) {
    if (hasData(td)) compactData(td)
  }

  private def compactData(td: TableDef): Unit = {
    val dir = tblPath(td.dbName, td.tblName)
    val folded = newestPerKey(td, maskedData(td))
    val sorted = logicalToPhys(td, folded)
      .repartitionByRange(col(physNames(td).head))
      .sortWithinPartitions(logicalToPhysNames(td, keyColsWithNs(td))
        .map(col): _*)
    val tmp = dir.resolve("data_tmp")
    sorted.write.mode("overwrite").parquet(tmp.toString)
    deleteRecursively(dir.resolve("data"))
    Files.move(tmp, dir.resolve("data"), StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(dir.resolve("deletes"))
    markClean(td)
  }

  // ── schema persistence (tiny hand-rolled JSON; idents are [A-Za-z0-9_]) ──

  private def writePhysNames(dir: Path, names: Seq[String]): Unit =
    Files.write(dir.resolve("phys.json"),
      names.map(n => s""""$n"""").mkString("[", ",", "]")
        .getBytes(StandardCharsets.UTF_8))

  /** Physical parquet column names, positional against td.cols. Tables
    * created before phys.json existed fall back to logical names.
    */
  private def physNames(td: TableDef): Seq[String] = {
    val p = tblPath(td.dbName, td.tblName).resolve("phys.json")
    if (!Files.exists(p)) td.cols.map(_.name)
    else "\"([^\"]*)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .map(_.group(1)).toSeq
  }

  private def writeSchema(dir: Path, td: TableDef): Unit = {
    val cols = td.cols.map(c => s"""["${c.name}","${c.tpe.name}"]""")
      .mkString("[", ",", "]")
    val keys = td.keyNames.map(k => s""""$k"""").mkString("[", ",", "]")
    replaceFile(dir.resolve("schema.json"),
      s"""{"incarnation":${td.incarnation},"cols":$cols,"keys":$keys}""")
  }

  private def readSchema(dir: Path, db: String, tbl: String): TableDef = {
    val json = new String(Files.readAllBytes(dir.resolve("schema.json")),
      StandardCharsets.UTF_8)
    // format is fully controlled (written above): extract quoted strings
    val colsPart = json.substring(json.indexOf("\"cols\":") + 7,
      json.indexOf(",\"keys\""))
    val keysPart = json.substring(json.indexOf("\"keys\":") + 7,
      json.lastIndexOf("}"))
    def strings(s: String): Seq[String] =
      "\"([^\"]*)\"".r.findAllMatchIn(s).map(_.group(1)).toSeq
    val colStrs = strings(colsPart)
    val cols = colStrs.grouped(2).map { case Seq(n, t) =>
      n -> OtType.fromName(t)
    }.toSeq
    // a schema.json written before incarnations existed reads as 0
    val incarnation = "\"incarnation\":(\\d+)".r.findFirstMatchIn(json)
      .fold(0L)(_.group(1).toLong)
    TableDef.build(db, tbl, cols, strings(keysPart))
      .copy(incarnation = incarnation)
  }
}

object Catalog {
  /** Per-batch estimated-byte bound for [[Catalog.appendRows]] — the
    * analog of the reference's FoundationDB 10 MB transaction-size
    * limit (reference bindings/go/test.go:58-59; FDB known-limitations
    * page), which is what actually capped the reference's batch
    * inserts. Complements the 1M-row guard: the row cap bounds seq
    * packing, this bounds driver-held payload for wide text rows.
    */
  val MaxBatchBytes: Long = 10000000L

  /** Row bound of one batch: the row index packs into the low 6 decimal
    * digits of `__seq`.
    */
  val MaxBatchRows: Int = 1000000

  /** Rows a read may hold in memory: the most row versions
    * [[Catalog.readTableLocal]] buffers before it declines, and the
    * largest result the engine's response cache keeps.
    */
  val MaxHeldRows: Int = 10000

  /** The most data-file bytes [[Catalog.readTableLocal]] reads on one
    * thread. Above it the Spark read's parallel scan wins where parquet
    * statistics prune little: on a 4-core VM a point get of a 95 MB
    * append log of random keys took 487 ms locally against 415 ms
    * through Spark, while at 46 MB the local read still won (313 against
    * 374 ms; medians of 7).
    */
  val LocalReadBytes: Long = 48L << 20

  /** Last-write-wins over rows sorted by key, then `__seq` descending:
    * all versions of a key are adjacent with the newest first, so the
    * first row of each run of equal keys (`keyIdx` positions) is the
    * winner. Rows may be reused buffers, so the previous key is copied
    * out (UTF8String values materialized) for the comparison; emitted
    * rows keep the input's buffer contract.
    */
  private[engine] def firstOfKeyRuns(rows: Iterator[InternalRow],
      keyIdx: Array[Int], keyTypes: Array[DataType]): Iterator[InternalRow] = {
    val nk = keyIdx.length
    var prev: Array[Any] = null
    rows.filter { r =>
      val cur = new Array[Any](nk)
      var i = 0
      var same = prev != null
      while (i < nk) {
        cur(i) = r.get(keyIdx(i), keyTypes(i)) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => other
        }
        if (same && cur(i) != prev(i)) same = false
        i += 1
      }
      if (!same) prev = cur
      !same
    }
  }

  /** One [[Catalog.appendRows]] call waiting for its commit. `done` and
    * `error` are written and read under the table's commit lock.
    */
  private final class Append(val td: TableDef, val rows: Seq[Seq[Any]],
      val estBytes: Long) {
    var done = false
    var error: Throwable = null
  }

  /** A table's commit lock, the appends queued on it, and its version. */
  private final class CommitLog {
    val lock = new java.util.concurrent.locks.ReentrantLock()
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[Append]()
    val version = new java.util.concurrent.atomic.AtomicLong
  }
}
