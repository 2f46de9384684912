package graft.engine

import graft.operators.Adj
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions._
import Ast._
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Permission levels (reference user.go:14-20). */
object Perm extends Enumeration {
  val No, Readable, Writable = Value
}

/** A user with db/table permissions (reference user.go:22-27).
  * Perm string format: `db=write;db2=read;db2.tbl=write`.
  */
final case class User(name: String, passwordSha1: String, isAdmin: Boolean,
    perm: Map[String, Perm.Value]) {
  def checkPassword(pw: String): Boolean = passwordSha1 == Engine.sha1(pw)
  def perm2Str: String = perm.map { case (k, v) =>
    k + "=" + (if (v == Perm.Writable) "write" else "read")
  }.mkString(";")
}

/** Resolved statement forms (reference query.go:436-562). */
private object Resolved {
  final case class Cond(var equal: Option[Any] = None,
      var start: Option[(Any, Boolean)] = None,
      var end: Option[(Any, Boolean)] = None) {
    def isEmpty: Boolean = equal.isEmpty && start.isEmpty && end.isEmpty
    def isRange: Boolean = start.nonEmpty || end.nonEmpty
  }
  final case class PlaceholderRef(idx: Int)
  final case class AdjCol(posInSelect: Int, which: Int, backward: Boolean)
  final case class SelectS(td: TableDef, conds: Seq[Cond], cols: Seq[ColDef],
      nPlaceholders: Int, limit: Int, reverse: Boolean, adjs: Seq[AdjCol])
  final case class InsertS(td: TableDef, values: Array[Any],
      nPlaceholders: Int)
  final case class DeleteS(td: TableDef, conds: Seq[Cond], nPlaceholders: Int)
}

/** The Spark-hosted engine exposing the reference's statement surface
  * (reference query.go / server.go meta commands) over Catalog tables,
  * plus full Spark SQL/DataFrame passthrough on the same data.
  */
final class Engine(val spark: SparkSession, val warehouse: String) {
  import Engine.ReadOf
  import Resolved._

  val catalog = new Catalog(spark, warehouse)
  /** The db that [[execute]] and [[batchInsert]] resolve against. */
  @volatile private var currentDb: String = ""
  private val users = TrieMap.empty[String, User]
  // per-db `_adj_` factors with the `_adj_` table version they were read
  // at: a write to `_adj_` bumps the version (reference adj.go:34-47)
  private val adjCache =
    TrieMap.empty[String, (Long, Map[Int, Array[Adj.Factor]])]

  /** Execute against `db` as the current db (the wire server keeps one db
    * per CONNECTION, reference server.go:232 `usedDbName`); an empty `db`
    * means the engine's [[use]] db. See [[execute]].
    */
  def executeWithDb(sql: String, args: Seq[Any], user: Option[User],
      db: String): DataFrame =
    run(sql, args, user, orCurrent(db), keepNs = false)

  /** [[batchInsert]] against `db` as the current db (wire server
    * connections carry their own used db).
    */
  def batchInsertWithDb(sql: String, argsArray: Seq[Seq[Any]],
      user: Option[User], db: String): Unit =
    Parser.parse(sql) match {
      case s: Insert => insert(resolveInsert(s, user, orCurrent(db)), argsArray)
      case _ => throw OtError("Only insert can be batched")
    }

  /** Wire-facing variant: SELECT results additionally carry the `__ns`
    * companion of every selected timestamp column, so the server can
    * emit full (sec, nsec) pairs — the reference's wire precision.
    * Non-SELECT statements behave exactly like [[executeWithDb]].
    */
  def executeWireNs(sql: String, args: Seq[Any], user: Option[User],
      db: String): DataFrame =
    run(sql, args, user, orCurrent(db), keepNs = true)

  def use(db: String, user: Option[User] = None): Unit = {
    if (!catalog.hasDatabase(db)) throw OtError(s"Database $db does not exist")
    requirePerm(Perm.Readable, db, "", user)
    currentDb = db
  }

  def currentDatabase: String = currentDb

  // ── entry point ──

  /** Parse, resolve against the current db, and run, on the calling
    * thread and under no engine lock: concurrent statements meet only in
    * the catalog. DDL serializes there on one lock; an INSERT commits
    * through [[Catalog.appendRows]], where concurrent inserts into one
    * table share a group commit, and fails if its table was dropped or
    * re-created meanwhile; a DELETE takes its table's commit lock. A
    * SELECT reads through the catalog (a small table is read on this
    * thread with no Spark job, [[Catalog.readTableLocal]]), and table
    * functions run their eager rounds here too. The returned DataFrame's
    * execution takes no lock.
    */
  def execute(sql: String, args: Seq[Any] = Nil,
      user: Option[User] = None): DataFrame =
    run(sql, args, user, currentDb, keepNs = false)

  private def orCurrent(db: String): String =
    if (db != null && db.nonEmpty) db else currentDb

  /** The one statement path of every entry point: parse, resolve
    * unqualified table names against `db`, run.
    */
  private def run(sql: String, args: Seq[Any], user: Option[User], db: String,
      keepNs: Boolean): DataFrame =
    Parser.parse(sql) match {
      case s: Select => select(resolveSelect(s, user, db), args, keepNs)
      case s: SelectFn => executeTableFn(s, args, user, db)
      case stmt => update(stmt, args, user, db); emptyDf
    }

  /** Run a statement that returns no rows (any but the SELECTs). */
  private def update(stmt: Stmt, args: Seq[Any], user: Option[User],
      db: String): Unit = (stmt: @unchecked) match {
    case s: Insert => insert(resolveInsert(s, user, db), Seq(args))
    case s: Delete => executeDelete(resolveDelete(s, user, db), args)
    case CreateDatabase(ine, name) =>
      if (user.exists(!_.isAdmin)) throw OtError("No permisssion")
      catalog.createDatabase(name, ine)
    case CreateTable(ine, tblName, cols, keys) =>
      val tdb = resolveDbName(tblName, db)
      requirePerm(Perm.Writable, tdb, "", user)
      createTableChecked(tdb, tblName.table, cols, keys, ine)
    case DropDatabase(name) =>
      if (user.exists(!_.isAdmin)) throw OtError("No permisssion")
      catalog.dropDatabase(name)
    case DropTable(tbl) =>
      val tdb = resolveDbName(tbl, db)
      requirePerm(Perm.Writable, tdb, tbl.table, user)
      catalog.dropTable(tdb, tbl.table)
    case RenameTable(tbl, to) =>
      val td = tableSchema(tbl, db)
      requirePerm(Perm.Writable, td.dbName, td.tblName, user)
      catalog.renameTable(td.dbName, td.tblName, to)
    case RenameColumn(tbl, from, to) =>
      val td = tableSchema(tbl, db)
      requirePerm(Perm.Writable, td.dbName, td.tblName, user)
      catalog.renameColumn(td.dbName, td.tblName, from, to)
  }

  /** Register every table of `db` as a temp view named `<db>_<table>`
    * and return the view names — full Spark SQL (joins, aggregations,
    * windows, set ops) over engine tables, the north-star §2.5 surface.
    */
  def registerViews(db: String): Seq[String] =
    catalog.listTables(db).map { tbl =>
      val name = s"${db}_$tbl"
      catalog.readTable(catalog.getSchema(db, tbl)).createOrReplaceTempView(name)
      name
    }

  /** Full Spark SQL over previously registered engine views. */
  def sparkSql(sql: String): DataFrame = spark.sql(sql)

  // TTL response cache for selects, keyed (sql, args) — reference
  // server.go:37-40/342-350. Staleness within the TTL is accepted
  // behavior (golden: server_test.go:161-183).
  // Keyed on a STRUCTURED tuple, not a joined string: a user or db name
  // containing spaces must never textually alias another principal's key
  // (that would partially re-open the cross-user cache-serve hole the
  // user-in-key fix closed).
  private val respCache =
    TrieMap.empty[(String, String, String, String, Seq[Any]),
      (Long, Array[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType)]

  /** Like [[execute]] but memoizing SELECT results for `ttlMs`. Results
    * larger than `maxCacheRows` are NOT cached (and cost one bounded
    * probe job): the reference caches wire responses that FDB's range
    * limits keep small, whereas an unlimited select collected to the
    * driver here would be the driver OOM at scale. `proto` joins the
    * cache key (the reference keys its response cache on the wire
    * protocol too, server.go:344 `fmt.Sprint(useJson)`); `db` is the
    * per-call current-db override (wire connections); `wireNs` keeps
    * the `__ns` companions so cached wire responses keep full
    * nanosecond precision. Entry count is bounded: past
    * `maxCacheEntries` the expired entries are swept, and if everything
    * is still live the whole cache resets (the reference's TTL cache
    * evicts on a janitor interval; this is the allocation-free analog).
    */
  def executeCached(sql: String, args: Seq[Any] = Nil, ttlMs: Long = 1000,
      user: Option[User] = None, maxCacheRows: Int = Catalog.MaxHeldRows,
      proto: String = "", db: String = "", wireNs: Boolean = false,
      maxCacheEntries: Int = 1000): DataFrame = {
    // the user joins the key so a cached result is never served across
    // differently-privileged users without its permission check (the
    // reference keys only sql+args+useJson — an inherited gap, fixed here)
    val who = user.fold("-")(u => "u:" + u.name)
    val key = (proto, db, who, sql, args)
    val now = System.currentTimeMillis()
    respCache.get(key).filter(now - _._1 <= ttlMs) match {
      case Some((_, rows, schema)) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      case None =>
        val df =
          if (wireNs) executeWireNs(sql, args, user, db)
          else executeWithDb(sql, args, user, db)
        if (sql.trim.toLowerCase.startsWith("select")) {
          val rows = try df.limit(maxCacheRows + 1).collect()
            catch { case NonFatal(e) => throw readFailure(df, e) }
          if (rows.length > maxCacheRows) df
          else {
            if (respCache.size >= maxCacheEntries) {
              respCache.filterInPlace((_, v) => now - v._1 <= ttlMs)
              if (respCache.size >= maxCacheEntries) respCache.clear()
            }
            respCache.put(key, (now, rows, df.schema))
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          }
        } else df
    }
  }

  /** Create a table from a DataFrame (schema derived from the Spark
    * types) and bulk-load it through the distributed PK-sorted writer.
    */
  def importTable(db: String, tbl: String, df: DataFrame,
      keys: Seq[String]): TableDef = {
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.toSeq.map { f =>
      val t = f.dataType match {
        case ByteType => OtType.TinyInt
        case ShortType => OtType.SmallInt
        case IntegerType => OtType.Int
        case LongType => OtType.BigInt
        case FloatType => OtType.Float
        case DoubleType => OtType.Double
        // tz-less parquet timestamps surface as NTZ; with a UTC session
        // the cast to TimestampType is value-preserving
        case TimestampType | TimestampNTZType => OtType.Timestamp
        case BooleanType => OtType.Boolean
        case StringType => OtType.Text
        case other => throw OtError(s"Unsupported import type $other")
      }
      f.name -> t
    }
    val td = createTableChecked(db, tbl,
      cols.map { case (n, t) => n -> t.name }, keys)
    val aligned = df.select(td.cols.map(c =>
      col(c.name).cast(c.tpe.spark).as(c.name)): _*)
    catalog.importData(td, aligned)
    td
  }

  /** Bulk ingest: many rows, one append batch (reference query.go:294-307). */
  def batchInsert(sql: String, argsArray: Seq[Seq[Any]],
      user: Option[User] = None): Unit =
    batchInsertWithDb(sql, argsArray, user, currentDb)

  private def emptyDf: DataFrame = spark.emptyDataFrame

  // ── meta commands (reference server.go:441-496) ──

  def listDatabases(): Seq[String] = catalog.listDatabases()
  def listTables(db: String = currentDb): Seq[String] = catalog.listTables(db)
  def tableSchemaOf(db: String, tbl: String): TableDef = catalog.getSchema(db, tbl)

  def loadUsers(): Unit = {
    catalog.createDatabase("_meta_", ifNotExists = true)
    createTableChecked("_meta_", "user",
      Seq("name" -> "TEXT", "password" -> "TEXT", "is_admin" -> "BOOLEAN",
        "perm" -> "TEXT"), Seq("name"), ifNotExists = true)
    users.clear()
    val td = catalog.getSchema("_meta_", "user")
    catalog.readTable(td).collect().foreach { r =>
      val permStr = Option(r.getAs[String]("perm")).getOrElse("")
      val perm = permStr.split(";").toSeq.flatMap { s =>
        s.split("=") match {
          case Array(k, v) =>
            Some(k -> (if (v == "write") Perm.Writable else Perm.Readable))
          case _ => None
        }
      }.toMap
      val u = User(r.getAs[String]("name"), r.getAs[String]("password"),
        Option(r.getAs[java.lang.Boolean]("is_admin")).exists(_.booleanValue),
        perm)
      users.put(u.name, u)
    }
  }

  def login(name: String, password: String): User = {
    val u = users.get(name).getOrElse(throw OtError("Invalid user name"))
    if (!u.checkPassword(password)) throw OtError("Invalid password")
    u
  }

  def changePassword(u: User, newPassword: String): Unit = {
    execute("insert into _meta_.user values(?, ?, ?, ?)",
      Seq(u.name, Engine.sha1(newPassword), u.isAdmin, u.perm2Str))
    users.put(u.name, u.copy(passwordSha1 = Engine.sha1(newPassword)))
  }

  /** reference user.go:63-83. No user ⇒ full access (local admin). */
  def getPerm(db: String, tbl: String, user: Option[User]): Perm.Value =
    user match {
      case None => Perm.Writable
      case Some(u) if u.isAdmin => Perm.Writable
      case Some(u) =>
        val p1 = u.perm.getOrElse(db, Perm.No)
        if (p1 == Perm.Writable || tbl.isEmpty) p1
        else {
          val p2 = u.perm.getOrElse(db + "." + tbl, Perm.No)
          if (p2 > p1) p2 else p1
        }
    }

  /** Fail unless `user` holds at least `need` on `db` (or `db.tbl`). */
  private def requirePerm(need: Perm.Value, db: String, tbl: String,
      user: Option[User]): Unit =
    if (getPerm(db, tbl, user) < need) throw OtError("No permisssion")

  // ── name resolution (reference query.go:793-804) ──

  private def resolveDbName(t: TableName, current: String): String = {
    val db = t.db.getOrElse(current)
    if (db == "")
      throw OtError("No database name has been specified. USE a database " +
        "name, or explicitly specify databasename.tablename")
    db
  }

  private def tableSchema(t: TableName, current: String): TableDef =
    catalog.getSchema(resolveDbName(t, current), t.table)

  // ── DDL validation (reference schema.go:264-346) ──

  private def createTableChecked(db: String, tbl: String,
      cols: Seq[(String, String)], keys: Seq[String],
      ifNotExists: Boolean = false): TableDef =
      catalog.createTable(db, tbl, ifNotExists) {
    val seen = ArrayBuffer.empty[String]
    for ((n, _) <- cols) {
      if (seen.contains(n))
        throw OtError(s"Multiple definition of identifier $n")
      // reserved storage suffixes (ns remainders, append-log seq)
      if (n.endsWith("__ns") || n == "__seq")
        throw OtError(s"Column name $n is reserved")
      seen += n
    }
    val colNames = cols.map(_._1).toSet
    val seenKeys = ArrayBuffer.empty[String]
    for (k <- keys) {
      if (!colNames.contains(k))
        throw OtError(s"Unknown definition $k referenced in PRIMARY KEY")
      if (seenKeys.contains(k))
        throw OtError(s"Duplicate definition $k referenced in PRIMARY KEY")
      seenKeys += k
    }
    if (keys.isEmpty) throw OtError("PRIMARY KEY not declared")
    TableDef.build(db, tbl, cols.map { case (n, t) => n -> OtType.parse(t) },
      keys)
  }

  // ── WHERE resolution (reference query.go:579-669, exact semantics) ──

  private def resolveWhere(td: TableDef,
      where: Seq[Condition]): (Seq[Cond], Int) = {
    if (where.isEmpty) return (Nil, 0)
    val conds = Array.fill(td.keys.length)(Cond())
    var nPlaceholders = 0
    for (c <- where) {
      val col = td.nameMap.getOrElse(c.col,
        throw OtError(s"Undefined column name ${c.col}"))
      if (!col.isKey)
        throw OtError(s"Invalid column ${col.name} in where clause, only " +
          "primary key can be used")
      if (col.tpe == OtType.Boolean && c.op != "=")
        throw OtError(s"Invalid operator (${c.op}) for \"${col.name}\" of " +
          "type Boolean")
      val rhs: Any = c.rhs match {
        case Placeholder =>
          val p = PlaceholderRef(nPlaceholders); nPlaceholders += 1; p
        case v => Coerce.validateValue(col, Value.raw(v))
      }
      val slot = conds(col.pos)
      if (slot.equal.nonEmpty)
        throw OtError(s"${col.name} cannot be restricted by more than one " +
          "relation if it includes an Equal")
      c.op match {
        case "=" =>
          if (slot.isRange)
            throw OtError(s"${col.name} cannot be restricted by more than " +
              "one relation if it includes an Equal")
          slot.equal = Some(rhs)
        case "<" | "<=" =>
          if (slot.end.nonEmpty)
            throw OtError("More than one restriction was found for the end " +
              s"bound on ${col.name}")
          slot.end = Some((rhs, c.op == "<="))
        case ">" | ">=" =>
          if (slot.start.nonEmpty)
            throw OtError("More than one restriction was found for the " +
              s"start bound on ${col.name}")
          slot.start = Some((rhs, c.op == ">="))
      }
    }
    // contiguous prefix of equalities, optionally ending in one range
    // (reference query.go:648-667)
    var hasRange = false
    var hasEmpty = false
    var n = 0
    for (slot <- conds) {
      val isRange = slot.isRange
      val isEmpty = slot.isEmpty
      if (!isEmpty) {
        if (hasEmpty || hasRange)
          throw OtError("Cannot execute this query as it might involve " +
            "data filtering and thus may have unpredictable performance")
        n += 1
      } else hasEmpty = true
      if (isRange) hasRange = true
    }
    (conds.take(n).toSeq, nPlaceholders)
  }

  // ── SELECT resolution (reference query.go:345-417, 834-877) ──

  private def resolveSelect(s: Select, user: Option[User],
      db: String): SelectS = {
    val td = tableSchema(s.table, db)
    requirePerm(Perm.Readable, td.dbName, td.tblName, user)
    val (conds, nPh) = resolveWhere(td, s.where)
    var limit = 0
    var reverse = false
    s.limit.foreach { l =>
      // reject rather than wrap: Long.toInt on |l| > Int.MaxValue
      // would silently truncate the result set to an arbitrary count
      if (l > Int.MaxValue || l < -Int.MaxValue.toLong)
        throw OtError(s"LIMIT $l out of range")
      limit = l.toInt
      if (limit < 0) { limit = -limit; reverse = true }
    }
    val (cols, adjs) = s.cols match {
      case None => (td.cols, Nil)
      case Some(selCols) =>
        val used = Array.fill(td.cols.length)(false)
        val outCols = ArrayBuffer.empty[ColDef]
        val adjCols = ArrayBuffer.empty[AdjCol]
        var nForward = 0
        var nBackward = 0
        for ((sc, j) <- selCols.zipWithIndex) {
          val col = td.nameMap.getOrElse(sc.name,
            throw OtError(s"Undefined column name ${sc.name}"))
          if (used(col.posCol))
            throw OtError(s"Duplicate column name ${sc.name}")
          used(col.posCol) = true
          outCols += col
          sc.func.foreach { fn0 =>
            // name dispatch (reference query.go:397-404)
            val fn = if (fn0 == "adj") {
              val lower = col.name.toLowerCase
              if (lower.contains("qty") || lower.contains("vol") ||
                  lower.contains("size")) "adj_vol" else "adj_px"
            } else fn0
            if (fn == "adj_vol" || fn == "adj_px") {
              val backward = sc.params match {
                case Nil => false
                case Seq(BoolV(b)) => b
                case _ =>
                  throw OtError("adj only accept one optional bool params")
              }
              if (backward) nBackward += 1 else nForward += 1
              if (!col.isKey)
                adjCols += AdjCol(j, if (fn == "adj_px") 1 else 2, backward)
            }
          }
        }
        if (adjCols.nonEmpty || nForward + nBackward > 0) {
          if (td.keys.head.tpe != OtType.Int)
            throw OtError("The first key of the table must be int for " +
              "applying adj")
          if (td.keys.last.tpe != OtType.Timestamp)
            throw OtError("The last key of the table must be timestamp for " +
              "applying adj")
          if (nBackward > 0 && nForward > 0)
            throw OtError("Mixed backward and forward adj not allowed")
        }
        (outCols.toSeq, adjCols.toSeq)
    }
    SelectS(td, conds, cols, nPh, limit, reverse, adjs)
  }

  private def resolveInsert(s: Insert, user: Option[User],
      db: String): InsertS = {
    val td = tableSchema(s.table, db)
    requirePerm(Perm.Writable, td.dbName, td.tblName, user)
    val colNames = if (s.cols.isEmpty) td.cols.map(_.name) else s.cols
    if (colNames.length != s.values.length)
      throw OtError("Unmatched column names/values")
    val values = new Array[Any](td.cols.length)
    var nPh = 0
    for ((cn, j) <- colNames.zipWithIndex) {
      val col = td.nameMap.getOrElse(cn,
        throw OtError(s"Undefined column name $cn"))
      if (values(col.posCol) != null)
        throw OtError(s"Duplicate column name $cn")
      s.values(j) match {
        case Placeholder =>
          values(col.posCol) = PlaceholderRef(nPh); nPh += 1
        case v =>
          values(col.posCol) = Coerce.validateValue(col, Value.raw(v))
      }
    }
    val missed = td.keys.filter(k => values(k.posCol) == null).map(_.name)
    if (missed.nonEmpty)
      throw OtError("Some primary keys are missing: " + missed.mkString(", "))
    InsertS(td, values, nPh)
  }

  private def resolveDelete(s: Delete, user: Option[User],
      db: String): DeleteS = {
    val td = tableSchema(s.table, db)
    requirePerm(Perm.Writable, td.dbName, td.tblName, user)
    val (conds, nPh) = resolveWhere(td, s.where)
    DeleteS(td, conds, nPh)
  }

  // ── execution ──

  private def checkArity(n: Int, args: Seq[Any]): Unit =
    if (n != args.length)
      throw OtError(s"Expected $n arguments, got ${args.length}")

  private def bindConds(td: TableDef, conds: Seq[Cond],
      args: Seq[Any]): Seq[Cond] =
    conds.zipWithIndex.map { case (c, i) =>
      val col = td.keys(i)
      def bind(v: Any): Any = v match {
        case PlaceholderRef(idx) => Coerce.validateValue(col, args(idx))
        case other => other
      }
      Cond(c.equal.map(bind), c.start.map { case (v, inc) => (bind(v), inc) },
        c.end.map { case (v, inc) => (bind(v), inc) })
    }

  private def lit2(v: Any): Column = v match {
    case t: java.time.Instant => lit(java.sql.Timestamp.from(t))
    case other => lit(other)
  }

  /** Parquet-pushable source filters from the bound PK conditions — the
    * row-group-pruning side of the ordered clean-table scan. Timestamp
    * bounds are WEAKENED to inclusive µs-granularity comparisons (the
    * stored column is µs; the ns remainder rides in a companion column),
    * so every pushed filter is a superset of the exact ns predicate
    * [[condsToPredicate]] applies on top. Equality pushes the µs value;
    * rows in the same µs with a different remainder are dropped by the
    * exact filter, not the scan.
    */
  private def condsToSourceFilters(td: TableDef,
      conds: Seq[Cond]): Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    def pushable(v: Any): Boolean = v match {
      case _: java.lang.Number | _: String | _: java.lang.Boolean => true
      case _ => false
    }
    conds.zipWithIndex.flatMap { case (c, i) =>
      val kd = td.keys(i)
      val n = kd.name
      if (kd.tpe == OtType.Timestamp) {
        def us(v: Any): Option[java.sql.Timestamp] = v match {
          case t: java.time.Instant => Some(java.sql.Timestamp.from(
            java.time.Instant.ofEpochSecond(t.getEpochSecond,
              t.getNano / 1000L * 1000L)))
          case _ => None
        }
        c.equal.flatMap(us).map(EqualTo(n, _)).toSeq ++
          c.start.flatMap(v => us(v._1)).map(GreaterThanOrEqual(n, _)) ++
          c.end.flatMap(v => us(v._1)).map(LessThanOrEqual(n, _))
      } else {
        c.equal.filter(pushable).map(EqualTo(n, _)).toSeq ++
          c.start.filter(v => pushable(v._1)).map { case (v, inc) =>
            if (inc) GreaterThanOrEqual(n, v) else GreaterThan(n, v)
          } ++
          c.end.filter(v => pushable(v._1)).map { case (v, inc) =>
            if (inc) LessThanOrEqual(n, v) else LessThan(n, v)
          }
      }
    }
  }

  /** Bound predicates over the PK columns. Timestamp keys compare at
    * FULL nanosecond precision: the stored µs column plus its `__ns`
    * remainder form a lexicographic pair, and bounds split the input
    * Instant the same way (reference keys are (sec, nsec) tuples,
    * query.go:754-779). Remainder-zero bounds simplify back to plain
    * single-column comparisons where exact, keeping scan pushdown tight
    * for the overwhelmingly common µs-precision inputs.
    */
  private def condsToPredicate(td: TableDef, conds: Seq[Cond]): Option[Column] = {
    val preds = conds.zipWithIndex.flatMap { case (c, i) =>
      val kd = td.keys(i)
      val k = col(kd.name)
      if (kd.tpe == OtType.Timestamp) {
        val kns = col(catalog.nsCol(kd.name))
        def split(v: Any): (Column, Int) = v match {
          case t: java.time.Instant =>
            (lit2(java.time.Instant.ofEpochSecond(t.getEpochSecond,
              t.getNano / 1000L * 1000L)), t.getNano % 1000)
          case other => (lit2(other), 0)
        }
        c.equal.map { v =>
          val (us, r) = split(v); k === us && kns === r
        }.toSeq ++
          c.start.map { case (v, inc) =>
            val (us, r) = split(v)
            if (inc && r == 0) k >= us
            else k > us || (k === us && (if (inc) kns >= r else kns > r))
          } ++
          c.end.map { case (v, inc) =>
            val (us, r) = split(v)
            if (!inc && r == 0) k < us
            else k < us || (k === us && (if (inc) kns <= r else kns < r))
          }
      } else {
        c.equal.map(v => k === lit2(v)).toSeq ++
          c.start.map { case (v, inc) => if (inc) k >= lit2(v) else k > lit2(v) } ++
          c.end.map { case (v, inc) => if (inc) k <= lit2(v) else k < lit2(v) }
      }
    }
    preds.reduceOption(_ && _)
  }

  private def select(s: SelectS, args: Seq[Any],
      keepNs: Boolean): DataFrame = {
    checkArity(s.nPlaceholders, args)
    val conds = bindConds(s.td, s.conds, args)
    val pushed = condsToSourceFilters(s.td, conds)
    val pred = condsToPredicate(s.td, conds)
    // presentation order = PK order, reversed by negative limit
    // (reference query.go:158, 359-365): a small table is read, filtered,
    // sorted and deduped on this thread (Catalog.readTableLocal); a CLEAN
    // table's compacted layout delivers that order file by file with no
    // sort or Exchange (Catalog.readTableOrdered); the rest take the
    // one-shuffle LWW+order read with the PK predicate inside it, so
    // parquet pushdown still prunes before the exchange
    // (Catalog.readTableOrderedDirty). ns remainder columns ride along for
    // predicates and sort; the final projection drops them.
    var df = try {
      catalog.readTableLocal(s.td, s.reverse, pushed, pred)
        .orElse(catalog.readTableOrdered(s.td, s.reverse, pushed)
          .map(d => pred.map(d.filter).getOrElse(d)))
        .getOrElse(catalog.readTableOrderedDirty(s.td, s.reverse, pred))
    } catch { case NonFatal(e) => throw catalog.readFailure(s.td, e) }
    if (s.limit > 0) df = df.limit(s.limit)
    // projection incl. adj application (reference adj.go:142-202)
    val proj: Seq[Column] =
      if (s.adjs.isEmpty) s.cols.map(c => col(c.name))
      else {
        val bc = spark.sparkContext.broadcast(adjFactors(s.td.dbName))
        val secCol = col(s.td.keys.head.name)
        val tmCol = col(s.td.keys.last.name)
        val byPos = s.adjs.map(a => a.posInSelect -> a).toMap
        s.cols.zipWithIndex.map { case (c, j) =>
          byPos.get(j) match {
            case Some(a) if isNumeric(c.tpe) =>
              Adj.adjusted(spark, bc, col(c.name), secCol, tmCol, a.which,
                a.backward).as(c.name)
            case _ => col(c.name)
          }
        }
      }
    val nsProj =
      if (!keepNs) Nil
      else s.cols.filter(_.tpe == OtType.Timestamp)
        .map(c => col(catalog.nsCol(c.name)))
    val out = df.select(proj ++ nsProj: _*)
    out.queryExecution.logical.setTagValue(ReadOf, s.td)
    out
  }

  /** `e`, a failure consuming `df`, as a client should see it: when `df`
    * is a SELECT result of this engine, [[Catalog.readFailure]] of the
    * table that SELECT resolved, else `e` itself.
    */
  private[engine] def readFailure(df: DataFrame, e: Throwable): Throwable =
    df.queryExecution.logical.getTagValue(ReadOf)
      .fold(e)(catalog.readFailure(_, e))

  /** Table-valued function dispatch ([[TableFns]]): bind placeholders
    * positionally (function args first, then WHERE values), resolve
    * the table-reference argument through the catalog under the
    * caller's READ permission (the same at-resolve gate every SELECT
    * passes), then hand the table's logical DataFrame to the library
    * operator. WHERE conjunctions and the column projection resolve
    * against the FUNCTION'S OUTPUT schema with the SELECT resolver's
    * strict error strings (round-11 verdict item 6: filter/project
    * TVF results server-side instead of shipping the whole relation —
    * the filter sits in the same Spark plan, so Catalyst pushes it
    * into the operator's plan wherever semantics allow). LIMIT
    * composes on top; the reverse `-N` form has no PK order to
    * reverse here and is rejected.
    */
  private def executeTableFn(s: SelectFn, args: Seq[Any],
      user: Option[User], db: String): DataFrame = {
    val fd = TableFns.registry.getOrElse(s.fn,
      throw OtError(s"Unknown table function ${s.fn}"))
    checkArity(s.args.count(_ == Placeholder) +
      s.where.count(_.rhs == Placeholder), args)
    var ai = -1
    val bound: Seq[Any] = s.args.map {
      case Placeholder => ai += 1; args(ai)
      case v => Value.raw(v)
    }
    if (!fd.arity.contains(bound.length))
      throw OtError(s"Usage: ${fd.usage}")
    val tn = bound.head match {
      case ref: String => ref.split('.') match {
        case Array(db, tbl) => TableName(Some(db), tbl)
        case Array(tbl) => TableName(None, tbl)
        case _ => throw OtError(s"Invalid table reference $ref")
      }
      case other =>
        throw OtError(s"${s.fn}: first argument must be a table " +
          s"reference string, got $other")
    }
    val td = tableSchema(tn, db)
    requirePerm(Perm.Readable, td.dbName, td.tblName, user)
    var out = fd.apply(catalog.readTable(td), bound)
    val outCols = out.columns.toSet
    // WHERE over the output schema: conjunction of the dialect's five
    // operators; Boolean columns take `=` only (the SELECT rule)
    for (c <- s.where) {
      if (!outCols.contains(c.col))
        throw OtError(s"Undefined column name ${c.col}")
      if (out.schema(c.col).dataType ==
          org.apache.spark.sql.types.BooleanType && c.op != "=")
        throw OtError(s"Invalid operator (${c.op}) for \"${c.col}\" " +
          "of type Boolean")
      val rhs: Any = c.rhs match {
        case Placeholder => ai += 1; args(ai)
        case v => Value.raw(v)
      }
      val lhs = col(c.col)
      out = out.filter(c.op match {
        case "=" => lhs === lit(rhs)
        case "<" => lhs < lit(rhs)
        case "<=" => lhs <= lit(rhs)
        case ">" => lhs > lit(rhs)
        case ">=" => lhs >= lit(rhs)
      })
    }
    // plain-column projection, duplicate/unknown checked like SELECT's
    s.cols.foreach { cs =>
      val seen = scala.collection.mutable.Set.empty[String]
      cs.foreach { n =>
        if (!outCols.contains(n))
          throw OtError(s"Undefined column name $n")
        if (!seen.add(n))
          throw OtError(s"Duplicate column name $n")
      }
      out = out.select(cs.map(col): _*)
    }
    s.limit match {
      case Some(l) if l < 0 =>
        throw OtError("Table functions support positive LIMIT only")
      case Some(l) if l > Int.MaxValue => // same wrap hazard as SELECT
        throw OtError(s"LIMIT $l out of range")
      case Some(l) => out.limit(l.toInt)
      case None => out
    }
  }

  private def isNumeric(t: OtType): Boolean = t match {
    case OtType.Boolean | OtType.Text | OtType.Timestamp => false
    case _ => true
  }

  /** The db's `_adj_` factors, cached under the `_adj_` version read
    * before computing them: a write that lands meanwhile leaves the entry
    * behind the version, so the next lookup recomputes.
    */
  private def adjFactors(db: String): Map[Int, Array[Adj.Factor]] = {
    val version = catalog.version(db, "_adj_")
    adjCache.get(db).collect { case (`version`, f) => f }.getOrElse {
      val f =
        if (!catalog.hasTable(db, "_adj_")) Map.empty[Int, Array[Adj.Factor]]
        else Adj.factors(catalog.readTable(catalog.getSchema(db, "_adj_")))
      adjCache.put(db, (version, f))
      f
    }
  }

  /** Bind an INSERT's placeholders for every argument row and commit the
    * rows as one append.
    */
  private def insert(s: InsertS, argsArray: Seq[Seq[Any]]): Unit = {
    val rows = argsArray.map { args =>
      checkArity(s.nPlaceholders, args)
      s.td.cols.indices.map { i =>
        s.values(i) match {
          case PlaceholderRef(idx) =>
            Coerce.validateValue(s.td.cols(i), args(idx))
          case v => v
        }
      }
    }
    catalog.appendRows(s.td, rows)
  }

  private def executeDelete(s: DeleteS, args: Seq[Any]): Unit = {
    checkArity(s.nPlaceholders, args)
    val conds = bindConds(s.td, s.conds, args)
    catalog.deleteWhere(s.td, condsToPredicate(s.td, conds))
  }
}

object Engine {
  /** Marks a SELECT result with the table it resolved ([[readFailure]]). */
  private val ReadOf = TreeNodeTag[TableDef]("graft.readOf")

  def sha1(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
