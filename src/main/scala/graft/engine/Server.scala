package graft.engine

import java.io.{DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket, SocketTimeoutException}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The wire protocol, shared by [[GraftServer]] and [[NetClient]]:
  * 4-byte little-endian length frames carrying BSON documents by
  * default — the reference's negotiation (server.go:287-291): a first
  * frame of `protocol=json` switches the connection to JSON, otherwise
  * every frame is a BSON document ([[Bson]], hand-implemented from the
  * public spec). Both codecs share this value model.
  *
  * Request:  {"0": ticket, "1": cmd, "2": sql | preparedId,
  *            "3": args, "4": useCache, "5": chunkRows}
  * Response: {"0": ticket, "1": result}  (error string | rows | id)
  * Heartbeat: a 1-byte frame 'H' from the server after an idle read
  * timeout; the peer answers with an empty frame (server.go:129-132,
  * client/opentick.go:443-446).
  *
  * Chunked SELECT (opt-in per request via "5" = max rows per frame):
  * the server streams the result as several frames with the SAME
  * ticket — every non-final frame carries {"2": 1} ("more follows"),
  * the final frame has no "2" and carries the tail rows (or an error
  * string if the scan failed mid-stream, which voids earlier chunks).
  * This is the analog of the reference's streamed FDB range reads:
  * results larger than any single-frame bound arrive complete while
  * the server holds only one chunk (plus one scan partition) at a
  * time. Clients that never send "5" see the unchanged single-frame
  * protocol.
  *
  * Value encoding: numbers/strings/booleans/null as JSON; timestamps as
  * [epochSeconds, nanos] pairs (the reference's placeholder convention,
  * SURVEY §1.2).
  */
object Wire {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def writeFrame(out: DataOutputStream, body: Array[Byte]): Unit =
    out.synchronized {
      val len = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(body.length).array()
      out.write(len); out.write(body); out.flush()
    }

  /** Reads one frame body; empty frames return Array.empty. */
  def readFrame(in: DataInputStream): Array[Byte] = {
    val b0 = in.read()
    if (b0 < 0) throw new java.io.EOFException("peer closed")
    readFrameRest(in, b0)
  }

  /** Reads a frame whose FIRST header byte was already consumed — the
    * server reads that byte separately so an idle-timeout can be told
    * apart from a timeout mid-frame (which would desynchronize the
    * stream and must close the connection instead).
    */
  def readFrameRest(in: DataInputStream, b0: Int): Array[Byte] = {
    val head = new Array[Byte](4)
    head(0) = b0.toByte
    in.readFully(head, 1, 3)
    val len = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN).getInt()
    val body = new Array[Byte](len)
    in.readFully(body)
    body
  }

  def encode(doc: Map[String, Any]): Array[Byte] =
    mapper.writeValueAsBytes(toJava(doc))

  def decode(bytes: Array[Byte]): Map[String, Any] =
    fromJava(mapper.readValue(bytes, classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] =>
      val jm = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => jm.put(k.toString, toJava(x)) }
      jm
    case s: Seq[_] => s.map(toJava).asJava
    case t: java.time.Instant =>
      Seq[Any](t.getEpochSecond, t.getNano.toLong).map(toJava).asJava
    case t: java.sql.Timestamp => toJava(t.toInstant)
    case other => other
  }

  private def fromJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> fromJava(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(fromJava).toSeq
    case n: java.math.BigDecimal => n.doubleValue()
    case n: java.math.BigInteger => n.longValue()
    case other => other
  }
}

/** TCP server exposing the engine over the reference's wire surface
  * (reference server.go): run / prepare / batch / login / use / meta,
  * per-connection used-db and prepared-statement list, response cache
  * for cached prepared selects, idle-timeout heartbeats. One thread per
  * connection + one per in-flight request, bounded per connection by
  * `maxConcurrency` (reference sMaxConcurrency, server.go:24,245):
  * excess requests queue in the read loop — backpressure, not threads.
  * SELECT responses are bounded by `maxWireRows`: a larger result is an
  * error string, never an unbounded driver collect (the reference is
  * softly bounded by FDB's 5 s transaction limit; this is the explicit
  * analog). Requests carrying a "5" chunk size instead STREAM the
  * result as multiple frames ([[Wire]] chunked protocol): arbitrarily
  * large results arrive complete while driver memory stays bounded by
  * one chunk + one scan partition — `maxWireRows` then caps the
  * per-chunk size, remaining the single-buffer circuit breaker.
  */
final class GraftServer(engine: Engine, port: Int = 0,
    permissionControl: Boolean = false, idleTimeoutMs: Int = 0,
    cacheTtlMs: Long = 0L, maxConcurrency: Int = 100,
    maxWireRows: Int = 1000000) {
  private val socket = new ServerSocket(port)
  private val running = new AtomicBoolean(true)
  @volatile private var conns = List.empty[Socket]
  // spec-visible gauge: the high-water mark of concurrently dispatching
  // request threads across the server
  private[engine] val inflight = new java.util.concurrent.atomic.AtomicInteger(0)
  private[engine] val inflightHighWater =
    new java.util.concurrent.atomic.AtomicInteger(0)

  def boundPort: Int = socket.getLocalPort

  private val acceptor = new Thread(() => {
    while (running.get()) {
      try {
        val s = socket.accept()
        s.setTcpNoDelay(true)
        synchronized { conns = s :: conns }
        new Thread(() => handle(s), s"graft-conn-${s.getPort}").start()
      } catch { case NonFatal(_) => /* closed */ }
    }
  }, "graft-server-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def stop(): Unit = {
    running.set(false)
    try socket.close() catch { case NonFatal(_) => }
    synchronized { conns.foreach(s => try s.close() catch { case NonFatal(_) => }) }
  }

  private def handle(s: Socket): Unit = {
    val in = new DataInputStream(s.getInputStream)
    val out = new DataOutputStream(s.getOutputStream)
    // connection state (reference server.go:232-236) — atomics: request
    // threads write, the read loop snapshots, no common monitor
    val usedDb = new java.util.concurrent.atomic.AtomicReference("")
    val user = new java.util.concurrent.atomic.AtomicReference[Option[User]](
      if (permissionControl &&
          !s.getInetAddress.isLoopbackAddress) Some(User("", "", false, Map.empty))
      else None) // no user ⇒ local admin (user.go:63-65)
    val prepared = ArrayBuffer.empty[String]
    // per-connection in-flight request bound (sMaxConcurrency analog,
    // server.go:24,245): acquired in the read loop, so past the cap the
    // loop stops consuming requests — TCP backpressure, no thread pile-up
    val sem = new java.util.concurrent.Semaphore(maxConcurrency)
    if (idleTimeoutMs > 0) s.setSoTimeout(idleTimeoutMs)
    try {
      var waitHeartbeat = false
      // codec negotiation (server.go:287-291): BSON is the DEFAULT; a
      // first frame of `protocol=json` switches the connection to JSON
      var useJson = false
      while (running.get()) {
        // the FIRST header byte is read alone: an idle timeout there is a
        // clean between-frames pause (→ heartbeat); a timeout after any
        // byte of a frame was consumed would desynchronize the stream, so
        // it propagates out of readFrameRest and closes the connection
        val b0 =
          try in.read()
          catch {
            case _: SocketTimeoutException if !waitHeartbeat =>
              // idle: ask the client to prove liveness (server.go:129-132)
              Wire.writeFrame(out, Array('H'.toByte))
              waitHeartbeat = true
              -2
          }
        if (b0 == -1) throw new java.io.EOFException("peer closed")
        if (b0 != -2) {
          val body = Wire.readFrameRest(in, b0)
          waitHeartbeat = false
          if (body.isEmpty) () // empty frame = heartbeat ack
          else if (new String(body, StandardCharsets.UTF_8) == "protocol=json")
            useJson = true
          else if (body.length == 1 && body(0) == 'H'.toByte)
            Wire.writeFrame(out, Array.emptyByteArray) // heartbeat request
          else {
            val json = useJson
            val doc = if (json) Wire.decode(body) else Bson.decode(body)
            val ticket = doc.get("0") match {
              case Some(i: Int) => i
              case Some(l: Long) => l.toInt
              case _ => -1
            }
            // request handling off the read loop so a slow query doesn't
            // stall heartbeats (reference processes concurrently too)
            val db = usedDb.get()
            val u = user.get()
            sem.acquire()
            val t = new Thread(() => {
              val n = inflight.incrementAndGet()
              inflightHighWater.getAndUpdate(h => math.max(h, n))
              try {
                // non-final chunk frames for THIS ticket; writeFrame is
                // synchronized on `out`, so chunks interleave safely
                // with heartbeats and other tickets' replies
                val emitChunk: Seq[Seq[Any]] => Unit = rows => {
                  val m = Map[String, Any]("0" -> ticket, "1" -> rows,
                    "2" -> 1)
                  Wire.writeFrame(out,
                    if (json) Wire.encode(m) else Bson.encode(m))
                }
                val (res, newDb, newUser) =
                  dispatch(doc, db, u, prepared, json, emitChunk)
                newDb.foreach(usedDb.set)
                newUser.foreach(nu => user.set(Some(nu)))
                val resp = Map[String, Any]("0" -> ticket, "1" -> res)
                try Wire.writeFrame(out,
                  if (json) Wire.encode(resp) else Bson.encode(resp))
                catch { case NonFatal(_) => }
              } finally { inflight.decrementAndGet(); sem.release() }
            })
            t.start()
          }
        }
      }
    } catch { case NonFatal(_) => /* connection closed */ }
    finally { try s.close() catch { case NonFatal(_) => } }
  }

  /** Returns (result, newUsedDb, newUser). Error results are plain
    * strings, success is rows/ids/null — the reference's convention.
    */
  private def dispatch(doc: Map[String, Any], usedDb: String,
      user: Option[User], prepared: ArrayBuffer[String],
      useJson: Boolean,
      emitChunk: Seq[Seq[Any]] => Unit): (Any, Option[String], Option[User]) = {
    val cmd = doc.getOrElse("1", "") match {
      case s: String => s
      case other => return (s"Invalid command, exepcted string, got $other",
        None, None)
    }
    val sqlOrId = doc.get("2")
    val args: Seq[Any] = doc.get("3") match {
      case Some(s: Seq[_]) => s.map(jsonArg)
      case _ => Nil
    }
    // reads synchronize with the appends in the prepare branch: request
    // threads run concurrently per connection
    def resolveSql: Either[String, String] = sqlOrId match {
      case Some(s: String) if s.nonEmpty => Right(s)
      case Some(i: Int) => prepared.synchronized {
        if (i >= 0 && i < prepared.length) Right(prepared(i))
        else Left(s"Invalid preparedId $i")
      }
      case Some(l: Long) => prepared.synchronized {
        if (l >= 0 && l < prepared.length) Right(prepared(l.toInt))
        else Left(s"Invalid preparedId $l")
      }
      case Some(s: String) => Left("Empty sql")
      case other => Left(s"Invalid sql, expected string or int (prepared " +
        s"id), got ${other.getOrElse(null)}")
    }
    try {
      cmd match {
        case "run" =>
          resolveSql match {
            case Left(err) => (err, None, None)
            case Right(sql) =>
              val useCache = doc.get("4").exists {
                case i: Int => i > 0
                case l: Long => l > 0
                case _ => false
              }
              val chunkRows = doc.get("5") match {
                case Some(i: Int) if i > 0 => Some(math.min(i, maxWireRows))
                case Some(l: Long) if l > 0 =>
                  Some(math.min(l, maxWireRows.toLong).toInt)
                case _ => None
              }
              // a SELECT-shaped statement streams; WITH ... SELECT (CTE)
              // is SELECT-shaped too — without it a client opting into
              // chunking would silently fall back to the bounded path
              // and hit maxWireRows on a big CTE read
              val selectShaped = {
                val t = sql.trim.toLowerCase
                t.startsWith("select") || t.startsWith("with")
              }
              chunkRows match {
                case Some(cr) if selectShaped =>
                  // chunked path: streamed, never cached (a cache entry
                  // would be the unbounded collect this path exists to
                  // avoid)
                  val df = engine.executeWireNs(sql, args, user, usedDb)
                  (streamChunks(df, cr, emitChunk), None, None)
                case _ =>
                  // cached prepared selects (server.go:342-350) resolve
                  // against the CONNECTION's db and keep the ns
                  // companions, exactly like the uncached path; the
                  // cache key carries proto + db
                  val df =
                    if (useCache && cacheTtlMs > 0 &&
                        sqlOrId.exists(!_.isInstanceOf[String]))
                      engine.executeCached(sql, args, cacheTtlMs, user,
                        proto = if (useJson) "json" else "bson",
                        db = usedDb, wireNs = true)
                    else engine.executeWireNs(sql, args, user, usedDb)
                  mergeNs(df) match {
                    case Left(err) => (err, None, None)
                    case Right(rows) =>
                      (if (rows.isEmpty) null else rows, None, None)
                  }
              }
          }
        case "prepare" =>
          resolveSql match {
            case Left(err) => (err, None, None)
            case Right(sql) =>
              Parser.parse(sql) // syntax check now, like Resolve
              // id captured in the same critical section as the append:
              // concurrent prepares must each see their own slot
              val id = prepared.synchronized {
                prepared += sql
                prepared.length - 1
              }
              (id, None, None)
          }
        case "batch" =>
          if (sqlOrId.exists(_.isInstanceOf[String]))
            ("Batch command must be prepared first", None, None)
          else resolveSql match {
            case Left(err) => (err, None, None)
            case Right(sql) =>
              if (!sql.trim.toLowerCase.startsWith("insert"))
                ("Only batch insert supported", None, None)
              else {
                val argsArray = args.map {
                  case a: Seq[_] => a.map(identity)
                  case _ => return ("Arguments must be array of array",
                    None, None)
                }
                if (argsArray.nonEmpty &&
                    argsArray.exists(_.length != argsArray.head.length))
                  ("All array must the same size", None, None)
                else {
                  engine.batchInsertWithDb(sql, argsArray, user, usedDb)
                  (null, None, None)
                }
              }
          }
        case "login" =>
          val toks = sqlOrId.fold("")(_.toString).split(" ")
          if (toks.length < 2 || toks(0).isEmpty || toks(1).isEmpty)
            ("Both username and password required", None, None)
          else {
            try {
              val u = engine.login(toks(0), toks(1))
              (null, None, Some(u))
            } catch {
              case OtError("Invalid user name") => ("Unknown username", None, None)
              case OtError("Invalid password") => ("Password mismatch", None, None)
            }
          }
        case "use" =>
          // reference parity (server.go:425-437): usedDbName switches
          // BEFORE the existence/permission checks, error or not
          val db = sqlOrId.fold("")(_.toString)
          if (!engine.catalog.hasDatabase(db))
            (s"$db does not exist", Some(db), None)
          else if (engine.getPerm(db, "", user) == Perm.No)
            ("No permission", Some(db), None)
          else (null, Some(db), None)
        case "meta" =>
          val toks = sqlOrId.fold("")(_.toString).split(" ")
          toks.headOption.getOrElse("") match {
            case "list_databases" => (engine.listDatabases(), None, None)
            case "list_tables" =>
              if (usedDb.isEmpty) ("Please select database first", None, None)
              else (engine.listTables(usedDb), None, None)
            case "schema" =>
              if (toks.length < 2) ("Please specify table name", None, None)
              else {
                val td = engine.tableSchemaOf(usedDb, toks(1))
                (Seq(td.keys.map(c => Seq(c.name, c.tpe.name)),
                  td.values.map(c => Seq(c.name, c.tpe.name))), None, None)
              }
            case "chgpasswd" =>
              if (toks.length < 2) ("Please specify new password", None, None)
              else user match {
                case Some(u) if u.name.nonEmpty =>
                  engine.changePassword(u, toks(1)); (null, None, None)
                case _ => ("Not logged in", None, None)
              }
            case "reload_users" =>
              if (user.exists(!_.isAdmin)) ("No permission", None, None)
              else { engine.loadUsers(); (null, None, None) }
            case "" => ("Please specify meta command", None, None)
            case _ => ("Invalid meta command", None, None)
          }
        case other => (s"Invalid command $other", None, None)
      }
    } catch {
      case OtError(msg) => (msg, None, None)
      case NonFatal(e) => (String.valueOf(e.getMessage), None, None)
    }
  }

  /** Collect a wire-facing result — bounded at `maxWireRows`, a larger
    * result is Left(error), never an unbounded driver collect — and fold
    * every trailing `__ns` remainder column into its timestamp, yielding
    * full-nanosecond Instants (which [[Wire]] serializes as (sec, nsec)
    * pairs — the reference's wire precision, query.go:754-779). A
    * statement with no columns (INSERT, DELETE, DDL) has no rows to
    * collect and runs no Spark plan.
    */
  private def mergeNs(
      df: org.apache.spark.sql.DataFrame): Either[String, Seq[Seq[Any]]] = {
    if (df.schema.isEmpty) return Right(Nil)
    val collected = df.limit(maxWireRows + 1).collect()
    if (collected.length > maxWireRows)
      return Left(s"Result exceeds $maxWireRows rows over the wire; " +
        "add a limit or split the range")
    val conv = rowToWire(df.schema)
    Right(collected.toSeq.map(conv))
  }

  /** One wire row from one Spark row: every trailing `__ns` remainder
    * column folds into its timestamp (shared by the collected and the
    * chunked paths).
    */
  private def rowToWire(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.Row => Seq[Any] = {
    val names = schema.fieldNames
    val nsIdx = names.zipWithIndex.collect {
      case (n, i) if n.endsWith("__ns") =>
        n.stripSuffix("__ns") -> i
    }.toMap
    val mainIdx = names.zipWithIndex.filter(!_._1.endsWith("__ns")).toSeq
    r => mainIdx.map { case (n, i) =>
      (r.get(i), nsIdx.get(n)) match {
        case (t: java.sql.Timestamp, Some(j)) if !r.isNullAt(j) =>
          val inst = t.toInstant
          java.time.Instant.ofEpochSecond(inst.getEpochSecond,
            inst.getNano + r.getInt(j))
        case (v, _) => v
      }
    }
  }

  /** Stream a SELECT result as chunk frames: `toLocalIterator` pulls one
    * scan partition at a time (bounded driver memory at ANY result
    * size — the reference behavior is a streamed FDB range read), rows
    * group into `chunkRows`-sized frames emitted via `emitChunk` with
    * the more-flag set, and the LAST chunk is returned so the caller's
    * normal reply becomes the stream's final frame. A mid-stream scan
    * failure propagates to dispatch's catch and turns into an error
    * string final frame — which the client treats as voiding the
    * already-received chunks.
    */
  private def streamChunks(df: org.apache.spark.sql.DataFrame,
      chunkRows: Int, emitChunk: Seq[Seq[Any]] => Unit): Any = {
    val conv = rowToWire(df.schema)
    val grouped = df.toLocalIterator().asScala.map(conv).grouped(chunkRows)
    // hold one group back so the final group travels on the reply frame
    var held: Option[Seq[Seq[Any]]] = None
    while (grouped.hasNext) {
      val g = grouped.next()
      held.foreach(emitChunk)
      held = Some(g)
    }
    held match {
      case None | Some(Nil) => null
      case Some(rows) => rows
    }
  }

  /** JSON arg → engine value: [sec, nsec] pairs stay Seqs (the engine's
    * timestamp coercion handles them); integral JSON numbers arrive as
    * Int/Long, floats as Double.
    */
  private def jsonArg(v: Any): Any = v match {
    case s: Seq[_] => s.map(jsonArg)
    case other => other
  }
}
