package tickbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types._
import graft.engine.{Engine, GraftServer, Parser}

/** The system under test of `tick_wire`: a [[GraftServer]] over an
  * [[Engine]] in its own JVM. The load generator starts it and drives it
  * through a line protocol on stdin; every answer is one line on stdout
  * starting with `@@ ` and holding a JSON object.
  *
  *   setup <rep>               create database r<rep> and its tables
  *   count <db> <table>        LWW row count and on-disk layout of a table
  *   replay <db> <kind> <i,..> replay ops in-process, one span per layer call
  *   catalog <db>              time the catalog's ordered and LWW reads
  *   quit
  *
  * Usage: ServerMain <seed> <workDir>
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    val Array(seedS, work) = args
    val seed = seedS.toLong
    val t0 = System.nanoTime()
    val spark = Session.create(work)
    val listener = LayerListener.install(spark.sparkContext)
    val engine = new Engine(spark, s"$work/warehouse")
    val server = new GraftServer(engine)
    val sut = new ServerMain(spark, engine, listener, seed, work)
    reply(Map("port" -> server.boundPort, "spark_s" -> (System.nanoTime() - t0) / 1e9,
      "session" -> Json.obj(Session.context)))
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "quit") {
      val answer =
        try sut.command(line.trim.split(" ").toSeq)
        catch { case e: Throwable =>
          Map("error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      reply(answer)
      line = in.readLine()
    }
    server.stop()
    spark.stop()
  }

  private def reply(m: Map[String, Any]): Unit = {
    System.out.println("@@ " + Json.obj(m.toSeq))
    System.out.flush()
  }
}

final class ServerMain(spark: SparkSession, engine: Engine,
    listener: LayerListener, seed: Long, work: String) {
  private lazy val today = QueryOps.todayWinners(seed)
  private lazy val hist = QueryOps.hist(seed)

  def command(words: Seq[String]): Map[String, Any] = words match {
    case Seq("setup", rep) => setup(s"r$rep")
    case Seq("count", db, tbl) => count(db, tbl)
    case Seq("replay", db, kind, idxs) =>
      replay(db, kind, idxs.split(",").filter(_.nonEmpty).map(_.toInt).toSeq)
    case Seq("catalog", db) => catalogReads(db)
    case other => Map("error" -> s"unknown command ${other.mkString(" ")}")
  }

  private def ddl(db: String, sql: String): Unit =
    engine.executeWithDb(sql, Nil, None, db)

  private def setup(db: String): Map[String, Any] = {
    val t0 = System.nanoTime()
    ddl("", s"create database if not exists $db")
    Seq(TickGen.table, "replay").foreach(t => ddl(db, TickGen.createSql.format(t)))
    val schema = StructType(Seq(
      StructField("sec", IntegerType), StructField("interval", IntegerType),
      StructField("tm", TimestampType)) ++
      Seq("open", "high", "low", "close", "v", "vwap").map(StructField(_, DoubleType)))
    val rows = hist.toSeq.map(t => Row(t.sec, t.interval,
      Timestamp.from(t.tm), t.open, t.high, t.low, t.close, t.v, t.vwap))
    val df = spark.createDataFrame(rows.asJava, schema)
    val ti = System.nanoTime()
    engine.importTable(db, "hist", df, Seq("sec", "interval", "tm"))
    val importS = (System.nanoTime() - ti) / 1e9
    ddl(db, TickGen.createSql.format("today"))
    (0 until QueryOps.todayBatches).foreach(j =>
      engine.batchInsertWithDb(TickGen.insertSql("today"),
        QueryOps.todayBatch(seed, j).map(_.args), None, db))
    Map("data_s" -> (System.nanoTime() - t0) / 1e9, "import_s" -> importS)
  }

  private def dataFiles(db: String, tbl: String): Seq[java.nio.file.Path] = {
    val dir = Paths.get(engine.catalog.dataPath(engine.catalog.getSchema(db, tbl)))
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally s.close()
    }
  }

  private def count(db: String, tbl: String): Map[String, Any] = {
    val td = engine.catalog.getSchema(db, tbl)
    val rows = engine.catalog.readTable(td).count()
    val files = dataFiles(db, tbl)
    Map("rows" -> rows, "files" -> files.length,
      "bytes" -> files.map(Files.size).sum,
      "log_files" -> files.count(_.getFileName.toString.startsWith("part-append")))
  }

  /** The op `kind`/`i` as the load generator sent it; inserts go to the
    * `replay` table so the measured tables are left as the run left them.
    */
  private def op(kind: String, i: Int): TickOp = kind match {
    case "batch_insert" => IngestOps.batch(seed, i, "replay")
    case "single_insert" => IngestOps.single(seed, i, "replay")
    case "append" => QueryOps.append(seed, i, "replay")
    case _ => QueryOps.read(seed, i, hist, today)
  }

  /** Replay ops in-process through the layers' public functions. The root
    * span `op.<kind>` holds what the server runs for the op and nothing
    * else: one engine call (`batchInsertWithDb`, or `executeWireNs` and
    * then forcing `executedPlan` and collecting, spark). `Parser.parse`
    * (engine) and `Catalog.appendRows` on the same rows (catalog) are timed
    * after it, outside the root, so they do not count twice. Returns
    * per-op medians; spans go to `spans-server-<kind>.tsv`.
    */
  private def replay(db: String, kind: String, idxs: Seq[Int]): Map[String, Any] = {
    val tracer = new Tracer(true)
    val sc = spark.sparkContext
    val jobs = Seq.newBuilder[Double]
    val tasks = Seq.newBuilder[Double]
    idxs.foreach { i =>
      val o = op(kind, i)
      val argsArray = o.rows.map(_.args)
      tracer.span(s"op.$kind", o.req) { root =>
        if (o.rows.nonEmpty)
          tracer.span("engine.execute", o.req, root)(_ =>
            engine.batchInsertWithDb(o.sql, argsArray, None, db))
        else {
          val df = tracer.span("engine.execute", o.req, root)(_ =>
            engine.executeWireNs(o.sql, o.args, None, db))
          val (_, g) = LayerListener.inGroup(sc, "replay") {
            tracer.span("spark.plan", o.req, root)(_ => df.queryExecution.executedPlan)
            tracer.span("spark.exec", o.req, root)(_ => df.collect())
          }
          val c = listener.await(g)
          jobs += c.jobs.toDouble
          tasks += c.tasks.sum.toDouble
        }
      }
      tracer.span("engine.parse", o.req)(_ => Parser.parse(o.sql))
      if (o.rows.nonEmpty) {
        val td = engine.catalog.getSchema(db, "replay")
        tracer.span("catalog.append", o.req)(_ => engine.catalog.appendRows(td, argsArray))
      }
    }
    tracer.write(Paths.get(work, s"spans-server-$kind.tsv"))
    def med(name: String): Double = {
      val xs = tracer.byName(name).map(_.durNs / 1e6)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    // engine resolve = the engine call minus the parse and the append it
    // makes, each timed on its own
    val resolve = tracer.byName("engine.execute").map { e =>
      val same = tracer.spans.filter(_.req == e.req)
      def d(n: String) = same.filter(_.name == n).map(_.durNs).sum
      (e.durNs - d("engine.parse") - d("catalog.append")) / 1e6
    }
    val js = jobs.result()
    val ts = tasks.result()
    Map("n" -> idxs.length,
      "total_ms" -> med(s"op.$kind"),
      "parse_us" -> med("engine.parse") * 1000,
      "resolve_ms" -> (if (resolve.isEmpty) 0.0 else Stats.median(resolve)),
      "append_ms" -> med("catalog.append"),
      "plan_ms" -> med("spark.plan"),
      "exec_ms" -> med("spark.exec"),
      "jobs" -> (if (js.isEmpty) 0.0 else Stats.median(js)),
      "tasks" -> (if (ts.isEmpty) 0.0 else Stats.median(ts)),
      "total_by_req" -> Json.obj(tracer.byName(s"op.$kind").map(s => s.req -> s.durNs / 1e6)))
  }

  /** Median of three timings of the catalog's two read paths: the ordered
    * scan of a clean table (a 1k-bar slice of `hist`, pruned by pushed
    * filters) and the last-write-wins read of the whole dirty `today`.
    */
  private def catalogReads(db: String): Map[String, Any] = {
    val hist = engine.catalog.getSchema(db, "hist")
    val today = engine.catalog.getSchema(db, "today")
    // the first range-scan-sized slice of series (1, 0)
    val lo = TickGen.instantOf(seed, 1, 0, 0, QueryOps.histStepUs, subMicro = false)
    val hi = TickGen.instantOf(seed, 1, 0, QueryOps.rangeBars, QueryOps.histStepUs,
      subMicro = false)
    def timed(body: => Unit): Double = Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })
    val ordered = timed {
      engine.catalog.readTableOrdered(hist, reverse = false,
        Seq(EqualTo("sec", 1), EqualTo("interval", 0),
          GreaterThanOrEqual("tm", Timestamp.from(lo)),
          LessThan("tm", Timestamp.from(hi)))).get
        .filter(col("sec") === 1 && col("interval") === 0 &&
          col("tm") >= lit(Timestamp.from(lo)) && col("tm") < lit(Timestamp.from(hi)))
        .count()
    }
    val lww = timed(engine.catalog.readTableKeepNs(today).count())
    Map("ordered_read_ms" -> ordered, "lww_read_ms" -> lww)
  }
}
