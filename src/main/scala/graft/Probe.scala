package graft

import org.apache.spark.sql.{GraftSql, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** Times named registry queries through the `noop` sink, as [[Bench]]
  * does, and splits each run into its Spark actions: an iterative
  * operator runs many (round materializations, convergence collects)
  * whose plans a final `explain` never shows. One untimed pass over the
  * whole list runs first. Usage:
  *   runMain graft.Probe <sfDir> <name>[,<name>…] [runs] [planDir]
  * It prints each run's wall with each action's wall, then each query's
  * best wall. With `planDir` it writes `<planDir>/<name>.txt`, every
  * action of the query's last run with its formatted executed plan.
  */
object Probe {
  /** One Spark action: its name (`collect`, `count`, `command`…), its wall,
    * and its formatted executed plan (empty unless plans were asked for).
    */
  final case class Action(name: String, wallS: Double, plan: String)

  /** Run `run` of `query`: its wall and its actions in completion order. */
  final case class Run(query: String, run: Int, wallS: Double,
      actions: Seq[Action])

  def probe(spark: SparkSession, sfDir: String, names: Seq[String],
      runs: Int, planDir: Option[String] = None): Seq[Run] = {
    @volatile var withPlans = false
    val actions = ArrayBuffer.empty[Action]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        val plan = if (withPlans) qe.explainString(FormattedMode) else ""
        actions.synchronized { actions += Action(funcName, durationNs / 1e9, plan) }
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // an untimed pass (run 0) over the whole list comes first, so a
    // query's best does not depend on how much the queries before it
    // warmed the JVM and Spark
    val order = names.map((_, 0)) ++ names.flatMap(n => (1 to runs).map((n, _)))
    try order.flatMap { case (name, r) =>
      withPlans = planDir.isDefined && r == runs
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // operators persist intermediates: free them before the next run
      spark.catalog.clearCache()
      GraftSql.awaitListeners(spark)
      val run = Run(name, r, wall,
        actions.synchronized { val a = actions.toList; actions.clear(); a })
      if (withPlans) planDir.foreach { d =>
        Files.createDirectories(Paths.get(d))
        Files.writeString(Paths.get(d, s"$name.txt"),
          f"query: $name  wall=$wall%.3f s  sf=$sfDir%n" +
            run.actions.map(a => f"%n== action: ${a.name}  wall=${a.wallS}%.3f s ==%n${a.plan}")
              .mkString)
      }
      Some(run).filter(_.run > 0)
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Sessions.local()
    try {
      val out = probe(spark, args(0), names, runs, args.lift(3))
      out.foreach { r =>
        println(f"[probe] ${r.query} run${r.run} ${r.wallS}%.3f s  " +
          s"actions=${r.actions.size}")
        r.actions.foreach(a => println(f"[probe]   ${a.name} ${a.wallS}%.3f s"))
      }
      names.distinct.foreach { q =>
        println(f"[probe] $q best ${out.filter(_.query == q).map(_.wallS).min}%.3f s")
      }
    } finally spark.stop()
  }
}
