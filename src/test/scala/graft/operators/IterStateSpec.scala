package graft.operators

import graft.{SparkEntry, SparkTestSession}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** Graphs and a corpus small enough for many rounds. */
object IterStateSpec {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 12 nodes, edges i → i+1..i+3 (mod 12), both directions. */
  lazy val ring: DataFrame = {
    val e = for (i <- 0L until 12L; j <- 1L to 3L) yield (i, (i + j) % 12L)
    (e ++ e.map(_.swap)).toDF("s", "d")
  }

  /** [[ring]] plus a 9-node tail hanging off node 0: a 2-core peel takes
    * one tail node per round.
    */
  lazy val ringWithTail: DataFrame = {
    val tail = (99L +: (100L to 108L)).sliding(2).map(p => (p(0), p(1)))
      .map { case (a, b) => (if (a == 99L) 0L else a, b) }.toSeq
    ring.unionAll((tail ++ tail.map(_.swap)).toDF("s", "d"))
  }

  /** 30 documents of 40 words over a 6-word vocabulary. */
  lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(7)
    (1L to 30L).map(i => (i, Seq.fill(40)(s"w${rnd.nextInt(6)}").mkString(" ")))
      .toDF("doc_id", "text")
  }
}

class IterStateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Plan nodes, counting each cached plan and query stage it reads. */
  private def planSize(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => planSize(a.executedPlan)
    case s: QueryStageExec => 1 + planSize(s.plan)
    case m: InMemoryTableScanExec => 1 + planSize(m.relation.cachedPlan)
    case _ => 1 + p.children.map(planSize).sum
  }

  /** The executed plan size of every action `body` runs, in order. */
  private def actionSizes(body: => Any): Seq[Int] = {
    val sizes = ArrayBuffer.empty[Int]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        sizes.synchronized { sizes += planSize(qe.executedPlan) }
      override def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; GraftSql.awaitListeners(spark) }
    finally spark.listenerManager.unregister(listener)
    spark.catalog.clearCache()
    sizes.synchronized(sizes.toList)
  }

  test("materialized rounds plan queries of bounded size") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    Seq[(String, () => Any)](
      // labels settle after 3 rounds, the 4th certifies the fixpoint
      "connectedComponents" -> (() =>
        Dedup.connectedComponents(path, "a", "b")),
      "kcorePeel" -> (() => Graph.kcorePeel(IterStateSpec.ring, "s", "d",
        k = 3, rounds = 5)),
      "bfsDepth" -> (() => Graph.bfsDepth(IterStateSpec.ring, "s", "d",
        Seq(0L).toDF("id"), "id", maxDepth = 7))
    ).foreach { case (name, run) =>
      // no action runs before round 1: action k is round k's
      val sizes = actionSizes(run())
      info(s"$name: action plan sizes $sizes")
      assert(sizes.size >= 4, s"$name: $sizes")
      assert(sizes.drop(2).forall(_ <= sizes(1) + 8),
        s"$name: round plans grow: $sizes")
    }
  }

  /** Checkpoint directories (`rdd-<id>`) in the session's checkpoint dir. */
  private def checkpointDirs: Set[String] =
    spark.sparkContext.getCheckpointDir.toSet.flatMap { d: String =>
      val f = new java.io.File(new java.net.URI(d))
      Option(f.list()).toSet.flatMap((n: Array[String]) => n.toSet)
    }

  /** The checkpoint directories a frame's plan reads through its lineage. */
  private def readsCheckpoints(df: DataFrame): Set[String] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Set[String] =
      if (!seen.add(r.id)) Set.empty
      else r.getCheckpointFile.map(f => new org.apache.hadoop.fs.Path(f).getName)
        .toSet ++ r.dependencies.flatMap(d => walk(d.rdd))
    df.queryExecution.analyzed.collect { case l: LogicalRDD => walk(l.rdd) }
      .flatten.toSet
  }

  test("no round storage outlives clearCache(): the result's files only") {
    val past = IterState.AnchorEvery + 1
    val g = IterStateSpec.ring
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    Seq[(String, () => DataFrame)](
      "connectedComponents" -> (() => Dedup.connectedComponents(pairs, "a", "b")),
      "pageRank" -> (() => Graph.pageRank(g, "s", "d", iterations = past)),
      "kcorePeel" -> (() => Graph.kcorePeel(IterStateSpec.ringWithTail,
        "s", "d", k = 2, rounds = past)),
      "bfsDepth" -> (() => Graph.bfsDepth(g, "s", "d", Seq(0L).toDF("id"),
        "id", maxDepth = past)),
      "wlColors" -> (() => Graph.wlColors(g, "s", "d", rounds = past)),
      "bpeTrain" -> (() => TextAnalysis.bpeTrain(IterStateSpec.corpus,
        "doc_id", "text", merges = past)),
      "bpeEncode" -> (() => TextAnalysis.bpeEncode(IterStateSpec.corpus,
        "doc_id", "text", merges = past)),
      "hits" -> (() => Graph.hits(g, "s", "d", iterations = past / 2 + 1)),
      // 150 customers: 9 levels, one anchor
      "q_org_chain" -> (() => SparkEntry.queries("q_org_chain")(spark,
        "/root/testdata/sf0.001"))
    ).foreach { case (name, run) =>
      val rdds = spark.sparkContext.getPersistentRDDs.keySet
      val files = checkpointDirs
      val out = run()
      out.collect()
      spark.catalog.clearCache()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rdds
      assert(leaked.isEmpty, s"$name leaves persisted RDDs $leaked")
      val left = checkpointDirs -- files
      assert(left.subsetOf(readsCheckpoints(out)),
        s"$name leaves checkpoints $left its result does not read")
    }
  }
}
