package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The round state of every fixpoint loop (connected components,
  * PageRank, k-core, BPE, …). A loop reads [[frame]], builds the next
  * round from it, and hands that round back in one of two ways:
  *
  *  - [[advance]] chains the round LAZILY. A loop whose round reads its
  *    state once (pageRank, katz, lpa, ppr, the org chain) runs its
  *    whole chain in the consumer's one action, and the state keeps the
  *    hash(id) partitioning its merge produced, so no round re-shuffles
  *    it.
  *  - [[advanceWith]] MATERIALIZES the round through the loop's own
  *    action (a convergence sum, an ∞-norm, a count), which must consume
  *    every row: the loop reads the round more than once (bfs's
  *    frontier filter, CC's merge input) or takes an action per round,
  *    and a lazy chain would re-execute every earlier round each time.
  *
  * A materialized round becomes a PLAN LEAF: its rows are persisted
  * MEMORY_AND_DISK as a cache entry, and the next round reads them
  * through a `LogicalRDD` over that entry ([[GraftSql.cacheLeaf]]). So
  * every round plans a query of the same size, where reading the
  * cached frame itself nests each round's cached plan into the next,
  * once per read, and the plans (and their analysis) grow
  * geometrically: 26k → 110k → 443k formatted lines over three CC
  * rounds. The leaf keeps the RDD lineage, so a lost block is
  * recomputed from the round before it, back to the last anchor.
  *
  * Every [[IterState.AnchorEvery]]-th round is an ANCHOR instead: a
  * reliable checkpoint to files ([[IterState.durable]]), which bounds
  * both the lineage a lost block replays and the lineage every task
  * serializes. Between anchors a round costs no file write and read.
  *
  * Storage is freed eagerly: once a round is materialized, the cache
  * entry it was computed from is dropped, and once an anchor is
  * written, the older anchor's files are deleted (Spark's cleaner
  * would only delete them when the driver garbage-collects the RDD).
  * A loop must therefore read only the current [[frame]]. The final
  * round's cache entry outlives the loop, because its consumer still
  * reads it; `spark.catalog.clearCache()` releases it, as it does every
  * other cache entry. The last anchor's files stay with the result.
  */
final class IterState(init: DataFrame) {
  private val lvl = StorageLevel.MEMORY_AND_DISK
  private var cur: DataFrame = init
  // the cache entries behind `cur`, dropped when a later round is stored
  private var held: List[DataFrame] = Nil
  // `cur` is stored: a cache leaf, an anchor or a finished round
  private var stored = false
  private var anchor: DataFrame = null
  private var sinceAnchor = 0

  /** The current round: the init, a lazy chain, a cache leaf or an
    * anchor.
    */
  def frame: DataFrame = cur

  /** Chain `df` as the next round without an action (an anchor round
    * is still checkpointed).
    */
  def advance(df: DataFrame): DataFrame = {
    if (anchorDue) settle(IterState.durable(df))
    else { cur = df; stored = false; sinceAnchor += 1 }
    cur
  }

  /** Materialize `df` as the next round through `action`, which must
    * consume every row: it is the job that fills the round's storage,
    * so fold the loop's own per-round scalar into it rather than paying
    * a second job. A current frame that is not stored (the init) is
    * cached first, so the round computes it once however often it
    * reads it.
    */
  def advanceWith[A](df: DataFrame)(action: DataFrame => A): A = {
    if (!stored) held ::= cur.persist(lvl)
    if (anchorDue) {
      val next = IterState.durable(df)
      val out = action(next)
      settle(next)
      out
    } else {
      val out = action(df.persist(lvl))
      drop()
      held = List(df)
      cur = GraftSql.cacheLeaf(df); stored = true; sinceAnchor += 1
      out
    }
  }

  /** Store the current frame if it is a lazy chain or the init
    * (idempotent): the final round, so it stays correct to consume
    * after the operator unpersists the inputs the round plans read, or
    * an init that an action reads before round 1.
    */
  def finish(): DataFrame = {
    if (!stored) {
      cur.persist(lvl).count()
      drop(); held = List(cur); stored = true
    }
    cur
  }

  /** Free everything the state holds, the final round and the last
    * anchor included: only for an operator that stores its result
    * independently before returning (connectedComponents).
    */
  def release(): Unit = {
    drop()
    if (anchor != null) { IterState.free(anchor); anchor = null }
  }

  private def anchorDue: Boolean = sinceAnchor + 1 >= IterState.AnchorEvery

  private def drop(): Unit = { held.foreach(IterState.free); held = Nil }

  // `next` is a fresh anchor: no round before it is read any more
  private def settle(next: DataFrame): Unit = {
    drop()
    if (anchor != null) IterState.free(anchor)
    anchor = next; cur = next; stored = true; sinceAnchor = 0
  }
}

object IterState {
  /** Rounds per reliable checkpoint (anchor) of an iterative loop. */
  val AnchorEvery = 8

  /** Reliably checkpoint `df` (eagerly) and return the file-backed
    * frame: files survive the loss of any executor, where
    * `localCheckpoint` blocks die with theirs and the truncated lineage
    * cannot recompute them. The directory is Spark's own
    * `spark.checkpoint.dir`, which the SparkContext applies at start
    * (at cluster scale, a shared durable filesystem). When it is unset,
    * a temp directory is made for the SparkContext and deleted when the
    * context stops.
    */
  def durable(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) synchronized {
      if (sc.getCheckpointDir.isEmpty) {
        val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
        sc.setCheckpointDir(dir.toString)
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            org.apache.commons.io.FileUtils.deleteQuietly(dir)
        })
      }
    }
    df.checkpoint()
  }

  /** Release one stored round of either kind: drop its cache entry, or
    * delete its checkpoint files. Only once nothing reads it.
    */
  private def free(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
      case _ =>
    }
  }
}
