package graft.operators

import org.apache.spark.sql.DataFrame

/** RELIABLE per-round state checkpointing for iterative algorithms
  * (connected components, PageRank): each round's labels/ranks are cut
  * from their lineage by materializing to checkpoint FILES, not
  * executor blocks.
  *
  * Why not `localCheckpoint(true)`: local checkpoint blocks live on
  * executors and die with them — on a real cluster a long iterative
  * run over 100 TB loses its only copy of the round state on the first
  * executor loss, and the truncated lineage means Spark cannot
  * recompute it (the failure is terminal, not slow). Reliable
  * `checkpoint()` against a (shared at scale: HDFS/S3; local here)
  * checkpoint directory survives any executor loss.
  *
  * The eager-freeing discipline is kept: [[free]] deletes a superseded
  * round's checkpoint files immediately — Spark's own cleaner only
  * removes them on driver GC of the RDD (with
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`), which
  * inside a long bench/streaming session is effectively never.
  *
  * Directory resolution, once per session: `spark.graft.checkpointDir`
  * conf, else `GRAFT_CHECKPOINT_DIR` env, else a fresh temp dir. At
  * cluster scale, set the conf to a durable shared filesystem.
  */
object IterCheckpoint {
  /** Eagerly checkpoint one round of iteration state to reliable
    * storage, returning the file-backed DataFrame.
    */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) synchronized {
      if (sc.getCheckpointDir.isEmpty) {
        val dir = spark.conf.getOption("spark.graft.checkpointDir")
          .orElse(sys.env.get("GRAFT_CHECKPOINT_DIR"))
          .getOrElse(java.nio.file.Files
            .createTempDirectory("graft-ckpt").toString)
        sc.setCheckpointDir(dir)
      }
    }
    df.checkpoint() // eager = true, reliable = true
  }

  /** Free a SUPERSEDED round: drop any cached blocks and delete its
    * checkpoint files. Only call once nothing references the round —
    * i.e. after the next round is eagerly checkpointed and any
    * convergence count over the old state is taken.
    */
  def free(df: DataFrame): Unit =
    org.apache.spark.sql.GraftSql.checkpointRdd(df).foreach { rdd =>
      rdd.unpersist(blocking = false)
      rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val fs = p.getFileSystem(
          df.sparkSession.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
      }
    }
}

/** Round-state manager for iterative operators (r13 re-tune, guide
  * §2.4 "remove shuffles outright"): a per-round RELIABLE checkpoint
  * comes back as a LogicalRDD with UnknownPartitioning under AQE
  * (measured in r12's kcore experiment), so every round's join
  * re-shuffled — or at small scale re-broadcast — the state vector
  * even though the round aggregation that produced it had already
  * hash-partitioned it on the join key. Holding the round state as a
  * lazy or cached frame PRESERVES that partitioning (the cache
  * manager pins a cached plan's output partitioning —
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
  * defaults to preserving it), so a round joins the pre-partitioned
  * edge cache with NO exchange on either input at sort-merge scale,
  * and the per-round checkpoint file write+read+delete disappears.
  *
  * Reliability becomes a CADENCE, not a per-round tax: every
  * [[IterState.AnchorEvery]]-th round is still
  * reliably checkpointed via [[IterCheckpoint]], so recovery after an
  * executor loss replays at most that many rounds from durable files
  * (between anchors, shuffle files and deterministic lineage give the
  * normal intra-job recovery — every round expression here is
  * RNG-free), and the analyzed-plan depth stays bounded for long
  * loops. Superseded anchors and round caches are freed eagerly, as
  * the per-round checkpoints were.
  *
  * Two modes:
  *  - `eager = false` (single-consumer round plans — pageRank, katz,
  *    lpa, ppr): rounds chain LAZILY; the consumer's one action
  *    executes the whole inter-anchor chain as one job with no
  *    per-round action at all.
  *  - `eager = true` (rounds re-read their state — bfs's frontier
  *    filter, wl/CC/bpe's multi-action rounds): each round is
  *    persisted and materialized by [[advanceWith]]'s action (fold
  *    the loop's own convergence/argmax action into the same job).
  *
  * End of loop: call [[finish]] — it materializes the final round if
  * lazy and drops the superseded cache. The final cache/anchor
  * intentionally outlives the operator (its consumer's action still
  * needs it); bench/verify sessions clear caches per query, matching
  * the file-leak discipline the final per-round checkpoints had.
  */
final class IterState(init: DataFrame, eager: Boolean = false) {
  private val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  private var sinceAnchor = 0
  private var anchor: DataFrame = null
  // curMat: the current frame holds storage (a cache entry) to free
  // when superseded. Eager init is persist-marked only — the first
  // round action populates it (concurrent scans of one cached plan
  // share block-level population, so a twice-referenced init never
  // computes twice).
  private var curMat = false
  private var cur: DataFrame =
    if (!eager) init
    else { val c = init.persist(lvl); curMat = true; c }

  /** The current round's frame (lazy or cached between anchors). */
  def frame: DataFrame = cur

  /** Advance one round, materializing `df` through `action` (which
    * must fully consume it — an aggregate or count; it doubles as the
    * cache-population job, so fold the loop's own convergence scalar
    * into it rather than paying a second job). Only meaningful in
    * eager mode (in lazy mode the action would execute the whole
    * chain — use [[advance]]).
    */
  def advanceWith[A](df: DataFrame)(action: DataFrame => A): A = {
    val anchorRound = sinceAnchor + 1 >= IterState.AnchorEvery
    val next =
      if (anchorRound) IterCheckpoint(df)
      else df.persist(lvl)
    val out = action(next)
    // the superseded round: drop its cache (nothing to drop after a
    // lazy round or an anchor)
    if (curMat) cur.unpersist()
    if (anchorRound) {
      // the fresh anchor is file-backed and self-contained, so the
      // previous anchor's files are dead (intermediate cached/lazy
      // rounds held no files)
      if (anchor != null) IterCheckpoint.free(anchor)
      anchor = next; sinceAnchor = 0; curMat = false
    } else { sinceAnchor += 1; curMat = true }
    cur = next
    out
  }

  /** Advance one round without a caller action: lazy mode chains the
    * plan (anchor rounds still checkpoint); eager mode materializes
    * via count().
    */
  def advance(df: DataFrame): DataFrame = {
    if (eager) { advanceWith(df)(_.count()); cur }
    else {
      val anchorRound = sinceAnchor + 1 >= IterState.AnchorEvery
      if (anchorRound) {
        val next = IterCheckpoint(df)
        if (anchor != null) IterCheckpoint.free(anchor)
        anchor = next; sinceAnchor = 0
        cur = next
      } else { cur = df; sinceAnchor += 1 }
      curMat = false
      cur
    }
  }

  /** Materialize the final round (idempotent): after this the frame is
    * cache- or file-backed, so it stays correct to consume after the
    * operator unpersists the inputs the round plans reference.
    */
  def finish(): DataFrame = {
    if (!curMat && ((anchor == null) || !(cur eq anchor))) {
      cur = cur.persist(lvl); cur.count(); curMat = true
    }
    cur
  }

  /** Drop EVERYTHING this state holds (final cache and anchor files) —
    * only for operators that re-materialize their result independently
    * (e.g. connectedComponents' final contract checkpoint) before
    * returning.
    */
  def release(): Unit = {
    if (curMat) { cur.unpersist(); curMat = false }
    if (anchor != null) { IterCheckpoint.free(anchor); anchor = null }
  }
}

object IterState {
  /** Rounds per reliable checkpoint (anchor) of an iterative loop. */
  val AnchorEvery = 8
}
