package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Iterative graph analytics over edge DataFrames — the
  * join-per-round shape (no GraphX dependency, no vertex mirroring):
  * each round is one hash join on the node id plus one keyed
  * aggregation, so a round's cost is the cost of a shuffle over the
  * edge table and the per-round state is freed eagerly
  * ([[IterState]]).
  */
object Graph {
  /** PageRank over a directed edge list, `iterations` synchronous
    * rounds from a uniform start — ENGINE-EXACT by construction so any
    * SQL engine replaying the same formula reproduces every bit:
    * per-edge contributions rank(u)/outdeg(u) are fixed-order scalar
    * double ops, and the per-node accumulation (the one
    * order-dependent step) happens on a fixed 1e-12 integer grid —
    * `floor(c · 1e12)` summed as BIGINT. floor of an identical double
    * is rule-identical in every engine and integer sums are exact and
    * order-independent; a double→DECIMAL cast here would NOT be safe
    * (Spark rounds the shortest decimal repr, DuckDB the exact binary
    * value — at 14-digit scales they disagree ~1e-6 per term, a
    * lottery the exact gate loses at edge-count scale). The update
    * (1−d)/N + d·sum/1e12 is again fixed-order double. Dangling nodes
    * (no out-edges) leak their mass — the simplified textbook form;
    * ranks then order nodes identically to the redistributing form on
    * connected graphs, which is what rank is for.
    *
    * Scale shape (re-tuned in the r12 optimization round, guide §2.4):
    * the edge table is persisted PRE-PARTITIONED ON ITS PER-ROUND JOIN
    * KEY (`repartition(src)` before the dedup — hash(src) clusters
    * (src, dst) too, so the distinct itself runs on that one exchange),
    * so no round ever re-shuffles the edges: measured before the
    * change, every round paid one full-edge Exchange because the
    * persisted (src, dst)-hash layout did not satisfy the join's src
    * distribution. Node set and out-degree come from ONE aggregation
    * pass (union of endpoint projections, sum of per-src 1s) instead
    * of separate distinct + groupBy passes, and `od` RIDES THE RANK
    * STATE through every checkpoint, removing the per-round
    * ranks⋈outDeg join entirely. A round is therefore: one
    * co-partitioned edges⋈ranks join on src, one map-side-combined
    * sum on the destination, one co-partitioned outer merge — the
    * message-passing minimum. Round state is an [[IterState]] chain
    * (partitioning preserved, reliable anchors, superseded rounds
    * freed eagerly). Rounds are O(diameter)-free: `iterations` is
    * fixed, so total work is iterations × one message shuffle
    * regardless of graph shape.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be positive, got $iterations")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .distinct().persist(lvl)
    // nodes + out-degree in ONE pass; od = 0.0 marks sink-only nodes
    // (they never match e.src, exactly like the inner ranks⋈outDeg
    // join they replace). count→double and sum-of-1s→double agree
    // bit-for-bit, so every contribution c is unchanged.
    val nodesOd = e.select(col("src").as("id"), lit(1L).as("__o"))
      .unionAll(e.select(col("dst").as("id"), lit(0L).as("__o")))
      .groupBy("id").agg(sum(col("__o")).cast("double").as("od"))
      .persist(lvl)
    // bounded driver collect: one scalar (node count feeds the teleport
    // constant — the PQ-sample/vocab-top-K pattern)
    val n = nodesOd.count()
    // each round reads the ranks once, so rounds chain lazily
    val st = new IterState(
      nodesOd.select(col("id"), lit(1.0 / n).as("rank"), col("od")))
    for (_ <- 1 to iterations) {
      val ranks = st.frame
      val contrib = e
        .join(ranks.filter(col("od") > 0).select(col("id").as("src"),
          floor(col("rank") / col("od") * lit(1e12)).as("c")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("c")).as("in_sum"))
      st.advance(nodesOd.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit((1.0 - damping) / n) +
            lit(damping) *
              (coalesce(col("in_sum"), lit(0L)).cast(DoubleType) /
                lit(1e12)))
            .as("rank"), col("od")))
    }
    val ranks = st.finish()
    e.unpersist(); nodesOd.unpersist()
    ranks.select(col("id"), col("rank"))
  }

  /** PERSONALIZED PAGERANK: [[pageRank]] with the teleport mass
    * concentrated on a SEED SET instead of spread uniformly — the
    * "how close is every page to my trusted roots" score
    * (TrustRank-style crawl prioritization, seed-anchored curation
    * priors, related-item expansion from a query set). rank₀ = 1/|S|
    * on seeds and 0 elsewhere; each round redistributes d·(in-flow)
    * plus (1−d)·(seed teleport). Same engine-exactness contract as
    * [[pageRank]]: contributions cross the shuffle as ⌊rank/od·1e12⌋
    * integers, the teleport term keeps one fixed double expression
    * order, so both engines replay every bit.
    *
    * Scale shape: identical to [[pageRank]] (and re-tuned with it in
    * r12): edges persisted pre-partitioned on src so no round
    * re-shuffles them, node set + out-degree from one aggregation
    * pass, `od` and `tele` riding the persisted base/state so a round
    * is join + map-side-combined sum + co-partitioned outer merge; the
    * only driver scalars are |S| (one count). Mass unreachable from
    * the seeds stays exactly 0.0 and rides the node table, never a
    * frontier blowup.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: DataFrame, seedCol: String,
      iterations: Int, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be positive, got $iterations")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .distinct().persist(lvl)
    val sd = seeds.select(col(seedCol).as("id")).distinct()
    // nodes + out-degree in one pass (the pageRank trick); od = 0.0
    // for sink-only nodes, which never match e.src
    val nodesOd = e.select(col("src").as("id"), lit(1L).as("__o"))
      .unionAll(e.select(col("dst").as("id"), lit(0L).as("__o")))
      .groupBy("id").agg(sum(col("__o")).cast("double").as("od"))
    // bounded driver collect: one scalar (the seed count)
    val nSeeds = sd.count()
    require(nSeeds > 0, "personalizedPageRank needs a non-empty seed set")
    val base = nodesOd
      .join(sd.withColumn("__s", lit(1)), Seq("id"), "left")
      .select(col("id"),
        when(col("__s").isNotNull, lit(1.0 / nSeeds))
          .otherwise(lit(0.0)).as("tele"), col("od"))
      .persist(lvl)
    // each round reads the ranks once, so rounds chain lazily
    val st = new IterState(
      base.select(col("id"), col("tele").as("rank"), col("od")))
    for (_ <- 1 to iterations) {
      val ranks = st.frame
      val contrib = e
        .join(ranks.filter(col("od") > 0).select(col("id").as("src"),
          floor(col("rank") / col("od") * lit(1e12)).as("c")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("c")).as("in_sum"))
      st.advance(base.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - damping) * col("tele") +
            lit(damping) *
              (coalesce(col("in_sum"), lit(0L)).cast(DoubleType) /
                lit(1e12)))
            .as("rank"), col("od")))
    }
    val ranks = st.finish()
    e.unpersist(); base.unpersist()
    ranks.select(col("id"), col("rank"))
  }

  /** Exact triangle count of the UNDIRECTED graph under `edges`
    * (direction and duplicates ignored), by degree-ordered wedge join —
    * each edge is oriented from its (degree, id)-smaller endpoint, so
    * every triangle is enumerated exactly once and the wedge fan-out
    * per node is bounded by its ORIENTED out-degree, which the
    * orientation caps at O(√E) — the classic trick that makes triangle
    * counting survive power-law hubs (a celebrity node's O(d²) wedge
    * explosion lands on the low-degree side instead). Returns one row
    * (n_nodes, n_edges, n_wedges, n_triangles); all-integer, so any
    * engine replaying the same orientation reproduces it exactly.
    *
    * Scale shape: two hash joins (wedge build on src, closure check on
    * the (v, w) pair) + exact-integer counts; nothing all-pairs,
    * nothing collected.
    */
  def triangleCount(edges: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val und = edges
      .select(least(col(aCol), col(bCol)).as("x"),
        greatest(col(aCol), col(bCol)).as("y"))
      .filter(col("x") =!= col("y")).distinct()
      .persist(lvl)
    val deg = und.select(col("x").as("n"))
      .unionAll(und.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .persist(lvl)
    val kx = struct(col("dx"), col("x"))
    val ky = struct(col("dy"), col("y"))
    val oriented = und
      .join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
      .select(
        when(kx < ky, col("x")).otherwise(col("y")).as("src"),
        when(kx < ky, col("y")).otherwise(col("x")).as("dst"),
        when(kx < ky, col("dy")).otherwise(col("dx")).as("dd"))
      .persist(lvl)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (struct(col("e1.dd"), col("e1.dst")) <
            struct(col("e2.dd"), col("e2.dst"))))
      .select(col("e1.dst").as("v"), col("e2.dst").as("w"))
      .persist(lvl)
    val closed = wedges.join(
      oriented.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"))
    // persists stay live into execution (the simhashPortablePairs
    // pattern): wedges feeds both the count and the closure join
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  /** LOCAL CLUSTERING COEFFICIENT per node — 2·T_v/(d_v·(d_v−1)) on
    * the integer micro grid: the "is this node's neighborhood a
    * community or a star" score that separates organic link
    * neighborhoods from hub-and-spoke spam farms (the per-node
    * refinement of [[triangleCount]]'s global census). Triangles are
    * enumerated once by the same degree-ordered wedge join (oriented
    * out-degree capped at O(√E) — hub-safe), then credited to all
    * three corners; the coefficient is a truncating int division over
    * non-negatives, engine-exact. Nodes of degree < 2 are omitted
    * (coefficient undefined).
    *
    * Returns (id, deg, n_tri, lcc_micro) ordered by id.
    */
  def localClustering(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val und = edges
      .select(least(col(aCol), col(bCol)).as("x"),
        greatest(col(aCol), col(bCol)).as("y"))
      .filter(col("x") =!= col("y")).distinct()
      .persist(lvl)
    val deg = und.select(col("x").as("n"))
      .unionAll(und.select(col("y").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      .persist(lvl)
    val kx = struct(col("dx"), col("x"))
    val ky = struct(col("dy"), col("y"))
    val oriented = und
      .join(deg.select(col("n").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dy")), "y")
      .select(
        when(kx < ky, col("x")).otherwise(col("y")).as("src"),
        when(kx < ky, col("y")).otherwise(col("x")).as("dst"),
        when(kx < ky, col("dy")).otherwise(col("dx")).as("dd"))
      .persist(lvl)
    // wedges KEEP their origin so each closed triangle (s, v, w) can
    // credit all three corners
    val tri = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (struct(col("e1.dd"), col("e1.dst")) <
            struct(col("e2.dd"), col("e2.dst"))))
      .select(col("e1.src").as("s"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"))
    // ONE pass crediting all three corners (r12): the previous 3-way
    // unionAll of projections re-executed the whole wedge+closure join
    // once per branch — explode is the same multiset of ids from a
    // single execution
    val perNode = tri
      .select(explode(array(col("s"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    deg.filter(col("d") >= 2)
      .select(col("n").as("id"), col("d").as("deg"))
      .join(perNode, Seq("id"), "left")
      .na.fill(0L, Seq("n_tri"))
      .withColumn("lcc_micro",
        expr("2L * n_tri * 1000000L div (deg * (deg - 1L))"))
      .orderBy("id")
  }

  /** Bounded k-CORE peeling: `rounds` synchronized rounds of deleting
    * every node of degree < k (with its edges) from an undirected
    * graph given as a symmetrized edge list (both directions present,
    * so degree = out-degree). After enough rounds this IS the k-core
    * (a round that deletes nothing is a fixpoint); a small fixed
    * `rounds` is the bounded-latency variant — each round deletes the
    * whole current shell, and real graphs' core numbers stabilize in
    * a handful of shells.
    *
    * Scale shape: a round is one map-side-combined degree count plus
    * two semi-joins of the edge list against the (shrinking) survivor
    * set — all hash-partitioned on the node id, no windows, no driver
    * state. Each round's edge list is a stored [[IterState]] round (a
    * plan leaf): without the cut, round r's plan re-derives every
    * earlier round — the degree count AND both semi-joins re-expand
    * the whole prefix, so work grows geometrically in `rounds` instead
    * of linearly.
    * Returns surviving (node, degree) — degree within the core.
    */
  def kcorePeel(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k,rounds >= 1, got $k,$rounds")
    // NOT pre-partitioned (unlike the persisted-edge operators, r12):
    // a seed repartition would help only round 1 while paying a full
    // extra edge exchange — measured slower. Each round already runs
    // on one post-partial-agg degree exchange plus broadcast-able semi
    // joins. A round reads the shrinking edge list three times, so
    // rounds are materialized.
    val st = new IterState(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")))
    for (_ <- 1 to rounds) {
      val e = st.frame
      val keep = e.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("src")
      st.advanceWith(
        e.join(keep, Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("src", "dst"), Seq("dst"),
            "left_semi"))(_.count())
    }
    st.finish().groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
  }

  /** Link prediction by COMMON-NEIGHBOR count: candidate pairs are the
    * open wedges of an undirected graph (two nodes sharing a neighbor
    * but no edge), scored by how many neighbors they share — pure
    * integer, so any engine replays it exactly.
    *
    * `edges` is one row per undirected edge with aCol < bCol (the
    * canonical form the dedup/triangle operators use). Wedges are
    * generated only through middles with degree ≤ `degCap`: work per
    * middle is d², so the cap bounds the hub-skew blowup at 100 TB the
    * same way the LSH bucket-size cap does (dropped hubs are the
    * standard approximation — a hub's wedge set is quadratic and
    * near-meaningless for prediction). Existing edges are removed by
    * an anti join; output is (a, b, cn), a < b.
    */
  def linkPredict(edges: DataFrame, aCol: String, bCol: String,
      degCap: Int = 128): DataFrame = {
    val eg = edges.select(col(aCol).as("x"), col(bCol).as("y"))
      .distinct()
    val e = eg.select(col("x").as("m"), col("y").as("v"))
      .union(eg.select(col("y").as("m"), col("x").as("v")))
    val deg = e.groupBy("m").agg(count(lit(1)).as("d"))
    val ec = e.join(deg.filter(col("d") <= degCap).select("m"), "m")
    val wg = ec.as("e1").join(ec.as("e2"),
        col("e1.m") === col("e2.m") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("a"), col("e2.v").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"))
    wg.join(eg, col("a") === col("x") && col("b") === col("y"),
      "left_anti")
  }

  /** ADAMIC–ADAR link prediction — [[linkPredict]]'s candidate set
    * with the weighting that made the score canonical: each common
    * neighbor z counts 1/ln(deg z), so a pair introduced by a niche
    * hub outranks one sharing only celebrity hubs (raw
    * common-neighbor counts can't tell them apart). Per-hub weight is
    * ⌊1e9/ln(deg z)⌋ — one fixed-order IEEE division + floor per
    * DISTINCT HUB, guarded to degree ≥ 2 (a degree-1 hub closes no
    * wedge; the guard keeps the expression total) — then an exact
    * int64 sum per candidate pair, so any engine replaying the
    * formula matches bit-for-bit. Returns (a, b, cn, aa_nano) for
    * non-adjacent pairs.
    *
    * Scale shape: [[linkPredict]]'s exactly — the wedge join fans out
    * only through hubs the `degCap` filter keeps (the deliberate
    * celebrity-hub guard: O(cap²) pairs per hub), one aggregation,
    * one anti join. The hub weight rides the wedge rows; no extra
    * pass.
    *
    * Edge-form contract (round-11 advice): the input is an UNDIRECTED
    * edge list and is canonicalized internally — least/greatest +
    * distinct — so reversed or bidirectional duplicates of the same
    * edge collapse before degrees are counted, and self-loops are
    * dropped (a self-loop closes no wedge and would otherwise double
    * its endpoint's degree). Callers passing `aCol < bCol` canonical
    * rows (the [[linkPredict]] convention) see identical results.
    */
  def adamicAdar(edges: DataFrame, aCol: String, bCol: String,
      degCap: Int = 128): DataFrame = {
    val eg = edges.select(least(col(aCol), col(bCol)).as("x"),
        greatest(col(aCol), col(bCol)).as("y"))
      .filter(col("x") < col("y"))
      .distinct()
    val e = eg.select(col("x").as("m"), col("y").as("v"))
      .union(eg.select(col("y").as("m"), col("x").as("v")))
    val deg = e.groupBy("m").agg(count(lit(1)).as("d"))
    val ec = e.join(deg.filter(col("d") <= degCap), "m")
      .withColumn("w", when(col("d") >= 2L,
        floor(lit(1e9) / log(col("d").cast("double"))).cast("long"))
        .otherwise(lit(0L)))
    val wg = ec.as("e1").join(ec.as("e2"),
        col("e1.m") === col("e2.m") && col("e1.v") < col("e2.v"))
      .select(col("e1.v").as("a"), col("e2.v").as("b"),
        col("e1.w").as("w"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), sum("w").as("aa_nano"))
    wg.join(eg, col("a") === col("x") && col("b") === col("y"),
      "left_anti")
  }

  /** WEIGHTED LABEL PROPAGATION (synchronous, `rounds` fixed rounds,
    * labels start as node ids) — the near-linear community detector:
    * each round every node adopts the label with the LARGEST total
    * edge weight among its neighbors, ties to the smallest label —
    * a deterministic argmax, so the whole run is engine-replayable
    * (no RNG, no floats; weights and labels stay integers end to
    * end). Fixed synchronous rounds sidestep the oscillation the
    * asynchronous variant needs tie-shuffling for, and make the
    * unrolled SQL replay exact. Returns the final label histogram
    * (community, n_nodes) — the corpus-structure read (how many
    * communities, how concentrated) that feeds mix planning.
    *
    * Scale shape (re-tuned in r12, guide §2.4): [[pageRank]]'s round
    * structure — the symmetrized, weight-merged edge table is persisted
    * PRE-PARTITIONED ON ITS PER-ROUND JOIN KEY (`repartition(b)` feeds
    * the (a, b) weight merge, which hash(b) already clusters, so the
    * merge runs on that one exchange and no round re-shuffles the
    * edges); per round one hash join with the current label table, one
    * (node, label) weight sum (map-side combinable), then the per-node
    * argmax as a SECOND AGGREGATION — max(struct(ws, −nl)) is
    * map-side-combinable and shuffles at most one row per node per
    * partition, where the previous row_number window re-shuffled and
    * sorted every (node, label) score row. Round state is an
    * [[IterState]] chain.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
        col(weightCol).cast("long").as("w"))
      .unionAll(edges.select(col(dstCol).as("a"), col(srcCol).as("b"),
        col(weightCol).cast("long").as("w")))
      .repartition(col("b"))
      .groupBy("a", "b").agg(sum("w").as("w"))
      .persist(lvl)
    // the node set feeds only the label init and is consumed once —
    // no persist needed (r13: a single-use cache is pure write cost)
    val nodes = e.select(col("a").as("id")).distinct()
    // the label table is read once per round, so rounds chain lazily
    // and keep the argmax aggregation's hash(id) partitioning into the
    // next round's merge
    val st = new IterState(nodes.withColumn("lbl", col("id")))
    for (_ <- 1 to rounds) {
      val scores = e
        .join(st.frame.select(col("id").as("b"), col("lbl").as("nl")),
          "b")
        .groupBy(col("a").as("id"), col("nl"))
        .agg(sum("w").as("ws"))
      // deterministic argmax (ws desc, nl asc) as one aggregate:
      // lexicographic max of (ws, −nl) picks exactly the row the old
      // row_number window picked (labels are node ids ≥ 0, so the
      // negation is overflow-free)
      // every node has ≥ 1 neighbor by construction, so the argmax
      // covers the full node set
      st.advance(scores.groupBy(col("id"))
        .agg(max(struct(col("ws"), (-col("nl")).as("mnl"))).as("m"))
        .select(col("id"), (-col("m.mnl")).as("lbl")))
    }
    val lab = st.finish()
    val out = lab.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("community")
    e.unpersist()
    out
  }

  /** Newman MODULARITY of a node partition over an undirected edge
    * list — the "is this community assignment better than chance"
    * score (Q = Σ_c e_c/m − (deg_c/2m)², Q ≈ 0 for a random
    * partition): the eval that closes the graph family's loop the way
    * purity/silhouette close clustering's. Exact by construction: the
    * three sufficient statistics (m, within-community edges, Σ of
    * squared community degree sums) are pure integer aggregates, and
    * q_nano derives from them in one fixed-order double expression.
    * The 4m·e_within term stays under 2⁵³ through m ≈ 4.7·10⁷ edges
    * (4m² ≤ 2⁵³); past that, bit-equality across engines still holds
    * because both run the identical fixed-order IEEE expression on
    * identical integers — and the exact integers are emitted
    * alongside for downstream division at any scale.
    *
    * `comms` is one (id, comm) row per node. Returns one row:
    * (n_edges, e_within, sum_comm_degsq, q_nano).
    *
    * Scale shape: one distinct over the edges, two broadcast-or-hash
    * joins against the (much smaller) community table, and
    * map-side-combined counts — nothing quadratic, no windows.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      comms: DataFrame, idCol: String, commCol: String): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cm = comms.select(col(idCol).as("id"), col(commCol).as("comm"))
    val m = e.count()
    val eWithin = e
      .join(cm.select(col("id").as("src"), col("comm").as("cs")), "src")
      .join(cm.select(col("id").as("dst"), col("comm").as("cd")), "dst")
      .filter(col("cs") === col("cd")).count()
    // sum over an empty degree table is null — pin the empty graph
    val degSqRow = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .join(cm, "id")
      .groupBy("comm").agg(sum("deg").as("dc"))
      .agg(sum(col("dc") * col("dc")).as("sq")).head()
    val degSq = if (degSqRow.isNullAt(0)) 0L else degSqRow.getLong(0)
    e.unpersist()
    // empty graph: Q is undefined; pin 0 rather than NaN-from-0/0
    val qNano = if (m == 0L) 0L else math.floor(
      (4.0 * m * eWithin - degSq.toDouble) / (4.0 * m * m) * 1e9).toLong
    val rows = Seq(org.apache.spark.sql.Row(m, eWithin, degSq, qNano))
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      StructType(Seq(
        StructField("n_edges", LongType, nullable = false),
        StructField("e_within", LongType, nullable = false),
        StructField("sum_comm_degsq", LongType, nullable = false),
        StructField("q_nano", LongType, nullable = false))))
  }

  /** DEGREE ASSORTATIVITY (Newman's r) of an undirected edge list —
    * do hubs link to hubs (r > 0, social-style) or to leaves (r < 0,
    * hub-and-spoke/bipartite-style)? The structural fingerprint that
    * decides whether hub-skew mitigations (salting, degree caps) will
    * bite at scale. r is the Pearson correlation of endpoint degrees
    * over both edge orientations; by symmetry both marginals coincide,
    * so r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) — NO square root. The
    * four sufficient statistics are exact int64 aggregates; r_nano
    * derives from them in one fixed-order double expression (both
    * engines perform identical IEEE ops on identical integers, so the
    * result is bit-equal even past 2⁵³).
    *
    * Returns one row (n_pairs, sum_d, sum_dd, sum_d2, r_nano).
    * Scale shape: one degree aggregate + two broadcast-or-hash joins
    * + one 1-row moment aggregate; nothing quadratic.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val eu = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .distinct()
    val e = eu.unionAll(eu.select(col("b").as("a"), col("a").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("deg"))
    val row = e
      .join(deg.select(col("id").as("a"), col("deg").as("dx")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("dy")), "b")
      .agg(count(lit(1)).as("n"), sum("dx").as("sx"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"))
      .head()
    e.unpersist()
    val (n, sx, sxy, sxx) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3))
    val num = n.toDouble * sxy.toDouble - sx.toDouble * sx.toDouble
    val den = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
    // regular graph (zero degree variance): r is undefined; pin 0
    // rather than letting NaN hit engine-divergent casts
    val rNano =
      if (den == 0.0) 0L else math.floor(num / den * 1e9).toLong
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(n, sx, sxy, sxx, rNano)),
      StructType(Seq(
        StructField("n_pairs", LongType, nullable = false),
        StructField("sum_d", LongType, nullable = false),
        StructField("sum_dd", LongType, nullable = false),
        StructField("sum_d2", LongType, nullable = false),
        StructField("r_nano", LongType, nullable = false))))
  }

  /** Multi-source BFS DEPTH: the minimum hop distance from a seed set
    * to every node within `maxDepth` hops — the link-distance feature
    * a crawl/curation pipeline computes from trusted roots (distance
    * from seed domains is the classic quality prior), and the frontier
    * query of an incremental crawler. Pure integer min-propagation,
    * so any engine replays it exactly: dist₀ = 0 on seeds; each round
    * relaxes dist(v) = min(dist(v), min over in-neighbors dist(u)+1).
    * Nodes unreached within `maxDepth` are absent (never emitted with
    * a sentinel).
    *
    * Scale shape: [[pageRank]]'s round structure — one hash join of
    * the persisted edge table with the current FRONTIER (only the
    * nodes first settled last round — a node settled earlier can
    * never improve a neighbor's min-distance, so re-expanding it is
    * pure waste) plus one full-outer merge per round, state held by
    * [[IterState]]. Work per
    * round is bounded by the frontier, not the cumulative reached
    * set.
    */
  def bfsDepth(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxDepth: Int): DataFrame = {
    require(maxDepth >= 1, s"maxDepth must be positive, got $maxDepth")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // pre-partitioned on the per-round join key (r12 re-tune): the
    // dedup runs on the same exchange, no round re-shuffles the edges
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .distinct().persist(lvl)
    // each round reads its state TWICE (the merge input and the
    // frontier filter), so rounds are materialized
    val st = new IterState(seeds.select(col(seedCol).as("id"))
      .distinct().withColumn("dist", lit(0L)))
    // lazy projection over the stored round — no extra state
    var frontier = st.frame
    for (r <- 1 to maxDepth) {
      // everything the frontier reaches is at distance exactly r (all
      // frontier rows carry dist r-1), so no per-candidate min needed
      val reach = e.join(frontier.select(col("id").as("src")), "src")
        .select(col("dst").as("id")).distinct()
        .withColumn("nd", lit(r.toLong))
      // least() skips nulls, so a side missing from the full join
      // simply yields the other side's distance
      st.advanceWith(st.frame.join(reach, Seq("id"), "full_outer")
        .select(col("id"), least(col("dist"), col("nd")).as("dist")))(
        _.count())
      // dist==r ⇔ newly settled this round: every earlier-settled
      // node has dist ≤ r-1, and least() never increases a distance
      frontier = st.frame.filter(col("dist") === lit(r.toLong))
    }
    val dist = st.finish()
    e.unpersist()
    dist
  }

  /** HITS hub/authority scores (Kleinberg) over a directed edge list,
    * `iterations` synchronous rounds, ENTIRELY ON INTEGER GRIDS so any
    * engine replaying the formula reproduces every bit: scores start
    * at 1e6, each half-round is an exact int64 sum over in-edges
    * (auth(p) = Σ hub(c), then hub(c) = Σ auth(p)), and the ∞-norm
    * renormalization is the overflow-free truncating form
    * `s div (max(s) div 1e6 + 1)` — the same integer renorm
    * [[graft.operators.Similarity.embedPcaExtremes]] pins via the
    * oracle-env probe. All values stay non-negative, so truncation
    * equals floor in every engine. Returns one row per node per side:
    * (side 'hub'|'auth', id, score).
    *
    * Scale shape: identical to [[pageRank]] — each half-round is one
    * hash join of the persisted edge table with the current score
    * vector plus one map-side-combined sum on the opposite endpoint;
    * the only driver materialization is the two 1-row max() scalars
    * per round (the renorm constants). Node-count-free: no collect of
    * scores, no windows. Dangling behavior is HITS-standard: a node
    * with no in-edges on a side scores 0 there after round 1.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations must be positive, got $iterations")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // TWO persisted copies of the deduped edge list, one per half-round
    // join key (r12 re-tune, guide §2.4): the half-rounds alternate
    // between joining on src and on dst, and a single layout forced a
    // full edge re-shuffle every half-round. eD derives from eS with
    // one extra exchange paid once; 2·|E| cache is the standard
    // vertex-program trade (GraphX mirrors the same bytes).
    val eS = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .distinct().persist(lvl)
    val eD = eS.repartition(col("dst")).persist(lvl)
    def eFor(inCol: String): DataFrame =
      if (inCol == "src") eS else eD
    // one round state over the half-rounds, each materialized by its
    // ∞-norm max: the next half-round reads it, and the max is the one
    // job that stores it
    val st = new IterState(eS.select(col("src").as("id")).distinct()
      .withColumn("s", lit(1000000L)))
    // one half-round's raw sums: the scores on `inCol` summed onto `outCol`
    def sums(scores: DataFrame, inCol: String, outCol: String): DataFrame =
      eFor(inCol)
        .join(scores.select(col("id").as(inCol), col("s")), inCol)
        .groupBy(col(outCol).as("id")).agg(sum("s").as("s"))
    // bounded driver collect: one scalar (the ∞-norm). max over an
    // empty score table (empty edge list) is null — pin 0, which makes
    // the renorm divisor 1 and keeps every frame empty
    def maxS(df: DataFrame): Long =
      df.agg(coalesce(max("s"), lit(0L))).head().getLong(0)
    def renorm(mx: Long): Column = expr(s"s div ${mx / 1000000L + 1L}L")
    var h = st.frame
    var out: DataFrame = null
    for (i <- 1 to iterations) {
      val mxA = st.advanceWith(sums(h, "src", "dst"))(maxS)
      val a = st.frame.select(col("id"), renorm(mxA).as("s"))
      if (i < iterations) {
        val mxH = st.advanceWith(sums(a, "dst", "src"))(maxS)
        h = st.frame.select(col("id"), renorm(mxH).as("s"))
      } else {
        // the state keeps only its current round, so the last half-round
        // stores the final authorities beside the hub sums
        val mxH = st.advanceWith(
          sums(a, "dst", "src").select(lit("hub").as("side"), col("id"), col("s"))
            .unionAll(a.select(lit("auth").as("side"), col("id"), col("s"))))(
          d => maxS(d.filter(col("side") === "hub")))
        out = st.frame.select(col("side"), col("id"),
          when(col("side") === "hub", renorm(mxH))
            .otherwise(col("s")).as("score"))
      }
    }
    eS.unpersist(); eD.unpersist()
    out
  }

  /** WEISFEILER–LEMAN (1-WL) COLOR REFINEMENT over an undirected
    * simple graph — the classic structural fingerprint: color₀ =
    * degree, then each round recolors every node with a canonical
    * hash of (own color | neighbor-color multiset). Isomorphic graphs
    * produce identical color HISTOGRAMS, so the returned
    * (color, n_nodes) rows are the dedup/drift key for
    * graph-structured records (two scrapes of the same site cluster,
    * two org charts, two citation neighborhoods) the same way minhash
    * signatures key text.
    *
    * The multiset is combined ORDER-INVARIANTLY (round 11): two
    * independent 52-bit md5-prefix hash lanes of each neighbor color,
    * reduced mod 1e9 and SUMMED, plus the exact degree — so a node's
    * aggregation state is three longs however large its degree (the
    * previous `sort_array(collect_list(...))` string materialized one
    * row of O(degree) bytes on a hub, and its sort blocked map-side
    * partial aggregation). Sum-of-hashes is a multiset fingerprint,
    * not a perfect encoding, but at two independent 30-bit lanes plus
    * the exact count a colliding pair of distinct neighborhoods is
    * ~2⁻⁶⁰ — the same fingerprint confidence minhash/simhash keys
    * carry. Everything is engine-replayable: the lanes are the
    * portable [[graft.functions.Hex52]] hash (= 13 md5 hex nibbles),
    * no RNG, no floats, and sums of ≤1e9 values stay exact in BIGINT
    * to degree 9e9.
    *
    * Scale shape: [[pageRank]]'s round structure — per round one hash
    * join of the persisted edge table with the current color table
    * plus one sum/count aggregation per node (map-side combinable),
    * held by [[IterState]]. Per-node state is
    * O(1); nothing quadratic. Rounds is small and fixed (1-WL
    * stabilizes in ≤ diameter rounds; 2 suffices for fingerprints).
    */
  def wlColors(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // r12 re-tune: the pre-symmetrize distinct was redundant (the
    // post-union distinct subsumes it — one exchange saved), and the
    // surviving dedup runs on the per-round join key's partitioning
    // (hash(b) clusters (a, b)), so no round re-shuffles the edges
    val eu = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
    val e = eu.unionAll(eu.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("b"))
      .distinct().persist(lvl)
    val lane = lit(1000000000L)
    // each round reads its color table TWICE (the neighbor join and
    // the recolor join), so rounds are materialized
    val st = new IterState(e.groupBy(col("a").as("id"))
      .agg(count(lit(1)).cast("string").as("c")))
    for (_ <- 1 to rounds) {
      val colors = st.frame
      val nb = e
        .join(colors.select(col("id").as("b"), col("c").as("cb")), "b")
        .groupBy(col("a").as("id"))
        .agg(
          sum(pmod(graft.functions.Hex52(col("cb")), lane)).as("l1"),
          sum(pmod(graft.functions.Hex52(
            concat(col("cb"), lit("#2"))), lane)).as("l2"),
          count(lit(1)).as("dg"))
      // every node has ≥1 neighbor BY CONSTRUCTION (edge endpoints),
      // so the inner join covers the full node set
      st.advanceWith(colors.join(nb, "id")
        .select(col("id"),
          md5(concat(col("c"), lit("|"),
            col("l1").cast("string"), lit(","),
            col("l2").cast("string"), lit(","),
            col("dg").cast("string"))).as("c")))(_.count())
    }
    val out = st.finish().groupBy("c")
      .agg(count(lit(1)).as("n_nodes"))
      .select(col("c").as("color"), col("n_nodes"))
      .orderBy("color")
    e.unpersist()
    out
  }

  /** KATZ CENTRALITY over a directed edge list — the influence score
    * that counts ALL incoming walks with geometric attenuation, not
    * just direct degree: x ← β + α·Aᵀx, `rounds` synchronous updates
    * from x₀ = β. PageRank without the out-degree normalization — the
    * right read when a node's endorsement should not be diluted by
    * how many other nodes it also points at (citation prestige,
    * follow graphs, co-purchase pull).
    *
    * ENGINE-EXACT by being integer end-to-end: β = 1e6 on the micro
    * grid, and 1/α is taken as max in-degree Δ_in (≥ λ_max of Aᵀ, so
    * the series is contractive BY CONSTRUCTION at any graph size —
    * no tuning knob that diverges at scale); each round is
    * x' = 1e6 + ⌊Σ_in x⌋ div Δ_in — all int64, truncation == floor on
    * the non-negative domain, so any engine replaying the formula
    * reproduces every bit. Bounded headroom: contraction keeps
    * x ≤ (rounds+1)·1e6, so the in-sum stays < 2⁶³ to in-degrees of
    * ~10¹². Returns (id, katz_micro).
    *
    * Scale shape: [[pageRank]]'s round structure exactly — the edge
    * table persisted once, per round one hash join on the source id
    * plus one map-side-combined sum on the destination,
    * [[IterState]] round state; one driver scalar (Δ_in).
    */
  def katzCentrality(edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be positive, got $rounds")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // pre-partitioned on the per-round join key (the r12 pageRank
    // re-tune): hash(src) clusters (src, dst), so the dedup runs on
    // this one exchange and no round re-shuffles the edges
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(col("src"))
      .distinct().persist(lvl)
    // node set + in-degree in ONE aggregation pass (the pageRank
    // trick, flipped to dst): Δ_in = max over nodes of the in-edge
    // count — identical to max over dst groups (src-only nodes add
    // zeros, which can never win the max of positive counts)
    val nodesDeg = e.select(col("src").as("id"), lit(0L).as("__i"))
      .unionAll(e.select(col("dst").as("id"), lit(1L).as("__i")))
      .groupBy("id").agg(sum(col("__i")).as("ind"))
      .persist(lvl)
    // bounded driver collect: one scalar — the attenuation denominator
    val denRow = nodesDeg.agg(max(col("ind"))).head()
    val den = if (denRow.isNullAt(0)) 1L else math.max(1L, denRow.getLong(0))
    val nodes = nodesDeg.select(col("id"))
    // each round reads the scores once, so rounds chain lazily
    val st = new IterState(nodes.withColumn("x", lit(1000000L)))
    for (_ <- 1 to rounds) {
      val in = e
        .join(st.frame.select(col("id").as("src"), col("x").as("xs")),
          "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("xs")).as("s"))
      st.advance(nodes.join(in, Seq("id"), "left")
        .select(col("id"),
          (lit(1000000L) +
            expr(s"coalesce(s, 0L) div ${den}L")).as("x")))
    }
    val x = st.finish()
    e.unpersist(); nodesDeg.unpersist()
    x.select(col("id"), col("x").as("katz_micro"))
  }
}
