package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Document deduplication for large-scale training-data pipelines.
  * All variants are expression-only (whole-stage codegen, no UDFs) and
  * shuffle once on the blocking key — the shapes that hold at 100 TB:
  *
  *  - exact:       hash-groupBy on normalized text
  *  - ngramJaccard: shingle inverted index → shared-count join → exact
  *                  Jaccard (also the verify stage after MinHash LSH)
  *  - minhashLSH:  signature → banded buckets → candidate pairs →
  *                  exact-Jaccard verification
  *  - simhash:     64-bit sign-vote fingerprint → banded buckets →
  *                  hamming-distance verification
  */
object Dedup {
  /** Lowercased whitespace-collapsed text (shared normalizer). */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Exact dedup: one row per distinct normalized text, keeping the
    * smallest id; n_copies counts the group size.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(normalized(col(textCol))).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Normalized token array of a text column. */
  def tokens(textCol: Column): Column = split(normalized(textCol), " ")

  /** Word n-gram shingle array over a TOKEN-ARRAY column; empty when the
    * doc has fewer than n tokens (guard matters: Spark's `sequence(1, 0)`
    * yields a DESCENDING [1, 0], not an empty array).
    *
    * `toks` must be a bound column (e.g. via `withColumn`), NOT the
    * tokenizing expression itself: an inlined `split(regexp_replace(...))`
    * is re-evaluated per lambda ELEMENT, turning the build quadratic.
    * With ≥2 references to a non-cheap column, CollapseProject keeps the
    * producing projection separate and the tokenize runs once per row.
    */
  def shingleArray(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Distinct word-n-gram shingles per doc: (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol).as("id"),
        explode(array_distinct(shingleArray(col("__toks"), n))).as("shingle"))

  /** Exact pairwise n-gram Jaccard over a shingle inverted index.
    * Returns (id_a, id_b, shared, jaccard) for pairs ≥ threshold.
    * Skew guard: shingles occurring in more than `maxDocFreq` docs are
    * dropped (stopword shingles explode the pair join quadratically and
    * contribute little discrimination).
    */
  /** Shared-shingle pair skeleton: (id_a, id_b, shared, n_a, n_b) for
    * every doc pair sharing ≥1 surviving shingle — the inverted-index
    * self-join both the Jaccard and containment metrics score over.
    * Sizes always come from the UNguarded index (the guard only prunes
    * the candidate join; a doc's true shingle count is unchanged).
    */
  private def sharedShingleCounts(df: DataFrame, idCol: String,
      textCol: String, n: Int, maxDocFreq: Long): DataFrame = {
    // materialize the tokenization once: the inverted index is read three
    // times (sizes + both sides of the pair join); recomputing the regex
    // tokenize + shingle explode per use dominates otherwise.
    // r12: shingle strings (~10·n bytes) compress to a 16-byte two-lane
    // xxhash64 struct BEFORE the persist and the pair join (the
    // tfCosineJoin fingerprint rationale — shared counts, sizes and
    // every surviving row are unchanged for any collision-free
    // fingerprint; nothing downstream reads the shingle value). NOT
    // pre-partitioned on the shingle: the self-join's two sides share
    // one ReusedExchange anyway, while hash(shingle) layout would
    // scatter each doc's rows across every partition and destroy the
    // sizes aggregation's map-side collapse (measured slower).
    val sh = shingles(df, idCol, textCol, n)
      .select(col("id"), struct(
        xxhash64(col("shingle")).as("h1"),
        xxhash64(col("shingle"), lit(1)).as("h2")).as("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val filtered = if (maxDocFreq <= 0) sh else {
      val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDocFreq)
      sh.join(freq.select("shingle"), "shingle")
    }
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val pairs = filtered.as("a")
      .join(filtered.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n_sh", "n_b"), "id_b")
  }

  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.6,
      maxDocFreq: Long = 1000): DataFrame =
    sharedShingleCounts(df, idCol, textCol, n, maxDocFreq)
      .withColumn("jaccard", col("shared").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("shared")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "shared", "jaccard")

  /** Directional shingle CONTAINMENT: c_a = shared/|A|, c_b = shared/|B|
    * — the near-SUBSET detector Jaccard misses (a doc quoting half of
    * another has jaccard ≈ 0.5 but containment ≈ 1.0 on the smaller
    * side: quote extraction, truncated re-crawls, excerpt spam). Pairs
    * where either direction clears `threshold` survive. Ratios of exact
    * integers, so both engines compute identical doubles — no rounding
    * needed anywhere.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.9,
      maxDocFreq: Long = 1000): DataFrame =
    sharedShingleCounts(df, idCol, textCol, n, maxDocFreq)
      .withColumn("c_a", col("shared").cast(DoubleType) /
        col("n_a").cast(DoubleType))
      .withColumn("c_b", col("shared").cast(DoubleType) /
        col("n_b").cast(DoubleType))
      .filter(greatest(col("c_a"), col("c_b")) >= threshold)
      .select("id_a", "id_b", "shared", "c_a", "c_b")

  /** Portable-minhash CALIBRATION audit: for every candidate pair
    * sharing >= `minShared` shingles, the k-permutation minhash
    * Jaccard ESTIMATE (matching positions / k) next to the EXACT
    * shingle Jaccard — the sketch-accuracy report a pipeline owner
    * reads before trusting banded LSH over 100 TB ("how wrong is the
    * signature at my threshold?"). Hashes are the portable hex52
    * (md5-prefix), so unlike the xxhash64 production signature
    * ([[minhashSignature]]) every value — estimate included — is
    * replayable in any SQL engine, which makes the calibration itself
    * oracle-checkable. Everything integer: estimate in micro units via
    * floor division, exact Jaccard as shared·1e6 div union.
    *
    * Scale shape: one shingle explode feeding the size/minhash
    * aggregations and the inverted-index pair join (all map-side
    * combined); signatures are k longs per doc, joined only for
    * surviving candidates.
    */
  def minhashCalibration(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, k: Int = 16, minShared: Long = 2L): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val sh = shingles(df, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mhAggs = (0 until k).map(s =>
      min(graft.functions.Hex52(concat(col("shingle"), lit("#" + s))))
        .as(s"mh$s"))
    val mh = sh.groupBy("id").agg(mhAggs.head, mhAggs.tail: _*)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    // the pair join only tests shingle EQUALITY — ship the 16-byte
    // two-lane fingerprint across its (reused) exchange instead of the
    // raw shingle string (r12; the hex52 signature aggs above keep the
    // raw string: their VALUES are oracle-replayed)
    val shFp = sh.select(col("id"), struct(
      xxhash64(col("shingle")).as("h1"),
      xxhash64(col("shingle"), lit(1)).as("h2")).as("shingle"))
    val pairs = shFp.as("a").join(shFp.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    val est = (0 until k).map(s =>
      when(col(s"ma.mh$s") === col(s"mb.mh$s"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n_sh", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n_sh", "n_b"), "id_b")
      .withColumn("uni", col("n_a") + col("n_b") - col("shared"))
      .withColumn("jaccard_micro", expr("shared * 1000000L div uni"))
      .join(mh.as("ma"), col("id_a") === col("ma.id"))
      .join(mh.as("mb"), col("id_b") === col("mb.id"))
      .withColumn("est_matches", est)
      .withColumn("est_micro",
        expr(s"CAST(est_matches AS BIGINT) * 1000000L div $k"))
      .withColumn("err_micro", abs(col("est_micro") -
        col("jaccard_micro")))
      .select("id_a", "id_b", "shared", "uni", "jaccard_micro",
        "est_matches", "est_micro", "err_micro")
  }

  /** MinHash signature column: array of `numHashes` min-hashes over the
    * doc's shingle set, built with xxhash64(shingle, seed) — pure
    * expressions, evaluated in one projection.
    */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column = {
    val hashes = (0 until numHashes).map(i =>
      array_min(transform(shingleArr, x => xxhash64(x, lit(i)))))
    array(hashes: _*)
  }

  /** Shared MinHash signature → banded-bucket subplan over a shingle
    * inverted index (id, shingle): returns one (id, band, bucket) row per
    * band. The ONE definition used by both [[minhashLSH]] (candidate
    * generation) and [[minhashDroppedBuckets]] (skew-guard coverage
    * report), so the reported dropped buckets are exactly the ones the
    * dedup drops.
    *
    * Signature via explode + groupBy with numHashes `min` aggregates:
    * map-side partial combine, zero per-hash array allocations — much
    * faster than numHashes× transform/array_min over the shingle array
    * and the same shape a 1000-executor run wants. One string hash per
    * shingle; the numHashes functions re-hash the base LONG (fixed-width,
    * far cheaper than re-hashing the string per i, wrap-safe under ANSI).
    */
  private def bandedBuckets(sh: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val exploded = sh.withColumn("__h", xxhash64(col("shingle")))
    val minCols = (0 until numHashes).map(i =>
      min(xxhash64(col("__h"), lit(i))).as(s"__h$i"))
    val sigs = exploded.groupBy("id").agg(minCols.head, minCols.tail: _*)
      .withColumn("sig",
        array((0 until numHashes).map(i => col(s"__h$i")): _*))
    // banded buckets: (band, hash(band slice)) per doc — ids only, so the
    // bucket shuffle carries nothing wide
    sigs.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(concat_ws(",", slice(col("sig"), b * r + 1, r)
          .cast("array<string>")))): _*)).as(Seq("band", "bucket")))
  }

  /** Exact-Jaccard verification of candidate id pairs through the
    * shared-shingle-count join (the [[ngramJaccard]] shape): no per-doc
    * shingle set is ever materialized in an aggregation buffer, so the
    * memory bound per task is a hash-join partition, not the longest
    * document — the property that survives book-length docs at 100 TB.
    * Candidate pairs sharing zero shingles drop out of the inner join,
    * which is fine for any threshold > 0.
    */
  private def verifyJaccard(candIds: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    // r12: the verification joins test shingle EQUALITY only — ship the
    // 16-byte two-lane fingerprint through their exchanges instead of
    // the raw shingle string (the sharedShingleCounts rationale; the
    // raw strings stay in the caller's cache for the signature path)
    val fp = sh.select(col("id"), struct(
      xxhash64(col("shingle")).as("h1"),
      xxhash64(col("shingle"), lit(1)).as("h2")).as("shingle"))
    candIds
      .join(fp.toDF("id_a", "shingle"), "id_a")
      .join(fp.toDF("id_b", "shingle"), Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
      .join(sizes.toDF("id_a", "n_a"), "id_a")
      .join(sizes.toDF("id_b", "n_b"), "id_b")
      .withColumn("jaccard", col("shared").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("shared")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** MinHash + LSH near-dup candidates, verified with exact Jaccard.
    * bands × rowsPerBand = numHashes; two docs collide if any band of
    * their signatures matches exactly. Returns verified pairs
    * (id_a, id_b, jaccard ≥ threshold).
    *
    * @param maxBucketSize skew guard: buckets holding more than this many
    *   docs are dropped from candidate generation (a degenerate bucket —
    *   e.g. near-identical boilerplate — contributes O(b²) pairs). Not a
    *   silent cap: [[minhashDroppedBuckets]] reports exactly the dropped
    *   buckets (same signature/banding subplan, [[bandedBuckets]]).
    */
  def minhashLSH(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.6, maxBucketSize: Long = 10000): DataFrame = {
    // materialize the tokenization once: the shingle index feeds the
    // signature agg AND three verification reads
    val sh = shingles(df, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persist the (id, band, bucket) rows: both sides of the candidate
    // self-join read them, and they are 3 narrow columns per doc-band
    val banded0 = bandedBuckets(sh, numHashes, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bucketSizes = banded0.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bsz"))
    val banded = banded0.join(
      bucketSizes.filter(col("__bsz") <= maxBucketSize)
        .select("band", "bucket"), Seq("band", "bucket"))
    val candIds = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    verifyJaccard(candIds, sh, threshold)
  }

  /** Persist a MinHash LSH index for INCREMENTAL dedup: the banded
    * bucket table (`buckets/`: id, band, bucket) plus the shingle
    * inverted index (`shingles/`: id, shingle) that exact verification
    * joins against. Built once over the corpus; increments then dedup
    * against it without re-mining corpus×corpus pairs — the only shape
    * that holds when the corpus is 100 TB and the daily increment is
    * 0.1 % of it.
    */
  def minhashIndexWrite(df: DataFrame, idCol: String, textCol: String,
      path: String, shingleSize: Int = 5, numHashes: Int = 64,
      bands: Int = 16): Unit = {
    val sh = shingles(df, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      bandedBuckets(sh, numHashes, bands)
        .write.mode("overwrite").parquet(path + "/buckets")
      sh.write.mode("overwrite").parquet(path + "/shingles")
    } finally sh.unpersist()
  }

  /** Dedup an increment against a [[minhashIndexWrite]] index: the new
    * docs' banded buckets (same deterministic xxhash64 pipeline — no
    * state to ship) BROADCAST against the index bucket scan, so the
    * corpus side never shuffles; candidate (new, old) pairs verify with
    * exact Jaccard through the shared-shingle join, reading old-doc
    * shingles only for candidates (join pushdown). Returns
    * (id_new, id_old, jaccard ≥ threshold). New-vs-new duplicates are
    * [[minhashLSH]]'s job on the increment alone.
    */
  def minhashDedupIncremental(newDf: DataFrame, idCol: String,
      textCol: String, path: String, shingleSize: Int = 5,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.6): DataFrame = {
    // No persist here: the returned DataFrame's lifecycle belongs to the
    // caller, so a persist would leak cached blocks per call in a
    // long-lived session. The increment shingle table is recomputed per
    // consuming branch (it is small by definition — the increment, not
    // the corpus); callers that want caching precompute shingles and
    // manage the lifecycle via [[minhashDedupFromShingles]], as the
    // streaming path does.
    val newSh = shingles(newDf, idCol, textCol, shingleSize)
    minhashDedupFromShingles(newSh, path, numHashes, bands, threshold)
  }

  /** [[minhashDedupIncremental]] over a PRECOMPUTED increment shingle
    * table (id, shingle): callers that consume the result eagerly —
    * e.g. the per-micro-batch streaming path — manage the shingle
    * persist/unpersist lifecycle themselves so cached blocks don't
    * accrue across a long-running stream.
    */
  def minhashDedupFromShingles(newSh: DataFrame, path: String,
      numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.6): DataFrame = {
    val spark = newSh.sparkSession
    val newBuckets = bandedBuckets(newSh, numHashes, bands)
    val idxBuckets = spark.read.parquet(path + "/buckets")
    val candIds = idxBuckets.as("old")
      .join(broadcast(newBuckets).as("new"),
        col("old.band") === col("new.band") &&
          col("old.bucket") === col("new.bucket"))
      .select(col("new.id").as("id_new"), col("old.id").as("id_old"))
      .dropDuplicates("id_new", "id_old")
    val oldSh = spark.read.parquet(path + "/shingles")
    val oldSizes = oldSh.groupBy("id").agg(count(lit(1)).as("n_old"))
    val newSizes = newSh.groupBy("id").agg(count(lit(1)).as("n_new"))
    // r12: fingerprint the shingle keys post-read (the verifyJaccard
    // rationale) — the verification joins carry 16-byte structs, not
    // raw strings; the on-disk index format is unchanged
    def fp(df: DataFrame): DataFrame = df.select(col("id"), struct(
      xxhash64(col("shingle")).as("h1"),
      xxhash64(col("shingle"), lit(1)).as("h2")).as("shingle"))
    candIds
      .join(fp(newSh).toDF("id_new", "shingle"), "id_new")
      .join(fp(oldSh).toDF("id_old", "shingle"), Seq("id_old", "shingle"))
      .groupBy("id_new", "id_old").agg(count(lit(1)).as("shared"))
      .join(newSizes.toDF("id_new", "n_new"), "id_new")
      .join(oldSizes.toDF("id_old", "n_old"), "id_old")
      .withColumn("jaccard", col("shared").cast(DoubleType) /
        (col("n_new") + col("n_old") - col("shared")).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_old", "jaccard")
  }

  /** Cross-document PARAGRAPH dedup (the C4 move): split every doc
    * into paragraphs, keep only the globally-FIRST occurrence of each
    * normalized paragraph (smallest (doc id, position) wins),
    * reassemble docs from their surviving paragraphs. Removes the
    * boilerplate that document-level dedup can't touch — the repeated
    * footer in a million otherwise-distinct pages.
    *
    * Scale shape: explode → ONE shuffle on the paragraph hash (the
    * first-occurrence window) → one re-aggregation per doc. The
    * window state per hash is its occurrence list — bounded by
    * paragraph popularity, not document length. Returns
    * (id, n_paras, n_kept, text_dedup).
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      sepPattern: String = "\\. ", sepOut: String = ". "): DataFrame = {
    val p = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), sepPattern)).as(Seq("pos", "para")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__h").orderBy("id", "pos")
    p.withColumn("__h", md5(normalized(col("para"))))
      .withColumn("__rn", row_number().over(w))
      .groupBy("id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(
            when(col("__rn") === 1, struct(col("pos"), col("para"))))),
          s => s.getField("para")), sepOut).as("text_dedup"))
  }

  /** Connected components over a near-dup PAIR set: every id appearing
    * in `pairs` labels with the minimum id of its transitive cluster —
    * the accounting step pairwise dedup can't do (pairs (1,2) and (2,3)
    * are one cluster of three even though (1,3) was never mined).
    *
    * Min-label propagation: each round every vertex takes the smallest
    * label among itself and its neighbors; rounds = cluster DIAMETER,
    * and near-dup clusters are shallow (a hub doc and its variants), so
    * convergence is typically 2-4 rounds regardless of corpus size.
    * Each round is one join + one map-side-combined min — the standard
    * scalable shape (what GraphX's cc computes, without the GraphX
    * dependency). Labels are [[IterState]] rounds: each round plans
    * over a leaf of the one before (no 20-join plan tree), and
    * superseded rounds are freed eagerly. The final `changed == 0`
    * round certifies the fixpoint, and the returned labels are a
    * reliable checkpoint.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persisted pre-partitioned on the per-round join key (r12 re-tune,
    // the pageRank rationale): hash(dst) clusters (src, dst) too, so
    // the dedup runs on this one exchange and no round re-shuffles the
    // edge table
    val edges = pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .repartition(col("dst"))
      .distinct()
      .persist(lvl)
    // state carries a per-row changed flag so convergence is ONE sum
    // over the freshly stored round (r12: the previous
    // `changed` was a second full join of two label checkpoints per
    // round); chg ⇔ the new comp strictly decreased ⇔ min_nbr < comp
    // (null-safe: a node with no in-neighbors keeps its comp). The
    // label table is read twice per round (neighbor-min input and merge
    // input) and the loop takes a per-round convergence action, so
    // rounds are materialized, the convergence sum being the job that
    // stores each one.
    val st = new IterState(
      edges.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id"))
        .withColumn("__chg", lit(0L)))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val labels = st.frame
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"),
          col("comp").as("nbr_comp")), "dst")
        .groupBy("src").agg(min(col("nbr_comp")).as("min_nbr"))
        .select(col("src").as("id"), col("min_nbr"))
      val changed = st.advanceWith(labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("min_nbr"), col("comp")))
            .as("comp"),
          when(col("min_nbr") < col("comp"), lit(1L)).otherwise(lit(0L))
            .as("__chg"))) { next =>
        val changedRow = next.agg(sum(col("__chg"))).head()
        if (changedRow.isNullAt(0)) 0L else changedRow.getLong(0)
      }
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds " +
        "(cluster diameter exceeds the bound — raise maxIter)")
    // drop the flag column via one final small checkpoint so the
    // returned labels stay a DIRECT reliable checkpoint (file-backed
    // handle — the OperatorsSpec executor-loss guarantee and the
    // ccMemo reuse contract), then free the flagged round state
    val out = IterState.durable(st.frame.select(col("id"), col("comp")))
    st.release()
    out
  }

  /** Merge NEW near-dup pairs into an EXISTING component labeling
    * without re-running the fixpoint over the corpus — the production
    * shape for continuous corpus maintenance (a daily increment mines
    * pairs against the index; relabeling must not cost a full-corpus
    * CC). History-independence makes this exact: min-label CC's answer
    * is "label = min id of the transitive cluster", so merging on the
    * COMPONENT graph reproduces the full recompute bit-for-bit.
    *
    *  1. resolve each new-pair endpoint to its current component
    *     (ids the labeling has never seen label themselves);
    *  2. run the fixpoint on the component graph the new pairs induce —
    *     bounded by 2·|newPairs| vertices, NOT the corpus;
    *  3. apply the old→new component mapping with one hash join over
    *     the labels (AQE broadcasts it: the mapping only contains
    *     components the increment actually touched).
    * Total cost: a fixpoint over increment-sized data plus one linear
    * pass — vs. rounds × corpus-shuffle for the rebuild.
    */
  def incrementalComponents(labels: DataFrame, newPairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val np = newPairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .persist(lvl)
    val ids = np.select(col("a").as("id"))
      .union(np.select(col("b").as("id"))).distinct()
    val resolved = ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      .persist(lvl)
    val compPairs = np
      .join(resolved.select(col("id").as("a"), col("comp").as("ca")), "a")
      .join(resolved.select(col("id").as("b"), col("comp").as("cb")), "b")
      .select(col("ca"), col("cb"))
      .filter(col("ca") =!= col("cb"))
    // the increment-sized fixpoint; empty when every new pair lands
    // inside one existing component
    val mapping = connectedComponents(compPairs, "ca", "cb")
      .select(col("id").as("old_comp"), col("comp").as("new_comp"))
    // base = corpus labels ∪ endpoints the labeling had never seen
    // (their resolved label is themselves or — via the mapping — the
    // component the increment attached them to)
    val base = labels.select("id", "comp").unionByName(
      resolved.join(labels.select("id"), Seq("id"), "left_anti"))
    base.join(mapping, base("comp") === mapping("old_comp"), "left")
      .select(col("id"),
        coalesce(col("new_comp"), col("comp")).as("comp"))
  }

  /** Companion coverage report for [[minhashLSH]]: (band, bucket, size)
    * of buckets the skew guard would drop at `maxBucketSize` — run it to
    * see what candidate mass a cap excludes before trusting the pairs.
    * Shares [[bandedBuckets]] with [[minhashLSH]], so the buckets listed
    * here are exactly the ones the dedup drops.
    */
  def minhashDroppedBuckets(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, numHashes: Int = 64, bands: Int = 16,
      maxBucketSize: Long = 10000): DataFrame =
    bandedBuckets(shingles(df, idCol, textCol, shingleSize), numHashes, bands)
      .groupBy("band", "bucket").agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)

  /** 64-bit SimHash fingerprint per doc: per-token xxhash64, sign votes
    * per bit, fingerprint bit j set iff the vote sum is positive.
    * Expression-only: explode → 64 conditional sums → bit-pack.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = split(normalized(col(textCol)), " ")
    val exploded = df.select(col(idCol).as("id"),
      explode(tokens).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map(j =>
      sum(when(expr(s"(h >> $j) & 1") === 1, 1).otherwise(-1)).as(s"v$j"))
    val agg = exploded.groupBy("id").agg(votes.head, votes.tail: _*)
    val packed = (0 until 64).map(j =>
      expr(s"CASE WHEN v$j > 0 THEN CAST(${1L} AS BIGINT) << $j ELSE CAST(0 AS BIGINT) END"))
      .reduce(_ + _)
    agg.select(col("id"), packed.as("simhash"))
  }

  /** PORTABLE SimHash near-dup pairs: identical semantics to
    * [[simhashPairs]] but the per-token hash bits come from md5 hex
    * nibbles instead of xxhash64, so any SQL engine reproduces the
    * fingerprints bit-for-bit (the DuckDB oracle replays the whole
    * pipeline). 60-bit fingerprint (15 nibbles × 4 bits — staying off
    * bit 63 keeps every shift unambiguous across engines), 4×15-bit
    * band blocking, hamming ≤ maxHamming (pigeonhole: ham ≤ 3 ⇒ ≥ 1
    * band equal). md5 per token costs more than xxhash64 — use
    * [[simhashPairs]] when engine-portability of the exact bits doesn't
    * matter.
    */
  def simhashPortablePairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("tok"))
      .withColumn("hex", md5(col("tok")))
    val withNibs = (0 until 15).foldLeft(exploded)((d, i) =>
      d.withColumn(s"nb$i",
        expr(s"instr('0123456789abcdef', substring(hex, ${i + 1}, 1)) - 1")))
    val votes = (0 until 60).map(j =>
      sum(when(expr(s"(nb${j / 4} >> ${j % 4}) & 1") === 1, 1)
        .otherwise(-1)).as(s"v$j"))
    val agg = withNibs.groupBy("id").agg(votes.head, votes.tail: _*)
    val packed = (0 until 60).map(j =>
      expr(s"CASE WHEN v$j > 0 THEN CAST(1 AS BIGINT) << $j " +
        s"ELSE CAST(0 AS BIGINT) END"))
      .reduce(_ + _)
    val fp = agg.select(col("id"), packed.as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = fp.select(col("id"), col("fp"),
      posexplode(array((0 until 4).map(b =>
        expr(s"(fp >> ${b * 15}) & 32767")): _*)).as(Seq("band", "bucket")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.fp").as("fa"), col("b.fp").as("fb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", expr("CAST(bit_count(fa ^ fb) AS INT)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, via
    * 4×16-bit band blocking (pigeonhole: ham ≤ 3 ⇒ ≥ 1 band equal).
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // persist: fingerprints feed both sides of the banded self-join
    val fp = simhash(df, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = fp.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        expr(s"(simhash >> ${b * 16}) & 65535")): _*))
        .as(Seq("band", "bucket")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact set-similarity join by PREFIX FILTERING (the AllPairs/
    * PPJoin family): find every document pair whose DISTINCT-token
    * Jaccard ≥ `threshold`, with NO probabilistic miss — the
    * exact-answer alternative to MinHash that wins at high thresholds.
    * The theorem: order every doc's tokens by one global
    * (frequency, token) order; two sets with |A∩B|/|A∪B| ≥ t MUST
    * share a token within each other's first |d| − ⌈t·|d|⌉ + 1 tokens
    * — so only those prefix tokens are indexed, and rare-first
    * ordering makes the candidate buckets the SMALLEST possible ones.
    *
    * Scale shape: a global token-frequency table (map-side combined),
    * one window per doc for ranks, an explode bounded by the prefix
    * length (≈ (1−t)·|d| + 1 tokens per doc, e.g. 21% of tokens at
    * t = 0.8), a hash self-join on the prefix token, and exact-count
    * verification joins keyed (doc, token) — nothing all-pairs, and
    * candidate volume shrinks as the threshold RISES (MinHash banding
    * costs the same at every threshold).
    */
  def setSimJoin(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, ngram: Int = 1): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(ngram >= 1, s"ngram must be >= 1, got $ngram")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // ngram > 1 compares SHINGLE sets — for natural text this is the
    // right element space: single-token sets collapse under a shared
    // topical vocabulary (everything resembles everything at 0.8) and
    // the candidate volume with it; shingle space is large enough that
    // unrelated documents share ~nothing. The __toks bind matters
    // (Dedup.scala shingleArray rule: bound column, NOT the expression).
    val toks0 = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(
        if (ngram <= 1) col("__toks")
        else shingleArray(col("__toks"), ngram)).as("tok"))
    // r12: wide shingles compress to a 16-byte two-lane xxhash64
    // struct before the distinct and the five downstream shuffles
    // (the tfCosineJoin fingerprint rationale — set cardinalities,
    // candidates and verified jaccard are unchanged for any
    // collision-free fingerprint, and the ranking tie-break is just
    // another valid total order for the prefix theorem)
    val toks = (if (ngram >= 3)
        toks0.select(col("id"), struct(
          xxhash64(col("tok")).as("h1"),
          xxhash64(col("tok"), lit(1)).as("h2")).as("tok"))
      else toks0)
      .distinct().persist(lvl)
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("f"), col("tok"))
    val ranked = toks.join(freq, "tok")
      .withColumn("rn", row_number().over(w))
      .withColumn("nd",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("id"))))
    // ⌈t·nd⌉ in SCALED-INTEGER arithmetic: a double ceil here is both
    // engine-divergent (DuckDB folds 0.8·nd in exact DECIMAL; binary
    // 0.8·55 = 44.000000000000007 ceils to 45) and a completeness bug
    // (the over-ceil SHORTENS the prefix below the theorem's minimum,
    // silently missing boundary-overlap pairs)
    val tScaled = math.round(threshold * 1e6)
    // persist the PREFIX, not the full ranked table: it is the only
    // downstream consumer of the ranking and (1−t)+ε of its size — at
    // t = 0.8 caching ranked holds 5× the bytes the self-join reads,
    // and that memory pressure is what made sf0.1 timings swing ±35%
    val prefix = ranked
      .filter(col("rn") <=
        col("nd") - expr(s"($tScaled * nd + 999999) div 1000000") + 1)
      .select(col("id"), col("tok"), col("nd"))
      .persist(lvl)
    val cand = prefix.select(col("id").as("id_a"), col("tok"),
        col("nd").as("na"))
      .join(prefix.select(col("id").as("id_b"), col("tok"),
        col("nd").as("nb")), "tok")
      .filter(col("id_a") < col("id_b") &&
        // LENGTH filter (AllPairs): jaccard = shared/(na+nb−shared)
        // ≤ min/max, so t·max(na,nb) > min(na,nb) pairs can never
        // verify — pruning them here (scaled-integer, engine-exact)
        // shrinks the distinct AND both verification joins without
        // changing a single surviving row
        least(col("na"), col("nb")) * lit(1000000L) >=
          lit(tScaled) * greatest(col("na"), col("nb")))
      .select("id_a", "id_b", "na", "nb").distinct()
    val shared = cand
      .join(toks.select(col("id").as("id_a"), col("tok")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("tok")),
        Seq("id_b", "tok"))
      .groupBy("id_a", "id_b", "na", "nb")
      .agg(count(lit(1)).as("n_shared"))
    shared
      .withColumn("jaccard",
        col("n_shared").cast("double") /
          (col("na") + col("nb") - col("n_shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_shared", "jaccard")
  }

  /** Edit-distance (Levenshtein) near-dup pairs, blocked on a shared
    * normalized text prefix: only documents agreeing on their first
    * `prefixLen` characters are candidates (near-dups from appended /
    * trailing edits share prefixes; a prefix block is the cheapest
    * blocking key there is — one substring, one hash shuffle). A length
    * band (|len(a)−len(b)| ≤ maxDist, a hard lower bound on edit
    * distance) prunes candidates BEFORE the O(len²) DP runs, and the DP
    * itself only runs inside blocks — never all-pairs. Blocking
    * tradeoff, documented: an edit inside the first `prefixLen` chars
    * escapes the block (recall, not correctness, and the oracle replays
    * the same blocking exactly).
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      prefixLen: Int = 16, maxDist: Int = 8): DataFrame = {
    require(prefixLen >= 1, s"prefixLen must be positive, got $prefixLen")
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val d = docs.select(col(idCol).as("id"),
        lower(trim(col(textCol))).as("t"))
      .withColumn("blk", substring(col("t"), 1, prefixLen))
      // the DP below is CPU-bound and a compact corpus arrives in a
      // handful of scan partitions — spread by block so the per-pair
      // work parallelizes; the EXPLICIT count matters: AQE sizes
      // partitions by BYTES and would coalesce a bare
      // repartition(col) of kilobyte text blocks back to one task,
      // hiding every core from the quadratic-in-chars DP (measured:
      // 12 s single-task → ~0.5 s at sf0.1). At real scale this is
      // also the co-location a blocked join wants.
      .repartition(docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt, col("blk"))
    val a = d.select(col("id").as("id_a"), col("t").as("t_a"), col("blk"))
    val b = d.select(col("id").as("id_b"), col("t").as("t_b"), col("blk"))
    a.join(b, "blk")
      .filter(col("id_a") < col("id_b") &&
        abs(length(col("t_a")) - length(col("t_b"))) <= maxDist)
      // THRESHOLDED levenshtein: the 3-arg form returns -1 past the
      // threshold, so `>= 0` alone decides survival — ONE predicate
      // (Catalyst folds this filter into the join condition, where a
      // between() would evaluate the DP twice per candidate; join
      // conditions get no subexpression elimination). Surviving rows
      // and their distances are identical to an unthresholded
      // computation filtered to ≤ maxDist, so a plain
      // `levenshtein(a, b) <= maxDist` oracle replays it.
      .withColumn("edit_dist",
        levenshtein(col("t_a"), col("t_b"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select("id_a", "id_b", "edit_dist")
  }

  /** Cross-document duplicated-SPAN detection (the substring-dedup
    * shape of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): slide a `window`-token window with `stride` over
    * every document, fingerprint each window (md5 of the joined
    * tokens — engine-portable, unlike murmur), and mark a window
    * duplicated when the SAME fingerprint appears in ≥ 2 DISTINCT
    * documents. Returns one row per document (≥ 1 window):
    * (id, n_windows, n_dup_windows, dup_frac) — the span-level dup
    * budget document filters act on (doc-level Jaccard misses a long
    * doc quoting one viral paragraph; this is the detector for it).
    *
    * Scale shape: the explode is bounded by n_tokens/stride windows
    * per doc (window CONTENT is hashed away immediately — no W-token
    * strings survive the projection); the dup set is one
    * map-side-combined group-by on the 32-char fingerprint; the
    * mark-back is a hash join on the same key the group-by just
    * shuffled on. Nothing all-pairs, no driver state.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      window: Int = 20, stride: Int = 10): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    // __toks bound as a column (shingleArray rule): ≥ 2 references below
    val wins = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      // the empty-array guard matters: sequence(1, 0) is DESCENDING
      // [1, 0], not empty (documented on shingleArray)
      .select(col("id"), explode(
        when(size(col("__toks")) >= window,
          transform(
            sequence(lit(1), size(col("__toks")) - (window - 1),
              lit(stride)),
            i => md5(concat_ws(" ", slice(col("__toks"), i, lit(window))))))
          .otherwise(array().cast("array<string>"))).as("h"))
      // fingerprints feed the dup group-by AND the mark-back probe:
      // persist so the tokenize + window-hash explode runs once
      // (the sharedShingleCounts discipline)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dup = wins.groupBy("h")
      .agg(countDistinct(col("id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("h"))
      .withColumn("isdup", lit(1L))
    wins.join(dup, Seq("h"), "left")
      .groupBy("id")
      // count(isdup) = non-null marks — the BIGINT shape a count-based
      // oracle replays (a SUM would widen to HUGEINT in DuckDB)
      .agg(count(lit(1)).as("n_windows"),
        count(col("isdup")).as("n_dup_windows"))
      .withColumn("dup_frac",
        col("n_dup_windows").cast(DoubleType) /
          col("n_windows").cast(DoubleType))
  }

  /** TF-weighted cosine similarity join over the token inverted index —
    * the WEIGHTED sibling of [[ngramJaccard]] (sets score a 50×-repeated
    * token the same as one occurrence; term-frequency cosine is what
    * near-dup detection over templated/boilerplate-heavy corpora
    * wants). Pairs with cosine ≥ `threshold` survive:
    * cosine = Σ tf_a·tf_b / (‖a‖·‖b‖).
    *
    * EXACT — every pair with true cosine ≥ `threshold` is returned —
    * via the all-pairs PREFIX FILTER for weighted cosine (the
    * Bayardo/Ma/Srikant "Scaling Up All Pairs Similarity Search"
    * discipline; the weighted counterpart of [[setSimJoin]]'s Jaccard
    * prefix). The theorem: order each doc's terms by one global
    * (df, term) rare-first order, and let pre2(k) be the squared TF
    * mass of the first k terms. Index term k only while the REMAINING
    * mass could still reach t: n2 − pre2(k−1) ≥ t²·n2. If a pair
    * shares no indexed term of a, every shared term sits in a's
    * un-indexed suffix, so by Cauchy–Schwarz
    * cosine ≤ √((n2−pre2)/n2) < t. Probing indexed prefixes against
    * FULL postings therefore yields a candidate SUPERSET, and the
    * verification below scores candidates from the full TF vectors —
    * prefix-set details can never change a surviving row (which is
    * also what lets a plain shared-token all-pairs oracle replay this
    * operator exactly).
    *
    * Engine-exact by construction: dot products and squared norms are
    * INTEGER sums (order-free); the only floats are two sqrt calls
    * (IEEE-correctly-rounded in every engine), one multiply, one
    * divide — all fixed-order; the prefix condition runs on a scaled-
    * integer t² grid (floored: a round-up would shorten the prefix
    * past the theorem's minimum and silently miss boundary pairs —
    * the dual of setSimJoin's ceil note).
    *
    * Scale shape: candidate volume is Σ_term prefixCount·df where
    * prefixCount counts only the ≈(1−t²) rarest mass of each doc —
    * common terms live in suffixes and are probed, never indexed. The
    * volume SHRINKS as the threshold rises (the absolute-df cap this
    * replaced grew Σ df² ∝ n² while dfs sat under the cap, then
    * silently collapsed recall once they crossed it).
    */
  def tfCosineJoin(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, ngram: Int = 1): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(ngram >= 1, s"ngram must be >= 1, got $ngram")
    val W = org.apache.spark.sql.expressions.Window
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // ngram > 1 weights SHINGLE frequencies — for a corpus with a
    // small shared vocabulary (every token in ~every doc) the unigram
    // index is dense; shingle space is sparse enough for the
    // inverted-index join to stay near-linear (the setSimJoin
    // element-space rule)
    val el0 = docs
      .select(col(idCol).as("id"), tokens(col(textCol)).as("__toks"))
      .select(col("id"), explode(
        if (ngram <= 1) col("__toks")
        else shingleArray(col("__toks"), ngram)).as("tok"))
    // wide shingles are fingerprint-compressed IMMEDIATELY (the
    // dupSpans discipline): a 5-gram string is ~50-60 bytes and rides
    // through five shuffles + two persists here. r12: the fingerprint
    // is now TWO independent xxhash64 lanes in a 16-byte struct (was a
    // 32-char md5 hex string) — half the shuffle bytes again, integer
    // comparisons instead of string ones, and no per-row hex
    // allocation (guide §2.3 "narrower types"). Grouping/joining on
    // any collision-free fingerprint leaves tf/df/dot/cosine identical
    // (two independent 64-bit lanes ≈ 128 bits — collisions
    // beyond-astronomical at any corpus size), and the fingerprint
    // never reaches the output, so the oracle's md5-keyed replay
    // groups identically. The prefix ranking's (df, tok) tie-break
    // changes with the representation, but ANY consistent total order
    // satisfies the prefix theorem — the candidate set stays a
    // verified superset and no surviving row can change.
    // Unigrams stay raw — they are SHORTER than the fingerprint.
    val el = if (ngram >= 3)
      el0.select(col("id"), struct(
        xxhash64(col("tok")).as("h1"),
        xxhash64(col("tok"), lit(1)).as("h2")).as("tok"))
    else el0
    // (id, tok, tf) feeds the ranking, the probe side and both
    // verification joins: persist
    val tf = el
      .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
      .persist(lvl)
    val norms = tf.groupBy("id")
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    // −1: `threshold * threshold` can round UP past real t², and an
    // over-tight grid value would exclude a boundary dim the theorem
    // needs; one grid step of slack (1e-6 relative, dwarfing double
    // rounding) keeps the prefix a guaranteed superset
    val tsq = math.max(0L,
      math.floor(threshold * threshold * 1e6).toLong - 1L)
    val ranked = tf.join(dfreq, "tok")
      .withColumn("pre2x", coalesce(sum(col("tf") * col("tf"))
        .over(W.partitionBy(col("id")).orderBy(col("df"), col("tok"))
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n2",
        sum(col("tf") * col("tf")).over(W.partitionBy(col("id"))))
    // persist the PREFIX, not the full ranked table (the setSimJoin
    // memory note): it is ≈(1−t²) of the index and the only
    // downstream consumer of the ranking.
    // The comparison runs in DOUBLES, not int64: (n2−pre2x)·1e6
    // overflows long once a doc's squared-TF mass passes ~9.2e12 (a
    // token repeated ~3M times — the q_chi2 scale-latent class), and a
    // wrapped-negative left side silently DROPS prefix terms, breaking
    // the completeness guarantee. Doubles never wrap; their ≤2⁻⁵²
    // relative rounding is dwarfed by the one-grid-step slack (1e-6
    // relative) already built into tsq, so the prefix stays a
    // guaranteed superset — and below 2⁵³ the doubles are exact, so
    // test-scale results are bit-identical to the int64 form.
    val prefix = ranked
      .filter((col("n2") - col("pre2x")).cast(DoubleType) * 1e6 >=
        lit(tsq.toDouble) * col("n2").cast(DoubleType))
      .select("id", "tok")
      .persist(lvl)
    val cand = prefix.select(col("id").as("pid"), col("tok"))
      .join(tf.select(col("id").as("qid"), col("tok")), "tok")
      .filter(col("pid") =!= col("qid"))
      .select(least(col("pid"), col("qid")).as("id_a"),
        greatest(col("pid"), col("qid")).as("id_b"))
      .distinct()
    val dot = cand
      .join(tf.select(col("id").as("id_a"), col("tok"),
        col("tf").as("tfa")), "id_a")
      .join(tf.select(col("id").as("id_b"), col("tok"),
        col("tf").as("tfb")), Seq("id_b", "tok"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
    dot
      .join(norms.select(col("id").as("id_a"), col("n2").as("na2")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("n2").as("nb2")), "id_b")
      .withColumn("cosine",
        col("dot").cast(DoubleType) /
          (sqrt(col("na2").cast(DoubleType)) *
            sqrt(col("nb2").cast(DoubleType))))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "dot", "cosine")
  }

  /** WINNOWING fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003):
    * per document, hash every k-token shingle, slide a w-gram window
    * over the hash sequence, and keep the RIGHTMOST-MINIMAL hash of
    * each window. The selection guarantees any shared run of
    * ≥ w + k − 1 tokens between two documents yields at least one
    * shared fingerprint, while keeping density ≈ 2/(w+1) — the
    * locality property plain 0-mod-p sampling lacks.
    *
    * Engine-portable and branch-free: the per-gram hash is the first
    * 7 md5 nibbles (28 bits — any SQL engine replays it), and the
    * rightmost-min tie-break is folded into ONE integer,
    * code = h·2²¹ + (2²¹−1−pos), so lexicographic (h asc, pos desc)
    * becomes a plain `min(code)` window aggregate — scan-local work
    * per document, no self-join, no UDF. Documents with fewer grams
    * than w fall back to a single whole-document window (the last
    * position's backward window covers every gram).
    *
    * Returns distinct (id, fp, sel_pos). Shuffle count: one window
    * (partitioned by doc — bounded partitions, docs are bounded) +
    * one distinct.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    val grams = df.withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol).as("id"),
        posexplode(shingleArray(col("__toks"), k)).as(Seq("pos", "g")))
    val withCode = grams
      .withColumn("hex", md5(col("g")))
      .withColumn("h",
        (0 until 7).map(i =>
          expr(s"(instr('0123456789abcdef', substring(hex, ${i + 1}, 1))" +
            s" - 1) * ${1L << (4 * (6 - i))}L"): Column).reduce(_ + _))
      // the packed tie-break holds only while pos < 2²¹ (~2M grams per
      // doc); past it the (hash asc, pos desc) order would corrupt
      // SILENTLY, so it is checked, not assumed (the dsirScores guard
      // discipline) — chunk monster documents upstream (q_doc_chunk)
      .withColumn("code",
        when(col("pos") >= lit(1L << 21),
          raise_error(lit("winnowFingerprints: document exceeds 2^21 " +
            "grams; the packed (hash,pos) tie-break would corrupt - " +
            "chunk the document first")))
          .otherwise(
            col("h") * lit(1L << 21) + (lit((1L << 21) - 1L) - col("pos"))))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    withCode
      .withColumn("m",
        min(col("code")).over(win.rowsBetween(-(w - 1), 0)))
      .withColumn("ng", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("id")))
      .filter(col("pos") >= least(lit(w - 1), col("ng") - 1))
      .select(col("id"), expr("m div 2097152").as("fp"),
        (lit((1L << 21) - 1L) - pmod(col("m"), lit(1L << 21)))
          .as("sel_pos"))
      .distinct()
  }

  /** Near-dup pairs by shared winnowing fingerprints: inverted index
    * on fp → pair counts → pairs sharing ≥ `minShared`. `maxDocFreq`
    * drops boilerplate fingerprints (present in more docs than the
    * cap) before pairing — the standard skew guard that bounds the
    * per-bucket join fan-out at any corpus size.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Long = 3L,
      maxDocFreq: Long = 50L): DataFrame = {
    // fingerprint SET per doc: the same hash selected at two positions
    // is one fingerprint for matching purposes
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .select("id", "fp").distinct()
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
    val indexed = fps.join(rare.select("fp"), "fp")
    indexed.select(col("id").as("id_a"), col("fp"))
      .join(indexed.select(col("id").as("id_b"), col("fp")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** CANONICALIZATION of duplicate clusters: given
    * [[connectedComponents]] labels (id, comp) and the corpus, pick
    * each cluster's keeper as its (longest text, smallest id) member —
    * the "which copy do we keep" step that turns a dedup labeling
    * into an actionable delete list. The tie-break is total, so the
    * choice is deterministic in any engine. Returns (comp, n_members,
    * rep_id, rep_len, n_redundant); Σ n_redundant is the dedup
    * savings headline.
    *
    * Scale shape: one hash join of labels against the corpus's
    * (id, length) projection, a per-component rank window (component
    * sizes are near-dup cluster sizes — bounded in practice and
    * skew-capped upstream by the pair miners), one rollup.
    */
  def clusterRepresentatives(labels: DataFrame, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = labels.select(col("id"), col("comp"))
      .join(docs.select(col(idCol).as("id"),
        length(col(textCol)).cast("long").as("len")), "id")
    val w = Window.partitionBy("comp")
      .orderBy(col("len").desc, col("id").asc)
    val rep = j.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("comp"), col("id").as("rep_id"),
        col("len").as("rep_len"))
    j.groupBy("comp").agg(count(lit(1)).as("n_members"))
      .join(rep, "comp")
      .withColumn("n_redundant", col("n_members") - 1L)
      .orderBy("comp")
  }
}
