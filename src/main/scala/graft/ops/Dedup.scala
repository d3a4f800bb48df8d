package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing._

/** Document deduplication operators for large-scale training-data pipelines.
  * Absent from the reference (its scalar surface is comparisons + arithmetic,
  * SURVEY.md §2.7); designed Spark-first for 100 TB:
  *
  *   - every variant is candidate-generation-by-EQUI-JOIN (hash shuffle on a
  *     compact key: text hash, LSH band signature, simhash byte, length
  *     bucket, cluster label) followed by an exact verify on the candidate
  *     pairs only — never an all-pairs cross join;
  *   - no driver-side state, no collect(); skewed buckets are AQE's problem;
  *   - hash arithmetic comes from [[graft.functions.Hashing]] so results are
  *     engine-portable (DuckDB-oracle-checkable), at the cost of running as
  *     Catalyst higher-order functions rather than codegen'd built-ins. At
  *     production scale you'd swap `polyHash` for `xxhash64` (one line) —
  *     the plan shape (shuffle keys, join structure) is identical.
  */
object Dedup {

  /** Exact dedup: keep the row with the smallest `tieBreak` per distinct
    * `key`. At 100 TB dedup on a long text column should key on a digest
    * instead — pass e.g. `xxhash64(text)`.
    *
    * min_by PARTIAL AGGREGATE, not a row_number window (round 17, guide
    * §2.3 "aggregate before you shuffle"): the window form shuffled EVERY
    * row to its key's partition and sorted it; the aggregate collapses
    * map-side to one candidate row per (key × input partition), so the
    * exchange carries |keys| rows, not |corpus|. Callers pass a UNIQUE
    * tieBreak (doc_id), so min_by picks exactly the window's first row. */
  def exactKeepFirst(df: DataFrame, key: Column, tieBreak: Column): DataFrame = {
    val cols = df.columns
    df.groupBy(key)
      .agg(min_by(struct(cols.map(col): _*), tieBreak).as("_r"))
      .select(cols.map(c => col(s"_r.$c")): _*)
  }

  /** Shingle sets in hashed (BIGINT) space: Jaccard over hashes is the
    * standard trick — set ops on longs are far cheaper than on strings, and
    * since both engines run the identical polynomial recurrences, the oracle
    * agrees exactly (collisions, if any, collapse identically).
    *
    * Two-level: tokens are char-hashed ONCE ([[graft.expressions.PolyHash]],
    * one linear pass each), then each window folds its n token hashes with
    * an unrolled integer recurrence ([[Hashing.windowFoldSpark]]). The
    * round-4 profile caught the earlier one-level design (build the window
    * STRING, char-hash it) costing 17 s at sf0.1 for w=20 spans — per-window
    * work scaled with n · token length instead of n.
    *
    * Output: idCol, `s` (SORTED array of distinct hashes — sorted once per
    * doc so pair verification can merge-intersect). */
  def hashedShingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    import graft.expressions.PolyHash.polyHash
    import graft.expressions.WindowFold.windowFold
    docs
      .select(col(idCol), expr(s"split($textCol, ' ')").as("w"))
      .filter(expr(s"size(w) >= $n"))
      .select(col(idCol), transform(col("w"), t0 => polyHash(t0)).as("th"))
      .select(col(idCol), windowFold(col("th"), n).as("s"))
  }

  /** Default per-(band, signature) bucket cap for LSH candidate generation —
    * high enough that no honest test corpus is touched, low enough that a
    * boilerplate family of B docs costs O(B) (the capping sort) instead of
    * O(B²) (the bucket join). Tune per corpus at scale. */
  val LshMaxBucket = 4096

  /** MinHash+LSH near-dup pairs: shingle → polyhash → 32 minhashes → 8 band
    * signatures → equi-join on (band, sig) → exact Jaccard ≥ `threshold`.
    * Buckets over `maxBucket` members are sub-sampled (smallest ids kept,
    * dropped volume observed — [[Skew.capBuckets]]) so one boilerplate
    * family cannot make the band join quadratic.
    * Output: d1, d2, jacc — one row per near-dup pair, d1 < d2. */
  def minhashLshPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxBucket: Int = LshMaxBucket): DataFrame = {
    // The hashed sets feed three plan branches (minhash explode + both sides
    // of the verify join); persist so tokenize+shingle+hash runs once. The
    // repartition matters: downstream joins are all broadcasts (no exchange),
    // so without it the verify stage would inherit the file-scan partitioning
    // — possibly one task for a small-file corpus. Tracked (lazy persist, the
    // op can't know when its consumer is done) — see [[CacheRegistry]].
    val sh = CacheRegistry.track(hashedShingleSets(docs, idCol, textCol, n)
      .repartition(col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    val bands = Skew.capBuckets(
      minhashBandSignaturesWithVec(sh, idCol),
      Seq("band", "sig"), idCol, maxBucket, "lsh_minhash_cap")

    // FIRST-MATCH band dedup (round 18 — the [[simhashPairs]] discipline
    // applied to minhash banding): a pair matching on several bands is
    // emitted ONLY by its first matching band (every earlier band's sigs
    // differ — each row carries the doc's full `sigs` vector, so the
    // predicate is cheap integer compares), which replaces the
    // shuffle-DISTINCT over the candidate PAIR relation (quadratic in
    // bucket membership — the widest stream in the pipeline) with zero
    // exchanges: candidates flow straight into the broadcast verify at the
    // band join's parallelism. Same pair SET as the distinct by
    // construction on uncapped buckets; under an overflow cap the drop
    // concentrates on the degenerate family exactly as simhash documents
    // (a pair capped out of its first matching band is not re-found via a
    // later band).
    val firstMatch = expr((1 until Bands).foldLeft("l.band = 0") {
      (acc, b) =>
        val diffs = (0 until b)
          .map(j => s"element_at(l.sigs, ${j + 1}) <> element_at(r.sigs, ${j + 1})")
          .mkString(" AND ")
        s"$acc OR (l.band = $b AND $diffs)"
    })
    val cand = bands.as("l")
      .join(bands.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .filter(firstMatch)
      .select(col(s"l.$idCol").as("d1"), col(s"r.$idCol").as("d2"))

    verifyJaccard(cand, sh, idCol, threshold)
  }

  /** LSH band signatures from hashed shingle sets: explode shingle hashes
    * and compute the 32 minhashes as hash-aggregate MINs — whole-stage-
    * codegen'd with map-side partial aggregation, instead of 32 interpreted
    * higher-order array passes per document. Output: idCol, band, sig —
    * the equi-join key space for candidate generation, and the exact layout
    * a persisted dedup INDEX stores at production scale.
    * UNCAPPED: callers apply [[Skew.capBuckets]] per join side. */
  def minhashBandSignatures(sh: DataFrame, idCol: String): DataFrame = {
    val hx = sh.select(col(idCol), explode(col("s")).as("h"))
    val mins = hx.groupBy(col(idCol)).agg(
      min(expr(s"(${A(0)}*h + ${B(0)}) % $P")).as("m0"),
      (1 until NumHashes).map(i =>
        min(expr(s"(${A(i)}*h + ${B(i)}) % $P")).as(s"m$i")): _*)

    val bandStructs = (0 until Bands)
      .map { b =>
        val sig = combine((b * RowsPerBand until (b + 1) * RowsPerBand).map(i => s"m$i"))
        s"named_struct('band', $b, 'sig', $sig)"
      }
      .mkString("array(", ", ", ")")
    mins
      .select(col(idCol), explode(expr(bandStructs)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** [[minhashBandSignatures]] carrying the doc's FULL band-signature
    * vector (`sigs`, element b+1 = band b's signature) beside every
    * exploded (band, sig) row — the first-match candidate dedup's input
    * (see [[minhashLshPairs]]): ~8 longs wider per bands row, in exchange
    * for eliminating the candidate-pair DISTINCT exchange entirely. The
    * persisted index layout ([[writeDedupIndex]]) keeps the narrow form. */
  private def minhashBandSignaturesWithVec(
      sh: DataFrame, idCol: String): DataFrame = {
    val hx = sh.select(col(idCol), explode(col("s")).as("h"))
    val mins = hx.groupBy(col(idCol)).agg(
      min(expr(s"(${A(0)}*h + ${B(0)}) % $P")).as("m0"),
      (1 until NumHashes).map(i =>
        min(expr(s"(${A(i)}*h + ${B(i)}) % $P")).as(s"m$i")): _*)
    val sigArr = (0 until Bands)
      .map(b => combine((b * RowsPerBand until (b + 1) * RowsPerBand).map(i => s"m$i")))
      .mkString("array(", ", ", ")")
    mins
      .select(col(idCol), expr(sigArr).as("sigs"))
      .select(col(idCol), col("sigs"), posexplode(col("sigs")))
      .select(col(idCol), col("sigs"), col("pos").as("band"), col("col").as("sig"))
  }

  /** Incremental (batch-vs-corpus) MinHash dedup — the shape a daily 100 TB
    * ingest actually runs: the accumulated corpus is NOT re-deduped; only the
    * new batch is shingled, and its band signatures probe the corpus index.
    *
    * Scale contract: the history side never shuffles. Candidate generation
    * broadcasts the (tiny) batch signatures into a scan of the history index,
    * and the Jaccard verify broadcasts the batch-side candidate shingle sets
    * into a scan of the history shingle sets. At production scale `history`'s
    * signatures and shingle sets are precomputed artifacts of previous runs
    * (exactly [[minhashBandSignatures]] / [[hashedShingleSets]] output);
    * here they are derived inline from the text.
    *
    * A batch doc is `dup_of_history` when some history doc has Jaccard ≥
    * `threshold`, and `dup_in_batch` when some EARLIER batch doc (smaller id)
    * does — earlier regardless of that doc's own dup flags, the one-pass
    * deterministic convention (greedy keep-first would be order-sequential).
    * Output: idCol, dup_of_history, dup_in_batch, kept — one row per batch
    * doc, kept = neither flag. */
  def incrementalMinhashDedup(
      history: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxBucket: Int = LshMaxBucket): DataFrame = {
    // Deliberately NOT persisted, although each side feeds two plan
    // branches: the cache manager matches by canonicalized PLAN, so a
    // persisted read of a corpus path that gains files between invocations
    // (exactly what the streaming sink does every microbatch) silently
    // serves the STALE previous snapshot — batch 2 would never see batch
    // 1's kept docs. Recomputing the (compiled, cheap) shingle pipeline
    // twice is the correct trade; at production scale both sides' shingle
    // sets and band signatures are precomputed artifacts
    // ([[writeDedupIndex]] / [[incrementalMinhashDedupPersisted]]), not
    // inline recomputation.
    val shH = hashedShingleSets(history, idCol, textCol, n)
    val bandsH = Skew.capBuckets(minhashBandSignatures(shH, idCol),
      Seq("band", "sig"), idCol, maxBucket, "lsh_inc_hist_cap")
    incrementalMinhashCore(shH, bandsH, batch, idCol, textCol, n, threshold,
      maxBucket)
  }

  /** Persist the corpus-side MinHash dedup index — the artifact a daily
    * ingest probes instead of re-shingling its whole history: the hashed
    * shingle sets (the verify side) and the capped band signatures (the
    * candidate side), both plain columnar tables keyed by the doc id. After
    * each ingest the kept batch's rows are APPENDED to both tables (same
    * schemas), so the index grows incrementally with the corpus. */
  def writeDedupIndex(history: DataFrame, idCol: String, textCol: String,
      n: Int, path: String, maxBucket: Int = LshMaxBucket): Unit = {
    val sh = hashedShingleSets(history, idCol, textCol, n)
    sh.write.mode("overwrite").option("compression", "zstd").parquet(s"$path/shingles")
    // Derive the band table from the WRITTEN shingles: the artifacts stay
    // mutually consistent and the text pipeline runs exactly once.
    val shBack = history.sparkSession.read.parquet(s"$path/shingles")
    Skew.capBuckets(minhashBandSignatures(shBack, idCol),
        Seq("band", "sig"), idCol, maxBucket, "lsh_index_cap")
      .write.mode("overwrite").option("compression", "zstd").parquet(s"$path/bands")
  }

  /** [[incrementalMinhashDedup]] against a [[writeDedupIndex]] artifact —
    * the SERVING shape: only the (small) batch is shingled at probe time;
    * the history side streams from the precomputed index and never
    * shuffles. Results are identical to the inline variant over the same
    * history, so the same oracle checks both. */
  def incrementalMinhashDedupPersisted(
      spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxBucket: Int = LshMaxBucket): DataFrame =
    incrementalMinhashCore(
      spark.read.parquet(s"$path/shingles"),
      spark.read.parquet(s"$path/bands"),
      batch, idCol, textCol, n, threshold, maxBucket)

  /** Shared probe core: history arrives as precomputed (or inline-derived)
    * shingle + band tables; the batch is shingled here. */
  private def incrementalMinhashCore(
      shH: DataFrame, bandsH: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      n: Int, threshold: Double, maxBucket: Int): DataFrame = {
    import graft.expressions.IntersectSize.intersectSize
    val shB = hashedShingleSets(batch, idCol, textCol, n)
      .repartition(col(idCol))
    val bandsB = Skew.capBuckets(minhashBandSignatures(shB, idCol),
      Seq("band", "sig"), idCol, maxBucket, "lsh_inc_batch_cap")

    def verified(cand: DataFrame, shRight: DataFrame): DataFrame = {
      // cand carries the batch-side shingles (batch-sized → broadcast);
      // the right side streams past it un-shuffled.
      val withS1 = cand
        .join(shB.select(col(idCol).as("d1"), col("s").as("s1")), "d1")
      shRight.select(col(idCol).as("d2"), col("s").as("s2"))
        .join(broadcast(withS1), "d2")
        .withColumn("ni", intersectSize(col("s1"), col("s2")))
        .withColumn("jacc", expr("CAST(ni AS DOUBLE) / (size(s1) + size(s2) - ni)"))
        .filter(col("jacc") >= threshold)
    }

    // Batch-vs-history: broadcast batch signatures, scan the history index.
    val candH = bandsH.as("h")
      .join(broadcast(bandsB.as("b")),
        col("b.band") === col("h.band") && col("b.sig") === col("h.sig"))
      .select(col(s"b.$idCol").as("d1"), col(s"h.$idCol").as("d2"))
      .distinct()
    val dupHist = verified(candH, shH).select(col("d1").as(idCol)).distinct()
      .withColumn("_dh", lit(true))

    // Within-batch: standard LSH self-join on the (small) batch only.
    val candB = bandsB.as("l")
      .join(bandsB.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("d1"), col(s"r.$idCol").as("d2"))
      .distinct()
    val dupBatch = verified(candB, shB).select(col("d2").as(idCol)).distinct()
      .withColumn("_db", lit(true))

    batch.select(col(idCol))
      .join(broadcast(dupHist), Seq(idCol), "left")
      .join(broadcast(dupBatch), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("_dh"), lit(false)).as("dup_of_history"),
        coalesce(col("_db"), lit(false)).as("dup_in_batch"),
        (coalesce(col("_dh"), lit(false)) === false &&
          coalesce(col("_db"), lit(false)) === false).as("kept"))
  }

  /** Exact n-gram Jaccard near-dup pairs with length-bucket blocking: docs
    * only pair if their token counts fall in the same or adjacent bucket of
    * `bucketWidth` tokens (each doc emits buckets {b, b+1}; a pair within
    * `bucketWidth` tokens of each other shares one). Equi-join on the bucket,
    * exact Jaccard on candidates. The scalable-but-exact baseline beside
    * [[minhashLshPairs]].
    *
    * Boundedness caveat (measured by the 10× ScaleSweep): the EXACT pair
    * relation is itself quadratic in duplicate-family size — a family of B
    * mutual near-dups IS B(B−1)/2 true pairs, so no plan can emit it in less
    * than quadratic output. Production pipelines run exact/content-hash
    * dedup BEFORE near-dup mining precisely to collapse clone families; when
    * that's not enough, `maxBucket` applies the same capped candidate
    * generation as the LSH family ([[Skew.capBuckets]], observed drops under
    * `ngram_bucket_cap`) at the documented recall trade. The default is
    * CAPPED at [[LshMaxBucket]] — at 100 TB an uncapped exact miner over a
    * boilerplate family is a scale-killer, so boundedness is the default and
    * exactness the opt-in (`maxBucket = Int.MaxValue`; the conformance suite
    * carries both rows, `dedup_ngram_jaccard` / `dedup_ngram_jaccard_exact`).
    * The cap is deterministic (smallest ids kept per bucket), so capped
    * results remain oracle-checkable.
    *
    * API note: the capped default is a BEHAVIORAL change from the original
    * uncapped signature (recall loss above the cap, silent for callers that
    * relied on exactness). Callers needing the exact relation must opt in
    * explicitly with `maxBucket = Int.MaxValue` — the conformance suite
    * carries both shapes, so neither can regress unnoticed. */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, bucketWidth: Int,
      maxBucket: Int = LshMaxBucket): DataFrame = {
    // Three plan branches (bucket keys + both verify sides) → persist; the
    // repartition spreads the broadcast-join-only verify stage across cores
    // (see minhashLshPairs). Tracked for session release ([[CacheRegistry]]).
    val sh = CacheRegistry.track(hashedShingleSets(docs, idCol, textCol, n)
      .repartition(col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val withB0 = sh
      .select(col(idCol), size(col("s")).as("n"),
        expr(s"CAST(floor(size(s) / $bucketWidth) AS BIGINT)").as("b"))
      .select(col(idCol), col("n"), col("b"), explode(expr("array(b, b + 1)")).as("bk"))
    val withB =
      if (maxBucket == Int.MaxValue) withB0
      else
        // The cap window hash-partitions the key table on bk — a LOW-ENTROPY
        // key (a handful of populated length buckets), unlike the LSH
        // family's (band, sig). Left alone, the streamed side of the pair
        // join inherits that partitioning, and the O(pairs) IntersectSize
        // verify serializes behind the few hot-bucket tasks (measured at
        // sf0.1: 9.9 s vs the uncapped plan's 0.9 s for IDENTICAL candidate
        // sets — the cap doesn't even fire there). Spread the tiny capped
        // key table back over the id BEFORE the quadratic explosion. The
        // partition count must be EXPLICIT: a bare repartition(col) of a
        // ~10k-row table is coalesced by AQE to ONE partition, which
        // re-serializes everything downstream (measured 12.2 s).
        Skew.capBuckets(withB0, Seq("bk"), idCol, maxBucket, "ngram_bucket_cap")
          .repartition(
            docs.sparkSession.sessionState.conf.numShufflePartitions,
            col(idCol))
    // Size pre-filter: Jaccard >= t forces |s_small| >= t·|s_big|. Pairs in
    // the same base bucket would match on BOTH emitted keys; keeping only the
    // smallest shared key (= greatest base bucket) emits each pair exactly
    // once without a shuffle-distinct.
    val cand = withB.as("l")
      .join(withB.as("r"),
        col("l.bk") === col("r.bk") && col(s"l.$idCol") < col(s"r.$idCol") &&
          col("l.bk") === greatest(col("l.b"), col("r.b")) &&
          expr(s"CAST(least(l.n, r.n) AS DOUBLE) >= $threshold * greatest(l.n, r.n)"))
      .select(col(s"l.$idCol").as("d1"), col(s"r.$idCol").as("d2"))
    verifyJaccard(cand, sh, idCol, threshold)
  }

  /** SimHash near-dup pairs: 32-bit simhash over token hashes, blocked by
    * splitting the hash into `maxHamming + 1` bit-blocks — by pigeonhole, a
    * pair within the Hamming budget must agree on at least one whole block,
    * so an equi-join on (block index, block value) finds every such pair.
    * Fewer, wider blocks = higher-entropy join keys = less candidate fan-out
    * (the deciding factor on low-entropy corpora). Verified by exact Hamming
    * distance ≤ `maxHamming`. Output: d1, d2, ham. */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String, maxHamming: Int,
      maxBucket: Int = LshMaxBucket): DataFrame = {
    val nBlocks = maxHamming + 1
    require(32 % nBlocks == 0, s"32-bit simhash must split evenly into $nBlocks blocks")
    val bits = 32 / nBlocks
    val mask = (1L << bits) - 1

    // Explode tokens (multiplicity preserved) and compute the 32 per-bit
    // ±1 sums as codegen'd hash aggregates — one pass over the tokens with
    // map-side combine, instead of 32 interpreted array passes per document.
    val th = docs
      .select(col(idCol), explode(expr(s"split($textCol, ' ')")).as("tok"))
      .select(col(idCol), graft.expressions.PolyHash.polyHash(col("tok")).as("h"))
    val bitSums = th.groupBy(col(idCol)).agg(
      sum(expr("(shiftright(h, 0) & 1)*2 - 1")).as("b0"),
      (1 until 32).map(b =>
        sum(expr(s"(shiftright(h, $b) & 1)*2 - 1")).as(s"b$b")): _*)
    val shExpr = (0 until 32)
      .map(b => s"IF(b$b > 0, ${1L << b}, 0)").mkString(" + ")
    val sim = bitSums.select(col(idCol), expr(s"CAST($shExpr AS BIGINT)").as("sh"))

    // Hot-block cap: a boilerplate family shares whole simhash values, so a
    // single (k, blk) bucket would make the block join quadratic. Capping
    // weakens the pigeonhole guarantee ONLY inside overflow buckets (a pair
    // capped out of block k but co-kept in block k' is still rejected by the
    // first-match filter when their block-k values agree) — the drop is
    // deliberately concentrated on the degenerate family.
    // Persisted: both join sides reference it, and the measured broadcast
    // below needs its true cached size (tracked — [[CacheRegistry]]).
    val keyed = CacheRegistry.track(Skew.capBuckets(
      sim.select(col(idCol), col("sh"),
        explode(expr(s"transform(sequence(0, ${nBlocks - 1}), " +
          s"k -> named_struct('k', k, 'blk', shiftright(sh, k*$bits) & $mask))")).as("kb"))
        .select(col(idCol), col("sh"), col("kb.k").as("k"), col("kb.blk").as("blk")),
      Seq("k", "blk"), idCol, maxBucket, "lsh_simhash_cap")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

    // A pair matching on several blocks would be emitted once per block;
    // keeping only the FIRST matching block (all earlier blocks differ)
    // emits each pair exactly once — cheap bit arithmetic instead of a
    // shuffle-distinct over all candidate pairs.
    val firstMatch = expr((1 until nBlocks).foldLeft("l.k = 0") { (acc, k0) =>
      val diffs = (0 until k0)
        .map(j => s"(shiftright(l.sh, ${j * bits}) & $mask) <> (shiftright(r.sh, ${j * bits}) & $mask)")
        .mkString(" AND ")
      s"$acc OR (l.k = $k0 AND $diffs)"
    })

    keyed.as("l")
      .join(Skew.broadcastIfBounded(keyed.as("r")),
        col("l.k") === col("r.k") && col("l.blk") === col("r.blk") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .filter(firstMatch)
      .select(col(s"l.$idCol").as("d1"), col(s"r.$idCol").as("d2"),
        expr(hammingSpark("l.sh", "r.sh")).as("ham"))
      .filter(col("ham") <= maxHamming)
  }

  /** Containment near-dup pairs — the one-sided overlap symmetric Jaccard
    * misses: a short doc quoted wholesale inside a long one has tiny Jaccard
    * (union is dominated by the long doc) but containment |A∩B|/|A| ≈ 1.
    *
    * Candidate generation is rare-shingle prefix filtering: a shingle
    * appearing in more than `maxDf` docs is boilerplate — it carries no
    * discriminative pair information, and its bucket join would cost df²
    * rows — so it is DROPPED from the dictionary entirely (volume observed
    * via `containment_df_drop`). The pair-count aggregate over the
    * surviving inverted index IS the intersection size, and containment is
    * measured within the informative dictionary: c1 = |A∩B∩D| / |A∩D|.
    * Two hash shuffles (df count, pair count), join work bounded by
    * Σ_{df≤maxDf} df² — never all-pairs, never quadratic in a boilerplate
    * family (a pure-template family shares only dropped shingles and
    * simply produces no pairs; exact/minhash dedup owns that case).
    * Output: d1, d2, ni, c1, c2; pairs with max(c1, c2) ≥ `threshold`. */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDf: Int = 64): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // The postings table persists PRE-PARTITIONED on the shingle hash:
    // every consumer keys on h — the df count (groupBy h), the dictionary
    // prune (join on h), and the pair self-join — so ONE explicit exchange
    // at build time replaces three downstream ones, and `kept` (a filter +
    // project of the join) inherits the distribution into its own cache.
    // The shuffle_hash hints matter for scale, not speed: left to AQE, the
    // r7 plan put the WHOLE cached postings table under the broadcast
    // threshold and broadcast the inverted index for both joins —
    // tolerable at sf0.1, an OOM plan at corpus scale (the build side
    // grows with the corpus, not with a bounded dimension). Pinned
    // co-partitioned, the only exchange in pair generation is the
    // (d1, d2) count aggregate's.
    val inv = CacheRegistry.track(hashedShingleSets(docs, idCol, textCol, n)
      .select(col(idCol), explode(col("s")).as("h"))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("h"))
      .persist(MEMORY_AND_DISK))
    val dfc = inv.groupBy(col("h")).agg(count(lit(1)).as("dfh"))
    val kept = inv.join(dfc.hint("shuffle_hash"), "h")
      .observe("containment_df_drop",
        sum(when(col("dfh") > maxDf, lit(1L)).otherwise(lit(0L))).as("dropped_postings"),
        max(col("dfh")).as("max_df"))
      .filter(col("dfh") <= maxDf)
      .select(col(idCol), col("h"))
      .persist(MEMORY_AND_DISK)
    CacheRegistry.track(kept)
    // ns is one row per doc — bounded by the corpus, NOT by a dimension, so
    // its two pair-side joins go through the measured broadcast gate: under
    // the bound it broadcasts (local scale), over it the shuffle plan
    // stands (the 100 TB case — blindly broadcasting |corpus| rows OOMs).
    val ns = CacheRegistry.track(kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("ns")).persist(MEMORY_AND_DISK))
    val nsJ = Skew.broadcastIfBounded(ns)
    val pairs = kept.as("l").hint("shuffle_hash")
      .join(kept.as("r").hint("shuffle_hash"),
        col("l.h") === col("r.h") && col(s"l.$idCol") < col(s"r.$idCol"))
      .groupBy(col(s"l.$idCol").as("d1"), col(s"r.$idCol").as("d2"))
      .agg(count(lit(1)).as("ni"))
    pairs
      .join(nsJ.select(col(idCol).as("d1"), col("ns").as("n1")), "d1")
      .join(nsJ.select(col(idCol).as("d2"), col("ns").as("n2")), "d2")
      .select(col("d1"), col("d2"), col("ni"),
        (col("ni").cast("double") / col("n1")).as("c1"),
        (col("ni").cast("double") / col("n2")).as("c2"))
      .filter(greatest(col("c1"), col("c2")) >= threshold)
  }

  /** Duplicated-span detection — token-window-granular exact dedup (the
    * scalable form of substring dedup): a `w`-token window whose rolling
    * hash appears in ≥ 2 distinct docs is a duplicated span; docs are
    * scored by the fraction of their windows that are duplicated (the
    * trim-or-drop signal for boilerplate and cross-doc template text).
    *
    * One shuffle builds the span inventory (hash → distinct-doc count); the
    * duplicated-span DICTIONARY (spans in ≥ 2 docs — tiny vs the corpus) is
    * broadcast back over the postings, so the corpus never shuffles twice —
    * the [[Corpus.decontaminate]] shape applied doc-vs-corpus instead of
    * doc-vs-benchmark. Output: idCol, n_spans, n_dup_spans, dup_frac for
    * every doc of ≥ `w` tokens. */
  def duplicatedSpans(
      docs: DataFrame, idCol: String, textCol: String, w: Int): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Within-doc-distinct span hashes; both the inventory and the scoring
    // pass scan them, so the tokenize+hash pipeline materializes once.
    val sp = CacheRegistry.track(hashedShingleSets(docs, idCol, textCol, w)
      .select(col(idCol), size(col("s")).as("n_spans"), explode(col("s")).as("h"))
      .persist(MEMORY_AND_DISK))
    val dupDict = sp.groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs")) // hashes are per-doc distinct → count = doc count
      .filter(col("n_docs") >= 2)
      .select(col("h"), lit(1L).as("_dup"))
    sp.join(broadcast(dupDict), Seq("h"), "left")
      .groupBy(col(idCol), col("n_spans"))
      .agg(sum(coalesce(col("_dup"), lit(0L))).as("n_dup_spans"))
      .select(col(idCol), col("n_spans"), col("n_dup_spans"),
        (col("n_dup_spans").cast("double") / col("n_spans")).as("dup_frac"))
  }

  /** Embedding near-dup pairs within a coarse partition (IVF-style: `byCol`
    * is the cluster/label column, so the self-join shuffles on it instead of
    * exploding all-pairs): exact cosine ≥ `threshold` on candidates.
    * Output: v1, v2, partition col, cos. */
  def cosinePairs(
      vecs: DataFrame, idCol: String, vecCol: String, byCol: String,
      threshold: Double): DataFrame = {
    import graft.expressions.DotProduct.dot
    // Norms once per vector (|V| rows), not three dot products per pair.
    val v = vecs.select(col(idCol), col(byCol), col(vecCol),
      Similarity.norm(col(vecCol)).as("nrm"))
    v.as("l").join(v.as("r"),
        col(s"l.$byCol") === col(s"r.$byCol") && col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("v1"), col(s"r.$idCol").as("v2"),
        col(s"l.$byCol").as(byCol),
        (dot(col(s"l.$vecCol"), col(s"r.$vecCol")) / (col("l.nrm") * col("r.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Both directions of an undirected (d1, d2) edge list, as (src, dst) plus
    * `extra` columns carried unchanged on each direction. */
  private def symmetric(edges: DataFrame, extra: Column*): DataFrame =
    edges.select(Seq(col("d1").as("src"), col("d2").as("dst")) ++ extra: _*)
      .union(edges.select(Seq(col("d2").as("src"), col("d1").as("dst")) ++ extra: _*))

  /** A relation every round of [[iterate]] reads (the symmetric edge list,
    * PageRank's degrees): persisted once and tracked in [[CacheRegistry]],
    * since a fixed-round operator's returned plan still reads it, and the
    * operators over one edge list share it. */
  private def roundInput(df: DataFrame): DataFrame =
    CacheRegistry.track(df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The round loop of the iterative graph operators: runs `step` from
    * `init` for `rounds` rounds (round numbers from 1) and returns the last
    * state as a plan, not a result — the last round runs under the caller's
    * action.
    *
    * Lineage cuts. Rounds chain lazily, so with no cut the logical plan
    * grows with every round: Catalyst re-analyzes and re-optimizes the whole
    * chain, a driver planning and stack risk at high round counts. An eager
    * `localCheckpoint` runs the rounds since the last cut in one job and
    * rebases the plan on the checkpointed blocks, so plan depth stays
    * constant at any round count (pinned by `IterativePlanSpec`).
    * Executor-local blocks suffice on a stable cluster; a reliable
    * `checkpoint()` is the variant that survives losing an executor.
    *
    * Cadence. A round that reads its predecessor twice (`readsTwice`: a
    * neighbor join plus a carry-forward, or two alive-set joins) lazily
    * persists it, so both reads share one evaluation, and one job runs two
    * rounds. Three rounds per job measured slower (LPA 3.48 s vs 1.92 s,
    * BFS 2.59 s vs 1.94 s solo at sf0.1): the chained branches evaluate
    * twice before cache blocks land, and Catalyst re-optimizes the deeper
    * plan. Cuts count back from the last round, so the returned plan holds
    * exactly one round over the last cut. A round that reads its
    * predecessor once (PageRank) needs no persist. Chaining PageRank's
    * three rounds uncut into the returned plan ran no build job but was
    * slower end to end at sf0.01 (Verify build + write 6.24 s vs 5.49 s,
    * median of 5), since a round the returned plan holds joins by shuffle
    * (below); so it takes the same cuts. A round cache is unpersisted once a
    * cut covers it.
    *
    * The round the returned plan holds joins its state by shuffle (a
    * `shuffle_hash` hint on the state): left to planner stats, it would
    * broadcast the materialized round inputs, a cached-stats broadcast that
    * is correct at test scale and an OOM plan once the inputs grow with the
    * corpus (SURVEY §9; the plan gate's `cachedBroadcast` rule).
    *
    * Fixpoint. `progress` stops the loop early: it maps a state to a scalar
    * that changes iff the state does (Σcomp for connected components, the
    * alive count for the k-core peel). Every round is then cut, and
    * `progress` collects the scalar of the cut state — a bounded driver
    * collect, one row per round, over checkpointed blocks. The loop ends at
    * the first round that repeats the scalar and returns that round's cut,
    * which the check needed anyway. */
  private def iterate(
      init: DataFrame, rounds: Int, readsTwice: Boolean = true,
      progress: Option[DataFrame => Any] = None)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var pending = List.empty[DataFrame] // persisted states since the last cut
    var state = init
    var seen = progress.map(_(state))
    var done = rounds < 1
    var r = 0
    while (!done) {
      r += 1
      val kept = progress.isEmpty && r == rounds // stays in the returned plan
      val cut = progress.isDefined || (rounds - r) % 2 == 1
      val next = step(if (kept) state.hint("shuffle_hash") else state, r)
      state =
        if (cut) {
          val ck = next.localCheckpoint()
          pending.foreach(_.unpersist()); pending = Nil
          ck
        } else if (readsTwice && !kept) {
          val p = next.persist(MEMORY_AND_DISK); pending ::= p; p
        } else next
      progress.foreach { p =>
        val now = p(state)
        done = seen.contains(now)
        seen = Some(now)
      }
      done ||= r == rounds
    }
    state
  }

  /** Round cap of [[connectedComponents]]: near-dup components converge in
    * a handful of rounds; the cap bounds a pathological chain. */
  private val ComponentRounds = 25

  /** Connected components over near-dup pairs: label-propagation-to-min
    * (each node repeatedly adopts the smallest id reachable through its
    * neighbors) until fixpoint — the standard distributed CC formulation
    * (HashToMin-style). Converges in O(component diameter) rounds; near-dup
    * components are tiny, so a handful. Each round is one equi-join + one
    * aggregation; the driver sees only the Σcomp scalar per round
    * ([[iterate]]'s fixpoint check). Output: (idCol, component) for every
    * node, component = min id of its near-dup cluster (itself when
    * unpaired) — the canonical-document assignment that completes a dedup
    * pipeline. */
  def connectedComponents(
      nodes: DataFrame, edges: DataFrame, idCol: String): DataFrame = {
    val sym = roundInput(symmetric(edges))
    // comp only ever decreases (adopt-the-min), so the label set changed
    // iff Σcomp decreased — convergence is a one-scalar aggregate over the
    // cut labels instead of a full self-join diff per round.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head.getDecimal(0)
    iterate(nodes.select(col(idCol).as("id"), col(idCol).as("comp")),
        ComponentRounds, progress = Some(labelSum)) { (labels, _) =>
      // Adopt the min over {self} ∪ neighbors, as union + min-agg: one
      // equi-join + one aggregation per round, no left join, no diff join.
      val neighborMin = sym.join(labels, col("dst") === col("id"))
        .select(col("src").as("id"), col("comp"))
      labels.select(col("id"), col("comp")).union(neighborMin)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"))
    }.select(col("id").as(idCol), col("comp").as("component"))
  }

  /** Semi-supervised label propagation over an undirected edge set: seeded
    * nodes keep their label forever; each synchronous round every unseeded
    * node adopts the most frequent label among its currently-labeled
    * neighbors (tie → smallest label, so rounds are deterministic on any
    * partitioning). Fixed `rounds` count — LPA has no monotone convergence
    * scalar, so a fixed horizon is the deterministic choice. Per round: one
    * equi-join against the cached symmetric edges + two hash aggregates
    * (count per (node, label), then lexicographic-min of (-count, label));
    * state is one row per node, like [[connectedComponents]].
    * Output: idCol, label (NULL when never reached), seeded. */
  def labelPropagation(
      nodes: DataFrame, edges: DataFrame, idCol: String,
      seeds: DataFrame, labelCol: String, rounds: Int): DataFrame = {
    val sym = roundInput(symmetric(edges))
    val init = nodes.select(col(idCol).as("id"))
      .join(seeds.select(col(idCol).as("id"), col(labelCol).as("label")),
        Seq("id"), "left")
      .withColumn("seeded", col("label").isNotNull)
    iterate(init, rounds) { (labels, _) =>
      val nbr = sym.join(labels.filter(col("label").isNotNull),
          col("dst") === col("id"))
        .select(col("src").as("id"), col("label"))
        .groupBy(col("id"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("id"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l"))).as("b"))
        .select(col("id"), col("b.l").as("nbr_label"))
      labels.join(nbr, Seq("id"), "left")
        .withColumn("label", when(col("seeded"), col("label"))
          .otherwise(coalesce(col("nbr_label"), col("label"))))
        .select("id", "label", "seeded")
    }.select(col("id").as(idCol), col("label"), col("seeded"))
  }

  /** Multi-source BFS hop distance over the symmetric near-dup graph:
    * `dist` = hops to the nearest seed (0 at seeds, NULL when unreachable
    * within `maxHops`) — proximity-to-known-set labeling (how many dedup
    * edges from a benchmark/flagged document).
    *
    * Frontier form: round h joins ONLY the previous frontier (dist = h−1)
    * against the edges, so per-round shuffle is bounded by the frontier's
    * edge incidence, never the whole graph — the property that keeps round
    * cost falling as the search saturates. First assignment wins
    * (coalesce), which IS min-hop by BFS construction; no min-agg over
    * history needed. Output: idCol, dist (BIGINT, NULL = beyond maxHops),
    * reached. */
  def bfsDistance(
      nodes: DataFrame, edges: DataFrame, idCol: String,
      seeds: DataFrame, maxHops: Int): DataFrame = {
    val sym = roundInput(symmetric(edges))
    val init = nodes.select(col(idCol).as("id"))
      .join(seeds.select(col(idCol).as("id"), lit(0L).as("dist")).distinct(),
        Seq("id"), "left")
    iterate(init, maxHops) { (dist, h) =>
      val frontier = dist.filter(col("dist") === (h - 1)).select(col("id"))
      val nbr = sym.join(frontier, col("dst") === col("id"))
        .select(col("src").as("id")).distinct()
        .withColumn("nd", lit(h.toLong))
      dist.join(nbr, Seq("id"), "left")
        .withColumn("dist", coalesce(col("dist"), col("nd")))
        .select("id", "dist")
    }.select(col("id").as(idCol), col("dist"),
      col("dist").isNotNull.as("reached"))
  }

  /** Bounded-round Bellman-Ford: weighted shortest distance from the seed
    * set using at most `maxRounds` edges ([[bfsDistance]] is the w≡1
    * special case; integer weights keep every relaxation exact and
    * engine-portable). Unlike BFS, a labeled node can improve in a later
    * round, so each round relaxes ALL labeled nodes — one equi-join + one
    * min-aggregate on the cached symmetric edge list per round, the
    * [[connectedComponents]] shuffle discipline. Distances only decrease
    * monotonically; maxRounds bounds the plan regardless of graph diameter
    * (the 100 TB contract: k rounds = k bounded shuffles, no convergence
    * loop on a pathological chain). Output: idCol, dist (BIGINT, NULL =
    * unreachable within maxRounds edges), reached. */
  def weightedDistance(
      nodes: DataFrame, edges: DataFrame, idCol: String, weightCol: String,
      seeds: DataFrame, maxRounds: Int): DataFrame = {
    val sym = roundInput(symmetric(edges, col(weightCol).as("w")))
    val init = nodes.select(col(idCol).as("id"))
      .join(seeds.select(col(idCol).as("id"), lit(0L).as("dist")).distinct(),
        Seq("id"), "left")
    iterate(init, maxRounds) { (dist, _) =>
      val relax = sym.join(dist.filter(col("dist").isNotNull),
          col("dst") === col("id"))
        .groupBy(col("src"))
        .agg(min(col("dist") + col("w")).as("nd"))
        .select(col("src").as("id"), col("nd"))
      dist.join(relax, Seq("id"), "left")
        .withColumn("dist", least(col("dist"), col("nd")))
        .select("id", "dist")
    }.select(col("id").as(idCol), col("dist"),
      col("dist").isNotNull.as("reached"))
  }

  /** Fixed-iteration PageRank over the symmetric near-dup graph — ranks
    * concentrate on hub documents of boilerplate families (prune-first
    * candidates). Damping 0.85, rank0 = 1.
    *
    * Engine-portable exactness: the whole iteration runs in FIXED-POINT
    * integer arithmetic at scale 10¹² — contribution = rank_u div degree
    * (integer division), partial sums are exact BIGINTs, and the damping
    * update is `0.15·10¹² + (17·sum) div 20` (0.85 = 17/20). No floats
    * anywhere in the recurrence, so any engine reproduces it bit-for-bit.
    * (A DOUBLE formulation dies on cross-engine double→DECIMAL cast
    * semantics: Spark casts through the shortest string representation,
    * DuckDB scales the exact binary value — a 1-ulp divergence the sf0.1
    * oracle run caught.) The display `rank` is one final double division.
    *
    * Each iteration is one equi-join + one hash aggregate on the cached
    * symmetric edge list — same shuffle shape as [[connectedComponents]].
    * Output: idCol, deg, rank_u (fixed-point BIGINT), rank (double). */
  def pageRank(
      nodes: DataFrame, edges: DataFrame, idCol: String, iters: Int = 3): DataFrame = {
    val One = 1000000000000L // fixed-point 1.0 (scale 1e12)
    val sym = roundInput(symmetric(edges))
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val base = roundInput(nodes.select(col(idCol).as("id"))
      .join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("deg"), lit(0L)).as("deg")))
    iterate(base.withColumn("rank_u", lit(One)), iters, readsTwice = false) {
      (ranks, _) =>
        val contrib = sym.join(ranks, col("src") === col("id"))
          .select(col("dst").as("id"), expr("rank_u div deg").as("c"))
        val sums = contrib.groupBy("id").agg(sum(col("c")).as("csum"))
        // base is a cached round input: joined by shuffle, as [[iterate]]
        // joins the state of the round its returned plan holds
        base.hint("shuffle_hash").join(sums, Seq("id"), "left")
          .select(col("id"), col("deg"),
            (lit(15L * One / 100) +
              expr("(17 * coalesce(csum, CAST(0 AS BIGINT))) div 20")).as("rank_u"))
    }.select(col("id").as(idCol), col("deg"), col("rank_u"),
      (col("rank_u").cast("double") / lit(One.toDouble)).as("rank"))
  }

  /** Count triangles in a canonical (d1 < d2) undirected edge set — the
    * standard cohesion metric over the near-dup graph (triangle-dense
    * regions = boilerplate/template families worth aggressive pruning).
    * With canonical edges every triangle a<b<c is counted exactly once by
    * the oriented wedge join (a,b)+(b,c) closed by (a,c); both joins are
    * hash equi-joins on single keys, no enumeration of non-edges. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges.select(col("d1"), col("d2"))
    // The edge list is the BUILD side of both wedge joins. Left to planner
    // stats, a cached edge set is broadcast unconditionally — fine for a
    // near-dup graph at test scale, an OOM plan once edges grow with the
    // corpus (the cached-stats broadcast trap, SURVEY §9). The measured
    // gate keeps the local broadcast (wedge probe at full parallelism)
    // and falls back to key-shuffled joins over the bound.
    val eB = Skew.broadcastIfBounded(e)
    e.as("e1")
      .join(eB.as("e2"), col("e1.d2") === col("e2.d1"))
      .join(eB.as("e3"),
        col("e1.d1") === col("e3.d1") && col("e2.d2") === col("e3.d2"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Common-neighbor similarity over a canonical (d1 < d2) edge set: every
    * node pair sharing ≥ `minCommon` neighbors, with the shared count and
    * the Jaccard of the two neighborhood sets — co-citation structure the
    * per-edge similarity can't see (two docs never directly compared can
    * share an entire template family; the classic link-prediction
    * baseline). Wedges (x—a, x—b, a<b) come from ONE self-join of the
    * symmetric edge list keyed on the shared endpoint — bounded by Σ deg²,
    * the budget the triangle join already pays — and degrees join back on
    * the surviving pairs. The probe side goes through the measured
    * broadcast gate, never planner stats on a cached edge set. */
  def commonNeighbors(edges: DataFrame, minCommon: Int): DataFrame = {
    val sym = symmetric(edges)
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val symB = Skew.broadcastIfBounded(sym)
    val wedges = sym.as("l")
      .join(symB.as("r"),
        col("l.src") === col("r.src") && col("l.dst") < col("r.dst"))
      .select(col("l.dst").as("n1"), col("r.dst").as("n2"))
    wedges.groupBy(col("n1"), col("n2")).agg(count(lit(1)).as("cn"))
      .filter(col("cn") >= minCommon)
      .join(deg.select(col("src").as("n1"), col("deg").as("deg_a")), "n1")
      .join(deg.select(col("src").as("n2"), col("deg").as("deg_b")), "n2")
      .withColumn("jacc",
        expr("CAST(cn AS DOUBLE) / CAST(deg_a + deg_b - cn AS DOUBLE)"))
      .select(col("n1").as("d1"), col("n2").as("d2"),
        col("cn"), col("deg_a"), col("deg_b"), col("jacc"))
  }

  /** Bounded-round k-core peel over the near-dup graph: `rounds` synchronous
    * rounds of discarding nodes whose ALIVE-degree < k — the density filter
    * that isolates template/boilerplate cliques no single triangle count
    * can. The operator is DEFINED as the bounded peel (like
    * [[labelPropagation]]'s fixed rounds): it equals the true k-core iff a
    * full round removes nothing, which near-dup graphs (tiny components,
    * diameter ≤ ~4) reach well inside 4 rounds; an unconverged peel is a
    * superset of the core. Each round is two equi-joins against the alive
    * set + one count aggregate. The peel is a fixed point once every
    * survivor has alive-degree ≥ k, so a round that removes nothing ends it
    * early ([[iterate]]'s fixpoint check on the alive count). Output:
    * (idCol, in_core) for every node. */
  def kCore(
      nodes: DataFrame, edges: DataFrame, idCol: String,
      k: Int, rounds: Int): DataFrame = {
    val sym = roundInput(symmetric(edges))
    val alive = iterate(nodes.select(col(idCol).as("id")), rounds,
        progress = Some(_.count())) { (alive, _) =>
      sym.join(alive.select(col("id").as("dst")), "dst")
        .join(alive.select(col("id").as("src")), "src")
        .groupBy(col("src")).agg(count(lit(1)).as("_deg"))
        .filter(col("_deg") >= k).select(col("src").as("id"))
    }
    nodes.select(col(idCol))
      .join(alive.select(col("id").as(idCol), lit(1).as("_in")),
        Seq(idCol), "left")
      .select(col(idCol), col("_in").isNotNull.as("in_core"))
  }

  /** Blocked edit-distance pair mining — fuzzy ENTITY dedup (near-identical
    * names/titles differing by typos), the short-string complement of the
    * shingle-based DOCUMENT dedup above. Candidates come from an equi-join
    * on caller-chosen blocking keys (e.g. first token + length bucket), so
    * the pairwise verify runs only inside blocks; a length-gap prune
    * (`|len(a)−len(b)| ≤ maxDist`, a Levenshtein lower bound) drops
    * non-starters cheaply, and the survivors go through the banded
    * O(len·maxDist) [[graft.expressions.BoundedLevenshtein]] rather than
    * the built-in's full O(len²) DP. Blocking trades
    * recall for boundedness exactly like LSH banding: a pair split across
    * blocks is never compared — at 100 TB that is the only way an
    * edit-distance pass is runnable at all.
    *
    * Like [[ngramJaccardPairs]], the exact pair relation is quadratic in
    * clone-family size by definition; `maxBlock` bounds degenerate blocks
    * ([[Skew.capBuckets]], observed drops under `lev_block_cap`) when
    * upstream exact dedup can't. Default UNCAPPED — exact semantics. */
  def editDistancePairs(
      df: DataFrame, idCol: String, strCol: String, maxDist: Int,
      blockOn: Column => Seq[Column], maxBlock: Int = Int.MaxValue): DataFrame =
    blockedStringCandidates(df, idCol, strCol, blockOn, maxBlock,
        "lev_block_cap")
      .filter(abs(length(col("t1")) - length(col("t2"))) <= maxDist)
      .withColumn("dist",
        graft.expressions.BoundedLevenshtein.boundedLev(
          col("t1"), col("t2"), maxDist))
      .filter(col("dist") <= maxDist)
      .select("d1", "d2", "dist")

  /** Jaro-Winkler fuzzy-match pairs over the same blocked-candidate
    * skeleton as [[editDistancePairs]] — the ER comparator where edit
    * distance over-penalizes suffix noise. The verify is the codegen'd
    * [[graft.expressions.JaroWinkler]] native; like every pair miner here
    * the TRUE pair relation is quadratic in clone-family size, so
    * `maxBlock` is the boundedness knob (default UNCAPPED — exact). */
  def jaroWinklerPairs(
      df: DataFrame, idCol: String, strCol: String, threshold: Double,
      blockOn: Column => Seq[Column], maxBlock: Int = Int.MaxValue): DataFrame =
    blockedStringCandidates(df, idCol, strCol, blockOn, maxBlock,
        "jw_block_cap")
      .withColumn("jw",
        graft.expressions.JaroWinkler.jaroWinkler(col("t1"), col("t2")))
      .filter(col("jw") >= threshold)
      .select("d1", "d2", "jw")

  /** Shared pair-miner skeleton: block on caller-chosen keys, cap
    * degenerate blocks ([[Skew.capBuckets]], observed drops), and emit
    * within-block candidates (d1, t1, d2, t2), d1 < d2.
    *
    * Persist + id-repartition: blocking keys are LOW-ENTROPY by design
    * (first token, length bucket), so a shuffle join on them funnels whole
    * blocks into single reducers and serializes the expensive verify
    * expression behind one task. Broadcasting the measured-small side
    * keeps the stream side id-partitioned — verify runs at full
    * parallelism ([[Skew.broadcastIfBounded]]); past the bound, the
    * shuffle plan stands and `maxBlock` is the skew defense. */
  private def blockedStringCandidates(
      df: DataFrame, idCol: String, strCol: String,
      blockOn: Column => Seq[Column], maxBlock: Int,
      capLabel: String): DataFrame = {
    val base = df.select(col(idCol).as("_id"), col(strCol).as("_t"))
    val keyed0 = blockOn(col("_t")).zipWithIndex.foldLeft(base) {
      case (d, (c, i)) => d.withColumn(s"_bk$i", c)
    }
    val keyed1 =
      if (maxBlock == Int.MaxValue) keyed0
      else Skew.capBuckets(keyed0,
        keyed0.columns.filter(_.startsWith("_bk")).toSeq, "_id", maxBlock,
        capLabel)
    val keyed = CacheRegistry.track(keyed1.repartition(col("_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val keys = keyed.columns.filter(_.startsWith("_bk")).toSeq
    val a = keyed.select(col("_id").as("d1") +: col("_t").as("t1") +: keys.map(col): _*)
    val b = keyed.select(col("_id").as("d2") +: col("_t").as("t2") +: keys.map(col): _*)
    a.join(Skew.broadcastIfBounded(b), keys)
      .filter(col("d1") < col("d2"))
  }

  /** Exact Jaccard over candidate pairs (d1, d2) against sorted hashed
    * shingle sets: codegen'd two-pointer merge-intersect, once per pair. */
  private def verifyJaccard(
      cand: DataFrame, sh: DataFrame, idCol: String, threshold: Double): DataFrame = {
    import graft.expressions.IntersectSize.intersectSize
    // Measured broadcast of the (persisted) shingle sets: the candidate
    // relation is the quadratic side and must stream with its own
    // partitioning, never reshuffle on doc ids ([[Skew.broadcastIfBounded]]
    // — the capped adaptive threshold can no longer make this call, and at
    // corpus sizes past the bound the shuffle plan is the correct one).
    val s1 = Skew.broadcastIfBounded(
      sh.select(col(idCol).as("d1"), col("s").as("s1")))
    val s2 = Skew.broadcastIfBounded(
      sh.select(col(idCol).as("d2"), col("s").as("s2")))
    cand.join(s1, "d1").join(s2, "d2")
      .withColumn("ni", intersectSize(col("s1"), col("s2")))
      .withColumn("jacc", expr("CAST(ni AS DOUBLE) / (size(s1) + size(s2) - ni)"))
      .filter(col("jacc") >= threshold)
      .select("d1", "d2", "jacc")
  }
}
