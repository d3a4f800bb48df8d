package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recall/cost sweep harness for the IVF-PQ family — the evidence layer the
  * hash-pinned lifecycle rows cannot provide: every pinned serve is
  * hash-exact against an oracle that REPLAYS the same algorithm, so a bad
  * operating point (too few codes, too few probes) stays green while
  * retrieval quality sinks. This module measures recall@k against the
  * exact L2 answer at several (coarse cells, nprobe, subspaces, codebook
  * size) operating points, on the real corpus AND on a deterministic
  * clustered corpus where ANN structure exists to find.
  *
  * Everything here is the LARGE-CODEBOOK scale path: [[KMeans.assign]] and
  * [[PQ.distTable]] bake centroids into literal expressions — the right
  * call at k ≤ 16 (whole-stage codegen, zero joins) and the wrong one at
  * k = 256 (the expression tree outgrows codegen and planning time).
  * Here centroids and codebooks stay DATA:
  *   - assignment is a broadcast join + min(struct) argmin (map-side
  *     partial aggregation collapses the n·k candidate rows to n before
  *     any shuffle);
  *   - encoding explodes each vector into its m subvectors once and
  *     argmins against the broadcast codebook table — two bounded
  *     aggregates, not m passes;
  *   - ADC serving aggregates the per-query distance tables into nested
  *     MAP COLUMNS (q_vec → j → code → distance) and broadcasts
  *     |Q|·nprobe rows of them across the codes scan — the same
  *     plan shape as the pinned serves, with tables built from data
  *     instead of literals.
  *
  * Determinism: seeds, assignment tie-breaks and the fixed-point centroid
  * means are exactly [[KMeans]]'s; the synthetic corpus is a pure hash
  * function of (vec_id, dim). No oracle pins these results — the sweep's
  * output is a measurement (recall, seconds), compared round-over-round
  * in the bench artifact.
  */
object AnnSweep {

  /** One operating point of the IVF-PQ layout. */
  final case class OpPoint(name: String, kc: Int, nprobe: Int, m: Int, k: Int)

  /** One measured point: recall@kTop vs exact L2, with build/serve cost. */
  final case class SweepResult(
      name: String, recall: Double, buildS: Double, serveS: Double)

  /** Deterministic mixture-of-Gaussians-like corpus: `n` vectors in `dims`
    * dimensions around `c` well-separated centers (uniform in [-1,1] per
    * coordinate) with triangular per-coordinate noise of half-width
    * `sigma`. Centers and noise are pure integer-hash functions of
    * (cluster, dim) / (vec_id, dim), so any engine, run, or partitioning
    * reproduces the corpus bit-for-bit — the property `rand()` corpora
    * can never give a regression suite. With sigma ≪ the O(√dims)
    * center separation, a query's true neighbors are its cluster mates:
    * ANN structure exists, so recall measures the INDEX, not the corpus. */
  def clusteredCorpus(
      spark: SparkSession, n: Long, dims: Int, c: Int,
      sigma: Double): DataFrame =
    // Center coordinate: combine (cluster, dim) injectively FIRST
    // (cluster·997 + d, exact for dims < 997), THEN one multiplicative
    // hash — multiplying the combined index by a constant that is large
    // and generic modulo 1000003 makes consecutive indices jump ~0.43 of
    // the range, so no two clusters land near each other in many
    // dimensions at once. (Hashing cluster and dim with SEPARATE
    // multipliers is the trap: any multiplier ≡ ±small (mod M) collapses
    // a stride of clusters onto near-identical centers.)
    // Both centers and noise hash (key, dim) with xxhash64 — a NON-LINEAR
    // mix. Every multiplicative/affine scheme tried first
    // (a·key + b·d mod M, (key·S + d)·K mod M) decomposes additively in
    // index space, so the per-dim difference between two keys is one
    // constant up to wraps; the min over all O(n²) pairs of that constant
    // is tiny by birthday pressure, producing near-identical vectors in
    // DIFFERENT clusters (observed: 4e-5 between-cluster distance² at
    // n=400, both generations). xxhash64's avalanche makes per-dim
    // differences independent, which is the property the separation
    // invariant actually needs. Distinct seed literals decorrelate the
    // three streams; determinism is per-engine (no oracle reads this).
    spark.range(n).select(col("id").as("vec_id"),
      expr(
        s"""transform(sequence(1, $dims), d -> CAST(
           |  (pmod(xxhash64(CAST(id % $c AS BIGINT), d, 17), 1000003)
           |     / 1000003.0 * 2.0 - 1.0)
           |  + $sigma * ((pmod(xxhash64(id, d, 31), 1000003) / 1000003.0
           |            +  pmod(xxhash64(id, d, 57),  999983) /  999983.0) - 1.0)
           |  AS FLOAT))""".stripMargin).as("embedding"))

  /** Deterministic ADVERSARIAL corpus for the recall sweep (round 15): the
    * same xxhash64 well-separated centers as [[clusteredCorpus]], but with
    * the three properties that actually embarrass IVF-PQ, which the
    * near-isotropic corpora cannot exhibit:
    *   - ANISOTROPY: per-(cluster, dim) noise scale
    *     `0.05 + 0.95·u⁴·20` with u uniform — i.e. scales span
    *     [0.05, 19.05], a ~380× tight-to-stretched ratio with most dims
    *     near the 0.05 floor and a few stretched past 10× (the power-4
    *     law puts ~95% of dims under 1.0). Clusters are elongated
    *     ellipsoids, so coarse Voronoi cells cut across them and PQ
    *     subquantizers see correlated residual energy concentrated in a
    *     few subspaces. The round-15 recall numbers (0.585–0.86) were
    *     measured on exactly this distribution — documented as-is rather
    *     than re-shaped, so the recorded curve stays reproducible.
    *   - VARIABLE DENSITY: cluster ids drawn from a cubed-uniform map, so
    *     low clusters hold most of the mass (heaviest ≈ n/3, lightest a
    *     handful) — dense cells dominate probe budgets while sparse cells
    *     waste them.
    *   - HEAVY TAIL: 1 vector in 20 carries 5× noise — outliers land in
    *     the wrong coarse cell, the misassignment class recall@10 feels
    *     directly.
    * Same determinism contract as [[clusteredCorpus]] (pure integer-hash
    * functions of ids; per-engine, no oracle reads it). */
  def skewedCorpus(
      spark: SparkSession, n: Long, dims: Int, c: Int,
      sigma: Double): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      expr(
        s"""transform(sequence(1, $dims), d -> CAST(
           |  (pmod(xxhash64(CAST(
           |     CAST(pow(pmod(xxhash64(id, 7), 1000003) / 1000003.0, 3.0)
           |          * $c AS BIGINT) AS BIGINT), d, 17), 1000003)
           |     / 1000003.0 * 2.0 - 1.0)
           |  + $sigma
           |    * (0.05 + 0.95 * pow(pmod(xxhash64(CAST(
           |         CAST(pow(pmod(xxhash64(id, 7), 1000003) / 1000003.0, 3.0)
           |              * $c AS BIGINT) AS BIGINT) * 997 + d, 23), 1000003)
           |         / 1000003.0, 4.0) * 20.0)
           |    * (CASE WHEN pmod(xxhash64(id, 41), 20) = 0
           |            THEN 5.0 ELSE 1.0 END)
           |    * ((pmod(xxhash64(id, d, 31), 1000003) / 1000003.0
           |      + pmod(xxhash64(id, d, 57),  999983) /  999983.0) - 1.0)
           |  AS FLOAT))""".stripMargin).as("embedding"))

  // Squared L2 as the codegen [[graft.expressions.SqDist]] expression
  // (round 17): the old HOF form (aggregate over zip_with) is
  // CodegenFallback — interpreted lambda dispatch + a per-row intermediate
  // array on the n·k assignment rows and the n·m·k codebook rows, the
  // highest-volume rows this module produces. Same element widening, same
  // left-to-right fold — bit-identical distances, so every argmin and
  // every oracle hash is unchanged.
  private def sqDist(a: String, b: String): Column =
    graft.expressions.SqDist.sqDist(col(a), col(b))

  /** Nearest-centroid assignment against a centroid TABLE (cluster, cent):
    * broadcast join + min(struct(d, cluster)) argmin — squared L2, ties to
    * the smaller cluster id, exactly [[KMeans.assign]]'s semantics without
    * the literal expression tree. The n·k candidate rows collapse map-side
    * (partial min per id), so the shuffle carries n rows. */
  def assignJoin(
      vecs: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame =
    // min over (_d, _ac) alone — the pair is already a total order per id
    // (one row per centroid), so dropping vecCol from the struct changes
    // nothing; carrying it copied the full vector array into a fresh
    // struct on EVERY one of the n·k candidate rows (round 17 — the
    // vector rides a first() instead: it is functionally determined by
    // the group key, so first() is deterministic).
    vecs.crossJoin(broadcast(cents.select(col("cluster").as("_ac"), col("cent"))))
      .withColumn("_d", sqDist(vecCol, "cent"))
      .groupBy(col(idCol))
      .agg(min(struct(col("_d"), col("_ac"))).as("_m"),
        first(col(vecCol)).as(vecCol))
      .select(col(idCol), col("_m._ac").as("cluster"), col(vecCol))

  /** Lloyd's k-means on the JOIN path — the large-k trainer ([[KMeans.lloyd]]
    * with data centroids instead of literals; same seeds, same fixed-point
    * centroid means, so small-k results agree with the literal path).
    * Returns (assigned, cents(cluster, cent)); each round's centroid table
    * is tiny (k rows) and persists only within the returned plan. */
  def lloydJoin(
      vecs: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, dims: Int): (DataFrame, DataFrame) = {
    require(iters >= 1)
    var cents = KMeans.seeds(vecs, idCol, vecCol, k)
    var assigned = assignJoin(vecs, idCol, vecCol, cents)
    (2 to iters).foreach { _ =>
      cents = KMeans.centroidAgg(assigned, vecCol, dims)
        .select(col("cluster"), col("cent"))
      assigned = assignJoin(vecs, idCol, vecCol, cents)
    }
    (assigned, KMeans.centroidAgg(assigned, vecCol, dims)
      .select(col("cluster"), col("cent")))
  }

  /** Train one codebook per subspace on the join path: explode each vector
    * into its m subvectors ONCE, then run the per-subspace Lloyd rounds on
    * the union table with (subspace, cluster) as the key — the m trainings
    * share every scan instead of running m separate jobs.
    * Returns (subspace, code, cent) — codebooks as data. */
  def trainBooksJoin(
      vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, dims: Int): DataFrame = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sub = dims / m
    val subs = subVectors(vecs, idCol, vecCol, m, sub)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    subs.count()
    try {
      // Per-subspace seeds: the k smallest (seedHash, id) rows per subspace
      // via a bounded window over the (tiny) candidate set.
      val wSeed = Window.partitionBy("j").orderBy(col("_h"), col(idCol))
      var cents = subs
        .withColumn("_h", expr(KMeans.seedHash(idCol)))
        .withColumn("_rn", row_number().over(wSeed))
        .filter(col("_rn") <= k)
        .select(col("j"), (col("_rn") - 1).cast("int").as("cluster"),
          expr("transform(sub, x -> CAST(x AS DOUBLE))").as("cent"))
      // Same slim-argmin shape as [[assignJoin]]: (_d, _ac) is a total
      // order per (j, id), and sub is functionally determined by the
      // group key — first() instead of copying the subvector into a
      // struct on each of the n·m·k candidate rows.
      def assignAll(cs: DataFrame): DataFrame =
        subs.join(broadcast(cs.select(col("j"),
            col("cluster").as("_ac"), col("cent"))), "j")
          .withColumn("_d", sqDist("sub", "cent"))
          .groupBy(col("j"), col(idCol))
          .agg(min(struct(col("_d"), col("_ac"))).as("_m"),
            first(col("sub")).as("sub"))
          .select(col("j"), col(idCol), col("_m._ac").as("cluster"),
            col("sub"))
      def centAgg(assigned: DataFrame): DataFrame = {
        val sums = (1 to sub).map { i =>
          sum(expr(s"CAST(floor(CAST(element_at(sub, $i) AS DOUBLE) * " +
            s"${KMeans.Scale}) AS BIGINT)")).as(s"_s$i")
        }
        assigned.groupBy(col("j"), col("cluster"))
          .agg(count(lit(1)).as("n"), sums: _*)
          .select(col("j"), col("cluster"),
            array((1 to sub).map(i =>
              expr(s"CAST(_s$i AS DOUBLE) / (CAST(n AS DOUBLE) * " +
                s"CAST(${KMeans.Scale} AS DOUBLE))")): _*).as("cent"))
      }
      var assigned = assignAll(cents)
      (2 to iters).foreach { _ =>
        cents = centAgg(assigned)
        assigned = assignAll(cents)
      }
      val out = centAgg(assigned)
        .select(col("j").as("subspace"), col("cluster").as("code"), col("cent"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    } finally subs.unpersist()
  }

  /** (id, j, sub) — each vector exploded into its m subvectors. Unrolled
    * `array(slice…)` rather than `transform(sequence…)`: the lambda form is
    * CodegenFallback (interpreted per element); the array of m literal
    * slices is the same values in codegen, and posexplode's pos IS j. */
  private def subVectors(
      vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, sub: Int): DataFrame =
    vecs.select(col(idCol), posexplode(array((0 until m).map(j =>
        expr(s"slice($vecCol, ${j * sub + 1}, $sub)")): _*)))
      .select(col(idCol), col("pos").as("j"), col("col").as("sub"))

  /** Encode an assigned corpus against data codebooks: one subvector
    * explode, one broadcast join + argmin, one re-assembly into a
    * (id, cluster, codes: map<int,int>) row. Codes travel as a map column
    * (the long-format analog of code0..codeN), read back by the serve's
    * element_at — gap-proof for non-dense code ids like [[PQ.distTable]]. */
  def encodeJoin(
      assigned: DataFrame, idCol: String, vecCol: String,
      books: DataFrame, m: Int, sub: Int): DataFrame = {
    val codesLong = subVectors(assigned, idCol, vecCol, m, sub)
      .join(broadcast(books.select(col("subspace").as("j"),
        col("code").as("_c"), col("cent"))), "j")
      .withColumn("_d", sqDist("sub", "cent"))
      .groupBy(col(idCol), col("j"))
      .agg(min(struct(col("_d"), col("_c"))).as("_m"))
      .select(col(idCol), col("j"), col("_m._c").as("code"))
    codesLong.groupBy(col(idCol))
      .agg(map_from_arrays(collect_list(col("j")), collect_list(col("code")))
        .as("codes"))
      .join(assigned.select(col(idCol), col("cluster")), idCol)
  }

  /** ADC top-k serve with DATA distance tables: per (query, probed cell),
    * the per-subspace code→distance tables aggregate into a nested map
    * column (j → code → dd), broadcast across the codes scan; per
    * candidate, adist = the m nested lookups summed j = 0..m-1 (fixed
    * order). Identical plan shape to [[PQ.knnIvfPqCells]] — broadcast
    * probe tables, cell-pruned codes join, bounded
    * [[Similarity.topKCut]] final cut. */
  def serveAdc(
      enc: DataFrame, cents: DataFrame, books: DataFrame,
      probes: DataFrame, idCol: String, vecCol: String,
      m: Int, sub: Int, nprobe: Int, kTop: Int,
      guards: Seq[DataFrame] = Nil): DataFrame = {
    Similarity.requireIntegralId(cents, "cluster", "serveAdc")
    val q = probes.select(col(idCol).as("q_vec"), col(vecCol).as("_qv"))
    // nprobe cut: bounded TopKAggregate ((_d asc, p_cluster asc) ≡ the
    // heap order on (-_d, id)), materialized at planning so the probed-
    // cell union statically prunes the codes scan ([[Similarity
    // .materializeProbes]] — the r15 recipe; the runtime-DPP form this
    // replaces degraded to dynamicpruningexpression(true) on every
    // persisted serve, r15 audit). The distance-table join below stays
    // lazy: only (q_vec, _qv, p_cluster) ships to the driver.
    val probePipeline = q.crossJoin(broadcast(
        cents.select(col("cluster").as("p_cluster"), col("cent"))))
      .withColumn("_d", sqDist("_qv", "cent"))
      .groupBy(col("q_vec"), col("_qv"))
      .agg(graft.expressions.TopKAggregate
        .topK(-col("_d"), col("p_cluster").cast("long"), nprobe).as("top"))
      .select(col("q_vec"), col("_qv"), explode(col("top.id")).as("p_cluster"))
    val (probeCells, probed) =
      Similarity.materializeProbes(probePipeline, "p_cluster")
    val encPruned = Similarity.pruneCells(enc, "cluster", probed)
    val qsubs = q.select(col("q_vec"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), j -> slice(_qv, j * $sub + 1, $sub))")))
      .select(col("q_vec"), col("pos").as("j"), col("col").as("qsub"))
    val tabs = qsubs
      .join(broadcast(books.select(col("subspace").as("j"),
        col("code"), col("cent"))), "j")
      .withColumn("dd", sqDist("qsub", "cent"))
      .groupBy(col("q_vec"), col("j"))
      .agg(map_from_arrays(collect_list(col("code")), collect_list(col("dd")))
        .as("tab"))
      .groupBy(col("q_vec"))
      .agg(map_from_arrays(collect_list(col("j")), collect_list(col("tab")))
        .as("tabs"))
    // Frozen-selection staleness guard (round 18) — persisted callers pass
    // their layout's epoch assertion; in-session callers pass none.
    val qt = Layout.withEpochGuard(probeCells.join(tabs, "q_vec"), guards)
    val adist = (0 until m)
      .map(j => expr(s"element_at(element_at(tabs, $j), element_at(codes, $j))"))
      .reduce(_ + _)
    val scored = encPruned.join(broadcast(qt),
        col("cluster") === col("p_cluster") && col(idCol) =!= col("q_vec"))
      .withColumn("adist", adist)
    Similarity.topKCut(scored.withColumn("neighbor", col(idCol)),
        "adist", kTop, ascending = true)
      .select(col("q_vec"), col("rank"), col("neighbor"), col("adist"))
  }

  /** Persist a join-path IVF-PQ index (the large-codebook layout the
    * literal-path [[PQ.writeIvfPqIndex]] cannot carry: codebooks stay DATA,
    * codes stay a map column): cluster-partitioned codes + centroid and
    * codebook tables beside them. Same layout contract as the literal
    * index — serving reads ONLY these three dirs, never a raw vector. */
  def writeIndexJoin(
      enc: DataFrame, cents: DataFrame, books: DataFrame, path: String): Unit = {
    cents.select(col("cluster"), col("cent"))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/cents")
    books.select(col("subspace"), col("code"), col("cent"))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/books")
    Layout.writeCells(enc, "cluster", s"$path/cells")
    // Epoch LAST — the stamp marks a complete layout ([[Layout.stampEpoch]]).
    Layout.stampEpoch(enc.sparkSession, path)
  }

  /** Serve ADC top-k from a [[writeIndexJoin]] index — [[serveAdc]] over
    * the three on-disk relations. */
  def serveIndexJoin(
      spark: SparkSession, path: String, probes: DataFrame,
      idCol: String, vecCol: String, m: Int, sub: Int,
      nprobe: Int, kTop: Int): DataFrame =
    serveAdc(spark.read.parquet(s"$path/cells"),
      spark.read.parquet(s"$path/cents"),
      spark.read.parquet(s"$path/books"),
      probes, idCol, vecCol, m, sub, nprobe, kTop,
      guards = Layout.epochGuard(spark, path).toSeq)

  /** Exact L2 top-k truth set as (q_vec, neighbor) pairs — the recall
    * denominator. |Q|·kTop driver scalars. */
  def truthPairs(
      corpus: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      kTop: Int): Set[(Long, Long)] = {
    val q = probes.select(col(idCol).as("q_vec"), col(vecCol).as("_qv"))
    val scored = corpus.select(col(idCol).as("neighbor"), col(vecCol).as("_e"))
      .crossJoin(broadcast(q))
      .filter(col("q_vec") =!= col("neighbor"))
      .withColumn("_d", sqDist("_qv", "_e"))
    // Bounded cut — the truth pass scores |corpus|·|Q| rows; the window
    // form it replaces sorted them all (same (d asc, id asc) order).
    Similarity.topKCut(scored, "_d", kTop, ascending = true)
      .select("q_vec", "neighbor").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** Share of `truth` that `got` holds (recall@k against [[truthPairs]], or
    * any answer-set overlap); 0 for an empty truth. */
  def overlap[T](truth: Set[T], got: Set[T]): Double =
    if (truth.isEmpty) 0.0 else truth.count(got).toDouble / truth.size

  /** Maintenance-quality measurement for one operating point. */
  final case class AppendRecall(
      name: String, appended: Double, retrained: Double,
      appendS: Double, retrainS: Double)

  /** Does append-then-compact PRESERVE the operating point's recall?
    * The pinned lifecycle rows prove the appended view (base cells UNION
    * delta cells) and the compacted rewrite serve BIT-EQUAL results — an
    * equality that says nothing about quality: both could have decayed
    * together, because the delta was encoded with codebooks trained before
    * it existed. This measures that decay directly:
    *   - `appended`: train coarse + codebooks on BASE only, encode the
    *     delta with those FROZEN models (exactly [[PQ.writeCells]]'s
    *     no-retrain ingest semantics), serve base∪delta, score against
    *     the exact truth on base∪delta. Content-wise this relation IS the
    *     compacted index, so one number covers both lifecycle states.
    *   - `retrained`: the from-scratch index on base∪delta at the same
    *     point — the quality ceiling maintenance gives up by not
    *     retraining. appended ≈ retrained is the evidence that the daily
    *     ingest path can run without a retrain; a widening gap is the
    *     signal to schedule one (the compaction trigger a 100 TB
    *     deployment actually needs).
    * Cost columns ride along: appendS is delta-assign + delta-encode only
    * (the incremental work), retrainS the full rebuild. */
  def appendRecall(
      base: DataFrame, delta: DataFrame, idCol: String, vecCol: String,
      dims: Int, p: OpPoint, kTop: Int = 10,
      coarseIters: Int = 2, pqIters: Int = 2): AppendRecall = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sub = dims / p.m
    def build(vecs: DataFrame): (DataFrame, DataFrame, DataFrame) = {
      val (assigned, cents) = lloydJoin(vecs, idCol, vecCol, p.kc, coarseIters, dims)
      val cp = cents.persist(MEMORY_AND_DISK); cp.count()
      val books = trainBooksJoin(vecs, idCol, vecCol, p.m, p.k, pqIters, dims)
      val enc = encodeJoin(assigned, idCol, vecCol, books, p.m, sub)
        .persist(MEMORY_AND_DISK)
      enc.count()
      (enc, cp, books)
    }
    val bp = base.persist(MEMORY_AND_DISK); bp.count()
    val dp = delta.persist(MEMORY_AND_DISK); dp.count()
    val union = bp.unionByName(dp).persist(MEMORY_AND_DISK); union.count()
    val probes = union.filter(col(idCol) % 100 === 0)
    val truth = truthPairs(union, probes, idCol, vecCol, kTop)
    def score(enc: DataFrame, cents: DataFrame, books: DataFrame): Double = {
      val got = serveAdc(enc, cents, books, probes, idCol, vecCol,
          p.m, sub, p.nprobe, kTop)
        .select("q_vec", "neighbor").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      overlap(truth, got)
    }
    // Maintenance path: frozen base models, delta encoded without retrain.
    val (encBase, cents, books) = build(bp)
    val tA = System.nanoTime()
    val encDelta = encodeJoin(assignJoin(dp, idCol, vecCol, cents),
      idCol, vecCol, books, p.m, sub)
    val encApp = encBase.unionByName(encDelta).persist(MEMORY_AND_DISK)
    encApp.count()
    val appendS = (System.nanoTime() - tA) / 1e9
    val appended = score(encApp, cents, books)
    // Quality ceiling: full retrain on the union at the same point.
    val tR = System.nanoTime()
    val (encAll, centsAll, booksAll) = build(union)
    val retrainS = (System.nanoTime() - tR) / 1e9
    val retrained = score(encAll, centsAll, booksAll)
    Seq(encBase, encApp, encAll, cents, centsAll, books, booksAll,
      bp, dp, union).foreach(_.unpersist())
    AppendRecall(p.name, appended, retrained, appendS, retrainS)
  }

  /** Run the full sweep on one corpus: for each operating point, train
    * coarse + codebooks (coarse runs shared per distinct kc), encode,
    * serve, and score recall@kTop against the one exact truth set.
    * Probes are every 100th vec_id. Build/serve wall-clock per point rides
    * along so the artifact carries recall AND its cost. */
  def sweep(
      corpus: DataFrame, idCol: String, vecCol: String, dims: Int,
      points: Seq[OpPoint], kTop: Int = 10,
      coarseIters: Int = 2, pqIters: Int = 2): Seq[SweepResult] = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val vecs = corpus.select(col(idCol), col(vecCol))
      .persist(MEMORY_AND_DISK)
    vecs.count()
    val probes = vecs.filter(col(idCol) % 100 === 0)
    val truth = truthPairs(vecs, probes, idCol, vecCol, kTop)
    // Coarse quantizer shared across points with the same cell count.
    val coarseCache = scala.collection.mutable.Map.empty[Int, (DataFrame, DataFrame, Double)]
    def coarse(kc: Int): (DataFrame, DataFrame, Double) =
      coarseCache.getOrElseUpdate(kc, {
        val t0 = System.nanoTime()
        val (assigned, cents) = lloydJoin(vecs, idCol, vecCol, kc, coarseIters, dims)
        val ap = assigned.persist(MEMORY_AND_DISK); ap.count()
        val cp = cents.persist(MEMORY_AND_DISK); cp.count()
        (ap, cp, (System.nanoTime() - t0) / 1e9)
      })
    val results = points.map { p =>
      val sub = dims / p.m
      val (assigned, cents, coarseS) = coarse(p.kc)
      val t1 = System.nanoTime()
      val books = trainBooksJoin(vecs, idCol, vecCol, p.m, p.k, pqIters, dims)
      val enc = encodeJoin(assigned, idCol, vecCol, books, p.m, sub)
        .persist(MEMORY_AND_DISK)
      enc.count()
      val buildS = coarseS + (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val got = serveAdc(enc, cents, books, probes, idCol, vecCol,
          p.m, sub, p.nprobe, kTop)
        .select("q_vec", "neighbor").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val serveS = (System.nanoTime() - t2) / 1e9
      val recall = overlap(truth, got)
      enc.unpersist(); books.unpersist()
      SweepResult(p.name, recall, buildS, serveS)
    }
    coarseCache.values.foreach { case (a, c, _) => a.unpersist(); c.unpersist() }
    vecs.unpersist()
    results
  }
}
