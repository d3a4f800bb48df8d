package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Catalog
import graft.ops.{Dedup, KMeans, Layout, PQ, Similarity}

/** Training-data-pipeline operators beyond the dedup/ANN/text families:
  * k-means coarse-quantizer training, int8 embedding quantization,
  * hard-negative mining, deterministic shard assignment. All oracles are
  * exact — the float paths are either fixed-point (k-means) or identical
  * deterministic IEEE sequences (quantization, cosine). */
object TrainQ {

  private val K = 4
  private val Iters = 3
  private val Dims = 64

  private val shared = new graft.ops.SharedBuilds

  /** Session-scoped materialization of the Lloyd training run — the
    * `kmeans_assign` / `kmeans_centroids` / `ann_ivf_kmeans*` family
    * consumes the same trained model, so within one session it trains ONCE
    * (same pattern as DedupQ's shared LSH pair pipeline). */
  private val trained = shared.persisted("lloyd_kmeans") { (s, dir) =>
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (a, c) = KMeans.lloyd(Catalog.load(s, dir, "embeddings"),
      "vec_id", "embedding", K, Iters, Dims)
    val ap = a.persist(MEMORY_AND_DISK); ap.count()
    val cp = c.persist(MEMORY_AND_DISK); cp.count()
    (ap, cp)
  }(ac => Seq(ac._1, ac._2))

  /** Session-scoped trained-quantizer IVF index on disk (train-once /
    * serve-many): the Lloyd outputs written as a partitioned cell layout +
    * centroid table ([[Similarity.writeKmeansIvfIndex]]). The serving query
    * (`ann_ivf_kmeans_persisted`) reads only this — it never pays training. */
  private val kmeansIndex = shared("kmeans_ivf_index") { (s, dir) =>
    val (assigned, cents) = trained(s, dir)
    val tmp = graft.engine.TempDirs.create("graft_kivf")
    Similarity.writeKmeansIvfIndex(assigned, cents, "vec_id", "embedding", tmp)
    tmp
  }

  /** Bench hook: the persisted k-means IVF serve at an arbitrary probe
    * modulus — the probe-axis sweep's entry (|Q| = |vectors| / mod at
    * fixed corpus), on the exact shipped serve path the pinned row uses.
    * The base-id pin mirrors the maxsim probe discipline (a no-op on real
    * testdata; keeps replica sweeps on a fixed workload). */
  private[graft] def kmeansServeAtProbes(s: org.apache.spark.sql.SparkSession,
      dir: String, mod: Int): org.apache.spark.sql.DataFrame =
    Similarity.knnIvfKmeansPersisted(s, kmeansIndex(s, dir),
      graft.engine.Catalog.load(s, dir, "embeddings")
        .filter(col("vec_id") % mod === 0 && col("vec_id") < 1000000000L),
      "vec_id", "embedding", nprobe = 2, k = 10)

  // Product-quantizer shape: 64 dims → 4 subspaces × 16 dims, 8 codes per
  // subspace, 2 Lloyd rounds each (same exact fixed-point trainer as the
  // coarse quantizer; small k keeps the 4×-training oracle SQL bounded).
  private val PqM = 4
  private val PqK = 8
  private val PqIters = 2
  private val PqSub = Dims / PqM

  // ------------------------------------------------------- promoted point
  // The round-9 recall/cost sweep measured where quality lives
  // (clu_np4_m16_k256: recall@10 = 0.565 on a clustered corpus); the
  // lifecycle rows above deliberately keep serving the documented
  // COST-FLOOR configuration (m=4, 8 codes — their oracles are pinned and
  // never perturbed). This block PROMOTES the swept operating point to a
  // pinned, hash-green lifecycle row of its own: a persisted join-path
  // index at (kc=20, nprobe=4, m=16, 256 codes) over a corpus with real
  // cluster structure, served from disk and replayed exactly by DuckDB.
  //
  // The sweep's own corpus hashes with xxhash64 — engine-native, so no
  // oracle can replay it. The promoted corpus keeps the sweep corpus's
  // statistics but derives from the `embeddings` TABLE with the portable
  // polyhash: center(vec_id % 20, d) uniform in [-1,1) via the char-level
  // polyhash of 'ctr:<(cluster·997)+d>' (injective index combine FIRST,
  // then one avalanche-ish string hash — the per-dim center differences of
  // two clusters ride different decimal digit patterns, so no cluster pair
  // collapses; pinned empirically in PQSpec), plus the REAL embedding
  // coordinates as noise (std ≈ 0.125 per coord → noise norm ≈ 1.0 vs
  // center separation ≈ 6.5, the sweep corpus's ratio). Every arithmetic
  // step is one integer recurrence + the same IEEE op sequence in both
  // engines, so the corpus — and everything trained on it — is bit-exact
  // cross-engine.
  private val PromC = 20 // mixture components (vec_id % PromC)
  private val PromKc = 20 // coarse cells
  private val PromNprobe = 4
  private val PromM = 16
  private val PromKcode = 256
  private val PromIters = 2 // coarse AND pq Lloyd rounds (the sweep's setting)
  private val PromSub = Dims / PromM

  /** The center+noise coordinate formula, one dialect each — identical
    * token-for-token IEEE sequence. `d` is the 1-based dimension lambda
    * var.
    *
    * The raw char-polyhash of 'ctr:<(cluster·997)+d>' is NOT enough: for
    * two clusters c, c' and any same-digit-length d the hash difference is
    * one constant (the prefix difference times a fixed base power mod P),
    * so one unlucky pair of the 190 lands near-identical centers in EVERY
    * such dimension at once — the AnnSweepSpec separation pin measured min
    * pairwise d² = 0.057 on the raw scheme, the exact trap the sweep
    * corpus's scaladoc documents for affine mixers. Squaring mod P fixes
    * it with one portable integer op: (h² mod P) differences carry the
    * factor 2·h·Δ + Δ², and h varies per dimension, so per-dim differences
    * decorrelate (re-pinned: min d² = 24.9). h < P ≈ 1e9 keeps h² < 2^63. */
  /** The same coordinate expression with the dimension as caller-provided
    * SQL (a literal in the unrolled [[promotedCorpus]] array, the lambda
    * var in documentation/tests). Every arithmetic op is per-element and
    * identical either way, so the unrolled form is bit-exact. */
  private def promCoordSparkAt(d: String): String = {
    val P = graft.functions.Hashing.P
    val ph = graft.functions.Hashing.polyHashSpark(
      s"'ctr:' || CAST((vec_id % $PromC) * 997 + $d AS STRING)")
    s"(CAST((($ph) * ($ph)) % $P % 1000003 AS DOUBLE) / 1000003.0) * 2.0 - 1.0" +
      s" + CAST(element_at(embedding, $d) AS DOUBLE)"
  }

  private def promCoordDuck: String = {
    val P = graft.functions.Hashing.P
    val ph = graft.functions.Hashing.polyHashDuck(
      s"'ctr:' || CAST((vec_id % $PromC) * 997 + d AS VARCHAR)")
    s"(CAST((($ph) * ($ph)) % $P % 1000003 AS DOUBLE) / 1000003.0) * 2.0 - 1.0" +
      " + CAST(embedding[CAST(d AS INT)] AS DOUBLE)"
  }

  /** The derived clustered corpus (vec_id, embedding: array<double>).
    *
    * Round-17 note: an unrolled `array(e1 … e64)` codegen form of this
    * transform was tried and measured NEUTRAL (warm noop 1.94 s both ways
    * at sf0.1, cold slightly worse from the bigger codegen unit) — the
    * per-element cost is the polyhash STRING build, identical in either
    * execution mode — so the lambda form stays. */
  private[graft] def promotedCorpus(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Catalog.load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr(s"transform(sequence(1, $Dims), d -> ${promCoordSparkAt("d")})")
          .as("embedding"))

  /** DuckDB CTE body computing the same corpus from the embeddings view. */
  private def promotedCorpusCte: String =
    s"""cc AS (SELECT vec_id,
       |  list_transform(range(1, ${Dims + 1}), d -> $promCoordDuck) AS embedding
       |  FROM embeddings)""".stripMargin

  /** Session-scoped PQ codebooks — trained once, consumed by the encode and
    * ADC-search queries (O(k·dims) driver scalars, the centroid budget). */
  private val pqBooks = shared("pq_codebooks") { (s, dir) =>
    PQ.train(Catalog.load(s, dir, "embeddings"), "vec_id", "embedding",
      PqM, PqK, PqIters, Dims)
  }

  /** Oracle fragments shared by the PQ search rows: per-subspace query
    * lookup-table CTEs over `q(q_vec, embedding)` and the code-matched
    * joins that assemble the fixed-order ADC sum. */
  private def pqTableCtes: String = (0 until PqM).map { j =>
    s"""qs$j AS (SELECT q_vec, ${PQ.subDuck("embedding", j, PqSub)} AS sub FROM q),
       |t$j AS (SELECT q_vec, c.cluster AS code,
       |               ${KMeans.distDuck("v.sub", "c.cent", PqSub)} AS dd
       |        FROM qs$j v, p${j}c$PqIters c)""".stripMargin
  }.mkString(",\n")

  private def pqTableJoins: String = (0 until PqM)
    .map(j => s"JOIN t$j ON t$j.q_vec = q.q_vec AND t$j.code = enc.code$j")
    .mkString("\n           ")

  private def pqAdistSql: String =
    (0 until PqM).map(j => s"t$j.dd").mkString(" + ")

  /** Session-scoped persisted IVF-PQ index (cells = codes only, partitioned
    * by the coarse cluster; codebooks + centroids beside them). Serving
    * (`ann_ivf_pq_persisted`) reads ONLY this — never training, never a raw
    * vector. */
  private val ivfPqIndex = shared("ivf_pq_index") { (s, dir) =>
    val (assigned, cents) = trained(s, dir)
    val tmp = graft.engine.TempDirs.create("graft_ivfpq")
    PQ.writeIvfPqIndex(assigned, cents, pqBooks(s, dir),
      "vec_id", "embedding", Dims, tmp)
    tmp
  }

  /** Per-cell residual vectors (vec − assigned coarse centroid), DOUBLE
    * arrays: the one IEEE subtraction per coordinate is identical in both
    * engines, so everything downstream (fixed-point Lloyd, ADC) stays
    * hash-exact. A cheap projection over the cached assignment — not
    * cached itself. */
  private def residuals(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val (assigned, cents) = trained(s, dir)
    assigned
      .join(broadcast(cents.select(col("cluster"), col("cent"))), "cluster")
      .select(col("vec_id"), col("cluster"),
        expr("zip_with(embedding, cent, (x, y) -> CAST(x AS DOUBLE) - y)").as("res"))
  }

  /** Session-scoped RESIDUAL PQ codebooks — the IVF-PQ quality refinement
    * (Jégou et al. 2011 §IV): quantize what the coarse cell doesn't explain
    * instead of the raw vector, so the codebook's 8 codes model the
    * within-cell spread. Plan shape identical to [[pqBooks]]. */
  private val pqResidBooks = shared("pq_resid_codebooks") { (s, dir) =>
    PQ.train(residuals(s, dir), "vec_id", "res", PqM, PqK, PqIters, Dims)
  }

  /** Session-scoped DELTA cells — the append-only index-maintenance path:
    * a "daily batch" (re-identified clones of 10% of the corpus) is
    * assigned to cells with the PERSISTED coarse centroids and encoded with
    * the PERSISTED codebooks — no retraining, nothing rewritten; the delta
    * lands as its own cells directory beside the base index. */
  private val ivfPqDelta = shared("ivf_pq_delta") { (s, dir) =>
    val base = ivfPqIndex(s, dir)
    val books = PQ.readBooks(s, base)
    val centSeq = KMeans.collectCents(
      s.read.parquet(s"$base/cents").select(col("cluster"), col("cent")))
    // Clone-id offset lives in a dedicated high namespace (10^15), OUTSIDE
    // the ScaleSweep replica bands: replicas stride key domains by k·10^9,
    // so a +10^9 delta offset would alias replica band k+1's genuine ids
    // exactly (round-8 advice). 10^15 stays clear of any realistic band
    // (factor < 10^6) and, being ≡ 0 (mod 10), preserves the %10 == 3
    // batch-filter alignment the oracle replays.
    val batch = Catalog.load(s, dir, "embeddings")
      .filter(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 1000000000000000L).as("vec_id"), col("embedding"))
    val delta = graft.engine.TempDirs.create("graft_ivfpq_delta") + "/cells"
    PQ.writeCells(KMeans.assign(batch, "vec_id", "embedding", centSeq),
      books, "vec_id", "embedding", Dims, delta)
    delta
  }

  /** Session-scoped COMPACTION of the appended index: base ∪ delta cells
    * rewritten as one cells table, one file per cell
    * ([[Layout.writeCells]] over [[pqLive]]) — the small-file
    * maintenance an append-cadence index needs. Pure reorganization:
    * serving from it must equal serving from the union, which the shared
    * oracle pins. */
  private val ivfPqCompacted = shared("ivf_pq_compact") { (s, dir) =>
    val out = graft.engine.TempDirs.create("graft_ivfpq_compact") + "/cells"
    Layout.writeCells(pqLive(s, ivfPqIndex(s, dir), ivfPqDelta(s, dir),
      deleted = false), "cluster", out, Seq(col("vec_id")))
    out
  }

  /** Tombstones against the IVF-PQ index (round 13, the bm25/maxsim delete
    * discipline): the mod-6 base vectors' id table under the index dir —
    * an O(|deletes|) write; cells, centroids and codebooks untouched.
    * Unlike the lexical index there are no global statistics to go stale:
    * ADC distances are per-vector, so serve-time filtering IS the complete
    * delete semantics and compaction is only a space/layout concern. */
  private val ivfPqTombstoned = shared("ivf_pq_tombstones") { (s, dir) =>
    val base = ivfPqIndex(s, dir)
    Layout.writeTombstones(Catalog.load(s, dir, "embeddings")
      .filter(col("vec_id") % 10 === 6), "vec_id", base)
    base
  }

  /** Session-scoped persisted PROMOTED index — the join-path build
    * ([[graft.ops.AnnSweep.lloydJoin]]/[[graft.ops.AnnSweep.trainBooksJoin]],
    * the large-codebook trainers the sweep validated against the literal
    * path) written to disk once, served many. */
  private val promotedIndex = shared("ivf_pq_promoted") { (s, dir) =>
    import graft.ops.AnnSweep
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val corpus = promotedCorpus(s, dir)
      .persist(MEMORY_AND_DISK)
    val (assigned0, cents) = AnnSweep.lloydJoin(
      corpus, "vec_id", "embedding", PromKc, PromIters, Dims)
    // The assignment feeds THREE evaluations downstream (encodeJoin
    // references it twice — the subvector explode and the cluster
    // re-attach — and the cents write re-derives the centroid means
    // from it); unpersisted, each re-ran the full coarse-assign pass
    // over the corpus (round 17). n rows × (64-dim vector + cluster)
    // — megabytes, not corpus-scale.
    val assigned = assigned0
      .persist(MEMORY_AND_DISK)
    assigned.count()
    val books = AnnSweep.trainBooksJoin(
      corpus, "vec_id", "embedding", PromM, PromKcode, PromIters, Dims)
    val enc = AnnSweep.encodeJoin(assigned, "vec_id", "embedding",
      books, PromM, PromSub)
    val tmp = graft.engine.TempDirs.create("graft_ivfpq_prom")
    AnnSweep.writeIndexJoin(enc, cents, books, tmp)
    assigned.unpersist()
    books.unpersist()
    corpus.unpersist()
    tmp
  }

  /** Session-scoped PROMOTED delta cells (round 14): the append path at the
    * promoted operating point — the r13 verdict's gap was that maintenance
    * only had lifecycle coverage at the cost-floor config (recall@10
    * ~0.08), so "maintenance preserves recall" was never pinned where
    * recall actually lives. The batch (re-identified mod-3 clones, the
    * ivfPqDelta discipline and id namespace) is assigned with the PERSISTED
    * promoted centroids and encoded with the PERSISTED promoted codebooks
    * on the JOIN path — at m=16 × 256 codes the books stay DATA (broadcast
    * joins), never driver literals. No retraining, base cells untouched. */
  private val promotedDelta = shared("ivf_pq_promoted_delta") { (s, dir) =>
    import graft.ops.AnnSweep
    val base = promotedIndex(s, dir)
    val cents = s.read.parquet(s"$base/cents")
    val books = s.read.parquet(s"$base/books")
    val batch = promotedCorpus(s, dir)
      .filter(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 1000000000000000L).as("vec_id"),
        col("embedding"))
    val assigned = AnnSweep.assignJoin(batch, "vec_id", "embedding", cents)
    val enc = AnnSweep.encodeJoin(assigned, "vec_id", "embedding", books,
      PromM, PromSub)
    val delta = graft.engine.TempDirs.create("graft_ivfpq_prom_delta") + "/cells"
    Layout.writeCells(enc, "cluster", delta, Seq(col("vec_id")))
    delta
  }

  /** Tombstones against the PROMOTED index — same O(|deletes|) id-table
    * semantics as [[ivfPqTombstoned]]: ADC distances are per-vector, so
    * serve-time filtering IS the complete delete; centroids and 16
    * codebooks stay as-built. */
  private val promotedTombstoned = shared("ivf_pq_promoted_tombstones") { (s, dir) =>
    val base = promotedIndex(s, dir)
    Layout.writeTombstones(Catalog.load(s, dir, "embeddings")
      .filter(col("vec_id") % 10 === 6), "vec_id", base)
    base
  }

  /** Live cells of an IVF-PQ index at `base` with its `delta` cells,
    * minus the base's tombstones when `deleted`. */
  private def pqLive(s: org.apache.spark.sql.SparkSession, base: String,
      delta: String, deleted: Boolean) =
    Layout.live(s, Seq(s"$base/cells", delta), "vec_id", Option.when(deleted)(base))

  /** Named shared builds for explicit bench attribution (see
    * [[DedupQ.pipelines]]). Order matters: the index builds consume the
    * trained model. */
  def pipelines: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Unit)] =
    shared.pipelines

  /** Shared oracle for both IVF-PQ paths (in-session and persisted) —
    * bucketed serving must return exactly what the in-session path does. */
  private def ivfPqOracle: String = ivfPqOracleAt(2)

  /** The same oracle with the probe width as a parameter — the serve-time
    * recall knob (`ann_ivf_pq_full_probe` pins nprobe = K, every cell). */
  private def ivfPqOracleAt(nprobe: Int): String =
    s"""WITH ${KMeans.oracleCtes("embeddings", "vec_id", "embedding", K, Iters, Dims)},
       |${PQ.oracleCtes("embeddings", "vec_id", "embedding", PqM, PqK, PqIters, Dims)},
       |q AS (SELECT vec_id AS q_vec, embedding FROM embeddings
       |      WHERE vec_id % 100 = 0),
       |pp AS (SELECT q_vec, cluster AS p_cluster FROM (
       |    SELECT q.q_vec, c.cluster,
       |           ROW_NUMBER() OVER (PARTITION BY q.q_vec
       |               ORDER BY ${KMeans.distDuck("q.embedding", "c.cent", Dims)} ASC,
       |                        c.cluster ASC) AS pr
       |    FROM q, c$Iters c) z WHERE pr <= $nprobe),
       |$pqTableCtes,
       |scored AS (SELECT q.q_vec, enc.vec_id AS neighbor,
       |                  $pqAdistSql AS adist
       |           FROM q
       |           JOIN pp ON pp.q_vec = q.q_vec
       |           JOIN a$Iters a ON a.cluster = pp.p_cluster
       |                         AND a.vec_id <> q.q_vec
       |           JOIN enc ON enc.vec_id = a.vec_id
       |           $pqTableJoins),
       |r AS (SELECT q_vec, neighbor, adist,
       |             ROW_NUMBER() OVER (PARTITION BY q_vec
       |                                ORDER BY adist ASC, neighbor ASC) AS rank
       |      FROM scored)
       |SELECT q_vec, rank, neighbor, adist FROM r WHERE rank <= 10
       |ORDER BY q_vec, rank""".stripMargin

  /** Oracle for the promoted operating point: the derived clustered corpus
    * CTE, the coarse + per-subspace trainings replayed at the promoted
    * shape (the same [[KMeans.oracleCtes]]/[[PQ.oracleCtes]] machinery —
    * the join-path trainers are pinned equal to the literal path in
    * AnnSweepSpec, so one replay covers both), then the nprobe=4 ADC serve.
    * Probe lookup tables are re-derived here at PromM/PromSub (the shared
    * [[pqTableCtes]] fragments are fixed at the cost-floor shape).
    *
    * Every CTE is forced MATERIALIZED: at m=16 this oracle carries ~200
    * CTEs whose default inlining made DuckDB's optimizer re-expand the
    * shared training chains per reference — the plan exploded to
    * spill-to-disk scale on a 50-VECTOR input (measured: >300 s / GBs of
    * temp at sf0.001; materialized: 6 s at sf0.01, 15 s at sf0.1). The
    * smaller cost-floor oracles (m=4) stay on the default — their pinned
    * SQL text never moves. */
  private def promotedOracle: String = Q.materializeCtes(promotedOracleRaw)

  private def promotedOracleRaw: String = {
    val tabCtes = (0 until PromM).map { j =>
      s"""pqs$j AS (SELECT q_vec, ${PQ.subDuck("embedding", j, PromSub)} AS sub FROM q),
         |pt$j AS (SELECT q_vec, c.cluster AS code,
         |               ${KMeans.distDuck("v.sub", "c.cent", PromSub)} AS dd
         |        FROM pqs$j v, p${j}c$PromIters c)""".stripMargin
    }.mkString(",\n")
    val tabJoins = (0 until PromM)
      .map(j => s"JOIN pt$j ON pt$j.q_vec = q.q_vec AND pt$j.code = enc.code$j")
      .mkString("\n           ")
    val adist = (0 until PromM).map(j => s"pt$j.dd").mkString(" + ")
    s"""WITH $promotedCorpusCte,
       |${KMeans.oracleCtes("cc", "vec_id", "embedding", PromKc, PromIters, Dims)},
       |${PQ.oracleCtes("cc", "vec_id", "embedding", PromM, PromKcode, PromIters, Dims)},
       |q AS (SELECT vec_id AS q_vec, embedding FROM cc WHERE vec_id % 100 = 0),
       |pp AS (SELECT q_vec, cluster AS p_cluster FROM (
       |    SELECT q.q_vec, c.cluster,
       |           ROW_NUMBER() OVER (PARTITION BY q.q_vec
       |               ORDER BY ${KMeans.distDuck("q.embedding", "c.cent", Dims)} ASC,
       |                        c.cluster ASC) AS pr
       |    FROM q, c$PromIters c) z WHERE pr <= $PromNprobe),
       |$tabCtes,
       |scored AS (SELECT q.q_vec, enc.vec_id AS neighbor,
       |                  $adist AS adist
       |           FROM q
       |           JOIN pp ON pp.q_vec = q.q_vec
       |           JOIN a$PromIters a ON a.cluster = pp.p_cluster
       |                         AND a.vec_id <> q.q_vec
       |           JOIN enc ON enc.vec_id = a.vec_id
       |           $tabJoins),
       |r AS (SELECT q_vec, neighbor, adist,
       |             ROW_NUMBER() OVER (PARTITION BY q_vec
       |                                ORDER BY adist ASC, neighbor ASC) AS rank
       |      FROM scored)
       |SELECT q_vec, rank, neighbor, adist FROM r WHERE rank <= 10
       |ORDER BY q_vec, rank""".stripMargin
  }

  /** Oracle for the PROMOTED lifecycle rows (round 14): the promoted
    * oracle's corpus + trainings, the batch CTEs of [[ivfPqAppendOracleOver]]
    * re-derived at the promoted shape (m=16 encodings against the frozen
    * p{j}c{iters} codebooks), scoring over base ∪ batch; `deleted` excludes
    * the mod-6 base family from scoring exactly as the cost-floor delete
    * does. Forced MATERIALIZED like every promoted-shape oracle. */
  private def promotedLifecycleOracle(deleted: Boolean): String = {
    val tabCtes = (0 until PromM).map { j =>
      s"""pqs$j AS (SELECT q_vec, ${PQ.subDuck("embedding", j, PromSub)} AS sub FROM q),
         |pt$j AS (SELECT q_vec, c.cluster AS code,
         |               ${KMeans.distDuck("v.sub", "c.cent", PromSub)} AS dd
         |        FROM pqs$j v, p${j}c$PromIters c)""".stripMargin
    }.mkString(",\n")
    val batchEncCtes = (0 until PromM).map { j =>
      s"""bq$j AS (SELECT vec_id, ${PQ.subDuck("embedding", j, PromSub)} AS sub FROM b),
         |be$j AS (SELECT vec_id, cluster AS code$j FROM (
         |  SELECT v.vec_id, c.cluster,
         |         ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${KMeans.distDuck("v.sub", "c.cent", PromSub)} ASC, c.cluster ASC) AS rn
         |  FROM bq$j v, p${j}c$PromIters c) x WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val bencJoin = (1 until PromM)
      .map(j => s"JOIN be$j ON be$j.vec_id = be0.vec_id").mkString(" ")
    val codeCols = (0 until PromM).map(j => s"code$j").mkString(", ")
    val tabJoins = (0 until PromM)
      .map(j => s"JOIN pt$j ON pt$j.q_vec = q.q_vec AND pt$j.code = allc.code$j")
      .mkString("\n           ")
    val adist = (0 until PromM).map(j => s"pt$j.dd").mkString(" + ")
    Q.materializeCtes(
      s"""WITH $promotedCorpusCte,
         |${KMeans.oracleCtes("cc", "vec_id", "embedding", PromKc, PromIters, Dims)},
         |${PQ.oracleCtes("cc", "vec_id", "embedding", PromM, PromKcode, PromIters, Dims)},
         |b AS (SELECT vec_id + 1000000000000000 AS vec_id, embedding FROM cc
         |      WHERE vec_id % 10 = 3),
         |ab AS (SELECT vec_id, cluster FROM (
         |    SELECT b.vec_id, c.cluster,
         |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
         |               ORDER BY ${KMeans.distDuck("b.embedding", "c.cent", Dims)} ASC,
         |                        c.cluster ASC) AS rn
         |    FROM b, c$PromIters c) x WHERE rn = 1),
         |$batchEncCtes,
         |benc AS (SELECT be0.vec_id, $codeCols FROM be0 $bencJoin),
         |allc AS (SELECT e.vec_id, a.cluster, $codeCols
         |         FROM enc e JOIN a$PromIters a ON a.vec_id = e.vec_id
         |         UNION ALL
         |         SELECT be.vec_id, ab.cluster, $codeCols
         |         FROM benc be JOIN ab ON ab.vec_id = be.vec_id),
         |q AS (SELECT vec_id AS q_vec, embedding FROM cc WHERE vec_id % 100 = 0),
         |pp AS (SELECT q_vec, cluster AS p_cluster FROM (
         |    SELECT q.q_vec, c.cluster,
         |           ROW_NUMBER() OVER (PARTITION BY q.q_vec
         |               ORDER BY ${KMeans.distDuck("q.embedding", "c.cent", Dims)} ASC,
         |                        c.cluster ASC) AS pr
         |    FROM q, c$PromIters c) z WHERE pr <= $PromNprobe),
         |$tabCtes,
         |scored AS (SELECT q.q_vec, allc.vec_id AS neighbor,
         |                  $adist AS adist
         |           FROM q
         |           JOIN pp ON pp.q_vec = q.q_vec
         |           JOIN allc ON allc.cluster = pp.p_cluster
         |                    AND allc.vec_id <> q.q_vec${
                      if (deleted)
                        "\n           AND NOT (allc.vec_id % 10 = 6 AND " +
                          "allc.vec_id < 1000000000000000)"
                      else ""}
         |           $tabJoins),
         |r AS (SELECT q_vec, neighbor, adist,
         |             ROW_NUMBER() OVER (PARTITION BY q_vec
         |                                ORDER BY adist ASC, neighbor ASC) AS rank
         |      FROM scored)
         |SELECT q_vec, rank, neighbor, adist FROM r WHERE rank <= 10
         |ORDER BY q_vec, rank""".stripMargin)
  }

  /** Oracle for the append-maintenance path: coarse + PQ training on the
    * ORIGINAL corpus only (the batch must not influence either), the batch
    * assigned and encoded against those frozen artifacts, scoring over the
    * union of original and batch encodings. `deleted` (round 13) excludes
    * the mod-6 base tombstone family from SCORING while centroids,
    * codebooks and every stored code stay as-built — vector deletion
    * cannot invalidate any trained artifact, it only removes candidates. */
  private def ivfPqAppendOracle: String = ivfPqAppendOracleOver(false)

  private def ivfPqAppendOracleOver(deleted: Boolean): String = {
    val batchEncCtes = (0 until PqM).map { j =>
      s"""bq$j AS (SELECT vec_id, ${PQ.subDuck("embedding", j, PqSub)} AS sub FROM b),
         |be$j AS (SELECT vec_id, cluster AS code$j FROM (
         |  SELECT v.vec_id, c.cluster,
         |         ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |             ORDER BY ${KMeans.distDuck("v.sub", "c.cent", PqSub)} ASC, c.cluster ASC) AS rn
         |  FROM bq$j v, p${j}c$PqIters c) x WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val bencJoin = (1 until PqM)
      .map(j => s"JOIN be$j ON be$j.vec_id = be0.vec_id").mkString(" ")
    val codeCols = (0 until PqM).map(j => s"code$j").mkString(", ")
    s"""WITH ${KMeans.oracleCtes("embeddings", "vec_id", "embedding", K, Iters, Dims)},
       |${PQ.oracleCtes("embeddings", "vec_id", "embedding", PqM, PqK, PqIters, Dims)},
       |b AS (SELECT vec_id + 1000000000000000 AS vec_id, embedding FROM embeddings
       |      WHERE vec_id % 10 = 3),
       |ab AS (SELECT vec_id, cluster FROM (
       |    SELECT b.vec_id, c.cluster,
       |           ROW_NUMBER() OVER (PARTITION BY b.vec_id
       |               ORDER BY ${KMeans.distDuck("b.embedding", "c.cent", Dims)} ASC,
       |                        c.cluster ASC) AS rn
       |    FROM b, c$Iters c) x WHERE rn = 1),
       |$batchEncCtes,
       |benc AS (SELECT be0.vec_id, $codeCols FROM be0 $bencJoin),
       |allc AS (SELECT e.vec_id, a.cluster, $codeCols
       |         FROM enc e JOIN a$Iters a ON a.vec_id = e.vec_id
       |         UNION ALL
       |         SELECT be.vec_id, ab.cluster, $codeCols
       |         FROM benc be JOIN ab ON ab.vec_id = be.vec_id),
       |q AS (SELECT vec_id AS q_vec, embedding FROM embeddings
       |      WHERE vec_id % 100 = 0),
       |pp AS (SELECT q_vec, cluster AS p_cluster FROM (
       |    SELECT q.q_vec, c.cluster,
       |           ROW_NUMBER() OVER (PARTITION BY q.q_vec
       |               ORDER BY ${KMeans.distDuck("q.embedding", "c.cent", Dims)} ASC,
       |                        c.cluster ASC) AS pr
       |    FROM q, c$Iters c) z WHERE pr <= 2),
       |$pqTableCtes,
       |scored AS (SELECT q.q_vec, allc.vec_id AS neighbor,
       |                  $pqAdistSql AS adist
       |           FROM q
       |           JOIN pp ON pp.q_vec = q.q_vec
       |           JOIN allc ON allc.cluster = pp.p_cluster
       |                    AND allc.vec_id <> q.q_vec${
                    if (deleted)
                      "\n           AND NOT (allc.vec_id % 10 = 6 AND " +
                        "allc.vec_id < 1000000000000000)"
                    else ""}
       |           ${(0 until PqM).map(j =>
                      s"JOIN t$j ON t$j.q_vec = q.q_vec AND t$j.code = allc.code$j")
                      .mkString("\n           ")}),
       |r AS (SELECT q_vec, neighbor, adist,
       |             ROW_NUMBER() OVER (PARTITION BY q_vec
       |                                ORDER BY adist ASC, neighbor ASC) AS rank
       |      FROM scored)
       |SELECT q_vec, rank, neighbor, adist FROM r WHERE rank <= 10
       |ORDER BY q_vec, rank""".stripMargin
  }

  /** Oracle for the residual-refined IVF-PQ: the coarse Lloyd, residual
    * vectors (one exact IEEE subtraction per coordinate — both engines
    * identical), four residual-trained sub-Lloyds, and the per-(query, cell)
    * residual ADC tables joined on the code VALUE (gap-proof, mirroring
    * [[PQ.distTable]]). */
  private def ivfPqResidualOracle: String = {
    val tableCtes = (0 until PqM).map { j =>
      s"""rqs$j AS (SELECT q_vec, p_cluster, ${PQ.subDuck("qres", j, PqSub)} AS sub FROM ppr),
         |rt$j AS (SELECT q_vec, p_cluster, c.cluster AS code,
         |                ${KMeans.distDuck("v.sub", "c.cent", PqSub)} AS dd
         |         FROM rqs$j v, p${j}c$PqIters c)""".stripMargin
    }.mkString(",\n")
    val tableJoins = (0 until PqM)
      .map(j => s"JOIN rt$j ON rt$j.q_vec = q.q_vec AND rt$j.p_cluster = pp.p_cluster AND rt$j.code = enc.code$j")
      .mkString("\n           ")
    val adist = (0 until PqM).map(j => s"rt$j.dd").mkString(" + ")
    s"""WITH ${KMeans.oracleCtes("embeddings", "vec_id", "embedding", K, Iters, Dims)},
       |resid AS (SELECT a.vec_id, a.cluster,
       |                 list_transform(range(1, ${Dims + 1}), i -> CAST(a.embedding[i] AS DOUBLE) - c.cent[i]) AS res
       |          FROM a$Iters a JOIN c$Iters c ON c.cluster = a.cluster),
       |${PQ.oracleCtes("resid", "vec_id", "res", PqM, PqK, PqIters, Dims)},
       |q AS (SELECT vec_id AS q_vec, embedding FROM embeddings
       |      WHERE vec_id % 100 = 0),
       |pp AS (SELECT q_vec, p_cluster FROM (
       |    SELECT q.q_vec, c.cluster AS p_cluster,
       |           ROW_NUMBER() OVER (PARTITION BY q.q_vec
       |               ORDER BY ${KMeans.distDuck("q.embedding", "c.cent", Dims)} ASC,
       |                        c.cluster ASC) AS pr
       |    FROM q, c$Iters c) z WHERE pr <= 2),
       |ppr AS (SELECT pp.q_vec, pp.p_cluster,
       |               list_transform(range(1, ${Dims + 1}), i -> CAST(q.embedding[i] AS DOUBLE) - c.cent[i]) AS qres
       |        FROM pp JOIN q ON q.q_vec = pp.q_vec
       |                JOIN c$Iters c ON c.cluster = pp.p_cluster),
       |$tableCtes,
       |scored AS (SELECT q.q_vec, enc.vec_id AS neighbor, $adist AS adist
       |           FROM q
       |           JOIN pp ON pp.q_vec = q.q_vec
       |           JOIN a$Iters a ON a.cluster = pp.p_cluster AND a.vec_id <> q.q_vec
       |           JOIN enc ON enc.vec_id = a.vec_id
       |           $tableJoins),
       |r AS (SELECT q_vec, neighbor, adist,
       |             ROW_NUMBER() OVER (PARTITION BY q_vec
       |                                ORDER BY adist ASC, neighbor ASC) AS rank
       |      FROM scored)
       |SELECT q_vec, rank, neighbor, adist FROM r WHERE rank <= 10
       |ORDER BY q_vec, rank""".stripMargin
  }

  /** Shared oracle for both trained-quantizer ANN paths — the persisted
    * serving query must return exactly what the in-session path returns. */
  private def annIvfKmeansOracle: String =
    s"""WITH ${KMeans.oracleCtes("embeddings", "vec_id", "embedding", K, Iters, Dims)},
       |e AS (SELECT vec_id, embedding, ${Similarity.normDuck("embedding")} AS nrm
       |      FROM embeddings),
       |q AS (SELECT vec_id AS q_vec, embedding AS q_emb,
       |             ${Similarity.normDuck("embedding")} AS q_nrm FROM embeddings
       |      WHERE vec_id % 100 = 0),
       |pp AS (SELECT q_vec, q_emb, q_nrm, cluster FROM (
       |    SELECT q.q_vec, q.q_emb, q.q_nrm, c.cluster,
       |           ROW_NUMBER() OVER (PARTITION BY q.q_vec
       |               ORDER BY ${KMeans.distDuck("q.q_emb", "c.cent", Dims)} ASC,
       |                        c.cluster ASC) AS pr
       |    FROM q, c$Iters c) z WHERE pr <= 2),
       |scored AS (SELECT pp.q_vec, a.vec_id AS neighbor,
       |                  ${Similarity.dotDuck("pp.q_emb", "e.embedding")} / (pp.q_nrm * e.nrm) AS cos
       |           FROM a$Iters a
       |           JOIN pp ON a.cluster = pp.cluster AND a.vec_id <> pp.q_vec
       |           JOIN e ON e.vec_id = a.vec_id),
       |r AS (SELECT q_vec, neighbor, cos,
       |             ROW_NUMBER() OVER (PARTITION BY q_vec
       |                                ORDER BY cos DESC, neighbor ASC) AS rank
       |      FROM scored)
       |SELECT q_vec, rank, neighbor, cos FROM r WHERE rank <= 10
       |ORDER BY q_vec, rank""".stripMargin

  val all: Seq[Q] = Seq(

    // K-means (Lloyd) cluster assignment after 3 rounds: seeds by
    // deterministic hash order, map-side nearest-centroid assignment,
    // fixed-point centroid means — the IVF coarse-quantizer trainer.
    Q("kmeans_assign",
      (s, dir) =>
        trained(s, dir)._1.select(col("vec_id"), col("cluster")).orderBy("vec_id"),
      Some(s"""WITH ${KMeans.oracleCtes("embeddings", "vec_id", "embedding", K, Iters, Dims)}
              |SELECT vec_id, cluster FROM a$Iters ORDER BY vec_id""".stripMargin)),

    // The trained centroids themselves, exploded to scalar
    // (cluster, n, dim, cent_val) rows (array columns can't reach the driver
    // comparator). cent_val = BIGINT fixed-point sum / (n · 2^20) — one
    // double division, bit-identical cross-engine.
    Q("kmeans_centroids",
      (s, dir) => {
        val cents = trained(s, dir)._2
        cents.select(col("cluster"), col("n"), posexplode(col("cent")))
          .select(col("cluster"), col("n"),
            (col("pos") + 1).cast("int").as("dim"), col("col").as("cent_val"))
          .orderBy("cluster", "dim")
      },
      Some(s"""WITH ${KMeans.oracleCtes("embeddings", "vec_id", "embedding", K, Iters, Dims)}
              |SELECT cluster, n, CAST(i AS INT) AS dim,
              |       CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(${KMeans.Scale} AS DOUBLE)) AS cent_val
              |FROM c${Iters}s ORDER BY cluster, dim""".stripMargin)),

    // Int8 scalar quantization of the embedding column: per-dim global
    // min/max (one 64-column-wide agg at scale; here a (dim) groupBy over
    // exploded rows keeps the oracle 1:1), q = round((x-mn)/scale) clamped
    // to [0,255], plus the exact reconstruction error — every double op is
    // the same IEEE sequence in both engines, so `err` hash-matches.
    // 4x memory shrink for the ANN corpus; scale path quantizes map-side
    // against broadcast stats.
    Q("embed_quantize_int8",
      (s, dir) => {
        val ex = Catalog.load(s, dir, "embeddings")
          .select(col("vec_id"), posexplode(col("embedding")))
          .select(col("vec_id"), (col("pos") + 1).cast("int").as("i"),
            col("col").cast("double").as("x"))
        val stats = ex.groupBy("i")
          .agg(min("x").as("mn"), max("x").as("mx"))
          .withColumn("sc", expr("(mx - mn) / CAST(255 AS DOUBLE)"))
        ex.join(broadcast(stats), "i")
          .withColumn("qv", expr(
            """CAST(least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
              |CAST(floor((x - mn) / sc + CAST(0.5 AS DOUBLE)) AS BIGINT))) AS INT)""".stripMargin))
          .withColumn("err", expr("abs(x - (mn + CAST(qv AS DOUBLE) * sc))"))
          .select("vec_id", "i", "qv", "err")
          .orderBy("vec_id", "i")
      },
      Some("""WITH ex AS (SELECT vec_id, CAST(i AS INT) AS i,
             |                   CAST(embedding[i] AS DOUBLE) AS x
             |            FROM embeddings, range(1, 65) t(i)),
             |st AS (SELECT i, MIN(x) AS mn, MAX(x) AS mx,
             |              (MAX(x) - MIN(x)) / CAST(255 AS DOUBLE) AS sc
             |       FROM ex GROUP BY i),
             |q AS (SELECT vec_id, ex.i, x, mn, sc,
             |             CAST(LEAST(CAST(255 AS BIGINT), GREATEST(CAST(0 AS BIGINT),
             |               CAST(FLOOR((x - mn) / sc + CAST(0.5 AS DOUBLE)) AS BIGINT))) AS INT) AS qv
             |      FROM ex JOIN st ON ex.i = st.i)
             |SELECT vec_id, i, qv, ABS(x - (mn + CAST(qv AS DOUBLE) * sc)) AS err
             |FROM q ORDER BY vec_id, i""".stripMargin)),

    // Hard-negative mining for contrastive training: for each probe, the
    // top-5 most-similar vectors with a DIFFERENT label — same broadcast-
    // probes / rank-per-probe shape as ann_bruteforce_topk with the label
    // anti-predicate in the join.
    Q("train_hard_negatives",
      (s, dir) => {
        val vecs = Catalog.load(s, dir, "embeddings")
        val q = vecs.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_vec"), col("label").as("q_label"),
            col("embedding").as("q_emb"),
            Similarity.norm(col("embedding")).as("q_nrm"))
        val v = vecs.select(col("vec_id"), col("label"), col("embedding"),
          Similarity.norm(col("embedding")).as("nrm"))
        import graft.expressions.DotProduct.dot
        val scored = v.join(broadcast(q), col("label") =!= col("q_label"))
          .select(col("q_vec"), col("vec_id").as("neighbor"),
            (dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
        // Bounded top-5 cut (heap order (cos desc, id asc) ≡ the window
        // order it replaces — bit-identical): the window form exchanged
        // and sorted all ~|corpus|·|Q| cross-label scored rows.
        Similarity.topKCut(scored, "cos", 5)
          .select(col("q_vec"), col("rank"), col("neighbor").as("neg"),
            col("cos"))
          .orderBy("q_vec", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding,
              |                  ${Similarity.normDuck("embedding")} AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS q_vec, label AS q_label, embedding AS q_emb,
              |             ${Similarity.normDuck("embedding")} AS q_nrm FROM embeddings
              |      WHERE vec_id % 100 = 0),
              |scored AS (SELECT q_vec, e.vec_id AS neg,
              |                  ${Similarity.dotDuck("q_emb", "e.embedding")} / (q_nrm * nrm) AS cos
              |           FROM e, q WHERE e.label <> q.q_label),
              |r AS (SELECT q_vec, neg, cos,
              |             ROW_NUMBER() OVER (PARTITION BY q_vec
              |                                ORDER BY cos DESC, neg ASC) AS rank
              |      FROM scored)
              |SELECT q_vec, rank, neg, cos FROM r WHERE rank <= 5
              |ORDER BY q_vec, rank""".stripMargin)),

    // Deterministic shard assignment + within-shard training order: the
    // "global shuffle" step of a training-data writer without any sampling
    // nondeterminism. shard = hash(id) mod nshards; order within a shard is
    // (hash, id) — a pseudo-random permutation both engines reproduce. The
    // write path (ops.Sharding.writeShards) repartitions on the shard and
    // sorts within partitions — one shuffle, no global sort.
    Q("shard_assign",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy(col("h"), col("doc_id"))
        Catalog.load(s, dir, "documents")
          .select(col("doc_id"),
            expr("(doc_id * 1000003 + 12345) % 1000000007").as("h"))
          .withColumn("shard", expr("CAST(h % 8 AS INT)"))
          .withColumn("pos", row_number().over(w))
          .select("doc_id", "shard", "pos")
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id,
             |                  (doc_id * 1000003 + 12345) % 1000000007 AS h
             |           FROM documents),
             |a AS (SELECT doc_id, CAST(h % 8 AS INT) AS shard,
             |             CAST(ROW_NUMBER() OVER (PARTITION BY h % 8
             |                                     ORDER BY h, doc_id) AS INT) AS pos
             |      FROM h)
             |SELECT doc_id, shard, pos FROM a ORDER BY doc_id""".stripMargin)),

    // IVF over the TRAINED quantizer — the full ANN story: k-means centroids
    // as coarse lists, probes pick their nprobe=2 nearest lists by L2 (the
    // metric the quantizer was trained in), exact cosine rank within the
    // probed lists. Composes the cached Lloyd run with the broadcast-probe
    // scan; at 100 TB the corpus is bucketed by `cluster` on disk and the
    // probe reads only matching buckets.
    Q("ann_ivf_kmeans",
      (s, dir) => {
        import graft.expressions.DotProduct.dot
        val (assigned, cents) = trained(s, dir)
        val q = Catalog.load(s, dir, "embeddings")
          .filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_vec"), col("embedding").as("q_emb"),
            Similarity.norm(col("embedding")).as("q_nrm"))
        val wProbe = org.apache.spark.sql.expressions.Window
          .partitionBy("q_vec").orderBy(col("d").asc, col("p_cluster").asc)
        val probeParts = q.crossJoin(broadcast(
            cents.select(col("cluster").as("p_cluster"), col("cent"))))
          .withColumn("d", graft.expressions.SqDist.sqDist(col("q_emb"), col("cent")))
          .withColumn("pr", row_number().over(wProbe))
          .filter(col("pr") <= 2)
          .select("q_vec", "q_emb", "q_nrm", "p_cluster")
        val v = assigned.select(col("vec_id"), col("cluster"), col("embedding"),
          Similarity.norm(col("embedding")).as("nrm"))
        val scored = v.join(broadcast(probeParts),
            col("cluster") === col("p_cluster") && col("vec_id") =!= col("q_vec"))
          .select(col("q_vec"), col("vec_id").as("neighbor"),
            (dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
        // Bounded final cut (≡ the window order); the tiny |Q|·kc probe
        // window above stays — broadcast build side, no partitioned scan.
        Similarity.topKCut(scored, "cos", 10)
          .select("q_vec", "rank", "neighbor", "cos")
          .orderBy("q_vec", "rank")
      },
      Some(annIvfKmeansOracle)),

    // The trained-quantizer SERVING path: identical search against the
    // DISK-persisted k-means IVF index (cells partitioned by the learned
    // cluster, norms precomputed at build; centroids broadcast from the
    // index's centroid table). Serving pays NO training — the Lloyd run and
    // the index write happen in the session-scoped build pipeline
    // (`pipeline:kmeans_ivf_index` in the bench), mirroring how
    // ann_ivf_persisted serves the label-partitioned index. Results must
    // equal the in-session trained path, so the oracle is the identical SQL.
    Q("ann_ivf_kmeans_persisted",
      (s, dir) =>
        Similarity.knnIvfKmeansPersisted(s, kmeansIndex(s, dir),
            Catalog.load(s, dir, "embeddings").filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", nprobe = 2, k = 10)
          .orderBy("q_vec", "rank"),
      Some(annIvfKmeansOracle)),

    // Product-quantization encode: every vector as 4 small codes (nearest
    // per-subspace codebook centroid) — the 16-32× corpus compression that
    // makes 100 TB ANN scans read TBs of codes instead of floats. Map-side
    // codegen'd expressions over literal codebooks; no shuffle.
    Q("ann_pq_codes",
      (s, dir) =>
        PQ.encode(Catalog.load(s, dir, "embeddings"), "embedding",
            pqBooks(s, dir), PqSub)
          .select(col("vec_id") +: (0 until PqM).map(j => col(s"code$j")): _*)
          .orderBy("vec_id"),
      Some(s"""WITH ${PQ.oracleCtes("embeddings", "vec_id", "embedding", PqM, PqK, PqIters, Dims)}
              |SELECT vec_id${(0 until PqM).map(j => s", code$j").mkString}
              |FROM enc ORDER BY vec_id""".stripMargin)),

    // PQ asymmetric-distance (ADC) top-k: per query one exact 8-entry
    // distance table per subspace, approximate distance = 4 table lookups +
    // a fixed-order sum — O(m) per candidate instead of O(dims). Both
    // engines train bit-identical codebooks (fixed-point Lloyd), so the
    // approximate distances hash-match exactly.
    Q("ann_pq_adc_topk",
      (s, dir) =>
        PQ.adcTopK(Catalog.load(s, dir, "embeddings"),
            Catalog.load(s, dir, "embeddings").filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", pqBooks(s, dir), Dims, kTop = 10)
          .orderBy("q_vec", "rank"),
      Some(
        s"""WITH ${PQ.oracleCtes("embeddings", "vec_id", "embedding", PqM, PqK, PqIters, Dims)},
           |q AS (SELECT vec_id AS q_vec, embedding FROM embeddings
           |      WHERE vec_id % 100 = 0),
           |$pqTableCtes,
           |scored AS (SELECT q.q_vec, enc.vec_id AS neighbor,
           |                  $pqAdistSql AS adist
           |           FROM q JOIN enc ON enc.vec_id <> q.q_vec
           |           $pqTableJoins),
           |r AS (SELECT q_vec, neighbor, adist,
           |             ROW_NUMBER() OVER (PARTITION BY q_vec
           |                                ORDER BY adist ASC, neighbor ASC) AS rank
           |      FROM scored)
           |SELECT q_vec, rank, neighbor, adist FROM r WHERE rank <= 10
           |ORDER BY q_vec, rank""".stripMargin)),

    // IVF-PQ composition — THE production ANN layout: the coarse quantizer
    // prunes the scan to nprobe cells (here the in-session K=4 Lloyd cells;
    // on disk the cluster-partitioned index directories), and ADC scores
    // only the surviving candidates from their m-code encodings. The PQ
    // codebooks here are trained on raw vectors (not per-cell residuals —
    // the residual refinement is a quality knob, not a plan-shape change).
    Q("ann_ivf_pq_topk",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val (assigned, cents) = trained(s, dir)
        val books = pqBooks(s, dir)
        val enc = PQ.encode(
            assigned.select(col("vec_id"), col("cluster"), col("embedding")),
            "embedding", books, PqSub)
          .select(col("vec_id").as("neighbor") +: col("cluster") +:
            (0 until PqM).map(j => col(s"code$j")): _*)
        val q = Catalog.load(s, dir, "embeddings")
          .filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_vec"), col("embedding").as("_qv"))
        val wProbe = Window.partitionBy("q_vec")
          .orderBy(col("d").asc, col("p_cluster").asc)
        val probe = q.crossJoin(broadcast(
            cents.select(col("cluster").as("p_cluster"), col("cent"))))
          .withColumn("d", graft.expressions.SqDist.sqDist(col("_qv"), col("cent")))
          .withColumn("pr", row_number().over(wProbe))
          .filter(col("pr") <= 2)
          .select("q_vec", "_qv", "p_cluster")
        val qt = books.zipWithIndex.foldLeft(probe) { case (d, (cs, j)) =>
          // Map keyed by code VALUE, not positional array — see PQ.distTable
          // (codebook ids can be non-dense when a Lloyd cluster empties).
          d.withColumn(s"tab$j", expr(PQ.distTable(cs, "_qv", j, PqSub)))
        }
        val scored = enc.join(broadcast(qt),
            col("cluster") === col("p_cluster") && col("q_vec") =!= col("neighbor"))
          .withColumn("adist",
            (0 until PqM).map(j => expr(s"element_at(tab$j, code$j)"))
              .reduce(_ + _))
        // Final cut: the bounded TopKAggregate (heap order (adist asc,
        // neighbor asc) ≡ the window order — bit-identical, same oracle);
        // the window form exchanged and sorted every scored candidate.
        // The tiny probe window above stays: its input is |Q|·kc rows and
        // it sits in a broadcast build side with no partitioned scan below.
        Similarity.topKCut(scored, "adist", 10, ascending = true)
          .select("q_vec", "rank", "neighbor", "adist")
          .orderBy("q_vec", "rank")
      },
      Some(ivfPqOracle)),

    // Persisted IVF-PQ serving: the query reads ONLY the on-disk index —
    // coarse centroids (broadcast), codebooks (driver scalars), and the
    // cluster-partitioned CODES table, pruned to the probed cells. No raw
    // vector is touched at serve time; identical results to the in-session
    // path, so the same oracle checks both.
    Q("ann_ivf_pq_persisted",
      (s, dir) =>
        PQ.knnIvfPqPersisted(s, ivfPqIndex(s, dir),
            Catalog.load(s, dir, "embeddings").filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", Dims, nprobe = 2, kTop = 10)
          .orderBy("q_vec", "rank"),
      Some(ivfPqOracle)),

    // The serve-time recall knob, pinned: the SAME persisted index served
    // at nprobe = K (every coarse cell scored — exhaustive cell coverage),
    // so the only recall loss left is PQ quantization resolution (m, k —
    // retraining knobs, owned by the bench's recall/cost sweep on the join
    // path). Together with ann_ivf_pq_persisted (nprobe=2) this splits the
    // operating point's recall deficit into its two causes ON THE PINNED
    // PATH: bench carries recall@10 for both rows, so cell-miss loss
    // (full_probe − persisted) and code-resolution loss (1 − full_probe)
    // are separately visible round-over-round. Nothing is retrained and no
    // existing oracle moves: the probe width is a pure serve parameter,
    // parameterized identically in the oracle (pr <= 4).
    Q("ann_ivf_pq_full_probe",
      (s, dir) =>
        PQ.knnIvfPqPersisted(s, ivfPqIndex(s, dir),
            Catalog.load(s, dir, "embeddings").filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", Dims, nprobe = K, kTop = 10)
          .orderBy("q_vec", "rank"),
      Some(ivfPqOracleAt(K))),

    // The PROMOTED operating point as a pinned lifecycle row (round-10,
    // closing the round-9 sweep's lead): the persisted join-path index at
    // (kc=20, nprobe=4, m=16, 256 codes) — the clu_np4_m16_k256 sweep point
    // that measured recall@10 = 0.565 — served from disk over the derived
    // clustered corpus. The cost-floor rows above are untouched (pinned
    // oracles never move; knob changes get NEW rows); this row is the
    // higher-recall default a deployment picks off the sweep curve, now
    // hash-green like the rest of the lifecycle. Bench carries its
    // recall@10 against the exact L2 truth on the same corpus.
    Q("ann_ivf_pq_promoted",
      (s, dir) =>
        graft.ops.AnnSweep.serveIndexJoin(s, promotedIndex(s, dir),
            promotedCorpus(s, dir).filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", PromM, PromSub,
            nprobe = PromNprobe, kTop = 10)
          .orderBy("q_vec", "rank"),
      Some(promotedOracle)),

    // PROMOTED-point APPEND (round 14): the r13 verdict's gap — lifecycle
    // coverage existed only at the cost-floor config (recall@10 ~0.08), so
    // "maintenance preserves recall" was never a pinned row at the
    // operating point a deployment would run (0.515). Batch assigned +
    // encoded under the FROZEN promoted artifacts (pipeline:
    // ivf_pq_promoted_delta), served base ∪ delta through the same ADC
    // core; bench carries recall@10 vs exact union truth per run. Shape is
    // the swept cost-floor append + the swept promoted base serve, so it
    // stays 1×-bench-measured rather than re-swept.
    Q("ann_ivf_pq_promoted_append",
      (s, dir) => {
        val base = promotedIndex(s, dir)
        graft.ops.AnnSweep.serveAdc(
            pqLive(s, base, promotedDelta(s, dir), deleted = false),
            s.read.parquet(s"$base/cents"), s.read.parquet(s"$base/books"),
            promotedCorpus(s, dir).filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", PromM, PromSub,
            nprobe = PromNprobe, kTop = 10)
          .orderBy("q_vec", "rank")
      },
      Some(promotedLifecycleOracle(deleted = false))),

    // PROMOTED-point DELETE against the appended state: mod-6 base
    // tombstones filter the cells union before the ADC core (the
    // ann_ivf_pq_delete semantics at the promoted shape) — no trained
    // artifact touched, a tombstoned vector can never be returned.
    Q("ann_ivf_pq_promoted_delete",
      (s, dir) => {
        val base = promotedTombstoned(s, dir)
        graft.ops.AnnSweep.serveAdc(
            pqLive(s, base, promotedDelta(s, dir), deleted = true),
            s.read.parquet(s"$base/cents"), s.read.parquet(s"$base/books"),
            promotedCorpus(s, dir).filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", PromM, PromSub,
            nprobe = PromNprobe, kTop = 10)
          .orderBy("q_vec", "rank")
      },
      Some(promotedLifecycleOracle(deleted = true))),

    // Cluster-balanced (diversity) selection — the curation op that keeps a
    // quota of the best documents PER EMBEDDING CLUSTER instead of a global
    // top-N (which collapses onto the dominant mode of the corpus). Shape:
    // map-side cluster assignment (broadcast centroids, the session Lloyd
    // model), an id equi-join to the quality signal, then the per-cluster
    // quota via TopKAggregate — bounded map-side buffers shuffling K·quota
    // rows, NOT a row_number window partitioned by the K-valued cluster id
    // (the same low-entropy-key serialization this round profiled out of
    // the ngram miner).
    Q("sample_cluster_quota",
      (s, dir) => {
        import graft.expressions.TopKAggregate.topK
        val (assigned, _) = trained(s, dir)
        val docs = Catalog.load(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        assigned.select(col("vec_id"), col("cluster"))
          .join(docs, col("doc_id") === col("vec_id"))
          .groupBy(col("cluster"))
          .agg(topK(col("n_chars").cast("double"), col("doc_id"), 50).as("top"))
          .select(col("cluster"), posexplode(col("top")))
          .select(col("cluster"), (col("pos") + 1).cast("int").as("rn"),
            col("col.id").as("doc_id"), col("col.score").as("n_chars"))
          .orderBy("cluster", "rn")
      },
      Some(s"""WITH ${KMeans.oracleCtes("embeddings", "vec_id", "embedding", K, Iters, Dims)}
              |SELECT cluster, rn, doc_id, n_chars FROM (
              |  SELECT a.cluster, d.doc_id, CAST(d.n_chars AS DOUBLE) AS n_chars,
              |         CAST(ROW_NUMBER() OVER (PARTITION BY a.cluster
              |                ORDER BY d.n_chars DESC, d.doc_id ASC) AS INTEGER) AS rn
              |  FROM a$Iters a JOIN documents d ON d.doc_id = a.vec_id) x
              |WHERE rn <= 50 ORDER BY cluster, rn""".stripMargin)),

    // Append-only IVF-PQ maintenance — the daily-ingest workflow at 100 TB:
    // a new batch is assigned with the PERSISTED coarse centroids and
    // encoded with the PERSISTED codebooks (map-side, only the batch is
    // touched; no retraining, no rewrite of the base index), landing as a
    // delta cells directory. Serving scores base ∪ delta through the same
    // ADC core. The oracle replays it: codebooks/centroids trained on the
    // ORIGINAL corpus only, batch encoded against them, results over the
    // union — identical because assignment and encode are deterministic.
    Q("ann_ivf_pq_append",
      (s, dir) => {
        val base = ivfPqIndex(s, dir)
        PQ.knnIvfPqCells(pqLive(s, base, ivfPqDelta(s, dir), deleted = false),
            s.read.parquet(s"$base/cents"), PQ.readBooks(s, base),
            Catalog.load(s, dir, "embeddings").filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", Dims, nprobe = 2, kTop = 10)
          .orderBy("q_vec", "rank")
      },
      Some(ivfPqAppendOracle)),

    // DELETES against the appended index (round 13): the mod-6 base
    // vectors' tombstone table (pipeline:ivf_pq_tombstones) filters the
    // cells union to live vectors before the ADC core — a tombstoned
    // vector can never be returned at any k. No trained artifact is
    // touched or invalidated: ADC distances are per-vector (no global
    // statistics to go stale, unlike the lexical index), so serve-time
    // filtering IS the complete delete semantics.
    Q("ann_ivf_pq_delete",
      (s, dir) => {
        val base = ivfPqTombstoned(s, dir)
        PQ.knnIvfPqCells(pqLive(s, base, ivfPqDelta(s, dir), deleted = true),
            s.read.parquet(s"$base/cents"), PQ.readBooks(s, base),
            Catalog.load(s, dir, "embeddings").filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", Dims, nprobe = 2, kTop = 10)
          .orderBy("q_vec", "rank")
      },
      Some(ivfPqAppendOracleOver(deleted = true))),

    // Index COMPACTION closes the maintenance loop (append → compact →
    // serve): base ∪ delta rewritten one-file-per-cell; serving from the
    // compacted table must return exactly what the uncompacted union does
    // — pinned by sharing the append row's oracle verbatim. Being a single
    // partitioned dir again, the compacted serve recovers dynamic cell
    // pruning with the codes-only ReadSchema (verified: dynamicpruning
    // present, cells scan reads vec_id + 4 codes).
    Q("ann_ivf_pq_compacted",
      (s, dir) => {
        val base = ivfPqIndex(s, dir)
        PQ.knnIvfPqCells(s.read.parquet(ivfPqCompacted(s, dir)),
            s.read.parquet(s"$base/cents"), PQ.readBooks(s, base),
            Catalog.load(s, dir, "embeddings").filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", Dims, nprobe = 2, kTop = 10)
          .orderBy("q_vec", "rank")
      },
      Some(ivfPqAppendOracle)),

    // Residual-refined IVF-PQ (Jégou et al. 2011 §IV, the production
    // layout): the PQ codebooks quantize the RESIDUAL vec − coarse-centroid
    // instead of the raw vector, so the 8 codes per subspace model the
    // within-cell spread rather than re-describing cell location. Query
    // side: each probe builds its distance tables from the QUERY residual
    // against the probed cell's centroid — per (query, cell), still a
    // broadcast of |Q|·nprobe tiny table rows across the codes scan; plan
    // shape identical to ann_ivf_pq_topk. Residuals are exact (one IEEE
    // subtraction per coordinate both engines replicate), so the whole
    // composition stays hash-checkable.
    Q("ann_ivf_pq_residual",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val (_, cents) = trained(s, dir)
        val books = pqResidBooks(s, dir)
        val enc = PQ.encode(residuals(s, dir), "res", books, PqSub)
          .select(col("vec_id").as("neighbor") +: col("cluster") +:
            (0 until PqM).map(j => col(s"code$j")): _*)
        val q = Catalog.load(s, dir, "embeddings")
          .filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("q_vec"), col("embedding").as("_qv"))
        val wProbe = Window.partitionBy("q_vec")
          .orderBy(col("d").asc, col("p_cluster").asc)
        val probe = q.crossJoin(broadcast(
            cents.select(col("cluster").as("p_cluster"), col("cent"))))
          .withColumn("d", graft.expressions.SqDist.sqDist(col("_qv"), col("cent")))
          .withColumn("pr", row_number().over(wProbe))
          .filter(col("pr") <= 2)
          .withColumn("qres",
            expr("zip_with(_qv, cent, (x, y) -> CAST(x AS DOUBLE) - y)"))
          .select("q_vec", "p_cluster", "qres")
        val qt = books.zipWithIndex.foldLeft(probe) { case (d, (cs, j)) =>
          d.withColumn(s"tab$j", expr(PQ.distTable(cs, "qres", j, PqSub)))
        }
        val scored = enc.join(broadcast(qt),
            col("cluster") === col("p_cluster") && col("q_vec") =!= col("neighbor"))
          .withColumn("adist",
            (0 until PqM).map(j => expr(s"element_at(tab$j, code$j)"))
              .reduce(_ + _))
        // Bounded final cut — see ann_ivf_pq_topk for the rationale.
        Similarity.topKCut(scored, "adist", 10, ascending = true)
          .select("q_vec", "rank", "neighbor", "adist")
          .orderBy("q_vec", "rank")
      },
      Some(ivfPqResidualOracle)),

    // Bigram language-model score — the deterministic analog of a
    // perplexity filter: corpus-level bigram counts (multiplicity kept),
    // doc score = mean corpus frequency of its bigrams. High score =
    // predictable/boilerplate text; low = rare constructions. Integer
    // counts + ONE double division, so the score hash-matches. At scale the
    // join keys on a bigram hash instead of the string.
    Q("text_bigram_lm_score",
      (s, dir) => {
        val bg = Catalog.load(s, dir, "documents")
          .select(col("doc_id"), expr("split(text, ' ')").as("w"))
          .filter(expr("size(w) >= 2"))
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(w) - 1), " +
              "i -> concat(element_at(w, i), ' ', element_at(w, i+1)))")).as("bgm"))
        val counts = bg.groupBy("bgm").agg(count(lit(1)).as("c"))
        bg.join(counts, "bgm")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("c").as("cnt_sum"))
          .withColumn("lm_score",
            expr("CAST(cnt_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE)"))
          .select("doc_id", "n_bigrams", "cnt_sum", "lm_score")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |dd AS (SELECT doc_id, w FROM d WHERE len(w) >= 2),
             |bg AS (SELECT doc_id,
             |              unnest(list_transform(range(1, len(w)),
             |                     i -> w[i] || ' ' || w[i+1])) AS bgm
             |       FROM dd),
             |cc AS (SELECT bgm, COUNT(*) AS c FROM bg GROUP BY bgm),
             |ds AS (SELECT doc_id, COUNT(*) AS n_bigrams,
             |              CAST(SUM(c) AS BIGINT) AS cnt_sum
             |       FROM bg JOIN cc USING (bgm) GROUP BY doc_id)
             |SELECT doc_id, n_bigrams, cnt_sum,
             |       CAST(cnt_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS lm_score
             |FROM ds ORDER BY doc_id""".stripMargin)),

    // Token-budget corpus selection: keep the highest-quality documents
    // until a token budget (30% of corpus tokens) is exhausted. The
    // SCALABLE shape is a two-phase threshold selection — a quality-band
    // histogram (tiny, broadcast) fixes each band's starting offset, then a
    // band-PARTITIONED window finishes the boundary band — instead of one
    // global quality-ordered window (a single-task sort at 100 TB).
    Q("corpus_budget_select",
      (s, dir) => {
        import graft.functions.TextAnalysis.{StopEn, hitsSpark, qualityScore}
        import org.apache.spark.sql.expressions.Window
        val d = Catalog.load(s, dir, "documents")
          .select(col("doc_id"), expr("split(text, ' ')").as("w"))
          .select(col("doc_id"),
            expr("size(w)").as("n_tokens"),
            expr("CAST(size(array_distinct(w)) AS DOUBLE) / size(w)").as("distinct_ratio"),
            expr(s"CAST(${hitsSpark("w", StopEn)} AS DOUBLE) / size(w)").as("stop_ratio"))
          .withColumn("quality", expr(qualityScore))
          .withColumn("b", expr("CAST(floor(quality * 1000) AS BIGINT)"))
          .select("doc_id", "n_tokens", "quality", "b")
        val budget = d.agg(expr("(CAST(sum(n_tokens) AS BIGINT) * 3) div 10")).head.getLong(0)
        // band histogram: ~1000 rows — its unpartitioned window is trivial
        val hist = d.groupBy("b").agg(sum("n_tokens").cast("long").as("bt"))
          .withColumn("cum_before", coalesce(
            sum("bt").over(Window.orderBy(col("b").desc)
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select("b", "cum_before")
        val wBand = Window.partitionBy("b").orderBy(col("doc_id").asc)
        d.join(broadcast(hist), "b")
          .withColumn("band_cum", sum("n_tokens").over(wBand).cast("long"))
          .withColumn("kept", col("cum_before") + col("band_cum") <= lit(budget))
          .select("doc_id", "n_tokens", "quality", "kept")
          .orderBy("doc_id")
      },
      Some {
        import graft.functions.TextAnalysis.{StopEn, hitsDuck, qualityScore}
        s"""WITH qd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |qx AS (SELECT doc_id, len(w) AS n_tokens,
           |              CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS distinct_ratio,
           |              CAST(${hitsDuck("w", StopEn)} AS DOUBLE) / len(w) AS stop_ratio
           |       FROM qd),
           |d AS (SELECT doc_id, n_tokens, $qualityScore AS quality,
           |             CAST(FLOOR(($qualityScore) * 1000) AS BIGINT) AS b
           |      FROM qx),
           |budget AS (SELECT (CAST(SUM(n_tokens) AS BIGINT) * 3) // 10 AS v FROM d),
           |hist AS (SELECT b, CAST(SUM(n_tokens) AS BIGINT) AS bt FROM d GROUP BY b),
           |hc AS (SELECT b, COALESCE(SUM(bt) OVER (ORDER BY b DESC
           |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           |               CAST(0 AS BIGINT)) AS cum_before
           |       FROM hist),
           |sel AS (SELECT d.doc_id, d.n_tokens, d.quality,
           |               hc.cum_before + CAST(SUM(d.n_tokens) OVER (PARTITION BY d.b
           |                   ORDER BY d.doc_id ASC
           |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |                 AS running
           |        FROM d JOIN hc ON d.b = hc.b)
           |SELECT doc_id, n_tokens, quality,
           |       running <= (SELECT v FROM budget) AS kept
           |FROM sel ORDER BY doc_id""".stripMargin
      }),

    // SemDeDup-shape semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    // near-duplicate candidates are bounded to LEARNED k-means cells — the
    // session Lloyd model the ANN family already trains — and exact cosine
    // runs only within a cell; a vector is dropped when a LOWER-id
    // cell-mate exceeds tau (the cell's earliest doc survives), emitted
    // with its canonical survivor. This differs from dedup_embedding_cosine
    // (which blocks on the GIVEN label column): blocking here is the
    // trained clustering itself, i.e. dedup works with no metadata at all.
    // Scale: candidate work is Σ|cell|², so K grows with the corpus to
    // hold cells at ~constant size (K ∝ n keeps it linear); the pair join
    // re-uses Dedup.cosinePairs (norms once per vector, codegen'd dot).
    // Exactness: the cosine is the same deterministic IEEE sequence both
    // engines replay (pinned green on dedup_embedding_cosine since r5);
    // min(struct(v1, cos)) picks the smallest-id survivor deterministically.
    Q("dedup_semantic",
      (s, dir) => {
        val (assigned, _) = trained(s, dir)
        Dedup.cosinePairs(
            assigned.select(col("vec_id"), col("cluster"), col("embedding")),
            "vec_id", "embedding", "cluster", threshold = 0.4)
          .groupBy(col("v2").as("vec_id"))
          .agg(min(col("cluster")).as("cluster"),
            min(struct(col("v1"), col("cos"))).as("_m"))
          .select(col("vec_id"), col("cluster"),
            col("_m.v1").as("dup_of"), col("_m.cos").as("cos"))
          .orderBy("vec_id")
      },
      Some(s"""WITH ${KMeans.oracleCtes("embeddings", "vec_id", "embedding", K, Iters, Dims)},
              |e AS (SELECT a.vec_id, a.cluster, m.embedding,
              |             ${Similarity.normDuck("m.embedding")} AS nrm
              |      FROM a$Iters a JOIN embeddings m ON m.vec_id = a.vec_id),
              |p AS (SELECT l.vec_id AS v1, r.vec_id AS v2, l.cluster,
              |             ${Similarity.dotDuck("l.embedding", "r.embedding")}
              |               / (l.nrm * r.nrm) AS cos
              |      FROM e l JOIN e r
              |        ON l.cluster = r.cluster AND l.vec_id < r.vec_id),
              |f AS (SELECT v2 AS vec_id, cluster, v1, cos,
              |             ROW_NUMBER() OVER (PARTITION BY v2 ORDER BY v1 ASC) AS rn
              |      FROM p WHERE cos >= 0.4)
              |SELECT vec_id, cluster, v1 AS dup_of, cos
              |FROM f WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // DPO-style preference-pair mining: within each semantic cluster (the
    // session Lloyd model again), pair the highest-quality document
    // (chosen) with the lowest (rejected) and carry the quality margin —
    // the contrastive-pair construction preference-tuning pipelines run
    // over response pools, here keyed by embedding cluster so pairs stay
    // on-topic. Deterministic argmax/argmin via min(struct): chosen =
    // min((−q, id)) (max quality, ties to the smaller id), rejected =
    // min((q, id)); a cluster whose extremes coincide (single doc or all
    // qualities equal) yields no pair. Quality is the shared
    // TextAnalysis.qualityScore expression — the same three-term
    // multiply-add sequence in both engines, so margins are bit-exact.
    // Scale: one corpus aggregate per cluster (bounded output K rows);
    // the quality scan fuses into the documents read.
    Q("train_preference_pairs",
      (s, dir) => {
        import graft.functions.TextAnalysis.{StopEn, hitsSpark, qualityScore}
        val (assigned, _) = trained(s, dir)
        val q = Catalog.load(s, dir, "documents")
          .select(col("doc_id"), expr("split(text, ' ')").as("w"))
          .select(col("doc_id"),
            expr("size(w)").as("n_tokens"),
            expr("CAST(size(array_distinct(w)) AS DOUBLE) / size(w)")
              .as("distinct_ratio"),
            expr(s"CAST(${hitsSpark("w", StopEn)} AS DOUBLE) / size(w)")
              .as("stop_ratio"))
          .withColumn("quality", expr(qualityScore))
          .select(col("doc_id"), col("quality"))
        assigned.select(col("vec_id"), col("cluster"))
          .join(q, col("doc_id") === col("vec_id"))
          .groupBy(col("cluster"))
          .agg(
            min(struct((-col("quality")).as("nq"), col("doc_id").as("id")))
              .as("_c"),
            min(struct(col("quality").as("q"), col("doc_id").as("id")))
              .as("_r"))
          .select(col("cluster"),
            col("_c.id").as("chosen_id"), (-col("_c.nq")).as("chosen_q"),
            col("_r.id").as("rejected_id"), col("_r.q").as("rejected_q"))
          .withColumn("margin", col("chosen_q") - col("rejected_q"))
          .filter(col("chosen_id") =!= col("rejected_id"))
          .orderBy("cluster")
      },
      Some {
        import graft.functions.TextAnalysis.{StopEn, hitsDuck, qualityScore}
        s"""WITH ${KMeans.oracleCtes("embeddings", "vec_id", "embedding", K, Iters, Dims)},
           |qd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |qx AS (SELECT doc_id, len(w) AS n_tokens,
           |              CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS distinct_ratio,
           |              CAST(${hitsDuck("w", StopEn)} AS DOUBLE) / len(w) AS stop_ratio
           |       FROM qd),
           |q AS (SELECT doc_id, $qualityScore AS quality FROM qx),
           |j AS (SELECT a.cluster, q.doc_id, q.quality
           |      FROM a$Iters a JOIN q ON q.doc_id = a.vec_id),
           |c AS (SELECT cluster, doc_id AS chosen_id, quality AS chosen_q,
           |             ROW_NUMBER() OVER (PARTITION BY cluster
           |               ORDER BY quality DESC, doc_id ASC) AS rn FROM j),
           |r AS (SELECT cluster, doc_id AS rejected_id, quality AS rejected_q,
           |             ROW_NUMBER() OVER (PARTITION BY cluster
           |               ORDER BY quality ASC, doc_id ASC) AS rn FROM j)
           |SELECT c.cluster, c.chosen_id, c.chosen_q,
           |       r.rejected_id, r.rejected_q,
           |       c.chosen_q - r.rejected_q AS margin
           |FROM c JOIN r ON c.cluster = r.cluster
           |WHERE c.rn = 1 AND r.rn = 1 AND c.chosen_id <> r.rejected_id
           |ORDER BY c.cluster""".stripMargin
      }),

    // Hybrid retrieval served ENTIRELY from persisted indexes — the
    // production composition of this round's serving paths:
    //   lexical list = the impact-ordered BM25 serve (bucket-pruned prefix
    //     reads + the provably lossless θ-prune, so it IS the exact BM25
    //     top-50 — `ops/Corpus.bm25ImpactTopK` over
    //     `pipeline:bm25_impact_index`);
    //   vector list = the trained-quantizer IVF serve from the persisted
    //     kmeans index (`pipeline:kmeans_ivf_index`, nprobe=2) for probe
    //     vec 0 — partition-pruned cells, no training at serve time;
    //   fusion = the same RRF arithmetic as retrieval_rrf_fusion (1/(60+r),
    //     fixed lex+vec order, full outer on the aligned id).
    // Unlike retrieval_rrf_fusion (exact scorers — the baseline), NO stage
    // here touches the full corpus: serving cost is 3 posting prefixes +
    // nprobe cells + two ≤50-row rank lists. The oracle replays the exact
    // BM25 (= the lex serve, lossless) and the full Lloyd-trained IVF probe.
    Q("retrieval_hybrid_served",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val lexTop = graft.ops.Corpus.bm25ImpactTopK(s,
          CorpusQ.bm25Index(s, dir), Seq("spark", "vector", "customer"),
          k = 50, CorpusQ.Bm25Buckets)
        val lexRanked = lexTop.withColumn("lex_rank",
            row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc)))
          .select("doc_id", "lex_rank")
        val vecRanked = Similarity.knnIvfKmeansPersisted(s, kmeansIndex(s, dir),
            Catalog.load(s, dir, "embeddings").filter(col("vec_id") === 0),
            "vec_id", "embedding", nprobe = 2, k = 50)
          .select(col("neighbor").as("vec_id"), col("rank").as("vec_rank"))
        lexRanked.join(vecRanked, lexRanked("doc_id") === vecRanked("vec_id"),
            "full_outer")
          .select(
            coalesce(lexRanked("doc_id"), vecRanked("vec_id")).as("doc_id"),
            col("lex_rank"), col("vec_rank"),
            (coalesce(expr("1.0 / (60.0 + CAST(lex_rank AS DOUBLE))"), lit(0.0)) +
              coalesce(expr("1.0 / (60.0 + CAST(vec_rank AS DOUBLE))"), lit(0.0)))
              .as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id").asc)
          .limit(20)
      },
      Some {
        import graft.ops.Corpus
        s"""WITH ${KMeans.oracleCtes("embeddings", "vec_id", "embedding", K, Iters, Dims)},
           |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |tf AS (SELECT doc_id, len(w) AS dl,
           |         CAST(len(list_filter(w, t -> t = 'spark')) AS BIGINT) AS tf1,
           |         CAST(len(list_filter(w, t -> t = 'vector')) AS BIGINT) AS tf2,
           |         CAST(len(list_filter(w, t -> t = 'customer')) AS BIGINT) AS tf3
           |       FROM d),
           |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
           |         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           |         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
           |         SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
           |       FROM tf),
           |sc2 AS (SELECT doc_id,
           |          CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
           |          dl, tf1, tf2, tf3, n_docs, df1, df2, df3
           |        FROM tf, st),
           |lex AS (SELECT doc_id,
           |          ${Corpus.bm25Term("tf1", "df1")} + ${Corpus.bm25Term("tf2", "df2")} +
           |          ${Corpus.bm25Term("tf3", "df3")} AS score
           |        FROM sc2
           |        WHERE ${Corpus.bm25Term("tf1", "df1")} + ${Corpus.bm25Term("tf2", "df2")} +
           |              ${Corpus.bm25Term("tf3", "df3")} > 0
           |        ORDER BY score DESC, doc_id ASC LIMIT 50),
           |lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
           |           ORDER BY score DESC, doc_id ASC) AS INT) AS lex_rank
           |         FROM lex),
           |e AS (SELECT vec_id, embedding, ${Similarity.normDuck("embedding")} AS nrm
           |      FROM embeddings),
           |q AS (SELECT vec_id AS q_vec, embedding AS q_emb,
           |             ${Similarity.normDuck("embedding")} AS q_nrm FROM embeddings
           |      WHERE vec_id = 0),
           |pp AS (SELECT q_vec, q_emb, q_nrm, cluster FROM (
           |    SELECT q.q_vec, q.q_emb, q.q_nrm, c.cluster,
           |           ROW_NUMBER() OVER (PARTITION BY q.q_vec
           |               ORDER BY ${KMeans.distDuck("q.q_emb", "c.cent", Dims)} ASC,
           |                        c.cluster ASC) AS pr
           |    FROM q, c$Iters c) z WHERE pr <= 2),
           |scored AS (SELECT pp.q_vec, a.vec_id,
           |                  ${Similarity.dotDuck("pp.q_emb", "e.embedding")} / (pp.q_nrm * e.nrm) AS cos
           |           FROM a$Iters a
           |           JOIN pp ON a.cluster = pp.cluster AND a.vec_id <> pp.q_vec
           |           JOIN e ON e.vec_id = a.vec_id),
           |vt AS (SELECT vec_id, cos FROM scored
           |       ORDER BY cos DESC, vec_id ASC LIMIT 50),
           |vecr AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (
           |           ORDER BY cos DESC, vec_id ASC) AS INT) AS vec_rank
           |         FROM vt)
           |SELECT COALESCE(lexr.doc_id, vecr.vec_id) AS doc_id,
           |  lex_rank, vec_rank,
           |  COALESCE(1.0 / (60.0 + CAST(lex_rank AS DOUBLE)), 0.0) +
           |  COALESCE(1.0 / (60.0 + CAST(vec_rank AS DOUBLE)), 0.0) AS rrf
           |FROM lexr FULL OUTER JOIN vecr ON lexr.doc_id = vecr.vec_id
           |ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin
      })
  )
}
