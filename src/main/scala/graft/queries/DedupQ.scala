package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Catalog
import graft.functions.Hashing._
import graft.ops.{Dedup, Similarity}

/** Oracle-checked deduplication queries over the `documents` and `embeddings`
  * tables. The DuckDB oracles are GENERATED from the same
  * [[graft.functions.Hashing]] constants as the Spark plans, so both engines
  * evaluate identical integer recurrences — the check is exact, not
  * statistical. */
object DedupQ {

  private val shared = new graft.ops.SharedBuilds

  /** Shared oracle prelude: tokenized docs + hashed n-gram shingle sets
    * (DuckDB) — mirrors [[Dedup.hashedShingleSets]]'s two-level recurrence
    * (per-token char hash, then an unrolled window fold over token hashes). */
  private[queries] def shingleCte(n: Int): String =
    s"""d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |dd AS (SELECT doc_id, w FROM d WHERE len(w) >= $n),
       |thx AS (SELECT doc_id, list_transform(w, t0 -> ${polyHashDuck("t0")}) AS th FROM dd),
       |sh AS (SELECT doc_id, ${windowFoldDuck("th", n)} AS s FROM thx)""".stripMargin

  /** Jaccard verify CTEs over candidate pairs (expects `cand` and `sh`). */
  private val jaccCtes =
    """j0 AS (SELECT d1, d2, len(list_intersect(a.s, b.s)) AS ni,
      |              len(a.s) AS n1, len(b.s) AS n2
      |       FROM cand JOIN sh a ON a.doc_id = cand.d1
      |                 JOIN sh b ON b.doc_id = cand.d2),
      |j AS (SELECT d1, d2, CAST(ni AS DOUBLE) / (n1 + n2 - ni) AS jacc FROM j0)""".stripMargin

  /** Session-scoped materialization of the MinHash-LSH pairs pipeline:
    * three queries (`dedup_minhash_lsh`, `dedup_clusters`,
    * `graph_triangles`) consume the identical deterministic edge set, so
    * within one SparkSession the pipeline runs ONCE and downstream queries
    * read the cached pairs — the materialized-intermediate pattern any
    * production dedup DAG would use ([[graft.ops.SharedBuilds]]). */
  private[queries] val lshPairs = shared.persisted("lsh_pairs") { (s, dir) =>
    val p = Dedup.minhashLshPairs(Catalog.load(s, dir, "documents"),
        "doc_id", "text", n = 3, threshold = 0.5)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }(Seq(_))

  /** Session-scoped near-dup components over [[lshPairs]] — consumed by
    * `dedup_clusters`, `dedup_keep_best`, `split_leakage_safe` and
    * `corpus_refinery`; the iterative CC rounds run once per session. */
  private[queries] val lshComponents = shared.persisted("lsh_components") { (s, dir) =>
    val c = Dedup.connectedComponents(
        Catalog.load(s, dir, "documents").select("doc_id"),
        lshPairs(s, dir), "doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    c.count()
    c
  }(Seq(_))

  /** Shared oracle for both incremental-dedup paths (inline and persisted-
    * index serving — they must return identical rows): history = docs with
    * doc_id % 5 != 0, batch = the rest; flags are near-dup-of-history and
    * near-dup-of-earlier-batch-doc. */
  private def incrementalOracle: String = {
    val bandSelects = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
      .mkString("\nUNION ALL ")
    s"""WITH ${shingleCte(3)},
       |hs AS (SELECT doc_id, s AS H FROM sh),
       |bands AS ($bandSelects),
       |bh AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
       |bb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
       |candh AS (SELECT DISTINCT b.doc_id AS d1, h.doc_id AS d2
       |          FROM bb b JOIN bh h ON b.band = h.band AND b.sig = h.sig),
       |candb AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
       |          FROM bb l JOIN bb r
       |            ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
       |jh AS (SELECT d1, d2, len(list_intersect(a.s, b.s)) AS ni,
       |              len(a.s) AS n1, len(b.s) AS n2
       |       FROM candh JOIN sh a ON a.doc_id = candh.d1
       |                  JOIN sh b ON b.doc_id = candh.d2),
       |jb AS (SELECT d1, d2, len(list_intersect(a.s, b.s)) AS ni,
       |              len(a.s) AS n1, len(b.s) AS n2
       |       FROM candb JOIN sh a ON a.doc_id = candb.d1
       |                  JOIN sh b ON b.doc_id = candb.d2),
       |duph AS (SELECT DISTINCT d1 AS doc_id FROM jh
       |         WHERE CAST(ni AS DOUBLE) / (n1 + n2 - ni) >= 0.5),
       |dupb AS (SELECT DISTINCT d2 AS doc_id FROM jb
       |         WHERE CAST(ni AS DOUBLE) / (n1 + n2 - ni) >= 0.5)
       |SELECT d.doc_id,
       |       duph.doc_id IS NOT NULL AS dup_of_history,
       |       dupb.doc_id IS NOT NULL AS dup_in_batch,
       |       (duph.doc_id IS NULL AND dupb.doc_id IS NULL) AS kept
       |FROM documents d
       |LEFT JOIN duph ON d.doc_id = duph.doc_id
       |LEFT JOIN dupb ON d.doc_id = dupb.doc_id
       |WHERE d.doc_id % 5 = 0 ORDER BY d.doc_id""".stripMargin
  }

  /** Kept-only projection of [[incrementalOracle]] — what the streaming
    * incremental-dedup SINK materializes (only kept batch docs land in the
    * corpus; dropped ones leave no row). */
  private def incrementalKeptOracle: String =
    s"""WITH base AS (${incrementalOracle.replace("ORDER BY d.doc_id", "")})
       |SELECT doc_id FROM base WHERE kept ORDER BY doc_id""".stripMargin

  /** Session-scoped DISK dedup index over the history partition (docs with
    * doc_id % 5 != 0) — the artifact the persisted incremental-dedup SERVING
    * query probes; built once per session like the IVF indexes. */
  private val dedupIndex = shared("minhash_dedup_index") { (s, dir) =>
    val tmp = graft.engine.TempDirs.create("graft_dix")
    Dedup.writeDedupIndex(
      Catalog.load(s, dir, "documents").filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", n = 3, path = tmp)
    tmp
  }

  /** The shared builds, named for explicit bench attribution:
    * [[graft.Bench]] times these BEFORE the per-query loop so per-query
    * numbers measure serving, not whichever consumer happens to run first.
    * Order matters — components builds on pairs. */
  def pipelines: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Unit)] =
    shared.pipelines

  /** The corpus-refinery decision table (doc_id, component, q, reason) —
    * shared by `corpus_refinery` and the end-to-end export capstone. */
  private def refineryDecisions(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Catalog.load(s, dir, "documents")
    val comp = lshComponents(s, dir)
    val quality = docs.select(col("doc_id"),
      expr("CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)" +
        " / size(split(text, ' '))").as("q"))
    val w = Window.partitionBy("component")
      .orderBy(col("q").desc, col("doc_id").asc)
    val ranked = comp.join(quality, "doc_id")
      .withColumn("rk", row_number().over(w))
    val contam = graft.ops.Corpus.decontaminate(docs, "doc_id", "text",
        n = 5, benchmarkPred = col("doc_id") % 97 === 0, threshold = 0.2)
      .select(col("doc_id"), col("contaminated"))
    ranked.join(contam, Seq("doc_id"), "left")
      .withColumn("reason",
        when(col("doc_id") % 97 === 0, "benchmark_eval")
          .when(col("rk") > 1, "drop_near_dup")
          .when(coalesce(col("contaminated"), lit(false)), "drop_contaminated")
          .when(col("q") < 0.45, "drop_low_quality")
          .otherwise("keep"))
      .select("doc_id", "component", "q", "reason")
  }

  /** DuckDB CTE prelude ending in `decisions` — the oracle-side twin of
    * [[refineryDecisions]], shared the same way. */
  private def refineryOracleCtes: String = {
    val bandSelects = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
      .mkString("\nUNION ALL ")
    s"""${shingleCte(3)},
       |hs AS (SELECT doc_id, s AS H FROM sh),
       |bands AS ($bandSelects),
       |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
       |         FROM bands l JOIN bands r
       |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
       |$jaccCtes,
       |edges AS (SELECT d1, d2 FROM j WHERE jacc >= 0.5),
       |sym AS (SELECT d1 AS a, d2 AS b FROM edges
       |        UNION ALL SELECT d2, d1 FROM edges),
       |reach(a, b) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
       |cc AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
       |sh5 AS (SELECT doc_id, ${windowFoldDuck("th", 5)} AS s5 FROM thx
       |        WHERE len(th) >= 5),
       |bench AS (SELECT DISTINCT unnest(s5) AS h FROM sh5 WHERE doc_id % 97 = 0),
       |tr AS (SELECT doc_id, len(s5) AS ns, unnest(s5) AS h FROM sh5
       |       WHERE doc_id % 97 <> 0),
       |ct AS (SELECT tr.doc_id,
       |         CAST(SUM(CASE WHEN b.h IS NULL THEN 0 ELSE 1 END) AS DOUBLE)
       |           / ns >= 0.2 AS contaminated
       |       FROM tr LEFT JOIN bench b ON tr.h = b.h
       |       GROUP BY tr.doc_id, ns),
       |qy AS (SELECT doc_id,
       |         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |           / len(string_split(text, ' ')) AS q
       |       FROM documents),
       |rr AS (SELECT cc.doc_id, cc.component, qy.q,
       |        ROW_NUMBER() OVER (PARTITION BY cc.component
       |             ORDER BY qy.q DESC, cc.doc_id ASC) AS rk
       |      FROM cc JOIN qy ON cc.doc_id = qy.doc_id),
       |decisions AS (SELECT rr.doc_id, rr.component, rr.q,
       |  CASE WHEN rr.doc_id % 97 = 0 THEN 'benchmark_eval'
       |       WHEN rr.rk > 1 THEN 'drop_near_dup'
       |       WHEN coalesce(ct.contaminated, FALSE) THEN 'drop_contaminated'
       |       WHEN rr.q < 0.45 THEN 'drop_low_quality'
       |       ELSE 'keep' END AS reason
       |FROM rr LEFT JOIN ct ON rr.doc_id = ct.doc_id)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // Exact dedup (hash-groupBy keep-first). The corpus has no exact dups, so
    // the probe plants them: union the table with an id-shifted clone; dedup
    // must keep exactly the original rows.
    Q("dedup_exact",
      (s, dir) => {
        val docs = Catalog.load(s, dir, "documents").select("doc_id", "text")
        val planted = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
        Dedup.exactKeepFirst(docs.union(planted), col("text"), col("doc_id"))
          .select("doc_id").orderBy("doc_id")
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 100000, text FROM documents),
             |r AS (SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
             |      FROM all_docs)
             |SELECT doc_id FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // Content-hash dedup: the at-scale form of exact dedup — group by a
    // cryptographic digest of the bytes instead of the full text (the
    // shuffle key is 16 bytes regardless of document size). MD5 is
    // engine-portable, so the digest itself is oracle-checked.
    Q("dedup_content_hash",
      (s, dir) => {
        val docs = Catalog.load(s, dir, "documents").select("doc_id", "text")
        val planted = docs.select((col("doc_id") + 100000).as("doc_id"), col("text"))
        docs.union(planted)
          .withColumn("digest", md5(col("text").cast("binary")))
          .groupBy("digest").agg(min(col("doc_id")).as("doc_id"),
            count(lit(1)).as("n_copies"))
          .select("doc_id", "digest", "n_copies")
          .orderBy("doc_id")
      },
      Some("""WITH all_docs AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 100000, text FROM documents)
             |SELECT MIN(doc_id) AS doc_id, md5(text) AS digest,
             |  CAST(COUNT(*) AS BIGINT) AS n_copies
             |FROM all_docs GROUP BY md5(text) ORDER BY doc_id""".stripMargin)),

    // MinHash + LSH banding: word-3-gram shingles, 32 hashes, 8 bands of 4;
    // candidates via band equi-join, verified by exact Jaccard >= 0.5.
    Q("dedup_minhash_lsh",
      (s, dir) => lshPairs(s, dir).orderBy("d1", "d2"),
      Some {
        val bandSelects = (0 until Bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
          .mkString("\nUNION ALL ")
        s"""WITH ${shingleCte(3)},
           |hs AS (SELECT doc_id, s AS H FROM sh),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
           |         FROM bands l JOIN bands r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |$jaccCtes
           |SELECT d1, d2, jacc FROM j WHERE jacc >= 0.5 ORDER BY d1, d2""".stripMargin
      }),

    // n-gram (bigram) Jaccard with token-count bucket blocking — the op's
    // DEFAULT, which caps block membership at Dedup.LshMaxBucket (smallest
    // ids kept, deterministic, drops observed): boundedness is the default
    // at 100 TB, exactness the opt-in (next row). The oracle mirrors the cap
    // with a row_number window so the row stays faithful at ANY scale
    // factor, though at the sf0.01 gate no length bucket nears 4096.
    Q("dedup_ngram_jaccard",
      (s, dir) =>
        Dedup.ngramJaccardPairs(Catalog.load(s, dir, "documents"),
            "doc_id", "text", n = 2, threshold = 0.6, bucketWidth = 16)
          .orderBy("d1", "d2"),
      Some(s"""WITH ${shingleCte(2)},
              |wb0 AS (SELECT doc_id, len(s) AS n, CAST(floor(len(s)/16) AS BIGINT) AS b,
              |              unnest([CAST(floor(len(s)/16) AS BIGINT),
              |                      CAST(floor(len(s)/16) AS BIGINT) + 1]) AS bk FROM sh),
              |wb AS (SELECT * FROM wb0
              |       QUALIFY row_number() OVER (PARTITION BY bk ORDER BY doc_id)
              |               <= ${Dedup.LshMaxBucket}),
              |cand AS (SELECT l.doc_id AS d1, r.doc_id AS d2
              |         FROM wb l JOIN wb r ON l.bk = r.bk AND l.doc_id < r.doc_id
              |           AND l.bk = greatest(l.b, r.b)
              |           AND CAST(least(l.n, r.n) AS DOUBLE) >= 0.6 * greatest(l.n, r.n)),
              |$jaccCtes
              |SELECT d1, d2, jacc FROM j WHERE jacc >= 0.6 ORDER BY d1, d2""".stripMargin)),

    // Uncapped EXACT variant: the full quadratic-in-family pair relation
    // (a B-clone family IS C(B,2) true pairs — no plan can emit less).
    // Kept as the exactness oracle beside the capped default.
    Q("dedup_ngram_jaccard_exact",
      (s, dir) =>
        Dedup.ngramJaccardPairs(Catalog.load(s, dir, "documents"),
            "doc_id", "text", n = 2, threshold = 0.6, bucketWidth = 16,
            maxBucket = Int.MaxValue)
          .orderBy("d1", "d2"),
      Some(s"""WITH ${shingleCte(2)},
              |wb AS (SELECT doc_id, len(s) AS n, CAST(floor(len(s)/16) AS BIGINT) AS b,
              |              unnest([CAST(floor(len(s)/16) AS BIGINT),
              |                      CAST(floor(len(s)/16) AS BIGINT) + 1]) AS bk FROM sh),
              |cand AS (SELECT l.doc_id AS d1, r.doc_id AS d2
              |         FROM wb l JOIN wb r ON l.bk = r.bk AND l.doc_id < r.doc_id
              |           AND l.bk = greatest(l.b, r.b)
              |           AND CAST(least(l.n, r.n) AS DOUBLE) >= 0.6 * greatest(l.n, r.n)),
              |$jaccCtes
              |SELECT d1, d2, jacc FROM j WHERE jacc >= 0.6 ORDER BY d1, d2""".stripMargin)),

    // SimHash: 32-bit fingerprint over token hashes, byte-block LSH,
    // Hamming <= 1 (the synthetic corpus has a tiny vocabulary, so simhash
    // distances compress; 1 keeps the verify meaningful).
    Q("dedup_simhash",
      (s, dir) =>
        Dedup.simhashPairs(Catalog.load(s, dir, "documents"),
            "doc_id", "text", maxHamming = 1)
          .orderBy("d1", "d2"),
      Some(s"""WITH hs AS (SELECT doc_id,
              |  list_transform(string_split(text, ' '), t0 -> ${polyHashDuck("t0")}) AS Hs
              |  FROM documents),
              |simt AS (SELECT doc_id, ${simhashDuck("Hs")} AS sh FROM hs),
              |keyed AS (SELECT doc_id, sh, t.k, (sh >> (t.k*16)) & 65535 AS blk
              |          FROM simt, (SELECT unnest(range(0, 2)) AS k) t),
              |p AS (SELECT l.doc_id AS d1, r.doc_id AS d2,
              |             ${hammingDuck("l.sh", "r.sh")} AS ham
              |      FROM keyed l JOIN keyed r
              |        ON l.k = r.k AND l.blk = r.blk AND l.doc_id < r.doc_id
              |      WHERE l.k = 0
              |         OR (l.k = 1 AND (l.sh & 65535) <> (r.sh & 65535)))
              |SELECT d1, d2, ham FROM p WHERE ham <= 1 ORDER BY d1, d2""".stripMargin)),

    // Full dedup pipeline closer: MinHash-LSH pairs → connected components →
    // canonical (min-id) document per near-dup cluster, every doc labeled.
    // Oracle: recursive-CTE transitive closure over the same pairs.
    Q("dedup_clusters",
      (s, dir) => lshComponents(s, dir).orderBy("doc_id"),
      Some {
        val bandSelects = (0 until Bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
          .mkString("\nUNION ALL ")
        s"""WITH RECURSIVE ${shingleCte(3)},
           |hs AS (SELECT doc_id, s AS H FROM sh),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
           |         FROM bands l JOIN bands r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |$jaccCtes,
           |edges AS (SELECT d1, d2 FROM j WHERE jacc >= 0.5),
           |sym AS (SELECT d1 AS a, d2 AS b FROM edges
           |        UNION ALL SELECT d2, d1 FROM edges),
           |reach(a, b) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
           |SELECT a AS doc_id, MIN(b) AS component FROM reach
           |GROUP BY a ORDER BY doc_id""".stripMargin
      }),

    // Keep-BEST dedup: within each near-dup cluster keep the highest-quality
    // document (ties to the smaller id) instead of the smallest id — the
    // policy production corpus builders actually want. Composes the LSH
    // pairs → connected components pipeline with the text-quality score;
    // the per-cluster argmax is one window pass over |docs| rows.
    Q("dedup_keep_best",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import graft.functions.TextAnalysis.{StopEn, hitsSpark, qualityScore}
        val docs = Catalog.load(s, dir, "documents")
        val comp = lshComponents(s, dir)
        val quality = docs
          .select(col("doc_id"), expr("split(text, ' ')").as("w"))
          .select(col("doc_id"),
            expr("size(w)").as("n_tokens"),
            expr("CAST(size(array_distinct(w)) AS DOUBLE) / size(w)").as("distinct_ratio"),
            expr(s"CAST(${hitsSpark("w", StopEn)} AS DOUBLE) / size(w)").as("stop_ratio"))
          .withColumn("quality", expr(qualityScore))
          .select("doc_id", "quality")
        val w = Window.partitionBy("component")
          .orderBy(col("quality").desc, col("doc_id").asc)
        comp.join(quality, "doc_id")
          .withColumn("kept", row_number().over(w) === 1)
          .select("doc_id", "component", "quality", "kept")
          .orderBy("doc_id")
      },
      Some {
        import graft.functions.TextAnalysis.{StopEn, hitsDuck, qualityScore}
        val bandSelects = (0 until Bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
          .mkString("\nUNION ALL ")
        s"""WITH RECURSIVE ${shingleCte(3)},
           |hs AS (SELECT doc_id, s AS H FROM sh),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
           |         FROM bands l JOIN bands r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |$jaccCtes,
           |edges AS (SELECT d1, d2 FROM j WHERE jacc >= 0.5),
           |sym AS (SELECT d1 AS a, d2 AS b FROM edges
           |        UNION ALL SELECT d2, d1 FROM edges),
           |reach(a, b) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
           |cc AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a),
           |qd AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           |qx AS (SELECT doc_id, len(w) AS n_tokens,
           |              CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS distinct_ratio,
           |              CAST(${hitsDuck("w", StopEn)} AS DOUBLE) / len(w) AS stop_ratio
           |       FROM qd),
           |ql AS (SELECT doc_id, $qualityScore AS quality FROM qx),
           |rk AS (SELECT cc.doc_id, component, quality,
           |              ROW_NUMBER() OVER (PARTITION BY component
           |                                 ORDER BY quality DESC, cc.doc_id) AS rn
           |       FROM cc JOIN ql ON cc.doc_id = ql.doc_id)
           |SELECT doc_id, component, quality, rn = 1 AS kept
           |FROM rk ORDER BY doc_id""".stripMargin
      }),

    // k-core density filter over the near-dup graph (k=2, 4 synchronous
    // peel rounds — the bounded-round semantics Dedup.kCore documents):
    // nodes surviving repeated removal of degree-<2 endpoints are the
    // template/boilerplate cliques; degree-1 pendant pairs drop out. The
    // oracle replays the identical staged peel over the same LSH edges.
    Q("graph_kcore",
      (s, dir) => {
        val docs = Catalog.load(s, dir, "documents")
        Dedup.kCore(docs.select("doc_id"), lshPairs(s, dir), "doc_id",
            k = 2, rounds = 4)
          .orderBy("doc_id")
      },
      Some {
        val bandSelects = (0 until Bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
          .mkString("\nUNION ALL ")
        val peelCtes = (1 to 4).map { r =>
          val degFrom =
            if (r == 1) "FROM sym s"
            else s"FROM sym s JOIN a${r - 1} x ON s.b = x.id" +
              s" JOIN a${r - 1} y ON s.a = y.id"
          s"""d$r AS (SELECT s.a AS id, COUNT(*) AS c $degFrom GROUP BY s.a),
             |a$r AS (SELECT id FROM d$r WHERE c >= 2)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${shingleCte(3)},
           |hs AS (SELECT doc_id, s AS H FROM sh),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
           |         FROM bands l JOIN bands r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |$jaccCtes,
           |edges AS (SELECT d1, d2 FROM j WHERE jacc >= 0.5),
           |sym AS (SELECT d1 AS a, d2 AS b FROM edges
           |        UNION ALL SELECT d2, d1 FROM edges),
           |$peelCtes
           |SELECT d.doc_id, a4.id IS NOT NULL AS in_core
           |FROM documents d LEFT JOIN a4 ON a4.id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin
      }),

    // Graph cohesion over the near-dup graph: triangle count via oriented
    // wedge join on the canonical MinHash-LSH edges (a<b<c counted once).
    Q("graph_triangles",
      (s, dir) => Dedup.triangleCount(lshPairs(s, dir)),
      Some {
        val bandSelects = (0 until Bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
          .mkString("\nUNION ALL ")
        s"""WITH ${shingleCte(3)},
           |hs AS (SELECT doc_id, s AS H FROM sh),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
           |         FROM bands l JOIN bands r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |$jaccCtes,
           |edges AS (SELECT d1, d2 FROM j WHERE jacc >= 0.5)
           |SELECT COUNT(*) AS n_triangles
           |FROM edges e1
           |JOIN edges e2 ON e1.d2 = e2.d1
           |JOIN edges e3 ON e1.d1 = e3.d1 AND e2.d2 = e3.d2""".stripMargin
      }),

    // Common-neighbor link prediction over the near-dup graph: node pairs
    // sharing >= 1 neighbor plus the neighbor-set Jaccard — the
    // "transitive near-dup" signal that proposes edges LSH missed (two docs
    // each near-dup of the same family members are family members). Wedges
    // come from ONE self-join of the symmetric edge list on the shared
    // endpoint (bounded by Σ deg², the triangle join's budget); degrees
    // join back on the surviving >= minCommon pairs only.
    Q("graph_common_neighbors",
      (s, dir) => Dedup.commonNeighbors(lshPairs(s, dir), minCommon = 1)
        .orderBy("d1", "d2"),
      Some {
        val bandSelects = (0 until Bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
          .mkString("\nUNION ALL ")
        s"""WITH ${shingleCte(3)},
           |hs AS (SELECT doc_id, s AS H FROM sh),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
           |         FROM bands l JOIN bands r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |$jaccCtes,
           |edges AS (SELECT d1, d2 FROM j WHERE jacc >= 0.5),
           |sym AS (SELECT d1 AS x, d2 AS y FROM edges
           |        UNION ALL SELECT d2, d1 FROM edges),
           |deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY x),
           |wedges AS (SELECT l.y AS n1, r.y AS n2
           |           FROM sym l JOIN sym r ON l.x = r.x AND l.y < r.y),
           |cnx AS (SELECT n1, n2, CAST(COUNT(*) AS BIGINT) AS cn
           |        FROM wedges GROUP BY n1, n2 HAVING COUNT(*) >= 1)
           |SELECT cnx.n1 AS d1, cnx.n2 AS d2, cnx.cn,
           |       da.deg AS deg_a, db.deg AS deg_b,
           |       CAST(cnx.cn AS DOUBLE) / CAST(da.deg + db.deg - cnx.cn AS DOUBLE) AS jacc
           |FROM cnx JOIN deg da ON da.x = cnx.n1
           |         JOIN deg db ON db.x = cnx.n2
           |ORDER BY d1, d2""".stripMargin
      }),

    // PageRank (3 damped iterations) over the near-dup graph — hub scores
    // for boilerplate families. The recurrence is pure fixed-point integer
    // arithmetic (scale 1e12, 0.85 = 17/20, integer division), so Spark and
    // the oracle's unrolled iteration CTEs agree bit-for-bit; a DOUBLE
    // formulation diverges on cross-engine double->DECIMAL cast semantics.
    Q("graph_pagerank",
      (s, dir) => {
        val docs = Catalog.load(s, dir, "documents")
        Dedup.pageRank(docs.select("doc_id"), lshPairs(s, dir), "doc_id", iters = 3)
          .orderBy("doc_id")
      },
      Some {
        val bandSelects = (0 until Bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
          .mkString("\nUNION ALL ")
        val iterCtes = (1 to 3).map { i =>
          s"""c$i AS (SELECT s.b AS id, r${i - 1}.rank_u // r${i - 1}.deg AS c
             |        FROM sym s JOIN r${i - 1} ON s.a = r${i - 1}.id),
             |s$i AS (SELECT id, CAST(SUM(c) AS BIGINT) AS csum FROM c$i GROUP BY id),
             |r$i AS (SELECT base.id, base.deg,
             |          CAST(150000000000 + (17 * COALESCE(csum, 0)) // 20
             |               AS BIGINT) AS rank_u
             |        FROM base LEFT JOIN s$i USING (id))""".stripMargin
        }.mkString(",\n")
        s"""WITH ${shingleCte(3)},
           |hs AS (SELECT doc_id, s AS H FROM sh),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
           |         FROM bands l JOIN bands r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |$jaccCtes,
           |edges AS (SELECT d1, d2 FROM j WHERE jacc >= 0.5),
           |sym AS (SELECT d1 AS a, d2 AS b FROM edges
           |        UNION ALL SELECT d2, d1 FROM edges),
           |degt AS (SELECT a AS id, COUNT(*) AS deg FROM sym GROUP BY a),
           |base AS (SELECT d.doc_id AS id, CAST(COALESCE(degt.deg, 0) AS BIGINT) AS deg
           |         FROM documents d LEFT JOIN degt ON d.doc_id = degt.id),
           |r0 AS (SELECT id, deg, CAST(1000000000000 AS BIGINT) AS rank_u FROM base),
           |$iterCtes
           |SELECT id AS doc_id, deg, rank_u,
           |       CAST(rank_u AS DOUBLE) / 1000000000000.0 AS rank
           |FROM r3 ORDER BY doc_id""".stripMargin
      }),

    // Containment dedup: one-sided overlap (doc-inside-doc) that symmetric
    // Jaccard misses. Rare-shingle prefix filtering: shingles in > 64 docs
    // are boilerplate and DROPPED from the dictionary; pair-count aggregate
    // over the surviving inverted index = intersection size; containment is
    // measured within the informative dictionary.
    Q("dedup_containment",
      (s, dir) =>
        Dedup.containmentPairs(Catalog.load(s, dir, "documents"),
            "doc_id", "text", n = 3, threshold = 0.5, maxDf = 64)
          .orderBy("d1", "d2"),
      Some(s"""WITH ${shingleCte(3)},
              |inv AS (SELECT doc_id, unnest(s) AS h FROM sh),
              |dfc AS (SELECT h, COUNT(*) AS dfh FROM inv GROUP BY h),
              |kept AS (SELECT doc_id, inv.h FROM inv
              |         JOIN dfc ON inv.h = dfc.h WHERE dfh <= 64),
              |ns AS (SELECT doc_id, COUNT(*) AS ns FROM kept GROUP BY doc_id),
              |p AS (SELECT l.doc_id AS d1, r.doc_id AS d2, COUNT(*) AS ni
              |      FROM kept l JOIN kept r
              |        ON l.h = r.h AND l.doc_id < r.doc_id
              |      GROUP BY 1, 2)
              |SELECT d1, d2, ni,
              |       CAST(ni AS DOUBLE) / a.ns AS c1, CAST(ni AS DOUBLE) / b.ns AS c2
              |FROM p JOIN ns a ON d1 = a.doc_id JOIN ns b ON d2 = b.doc_id
              |WHERE greatest(CAST(ni AS DOUBLE) / a.ns, CAST(ni AS DOUBLE) / b.ns) >= 0.5
              |ORDER BY d1, d2""".stripMargin)),

    // Duplicated-span detection: 20-token windows whose rolling hash appears
    // in >= 2 docs; per-doc duplicated fraction — token-window-granular
    // substring dedup (trim/drop signal for cross-doc template text).
    Q("dedup_spans",
      (s, dir) =>
        Dedup.duplicatedSpans(Catalog.load(s, dir, "documents"),
            "doc_id", "text", w = 20)
          .orderBy("doc_id"),
      Some(s"""WITH ${shingleCte(20)},
              |sp AS (SELECT doc_id, len(s) AS n_spans, unnest(s) AS h FROM sh),
              |dict AS (SELECT h FROM sp GROUP BY h HAVING COUNT(*) >= 2),
              |j AS (SELECT sp.doc_id, sp.n_spans,
              |             CASE WHEN d.h IS NULL THEN 0 ELSE 1 END AS dup
              |      FROM sp LEFT JOIN dict d ON sp.h = d.h)
              |SELECT doc_id, n_spans, CAST(SUM(dup) AS BIGINT) AS n_dup_spans,
              |       CAST(SUM(dup) AS DOUBLE) / n_spans AS dup_frac
              |FROM j GROUP BY doc_id, n_spans ORDER BY doc_id""".stripMargin)),

    // Blocked Levenshtein pair mining — fuzzy ENTITY dedup on short strings
    // (here: 40-char document-title prefixes), blocked on (first token,
    // length÷8) so the quadratic distance verify runs only inside blocks.
    // Both engines evaluate the classic Levenshtein DP on identical blocks,
    // so the check is exact.
    Q("dedup_levenshtein",
      (s, dir) => {
        val titles = Catalog.load(s, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 40).as("t"))
        Dedup.editDistancePairs(titles, "doc_id", "t", maxDist = 8,
            blockOn = t => Seq(
              split(t, " ").getItem(0),
              floor(length(t) / lit(8)).cast("long")))
          .withColumn("dist", col("dist").cast("long"))
          .orderBy("d1", "d2")
      },
      Some("""WITH p AS (SELECT doc_id, substr(text, 1, 40) AS t FROM documents),
             |k AS (SELECT doc_id, t, split_part(t, ' ', 1) AS b0,
             |             length(t) // 8 AS b1 FROM p)
             |SELECT a.doc_id AS d1, b.doc_id AS d2,
             |       levenshtein(a.t, b.t) AS dist
             |FROM k a JOIN k b ON a.b0 = b.b0 AND a.b1 = b.b1
             |                 AND a.doc_id < b.doc_id
             |WHERE abs(length(a.t) - length(b.t)) <= 8
             |  AND levenshtein(a.t, b.t) <= 8
             |ORDER BY d1, d2""".stripMargin)),

    // Entity-resolution capstone: blocked Levenshtein pairs → connected
    // components → canonical representative (min id). The classic ER
    // pipeline (block, match, cluster, canonicalize) composed from the
    // operators above; at 100 TB each stage is the bounded form (equi-join
    // blocking, capped verify, O(diameter) CC rounds).
    Q("er_resolve_entities",
      (s, dir) => {
        val docs = Catalog.load(s, dir, "documents")
        val titles = docs.select(col("doc_id"), substring(col("text"), 1, 40).as("t"))
        val pairs = Dedup.editDistancePairs(titles, "doc_id", "t", maxDist = 8,
          blockOn = t => Seq(
            split(t, " ").getItem(0),
            floor(length(t) / lit(8)).cast("long")))
        Dedup.connectedComponents(docs.select("doc_id"), pairs, "doc_id")
          .withColumnRenamed("component", "entity")
          .withColumn("canonical", col("doc_id") === col("entity"))
          .orderBy("doc_id")
      },
      Some("""WITH RECURSIVE p AS (SELECT doc_id, substr(text, 1, 40) AS t FROM documents),
             |k AS (SELECT doc_id, t, split_part(t, ' ', 1) AS b0,
             |             length(t) // 8 AS b1 FROM p),
             |edges AS (SELECT a.doc_id AS d1, b.doc_id AS d2
             |          FROM k a JOIN k b ON a.b0 = b.b0 AND a.b1 = b.b1
             |                           AND a.doc_id < b.doc_id
             |          WHERE abs(length(a.t) - length(b.t)) <= 8
             |            AND levenshtein(a.t, b.t) <= 8),
             |sym AS (SELECT d1 AS a, d2 AS b FROM edges
             |        UNION ALL SELECT d2, d1 FROM edges),
             |reach(a, b) AS (
             |  SELECT doc_id, doc_id FROM documents
             |  UNION
             |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
             |SELECT a AS doc_id, MIN(b) AS entity, a = MIN(b) AS canonical
             |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin)),

    // Fuzzy-name matching with Jaro-Winkler — the ER comparator where edit
    // distance over-penalizes suffix noise. Runs on the shared pair-miner
    // skeleton (first-token blocking, measured-broadcast verify at full
    // parallelism); scoring is the codegen'd graft_jaro_winkler native,
    // pinned bit-compatible with DuckDB's builtin over UTF-8 bytes, so the
    // 0.9 threshold and the raw DOUBLE survive hashed conformance unrounded.
    Q("er_jaro_winkler",
      (s, dir) =>
        Dedup.jaroWinklerPairs(
            Catalog.load(s, dir, "documents")
              .select(col("doc_id"), substring(col("text"), 1, 30).as("nm")),
            "doc_id", "nm", threshold = 0.9,
            blockOn = t => Seq(split(t, " ").getItem(0)))
          .orderBy("d1", "d2"),
      Some("""WITH p AS (SELECT doc_id, substr(text, 1, 30) AS nm FROM documents),
             |k AS (SELECT doc_id, nm, split_part(nm, ' ', 1) AS b0 FROM p),
             |j AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
             |        jaro_winkler_similarity(a.nm, b.nm) AS jw
             |      FROM k a JOIN k b ON a.b0 = b.b0 AND a.doc_id < b.doc_id)
             |SELECT d1, d2, jw FROM j WHERE jw >= 0.9
             |ORDER BY d1, d2""".stripMargin)),

    // Leakage-safe train/test split: the gate hashes the near-dup CLUSTER
    // id, not the doc id, so a document and its near-duplicates always land
    // on the same side — the split analog of benchmark decontamination
    // (a per-doc hash split leaks ~train-set text into test via near-dups).
    Q("split_leakage_safe",
      (s, dir) =>
        lshComponents(s, dir)
          .select(col("doc_id"), col("component"),
            expr(s"${polyHashSpark("CAST(component AS STRING)")} % 100").as("bucket"))
          .withColumn("split", when(col("bucket") < 80, "train").otherwise("test"))
          .select("doc_id", "component", "split")
          .orderBy("doc_id"),
      Some {
        val bandSelects = (0 until Bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
          .mkString("\nUNION ALL ")
        s"""WITH RECURSIVE ${shingleCte(3)},
           |hs AS (SELECT doc_id, s AS H FROM sh),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
           |         FROM bands l JOIN bands r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |$jaccCtes,
           |edges AS (SELECT d1, d2 FROM j WHERE jacc >= 0.5),
           |sym AS (SELECT d1 AS a, d2 AS b FROM edges
           |        UNION ALL SELECT d2, d1 FROM edges),
           |reach(a, b) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
           |cc AS (SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a)
           |SELECT doc_id, component,
           |  CASE WHEN ${polyHashDuck("CAST(component AS VARCHAR)")} % 100 < 80
           |       THEN 'train' ELSE 'test' END AS split
           |FROM cc ORDER BY doc_id""".stripMargin
      }),

    // Incremental (batch-vs-corpus) dedup — the daily-ingest shape: docs with
    // doc_id % 5 == 0 arrive as the new batch, the rest are the accumulated
    // corpus whose LSH index the batch probes. History is never re-deduped;
    // flags are near-dup-of-history and near-dup-of-earlier-batch-doc.
    Q("dedup_incremental",
      (s, dir) => {
        val docs = Catalog.load(s, dir, "documents")
        Dedup.incrementalMinhashDedup(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0),
            "doc_id", "text", n = 3, threshold = 0.5)
          .orderBy("doc_id")
      },
      Some(incrementalOracle)),

    // The incremental-dedup SERVING path: the same probe against the
    // DISK-persisted history index (shingle sets + capped band signatures,
    // Dedup.writeDedupIndex) — only the batch is shingled at probe time;
    // the history side streams from the precomputed artifact and never
    // shuffles. Index build runs in the session-scoped pipeline
    // (pipeline:minhash_dedup_index); results must equal the inline
    // variant, so the oracle is the identical SQL.
    Q("dedup_incremental_persisted",
      (s, dir) =>
        Dedup.incrementalMinhashDedupPersisted(s, dedupIndex(s, dir),
            Catalog.load(s, dir, "documents").filter(col("doc_id") % 5 === 0),
            "doc_id", "text", n = 3, threshold = 0.5)
          .orderBy("doc_id"),
      Some(incrementalOracle)),

    // The incremental-dedup SINK end-to-end in streaming form: seed the
    // corpus with the history partition, stream the batch partition through
    // Streams.incrementalDedupSink (per-microbatch dedup against the
    // accumulated corpus + within-batch earlier-id, kept docs appended as
    // idempotent batch=<id> dirs), then read the corpus back. AvailableNow
    // with no maxFilesPerTrigger drains in ONE microbatch, so the result
    // equals the one-shot incremental semantics and the oracle is the
    // kept-only projection of dedup_incremental's.
    Q("stream_incremental_dedup_sink",
      (s, dir) => {
        val corpusDir = graft.engine.TempDirs.create("graft_sdedup") + "/corpus"
        graft.streaming.Streams.writeBatch(
          Catalog.load(s, dir, "documents")
            .filter(col("doc_id") % 5 =!= 0).select("doc_id", "text"),
          corpusDir, -1L)
        val batch = graft.streaming.Streams.tableStream(s, dir, "documents")
          .filter(col("doc_id") % 5 === 0).select("doc_id", "text")
        graft.streaming.Streams
          .incrementalDedupSink(batch, corpusDir, n = 3, threshold = 0.5)
          .awaitTermination()
        s.read.parquet(corpusDir)
          .filter(col("batch") >= 0)
          .select("doc_id")
          .orderBy("doc_id")
      },
      Some(incrementalKeptOracle)),

    // Embedding cosine near-dup within coarse clusters (IVF-style blocking on
    // `label`): exact cosine >= 0.4 on candidate pairs only.
    Q("dedup_embedding_cosine",
      (s, dir) =>
        Dedup.cosinePairs(Catalog.load(s, dir, "embeddings"),
            "vec_id", "embedding", "label", threshold = 0.4)
          .orderBy("v1", "v2"),
      Some(s"""WITH e AS (SELECT vec_id, label, embedding,
              |                  ${Similarity.normDuck("embedding")} AS nrm FROM embeddings),
              |p AS (SELECT l.vec_id AS v1, r.vec_id AS v2, l.label AS label,
              |             ${Similarity.dotDuck("l.embedding", "r.embedding")} / (l.nrm * r.nrm) AS cos
              |      FROM e l JOIN e r ON l.label = r.label AND l.vec_id < r.vec_id)
              |SELECT v1, v2, label, cos FROM p WHERE cos >= 0.4 ORDER BY v1, v2""".stripMargin)),

    // Semi-supervised label propagation over the near-dup graph: every 10th
    // doc is seeded with a class (doc_id % 3); 3 synchronous rounds spread
    // labels along LSH edges by neighbor-majority vote (tie → smallest
    // label). The deterministic LPA form — community/topic spreading over
    // the same edge set the dedup family already materializes once.
    Q("graph_label_propagation",
      (s, dir) => {
        val docs = Catalog.load(s, dir, "documents")
        val seeds = docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), (col("doc_id") % 3).as("lab"))
        Dedup.labelPropagation(docs.select("doc_id"), lshPairs(s, dir),
            "doc_id", seeds, "lab", rounds = 3)
          .orderBy("doc_id")
      },
      Some {
        val bandSelects = (0 until Bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
          .mkString("\nUNION ALL ")
        val roundCtes = (1 to 3).map { k =>
          s"""n$k AS (SELECT s.a AS id, l.label, COUNT(*) AS c
             |       FROM sym s JOIN l${k - 1} l ON s.b = l.id
             |       WHERE l.label IS NOT NULL GROUP BY s.a, l.label),
             |b$k AS (SELECT id, label AS nbr_label FROM (
             |         SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id
             |              ORDER BY c DESC, label ASC) AS rn FROM n$k)
             |       WHERE rn = 1),
             |l$k AS (SELECT l.id,
             |         CASE WHEN l.seeded THEN l.label
             |              ELSE coalesce(b.nbr_label, l.label) END AS label,
             |         l.seeded
             |       FROM l${k - 1} l LEFT JOIN b$k b ON l.id = b.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${shingleCte(3)},
           |hs AS (SELECT doc_id, s AS H FROM sh),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
           |         FROM bands l JOIN bands r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |$jaccCtes,
           |edges AS (SELECT d1, d2 FROM j WHERE jacc >= 0.5),
           |sym AS (SELECT d1 AS a, d2 AS b FROM edges
           |        UNION ALL SELECT d2, d1 FROM edges),
           |l0 AS (SELECT doc_id AS id,
           |         CASE WHEN doc_id % 10 = 0 THEN doc_id % 3 END AS label,
           |         doc_id % 10 = 0 AS seeded
           |       FROM documents),
           |$roundCtes
           |SELECT id AS doc_id, label, seeded FROM l3 ORDER BY doc_id""".stripMargin
      }),

    // Multi-source BFS hop distance over the near-dup graph: every 25th doc
    // is a seed (e.g. a flagged/benchmark set); dist = LSH-edge hops to the
    // nearest seed, NULL past 3 hops. Frontier-bounded rounds — each round
    // joins only the previous frontier against the edge set, so round cost
    // falls as the search saturates. Completes the graph family
    // (components, PageRank, LPA, triangles) with shortest-path labeling.
    Q("graph_bfs_distance",
      (s, dir) => {
        val docs = Catalog.load(s, dir, "documents")
        Dedup.bfsDistance(docs.select("doc_id"), lshPairs(s, dir),
            "doc_id", docs.filter(col("doc_id") % 25 === 0).select("doc_id"),
            maxHops = 3)
          .orderBy("doc_id")
      },
      Some {
        val bandSelects = (0 until Bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
          .mkString("\nUNION ALL ")
        val hopCtes = (1 to 3).map { h =>
          s"""f$h AS (SELECT DISTINCT s.a AS id FROM sym s
             |       JOIN d${h - 1} d ON s.b = d.id AND d.dist = ${h - 1}),
             |d$h AS (SELECT d.id,
             |         COALESCE(d.dist, CASE WHEN f.id IS NOT NULL
             |                               THEN CAST($h AS BIGINT) END) AS dist
             |       FROM d${h - 1} d LEFT JOIN f$h f ON d.id = f.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${shingleCte(3)},
           |hs AS (SELECT doc_id, s AS H FROM sh),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
           |         FROM bands l JOIN bands r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |$jaccCtes,
           |edges AS (SELECT d1, d2 FROM j WHERE jacc >= 0.5),
           |sym AS (SELECT d1 AS a, d2 AS b FROM edges
           |        UNION ALL SELECT d2, d1 FROM edges),
           |d0 AS (SELECT doc_id AS id,
           |         CASE WHEN doc_id % 25 = 0 THEN CAST(0 AS BIGINT) END AS dist
           |       FROM documents),
           |$hopCtes
           |SELECT id AS doc_id, dist, dist IS NOT NULL AS reached
           |FROM d3 ORDER BY doc_id""".stripMargin
      }),

    // Bounded-round Bellman-Ford over the near-dup graph: edge weight =
    // 1000 − round(jacc·1000) (closer duplicates are cheaper), distance =
    // cheapest ≤3-edge path from the seed set. Integer weights keep every
    // relaxation exact; maxRounds bounds the plan (k rounds = k shuffles)
    // regardless of graph diameter — the weighted sibling of
    // graph_bfs_distance.
    Q("graph_weighted_distance",
      (s, dir) => {
        val docs = Catalog.load(s, dir, "documents")
        val edges = lshPairs(s, dir)
          .withColumn("w", lit(1000L) - round(col("jacc") * 1000).cast("long"))
        Dedup.weightedDistance(docs.select("doc_id"), edges, "doc_id", "w",
            docs.filter(col("doc_id") % 25 === 0).select("doc_id"),
            maxRounds = 3)
          .orderBy("doc_id")
      },
      Some {
        val bandSelects = (0 until Bands)
          .map(b => s"SELECT doc_id, $b AS band, ${bandSigDuck("H", b)} AS sig FROM hs")
          .mkString("\nUNION ALL ")
        val roundCtes = (1 to 3).map { r =>
          s"""n$r AS (SELECT s.a AS id, MIN(d.dist + s.w) AS nd
             |       FROM sym s JOIN d${r - 1} d ON s.b = d.id
             |       WHERE d.dist IS NOT NULL GROUP BY s.a),
             |d$r AS (SELECT d.id,
             |         CASE WHEN d.dist IS NULL THEN n.nd
             |              WHEN n.nd IS NULL THEN d.dist
             |              ELSE least(d.dist, n.nd) END AS dist
             |       FROM d${r - 1} d LEFT JOIN n$r n ON d.id = n.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${shingleCte(3)},
           |hs AS (SELECT doc_id, s AS H FROM sh),
           |bands AS ($bandSelects),
           |cand AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2
           |         FROM bands l JOIN bands r
           |           ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id),
           |$jaccCtes,
           |we AS (SELECT d1, d2,
           |         1000 - CAST(ROUND(jacc * 1000) AS BIGINT) AS w
           |       FROM j WHERE jacc >= 0.5),
           |sym AS (SELECT d1 AS a, d2 AS b, w FROM we
           |        UNION ALL SELECT d2, d1, w FROM we),
           |d0 AS (SELECT doc_id AS id,
           |         CASE WHEN doc_id % 25 = 0 THEN CAST(0 AS BIGINT) END AS dist
           |       FROM documents),
           |$roundCtes
           |SELECT id AS doc_id, dist, dist IS NOT NULL AS reached
           |FROM d3 ORDER BY doc_id""".stripMargin
      }),

    // Corpus-refinery capstone: the full cleaning decision per document —
    // near-dup clusters (shared LSH edge set) keep only their best-quality
    // member, benchmark docs are fenced off, train docs sharing 5-gram
    // shingles with the benchmark are dropped as contaminated, low
    // lexical-diversity docs are dropped last. One labeled reason per doc,
    // precedence fixed: benchmark_eval > drop_near_dup > drop_contaminated >
    // drop_low_quality > keep. Every stage is the bounded-at-100 TB form
    // (banded candidates, broadcast benchmark dictionary, one shuffle per
    // stage key).
    Q("corpus_refinery",
      (s, dir) => refineryDecisions(s, dir).orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $refineryOracleCtes
              |SELECT doc_id, component, q, reason FROM decisions
              |ORDER BY doc_id""".stripMargin)),

    // End-to-end training-data EXPORT capstone: refinery keepers → fixed
    // 64-token chunks → 512-token packed bins via the distributed global
    // prefix sum → 4 shards; per-shard manifest (bins, chunks, tokens).
    // The full "switch your pipeline to this library" path in one query,
    // against one composed oracle.
    Q("export_training_shards",
      (s, dir) => {
        val docs = Catalog.load(s, dir, "documents")
        val kept = refineryDecisions(s, dir)
          .filter(col("reason") === "keep").select("doc_id")
        val toks = docs.join(kept, "doc_id")
          .select(col("doc_id"), expr("size(split(text, ' '))").as("tokens"))
        val chunks = toks
          .withColumn("chunk_id",
            explode(expr("sequence(0, CAST((tokens + 63) DIV 64 AS INT) - 1)")))
          .withColumn("chunk_tokens",
            least(lit(64L), col("tokens") - col("chunk_id") * 64L))
          // 2^20 chunk slots per doc: a doc would need > 64 M tokens to
          // overflow its slot range and corrupt the pack order (1024 slots —
          // i.e. 64 k tokens — was reachable by a single long document).
          .withColumn("ord", col("doc_id") * lit(1048576L) + col("chunk_id"))
        val packed = graft.ops.Packing.packSequences(
          chunks, "ord", col("chunk_tokens"), budget = 512)
        packed
          .withColumn("shard", (col("bin") % 4).cast("int"))
          .groupBy("shard")
          .agg(countDistinct(col("bin")).as("n_bins"),
            count(lit(1)).as("n_chunks"),
            sum(col("chunk_tokens")).as("n_tokens"),
            min(col("bin")).as("first_bin"), max(col("bin")).as("last_bin"))
          .orderBy("shard")
      },
      Some(s"""WITH RECURSIVE $refineryOracleCtes,
              |kept AS (SELECT doc_id FROM decisions WHERE reason = 'keep'),
              |tk AS (SELECT d.doc_id,
              |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tokens
              |       FROM documents d JOIN kept k ON d.doc_id = k.doc_id),
              |chx AS (SELECT doc_id, tokens,
              |          unnest(range(0, (tokens + 63) // 64)) AS chunk_id
              |        FROM tk),
              |ch AS (SELECT doc_id, chunk_id,
              |         least(64, tokens - chunk_id * 64) AS chunk_tokens,
              |         doc_id * 1048576 + chunk_id AS ord
              |       FROM chx),
              |pk AS (SELECT chunk_tokens,
              |         (CAST(SUM(chunk_tokens) OVER (ORDER BY ord) AS BIGINT)
              |          - chunk_tokens) // 512 AS bin
              |       FROM ch)
              |SELECT CAST(bin % 4 AS INT) AS shard,
              |  CAST(COUNT(DISTINCT bin) AS BIGINT) AS n_bins,
              |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
              |  CAST(SUM(chunk_tokens) AS BIGINT) AS n_tokens,
              |  MIN(bin) AS first_bin, MAX(bin) AS last_bin
              |FROM pk GROUP BY 1 ORDER BY shard""".stripMargin))
  )
}
