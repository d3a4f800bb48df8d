package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Catalog
import graft.ops.{Layout, Similarity}
import graft.ops.Similarity.cosDuck

/** Oracle-checked similarity-search queries over `embeddings`. Probes are
  * every 100th vector; cosines fold left-to-right in both engines, so values
  * are bit-identical. */
object SimilarityQ {

  // Token-level IVF for late-interaction (MaxSim) serving: the coarse
  // quantizer is trained over the DISTINCT token-vector VOCABULARY (the
  // dictionary is orders of magnitude smaller than the corpus token
  // stream, and every occurrence of a token shares its cluster), with the
  // same fixed-point Lloyd the dense-ANN family uses — so the whole
  // training run replays bit-exactly in DuckDB. kc is deliberately small
  // for the replayable oracle; at scale kc grows with the vocabulary so
  // cells hold constant candidate share (the dense-IVF discipline).
  private val MsKc = 8
  private val MsIters = 2
  private val MsNprobe = 2
  private val MsT = 20 // candidate docs kept per query token (stage 1)
  // Doc-bucket count of the persisted FORWARD component (round 14): small
  // here so every bucket holds real rows at sf0.001; at 100 TB this grows
  // with the corpus (thousands of buckets) so a serve's candidate fetch
  // touches ≤ |candidate docs| directories of a corpus-sized table.
  // Round 15: a DEFAULT, not a constant — every bucketed layout records its
  // own modulus in the serve's [[FwdPart]] (a delta segment wants far fewer
  // buckets than its base), and [[msFwdBucketsFor]] is the sizing rule.
  private val MsFwdBuckets = 32
  // Delta segments are ~1/10th of the base corpus by construction (the
  // mod-3 clone batch); sized by the same rule, one power-of-two notch
  // above its floor — ALSO exercising that per-segment moduli serve
  // correctly side by side (the fb join computes each segment's fb with
  // the modulus that segment was written with).
  private val MsFwdDeltaBuckets = 8

  private val shared = new graft.ops.SharedBuilds

  /** §9 sizing rule for the forward component's bucket count: buckets grow
    * LINEARLY with the corpus so each fb directory stays a bounded number
    * of well-sized files (~`rowsPerBucket` token occurrences ≈ one to a few
    * 128 MB–1 GB parquet files at ~40 B/row). Serve cost is insensitive to
    * the count (the candidate fetch reads ≤ |candidate docs| directories
    * either way — measured on the 10× sweep's bucket-sensitivity rows);
    * what the count controls is the PRUNED-READ GRANULARITY: too few
    * buckets and one candidate doc drags in 1/buckets of a 100 TB table,
    * too many and the layout degrades to small files. At 1e12 tokens the
    * rule gives ~30k buckets ⇒ a 20-token query at T=20 touches ≤400
    * directories ≈ 0.04 TB of a 40 TB forward — workload-bounded, with
    * each directory still holding ~1 GB files. Floor 4: below that the
    * layout cannot beat a plain scan even at test scale. */
  private[graft] def msFwdBucketsFor(
      tokenRows: Long, rowsPerBucket: Long = 32L * 1024 * 1024): Int = {
    val raw = math.max(4L, (tokenRows + rowsPerBucket - 1) / rowsPerBucket)
    // Round UP to a power of two so replica-scaled corpora reuse layouts
    // across nearby sizes instead of rewriting at every growth step.
    var b = 4L
    while (b < raw) b <<= 1
    math.min(b, 1 << 20).toInt
  }

  /** BIG-VOCABULARY derived corpus (round 13): token t at 0-based position
    * i of doc d becomes `t + "_" + ((d·31 + i) mod 257)` — deterministically
    * expanding the test corpus's 31-word vocabulary to ~7.5–7.9k distinct
    * words (31 × 257 salts, measured present at every SF), replayable with
    * list arithmetic in both engines. Why it exists: the base vocabulary
    * SATURATES the token-IVF kc axis (kc = 32 ≥ |vocab| is one-word-per-
    * cell degenerate; round-12 verdict #3) and gives df/n_docs ≈ 1 for
    * every BM25 term — this fixture tests kc ∝ |vocab| and bucket pruning
    * OFF-saturation. */
  private[queries] def bigVocabDocs(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    Catalog.load(s, dir, "documents").select(col("doc_id"),
      expr("array_join(transform(split(text, ' '), (t, i) -> " +
        "concat(t, '_', CAST((doc_id * 31 + i) % 257 AS INT))), ' ')")
        .as("text"))

  /** The `mdocs(doc_id, text)` oracle CTE matching [[bigVocabDocs]] (or the
    * identity corpus), shared by every bigvocab oracle. */
  private[queries] def docsCte(big: Boolean): String =
    if (!big) "mdocs AS (SELECT doc_id, text FROM documents)"
    else """mdocs AS (SELECT doc_id,
           |    array_to_string(list_transform(range(1, len(w) + 1),
           |      i -> w[CAST(i AS INT)] || '_' ||
           |           CAST((doc_id*31 + i - 1) % 257 AS INT)), ' ') AS text
           |  FROM (SELECT doc_id, string_split(text, ' ') AS w
           |        FROM documents))""".stripMargin

  private def msDocs(s: org.apache.spark.sql.SparkSession, dir: String,
      big: Boolean) =
    if (big) bigVocabDocs(s, dir) else Catalog.load(s, dir, "documents")

  /** The distinct token-vector VOCABULARY (tid, v) the coarse quantizer
    * trains over. */
  private def tokenVocab(s: org.apache.spark.sql.SparkSession, dir: String,
      big: Boolean = false) = {
    import graft.expressions.PolyHash.polyHash
    import graft.functions.Hashing.{A, B, P}
    msDocs(s, dir, big)
      .select(explode(expr("split(text, ' ')")).as("tok"))
      .select(polyHash(col("tok")).as("h")).distinct()
      .select(col("h").as("tid"), array((0 until 4).map(i =>
        expr(s"CAST((h * ${A(i)} + ${B(i)}) % $P AS DOUBLE) / $P.0")): _*).as("v"))
  }

  /** Session-scoped trained token IVF: (vocab assignment (tid, v, cluster),
    * centroids (cluster, cent)) — the Lloyd-pipeline discipline, trained
    * once per (session, dir) and fanned out; the bench attributes training
    * to `pipeline:maxsim_token_ivf` so the serve row measures serving.
    * [[maxsimIvfBig]] is the same fixed-point Lloyd at the same kc, trained
    * over [[bigVocabDocs]]'s ~7.5k-word vocabulary. */
  private val maxsimIvf = shared.persisted("maxsim_token_ivf")(
    trainTokenIvf(_, _, big = false))(ac => Seq(ac._1, ac._2))

  private val maxsimIvfBig = shared.persisted("maxsim_token_ivf_big")(
    trainTokenIvf(_, _, big = true))(ac => Seq(ac._1, ac._2))

  private def trainTokenIvf(s: org.apache.spark.sql.SparkSession, dir: String,
      big: Boolean) = {
    import graft.ops.KMeans
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val (a, c) = KMeans.lloyd(tokenVocab(s, dir, big), "tid", "v", MsKc, MsIters,
      dims = 4)
    val ap = a.persist(MEMORY_AND_DISK); ap.count()
    val cp = c.select(col("cluster"), col("cent")).persist(MEMORY_AND_DISK)
    cp.count()
    (ap, cp)
  }

  /** Corpus-token table with the deterministic 4-dim pseudo-embedding —
    * identical affine exprs as the exact MaxSim row; explicit-count
    * repartition for the single-file-scan parallelism trap the exact row
    * documents. */
  private def corpusTokens(s: org.apache.spark.sql.SparkSession, dir: String,
      big: Boolean = false) = tokensOf(msDocs(s, dir, big))

  /** The explode + pseudo-embedding body over an ARBITRARY `docs(doc_id,
    * text)` table — shared by the base corpus, the bigvocab fixture and
    * the append delta batch. */
  private def tokensOf(docs: org.apache.spark.sql.DataFrame) = {
    import graft.expressions.PolyHash.polyHash
    import graft.functions.Hashing.{A, B, P}
    val s = docs.sparkSession
    docs
      .select(col("doc_id"), explode(expr("split(text, ' ')")).as("tok"))
      .select(Seq(col("doc_id"), polyHash(col("tok")).as("h")): _*)
      .select(col("doc_id") +: col("h") +: (0 until 4).map(i =>
        expr(s"CAST((h * ${A(i)} + ${B(i)}) % $P AS DOUBLE) / $P.0").as(s"v$i")): _*)
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
  }

  /** Query tokens (every 250th BASE doc, position-indexed) with query dims.
    *
    * The `doc_id < 10^9` clause is a NO-OP on every real testdata SF (all
    * ids are base-domain) — it exists for the scale sweep, whose replicas
    * offset clone keys by k·10^9: the IVF serve rows measure a FIXED query
    * workload against a growing corpus, the axis that is actually hard
    * (queries are independent — the workload axis parallelizes trivially
    * across executors, while per-query cost against a 10× corpus is the
    * index's job to bound). The EXACT row keeps the unpinned probe set —
    * it is the excluded-by-construction exactness baseline either way. */
  private def queryTokens(s: org.apache.spark.sql.SparkSession, dir: String,
      mod: Int = 250, big: Boolean = false) = {
    import graft.expressions.PolyHash.polyHash
    import graft.functions.Hashing.{A, B, P}
    msDocs(s, dir, big)
      .filter(col("doc_id") % mod === 0 && col("doc_id") < 1000000000L)
      .select(col("doc_id").as("q_doc"),
        posexplode(expr("split(text, ' ')")).as(Seq("qpos", "tok")))
      .select(Seq(col("q_doc"), col("qpos"), polyHash(col("tok")).as("h")): _*)
      .select(col("q_doc") +: col("qpos") +: (0 until 4).map(i =>
        expr(s"CAST((h * ${A(i)} + ${B(i)}) % $P AS DOUBLE) / $P.0").as(s"q$i")): _*)
  }

  /** The two-stage IVF MaxSim serve over cluster-tagged corpus tokens
    * `ct(doc_id, cluster, v0..v3)`: probe -> stage-1 candidate docs per
    * query token -> exact rerank over `ctAll` (the full forward token
    * table; against the [[maxsimForwardBucketed]] layout the fetch is
    * partition-pruned to candidate buckets). Shared verbatim by
    * the in-session and the persisted serves so their results — and their
    * single DuckDB oracle — are identical by construction. */
  private def maxsimServe(
      ct: org.apache.spark.sql.DataFrame, cents: org.apache.spark.sql.DataFrame,
      ctAll: org.apache.spark.sql.DataFrame, qt: org.apache.spark.sql.DataFrame,
      nprobe: Int = MsNprobe, candT: Int = MsT)
      : org.apache.spark.sql.DataFrame =
    maxsimServeParts(ct, cents, Seq(FwdPart(ctAll)), qt, nprobe, candT, None)

  /** A stage-2 forward component: `df` the token table (doc_id, v0..v3,
    * plus the `fb` partition column when the layout is the bucketed
    * [[maxsimForwardBucketed]] one), `buckets` that component's OWN fb
    * modulus — segments differ (a delta batch wants far fewer buckets than
    * the base corpus; the §9 sizing rule lives at [[msFwdBucketsFor]]), and
    * fb on the candidate side must be computed with the modulus the
    * component was WRITTEN with or the pruning join matches nothing —
    * which is why bucketed parts are built ONLY by [[fwdPart]], which
    * reads the modulus persisted beside the layout (advice r15; the
    * default here serves the unbucketed cells-as-forward path, whose df
    * has no fb column and never reads it). */
  private[graft] case class FwdPart(
      df: org.apache.spark.sql.DataFrame, buckets: Int = MsFwdBuckets,
      guard: Option[org.apache.spark.sql.DataFrame] = None)

  /** The multi-segment serve core: stage 2 joins the bounded candidate set
    * against EACH forward component separately and unions the fetched
    * token rows — a union BELOW the join would break dynamic partition
    * pruning (Catalyst's PartitionPruning rule finds the partitioned scan
    * through Project/Filter chains, not through Union), silently reverting
    * every bucketed segment to a full scan. `tomb` (the delete serve)
    * anti-joins the fetched stream — above the scans for the same reason;
    * stage-1 candidates are already tombstone-filtered by the caller, this
    * keeps "no posting of a deleted doc survives" true of stage 2
    * independently of the candidate source. */
  private def maxsimServeParts(
      ct: org.apache.spark.sql.DataFrame, cents: org.apache.spark.sql.DataFrame,
      fwd: Seq[FwdPart], qt: org.apache.spark.sql.DataFrame,
      nprobe: Int = MsNprobe, candT: Int = MsT,
      tomb: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    // Probe cut and candidate cut are AGGREGATES, not row_number windows
    // (round 15). Two reasons, both load-bearing at scale:
    //   1. A WindowExec ANYWHERE in the stage-2 join's build side makes
    //      Catalyst degrade every dynamic partition filter downstream to
    //      dynamicpruningexpression(true) — broadcast-reuse DPP requires
    //      the re-planned subquery to sameResult the join's build side,
    //      and window plans never do (measured: filter/distinct/groupBy
    //      builds prune for real; any window, even deep in the lineage,
    //      silently reads every partition). The r14 fwd layout was
    //      DECORATIVE at runtime because of this — the plan string showed
    //      "dynamicpruning" while the scan read all 32 buckets.
    //   2. row_number() <= k sorts EVERY row of every group; the bounded
    //      TopKAggregate buffers k entries and combines map-side, so the
    //      candidate shuffle carries |groups|·k rows, not |candidates| —
    //      the same reason it exists (TopKAggregate.scala's scaladoc).
    // The (score desc, id asc) heap order is EXACTLY the old window order
    // (probe cut: d asc ≡ -d desc, cluster asc tiebreak), so results are
    // bit-identical and the oracles are unchanged.
    val probePipeline = qt
      .withColumn("qv", array((0 until 4).map(i => col(s"q$i")): _*))
      .crossJoin(broadcast(
        cents.select(col("cluster").as("p_cluster"), col("cent"))))
      .withColumn("d", graft.expressions.SqDist.sqDist(col("qv"), col("cent")))
      .groupBy(col("q_doc"), col("qpos"),
        col("q0"), col("q1"), col("q2"), col("q3"))
      .agg(graft.expressions.TopKAggregate
        .topK(-col("d"), col("p_cluster").cast("long"), nprobe).as("top"))
      .select(col("q_doc"), col("qpos"),
        col("q0"), col("q1"), col("q2"), col("q3"),
        explode(col("top.id")).as("p_cluster"))
    // PROBE SELECTION RUNS AS QUERY PLANNING (round 15): the probe table is
    // materialized to the driver — it is workload-bounded (|q_tokens|·nprobe
    // rows; the query set, never the corpus — the Streams.scala:395 /
    // Corpus.scala:766 bounded-collect class) and its materialization buys
    // the two structures the lazy pipeline could not deliver together:
    //   1. The probed-cluster set becomes a STATIC partition filter on the
    //      stage-1 cells scan (collect → isin) — strictly stronger than the
    //      dynamic filter it replaces (pruned at planning, no subquery).
    //   2. Stage-1 loses its DynamicPruningSubquery, which was POISONING
    //      the stage-2 forward DPP: Catalyst degrades a dynamic partition
    //      filter to `true` when the candidate build side fails sameResult
    //      against its re-planned copy, and a NESTED dynamic filter inside
    //      that build side makes it fail every time (measured: suppressing
    //      stage-1's subquery flips the forward scan from reading all
    //      buckets to 27/64 files). A LocalRelation probe side cannot
    //      carry a subquery, so the stage-2 filter stays REAL.
    val probeRows = probePipeline.collect()
    val probes = ct.sparkSession.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probePipeline.schema)
    val pcIdx = probePipeline.schema.fieldIndex("p_cluster")
    val probedClusters = probeRows.map(_.getLong(pcIdx).toInt).distinct.sorted
    val ctPruned =
      if (probedClusters.isEmpty) ct.filter(lit(false))
      else ct.filter(col("cluster").isin(probedClusters.toSeq: _*))
    val sim = (0 until 4).map(i => col(s"q$i") * col(s"v$i")).reduce(_ + _)
    val s1 = ctPruned.join(broadcast(probes),
        col("cluster") === col("p_cluster") && col("doc_id") =!= col("q_doc"))
      .groupBy(col("q_doc"), col("qpos"), col("doc_id"))
      .agg(max(sim).as("ms"))
    // Full-probe truth path (candT = Int.MaxValue): EVERY scored doc is a
    // candidate — no cut at all (the old rn <= MAX_INT window was a full
    // sort that filtered nothing).
    val cand =
      if (candT == Int.MaxValue) s1.select("q_doc", "doc_id").distinct()
      else s1.groupBy(col("q_doc"), col("qpos"))
        .agg(graft.expressions.TopKAggregate
          .topK(col("ms"), col("doc_id"), candT).as("top"))
        .select(col("q_doc"), explode(col("top.id")).as("doc_id"))
        .distinct()
    // Stage-2 forward fetch: cand is bounded (≤ |q_tokens|·T pairs by
    // construction) — broadcast it so the corpus-sized forward table needs
    // NO distribution for this join (its partial max aggregates map-side;
    // only candidate rows reach the exchange). The in-session path still
    // reuses ctAll's one repartition exchange across both stages; the
    // persisted path can pass a plain index read here and pay no shuffle.
    // The bound only holds for FINITE candT: the full-probe truth path
    // (candT = Int.MaxValue, the bench's bigvocab exact serve) admits every
    // scored doc — an |Q|·|V|-sized set that must NOT be broadcast (driver/
    // broadcast limits at larger SFs); it falls back to a shuffle join.
    //
    // DOC-BUCKETED forward (round 14→17): when a forward component carries
    // the `fb` partition column (the maxsim_forward layouts), stage 2 must
    // read only the candidate docs' buckets. Round 14 did it with a dynamic
    // partition filter per segment — but each segment's candidate build
    // side appends a DIFFERENT fb modulus, so Catalyst could never share
    // the broadcast between segments and every segment re-executed STAGE 1
    // (the expensive candidate pipeline) inside its own broadcast: the
    // two-segment lifecycle serves paid stage 1 twice and ran >1.25× their
    // union-forward siblings on a quiet box (the r17 before-bench fired the
    // serve pin on exactly this). Round 17 applies the r15 probe-selection
    // recipe to stage 2: the candidate set is bounded by construction
    // (≤ |q_tokens|·T pairs — workload, never corpus), so MATERIALIZE it at
    // planning, run stage 1 exactly ONCE, and render each segment's bucket
    // set as a STATIC fb IN partition filter — pruned at listing time, no
    // subquery left to degrade (the same reasons the dense serves moved,
    // Similarity.materializeProbes). Same eager/frozen-workload semantics
    // as the dense serves: construct serve frames immediately before use.
    // fb is a pure function of the join key, so results are unchanged.
    //
    // The full-probe truth path (candT = Int.MaxValue, the bench's bigvocab
    // exact serve) admits an |Q|·|V|-sized candidate set that must be
    // neither collected nor broadcast — it keeps the lazy shuffle join.
    val staticCand = candT != Int.MaxValue &&
      fwd.exists(_.df.columns.contains("fb"))
    val (candSide, candDocs): (org.apache.spark.sql.DataFrame, Seq[Long]) =
      if (!staticCand) (cand, Seq.empty)
      else {
        val rows = cand.collect()
        val docIdx = cand.schema.fieldIndex("doc_id")
        (ct.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), cand.schema),
          rows.map(_.getLong(docIdx)).toSeq.distinct)
      }
    // TOMBSTONES filter the CANDIDATE side, not the fetched stream (round
    // 18): stage 1 already scores tombstone-filtered cells, so no dead doc
    // can be a candidate — the anti-join is defense-in-depth, and anti-
    // joining the bounded candidate set (≤ |q_tokens|·T rows) costs O(|cand|)
    // where the old fetched-stream anti probed every fetched token row (and
    // at 100 TB sat on the serve's widest stream). Equivalent by
    // construction: dropping a doc from the candidates drops exactly its
    // fetched rows.
    val candLive = tomb.fold(candSide)(t =>
      Layout.dropTombstoned(candSide, broadcast(t), "doc_id"))
    // MULTI-SEGMENT fetch is ONE join (round 18; the r18 before-bench
    // measured the two-segment lifecycle serves ~+1.0 s over their union
    // siblings while the ONE-part compacted_fwd ran FASTER than its union
    // twin — the per-segment join+broadcast pair was the overhead, not the
    // bucketed layout). fb = pmod(doc_id, modulus) is functionally
    // determined by doc_id within a segment, so the (fb, doc_id) equi-join
    // equals the plain doc_id join: prune each segment with its static
    // fb IN list (listing-time, exactly as before), DROP fb, union the
    // segments, and fetch with a single broadcast of the candidate set —
    // one join + one broadcast replaces one of each PER SEGMENT.
    def pruneOne(part: FwdPart): org.apache.spark.sql.DataFrame = {
      val segment =
        if (!part.df.columns.contains("fb") || !staticCand) part.df
        else {
          val buckets = candDocs
            .map(d => java.lang.Math.floorMod(d, part.buckets.toLong).toInt)
            .distinct.sorted
          if (buckets.isEmpty) part.df.filter(lit(false))
          else part.df.filter(col("fb").isin(buckets: _*))
        }
      segment.select("doc_id", "v0", "v1", "v2", "v3")
    }
    val fwdAll = fwd.map(pruneOne).reduce(_.unionByName(_))
    // Epoch guards of every persisted forward part ride the (bounded)
    // candidate side: one-row cross joins evaluated at EVERY execution, so
    // a frame whose layout was rewritten after materialization fails loud
    // (round 18 — see [[graft.ops.Layout.epochGuard]]).
    val candGuarded = Layout.withEpochGuard(
      candLive, fwd.flatMap(_.guard))
    // Same finite-candT guard as always: a full-probe serve must not
    // broadcast the unbounded candidate set.
    val candB =
      if (candT == Int.MaxValue) candGuarded else broadcast(candGuarded)
    val fetched = fwdAll.join(candB, "doc_id")
      .select("q_doc", "doc_id", "v0", "v1", "v2", "v3")
    val mx = fetched
      .join(broadcast(qt), "q_doc")
      .groupBy(col("q_doc"), col("qpos"), col("doc_id"))
      .agg(max(sim).as("ms"))
    val scores = mx.groupBy(col("q_doc"), col("doc_id"))
      .agg(expr("aggregate(transform(array_sort(collect_list(struct(qpos, ms))), " +
        "p -> p.ms), CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("score"))
    // Final top-10 cut: the same bounded TopKAggregate as the probe and
    // candidate cuts (round 17 — the house de-windowing pattern applied to
    // the serve's LAST window). The heap order (score desc, doc_id asc) is
    // exactly the old `row_number().over(partitionBy(q_doc).orderBy(...))`
    // order, so results are bit-identical and the oracles are unchanged;
    // the win is the final exchange carrying |Q|·10 map-combined rows
    // instead of every scored candidate, and no per-group sort.
    scores.groupBy(col("q_doc"))
      .agg(graft.expressions.TopKAggregate
        .topK(col("score"), col("doc_id"), 10).as("_top"))
      .select(col("q_doc"), posexplode(col("_top")))
      .select(col("q_doc"), (col("pos") + 1).as("rank"),
        col("col.id").as("doc_id"), col("col.score").as("score"))
      .orderBy("q_doc", "rank")
  }

  /** Bench hook: the in-session IVF MaxSim serve at an ARBITRARY
    * (nprobe, T) operating point — the recall/cost sweep's entry, so the
    * knob curve is measured on exactly the shipped serve code. The pinned
    * conformance row stays at (MsNprobe, MsT); this is measurement-only. */
  private[graft] def maxsimIvfServeAt(s: org.apache.spark.sql.SparkSession,
      dir: String, nprobe: Int, candT: Int): org.apache.spark.sql.DataFrame = {
    val (vocabAssigned, cents) = maxsimIvf(s, dir)
    val ctAll = corpusTokens(s, dir)
    val ct = ctAll.join(vocabAssigned.select(col("tid"), col("cluster")),
      col("h") === col("tid"))
    maxsimServe(ct, cents, ctAll, queryTokens(s, dir), nprobe, candT)
  }

  /** Bench/sweep hook: the in-session serve with a quantizer trained at an
    * ARBITRARY coarse-cell count — the kc axis of §9's sizing claim (kc
    * grows with the vocabulary at scale so cells hold constant candidate
    * share; the pinned rows stay at MsKc = 8 for the replayable oracle).
    * Trains its own Lloyd run per call (vocabulary-bounded — cheap);
    * measurement-only, never an oracle path. */
  private[graft] def maxsimServeAtKc(s: org.apache.spark.sql.SparkSession,
      dir: String, kc: Int, nprobe: Int = MsNprobe, candT: Int = MsT,
      big: Boolean = false)
      : org.apache.spark.sql.DataFrame =
    maxsimServeQuantized(s, dir, maxsimQuantizerAtKc(s, dir, kc, big),
      nprobe, candT, big)

  /** Train-only half of the kc hook (round 13 split): callers that want the
    * §9 cost curve time [[maxsimServeQuantized]] alone — training is
    * train-once/serve-many and its cost scales with kc, so folding it into
    * the serve timing buried the candidate-share signal at small SF (the
    * r12 STATUS caveat this split removes). */
  private[graft] def maxsimQuantizerAtKc(s: org.apache.spark.sql.SparkSession,
      dir: String, kc: Int, big: Boolean = false)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import graft.ops.{AnnSweep, KMeans}
    // Literal-expression Lloyd stops scaling at k ≈ 16 (the AnnSweep
    // finding: the baked-centroid expression tree explodes codegen — the
    // first kc=32 measurement spent 12+ s in training, not serving); past
    // it, train on the join path (same seeds, same fixed-point means).
    val (a0, c0) =
      if (kc <= 16) KMeans.lloyd(tokenVocab(s, dir, big), "tid", "v", kc,
        MsIters, dims = 4)
      else AnnSweep.lloydJoin(tokenVocab(s, dir, big), "tid", "v", kc,
        MsIters, dims = 4)
    // The pinned serve reads a PERSISTED assignment (maxsimIvf's cache);
    // an eager localCheckpoint gives this hook the same property — without
    // it the multi-round training lineage re-executes inside every serve
    // branch that references it, and the hook measures training, not
    // serving.
    (a0.localCheckpoint(), c0.localCheckpoint())
  }

  /** Serve-only half of the kc hook: the shipped two-stage serve over a
    * pre-trained (assignment, centroids) pair from [[maxsimQuantizerAtKc]]. */
  private[graft] def maxsimServeQuantized(s: org.apache.spark.sql.SparkSession,
      dir: String,
      q: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
      nprobe: Int = MsNprobe, candT: Int = MsT, big: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    val (a, c) = q
    val ctAll = corpusTokens(s, dir, big)
    // Explicit broadcast of the vocabulary assignment: the dictionary is
    // bounded by design (≪ the token stream), but a localCheckpoint'd
    // DataFrame carries no size stats, so static planning can fall back
    // to a sort-merge join that shuffles the whole token stream BY HASH —
    // a corpus-wide exchange the hook exists to exclude.
    val ct = ctAll.join(broadcast(a.select(col("tid"), col("cluster"))),
      col("h") === col("tid"))
    maxsimServe(ct, c.select(col("cluster"), col("cent")), ctAll,
      queryTokens(s, dir, big = big), nprobe, candT)
  }

  /** Bench hook: the PERSISTED token-IVF serve at an arbitrary probe
    * modulus — the probe-axis sweep's entry (|Q| = |docs| / mod at fixed
    * corpus), on the exact shipped serve path the pinned row uses. */
  private[graft] def maxsimPersistedServeAtProbes(
      s: org.apache.spark.sql.SparkSession, dir: String, mod: Int)
      : org.apache.spark.sql.DataFrame = {
    val path = maxsimIndex(s, dir)
    val cells = s.read.parquet(s"$path/cells")
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
    maxsimServe(cells, s.read.parquet(s"$path/cents"),
      maxsimForward(s, path), queryTokens(s, dir, mod))
  }

  /** Measurement hook (the kc-axis split discipline): build a forward
    * layout at an ARBITRARY bucket count UNTIMED, return the timed serve —
    * the §9 bucket-sensitivity datum (serve cost should be insensitive to
    * the modulus while the pruned fraction moves; see [[msFwdBucketsFor]]).
    * Deliberately cache-less: a one-off layout per knob value must not
    * evict the session's shared pipeline caches. */
  private[graft] def maxsimFwdLayoutAtBuckets(
      s: org.apache.spark.sql.SparkSession, dir: String, buckets: Int): String =
    writeForwardBuckets(s.read.parquet(s"${maxsimIndex(s, dir)}/cells"),
      s"graft_msfwd_b$buckets", buckets)

  private[graft] def maxsimFwdServeAtBuckets(
      s: org.apache.spark.sql.SparkSession, dir: String, layout: String,
      buckets: Int): org.apache.spark.sql.DataFrame = {
    val path = maxsimIndex(s, dir)
    val cells = s.read.parquet(s"$path/cells")
      .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
    val part = fwdPart(s, layout)
    require(part.buckets == buckets,
      s"layout $layout was written with ${part.buckets} buckets, caller says $buckets")
    maxsimServeParts(cells, s.read.parquet(s"$path/cents"),
      Seq(part), queryTokens(s, dir))
  }

  /** Stage-2 forward token table OF THE INDEX ITSELF: the cells layout
    * already holds every corpus-token occurrence with its dims, so the
    * persisted serve's exact rerank is a second columnar read of the index
    * — never a re-explode of the text (round 12's 100× inversion: the
    * persisted path paid the in-session path's full explode + repartition
    * AGAIN for stage 2, on top of its own index scan + shuffle — two
    * corpus-sized passes where in-session reuses one exchange). No
    * repartition here: the stage-2 join broadcasts the bounded candidate
    * set, so this branch needs no distribution and its partial max runs at
    * scan parallelism. */
  private def maxsimForward(s: org.apache.spark.sql.SparkSession,
      path: String) =
    s.read.parquet(s"$path/cells").select("doc_id", "v0", "v1", "v2", "v3")

  /** Session-scoped DISK token-IVF index (train-once / serve-many, the
    * kmeansIndex discipline): `cells/` = every corpus-token occurrence
    * with its dims, PARTITIONED by the trained cluster — the persisted
    * serve's stage-1 scan prunes to the probed cells' directories;
    * `cents/` = the centroid table. The stage-2 forward fetch reads the
    * index's own cells — or, for the bounded-at-scale variant, the
    * doc_id-bucketed [[maxsimForwardBucketed]] component (round 14).
    * [[maxsimIndexBig]] is the same layout over [[bigVocabDocs]] with the
    * big quantizer: the lifecycle's base segment (see below). */
  private[graft] val maxsimIndex =
    shared("maxsim_ivf_index")(writeMaxsimIndex(_, _, big = false))

  private def writeMaxsimIndex(s: org.apache.spark.sql.SparkSession, dir: String,
      big: Boolean): String = {
    val (assigned, cents) = (if (big) maxsimIvfBig else maxsimIvf)(s, dir)
    val tmp = graft.engine.TempDirs.create(
      if (big) "graft_msivf_big" else "graft_msivf")
    writeMaxsimCells(corpusTokens(s, dir, big), assigned, s"$tmp/cells")
    cents.write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$tmp/cents")
    tmp
  }

  /** Token rows → their trained cell → one doc-ordered file per cell
    * ([[graft.ops.Layout.writeCells]]), for the base and delta cells. */
  private def writeMaxsimCells(tokens: org.apache.spark.sql.DataFrame,
      assigned: org.apache.spark.sql.DataFrame, path: String): Unit =
    Layout.writeCells(
      tokens.join(assigned.select(col("tid"), col("cluster")), col("h") === col("tid"))
        .select("cluster", "doc_id", "v0", "v1", "v2", "v3"),
      "cluster", path, Seq(col("doc_id")))

  /** DOC_ID-BUCKETED forward component (round 14, closing the structure
    * `maxsimServe`'s scaladoc names): the index's token occurrences
    * rewritten once, partitioned by `fb = pmod(doc_id, MsFwdBuckets)` —
    * one file per bucket (the ivf_pq_compact discipline). The cells-as-
    * forward read is CORRECT but scans every cell file at serve time
    * (linear in the corpus); against this layout, the stage-2 candidate
    * fetch dynamic-partition-prunes to the ≤ |q_tokens|·T candidate docs'
    * buckets, so the forward read is bounded by the WORKLOAD, not the
    * corpus. Build is one linear pass over the already-built index. */
  private val maxsimForwardBucketed = shared("maxsim_forward") { (s, dir) =>
    writeForwardBuckets(s.read.parquet(s"${maxsimIndex(s, dir)}/cells"),
      "graft_msfwd", MsFwdBuckets)
  }

  /** One linear pass: token rows → fb = pmod(doc_id, buckets) → one file
    * per bucket dir ([[graft.ops.Layout.writeCells]]; pmod keeps negative
    * delta doc_ids in range, matching the serve's candidate-side fb). */
  private def writeForwardBuckets(df: org.apache.spark.sql.DataFrame,
      tag: String, buckets: Int): String = {
    val tmp = graft.engine.TempDirs.create(tag)
    Layout.writeCells(
      df.select(col("doc_id"), col("v0"), col("v1"), col("v2"), col("v3"))
        .withColumn("fb", pmod(col("doc_id"), lit(buckets)).cast("int")),
      "fb", s"$tmp/forward", Seq(col("doc_id")), maxCells = buckets)
    // The modulus is PART OF THE LAYOUT (advice r15): a serve whose
    // candidate-side fb disagrees with the modulus the buckets were
    // written with silently matches nothing — candidate docs would drop
    // from results, a wrong answer, not an error. Persist it beside the
    // data and make [[fwdPart]] the only way a serve learns it.
    val s = df.sparkSession
    import s.implicits._
    Seq(buckets).toDF("buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/forward_meta")
    // Epoch LAST — the stamp marks a complete layout ([[graft.ops.Layout]]).
    Layout.stampEpoch(s, tmp)
    tmp
  }

  /** The ONLY constructor for a bucketed [[FwdPart]]: reads the layout's
    * forward table and its PERSISTED modulus together, so serve-side fb
    * computation can never disagree with the layout (the silent
    * wrong-answer hazard of threading the modulus by hand). */
  private def fwdPart(s: org.apache.spark.sql.SparkSession,
      layoutPath: String): FwdPart =
    FwdPart(s.read.parquet(s"$layoutPath/forward"),
      s.read.parquet(s"$layoutPath/forward_meta").head().getInt(0),
      // Staleness guard (round 18): the serve core freezes its candidate
      // selection at construction, so each bucketed part carries an
      // execution-time epoch assertion — a frame reused across a layout
      // rewrite fails loud instead of serving the stale selection.
      Layout.epochGuard(s, layoutPath))

  private val maxsimIndexBig =
    shared("maxsim_ivf_index_big")(writeMaxsimIndex(_, _, big = true))

  // ---- token-IVF index LIFECYCLE (round 13): append / delete / compact —
  // the same segment discipline the BM25 impact index and the IVF-PQ index
  // carry, closing the asymmetry where the late-interaction index could
  // only ever be rebuilt from scratch. The lifecycle runs on the BIGVOCAB
  // corpus deliberately: on the 31-word base corpus MaxSim scores tie
  // massively (every full-profile doc reaches the identical per-token max,
  // and the doc_id tiebreak pins the lowest ids), so an appended doc could
  // NEVER surface in a top-10 and a serve that silently dropped the delta
  // would still pass — measured before switching: append ≡ base, delta
  // rows unreachable. On the salted corpus scores discriminate, so the
  // oracle genuinely exercises both the appended and the deleted docs
  // (clones tie ONLY with their source and land adjacent to it).

  /** The append batch: re-identified clones of the mod-3 BIGVOCAB docs.
    * The salt is computed from the SOURCE id (transform first, re-id
    * after), so every delta token is inside the trained vocabulary —
    * total stage-1 coverage, and the clone ties exactly with its source.
    *
    * Delta ids live in the NEGATIVE namespace (-(source+1)), not the
    * +1e15 convention the other index deltas use — deliberately: every
    * tie in this suite breaks by doc_id ASC, so a HIGH-namespace clone
    * loses every tie against its source and (measured at sf0.001 AND
    * sf0.1) can never enter a top-10 or even the stage-1 candidate cut —
    * a serve that silently DROPPED the delta produced bit-identical
    * results. Negative ids win those ties instead, so "appended docs are
    * actually served" is an observable property of this row's oracle
    * equality (the clone ranks immediately BEFORE its source wherever the
    * source appeared). Disjointness holds at any replica factor (replica
    * ids stay non-negative), and no mod-based fixture filter can match a
    * negative id (JVM and SQL `%` both keep the sign). */
  private def maxsimDeltaDocs(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    bigVocabDocs(s, dir).filter(col("doc_id") % 10 === 3)
      .select((-(col("doc_id") + 1)).as("doc_id"), col("text"))

  /** DELTA cells under the FROZEN quantizer (the ivf_pq_delta discipline):
    * the batch's tokens are assigned with the persisted trained
    * assignment — no retraining, base cells untouched; the delta lands as
    * its own cells directory beside the base index. A delta token whose
    * word were OUTSIDE the trained vocabulary would drop from stage 1 (no
    * cell to probe — the df = 0 analog) — this batch is source-salted
    * clones, so coverage is total. */
  private[graft] val maxsimDeltaCells = shared("maxsim_ivf_delta") { (s, dir) =>
    val tmp = graft.engine.TempDirs.create("graft_msivf_delta")
    writeMaxsimCells(tokensOf(maxsimDeltaDocs(s, dir)), maxsimIvfBig(s, dir)._1,
      s"$tmp/cells")
    tmp
  }

  /** Tombstones against the bigvocab base index (mod-4 base docs, the BM25
    * delete fixture's family): an O(|deletes|) doc_id table under the
    * index dir — postings untouched until compaction. Returns the index
    * path with `tombstones/` guaranteed present. */
  private[graft] val maxsimTombstoned = shared("maxsim_ivf_tombstones") { (s, dir) =>
    val path = maxsimIndexBig(s, dir)
    Layout.writeTombstones(Catalog.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === 4), "doc_id", path)
    path
  }

  /** Live cells of the lifecycle: base ∪ delta, minus the base index's
    * tombstones when `deleted`. */
  private[graft] def maxsimLiveCells(s: org.apache.spark.sql.SparkSession,
      dir: String, deleted: Boolean) = {
    val base = if (deleted) maxsimTombstoned(s, dir) else maxsimIndexBig(s, dir)
    Layout.live(s, Seq(base, maxsimDeltaCells(s, dir)).map(p => s"$p/cells"),
      "doc_id", Option.when(deleted)(base))
  }

  /** Post-delete COMPACTION: live (base ∪ delta − tombstones) cells
    * rewritten as ONE cluster-partitioned layout under the SAME frozen
    * centroids — pure reorganization, so serving from it must BIT-equal
    * the tombstone-filtered union serve (the segment-split-invariance
    * discipline; both rows share one oracle). */
  private val maxsimLifecycleCompacted = shared("maxsim_ivf_compact") { (s, dir) =>
    val base = maxsimTombstoned(s, dir)
    val out = graft.engine.TempDirs.create("graft_msivf_compact")
    Layout.writeCells(maxsimLiveCells(s, dir, deleted = true), "cluster",
      s"$out/cells", Seq(col("doc_id")))
    s.read.parquet(s"$base/cents").write.mode("overwrite")
      .option("compression", "zstd").parquet(s"$out/cents")
    out
  }

  /** `big` = the forward component of the BIGVOCAB base index — the
    * lifecycle serves' base segment (round 15: the append/delete/compacted
    * serves previously forward-read the cells union, correct but
    * corpus-linear at serve time — the exact shape the base serve's fwd row
    * escaped in r14). */
  private val maxsimForwardBig = shared("maxsim_forward_big") { (s, dir) =>
    writeForwardBuckets(s.read.parquet(s"${maxsimIndexBig(s, dir)}/cells"),
      "graft_msfwd_big", MsFwdBuckets)
  }

  /** Forward component of the DELTA segment, written beside the base with
    * its OWN (smaller) modulus — the ivf_pq_append discipline applied to
    * the forward table: ingest never rewrites base buckets. */
  private val maxsimForwardDelta = shared("maxsim_forward_delta") { (s, dir) =>
    writeForwardBuckets(
      s.read.parquet(s"${maxsimDeltaCells(s, dir)}/cells"),
      "graft_msfwd_delta", MsFwdDeltaBuckets)
  }

  /** Post-delete forward COMPACTION: a genuine merge of the two forward
    * COMPONENT layouts (base ∪ delta bucket dirs, tombstones dropped),
    * rewritten under one modulus — it never goes back to the cells, so
    * compacting the forward costs one pass over the forward itself. */
  private val maxsimForwardCompacted = shared("maxsim_forward_compact") { (s, dir) =>
    val live = Layout.live(s,
      Seq(maxsimForwardBig(s, dir), maxsimForwardDelta(s, dir))
        .map(p => s"$p/forward"),
      "doc_id", Some(maxsimTombstoned(s, dir)))
    writeForwardBuckets(live, "graft_msfwd_compact", MsFwdBuckets)
  }

  /** Named builders for bench attribution (see SparkEntry.pipelines). */
  def pipelines: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Unit)] =
    shared.pipelines
  /** The ONE DuckDB oracle for both IVF MaxSim serves (in-session and
    * persisted must be bit-equal — the ann_ivf_kmeans(_persisted)
    * discipline): replays vocabulary build, fixed-point Lloyd, per-token
    * probe, stage-1 candidate ranks, and the exact stage-2 rerank. */
  private def maxsimIvfOracle: String = maxsimIvfOracleOver(big = false)

  /** The IVF MaxSim serve oracle, parameterized by lifecycle state:
    * `big` swaps in the bigvocab corpus; `append` unions the mod-3 delta
    * batch (negative-namespace ids — see [[maxsimDeltaDocs]] for why not
    * +1e15) into the SERVED token stream while the quantizer
    * still trains on the BASE vocabulary (frozen-centroid semantics);
    * `deleted` filters the mod-4 base docs out of SCORING while the
    * quantizer keeps its as-trained state. Queries stay the base probe
    * set in every variant. */
  private def maxsimIvfOracleOver(big: Boolean, append: Boolean = false,
      deleted: Boolean = false): String = {
    import graft.functions.Hashing.{polyHashDuck, A, B, P}
    import graft.ops.KMeans
    val cdims = (0 until 4)
      .map(i => s"CAST((h * ${A(i)} + ${B(i)}) % $P AS DOUBLE) / $P.0 AS v$i")
      .mkString(", ")
    val qdims = (0 until 4)
      .map(i => s"CAST((h * ${A(i)} + ${B(i)}) % $P AS DOUBLE) / $P.0 AS q$i")
      .mkString(", ")
    val vlist = "[" + (0 until 4)
      .map(i => s"CAST((h * ${A(i)} + ${B(i)}) % $P AS DOUBLE) / $P.0")
      .mkString(", ") + "]"
    val simSql = (0 until 4).map(i => s"q.q$i * c.v$i").mkString(" + ")
    val sdocs =
      if (append)
        """sdocs AS (SELECT doc_id, text FROM mdocs
          |  UNION ALL
          |  SELECT -(doc_id + 1) AS doc_id, text
          |  FROM mdocs WHERE doc_id % 10 = 3)""".stripMargin
      else "sdocs AS (SELECT doc_id, text FROM mdocs)"
    val liveWhere =
      if (deleted)
        "WHERE NOT (doc_id % 10 = 4 AND doc_id < 1000000000000000)"
      else ""
    Q.materializeCtes(
      s"""WITH ${docsCte(big)},
         |$sdocs,
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM mdocs),
         |th AS (SELECT doc_id, ${polyHashDuck("t")} AS h FROM tok),
         |voc AS (SELECT DISTINCT h FROM th),
         |vv AS (SELECT h AS tid, $vlist AS v FROM voc),
         |${KMeans.oracleCtes("vv", "tid", "v", MsKc, MsIters, 4, "mx")},
         |stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |         FROM sdocs $liveWhere),
         |sth AS (SELECT doc_id, ${polyHashDuck("t")} AS h FROM stok),
         |cta AS (SELECT sth.doc_id, sth.h AS h, a.cluster
         |        FROM sth JOIN mxa$MsIters a ON a.tid = sth.h),
         |ctv AS (SELECT doc_id, cluster, $cdims FROM cta),
         |q0 AS (SELECT doc_id AS q_doc, string_split(text, ' ') AS w
         |       FROM mdocs WHERE doc_id % 250 = 0 AND doc_id < 1000000000),
         |q1 AS (SELECT q_doc, z.x.p AS qpos, z.x.t AS t FROM (
         |         SELECT q_doc, unnest(list_transform(range(1, len(w) + 1),
         |             i -> {'p': i, 't': w[CAST(i AS INT)]})) AS x
         |         FROM q0) z),
         |qh AS (SELECT q_doc, qpos, ${polyHashDuck("t")} AS h FROM q1),
         |qv AS (SELECT q_doc, qpos, $qdims FROM qh),
         |qvl AS (SELECT q_doc, qpos, $vlist AS v FROM qh),
         |pr AS (SELECT q_doc, qpos, cluster FROM (
         |         SELECT q.q_doc, q.qpos, c.cluster,
         |                ROW_NUMBER() OVER (PARTITION BY q.q_doc, q.qpos
         |                  ORDER BY ${KMeans.distDuck("q.v", "c.cent", 4)} ASC,
         |                           c.cluster ASC) AS rn
         |         FROM qvl q, mxc$MsIters c) x WHERE rn <= $MsNprobe),
         |s1 AS (SELECT q.q_doc, q.qpos, c.doc_id, MAX($simSql) AS ms
         |       FROM qv q
         |       JOIN pr p ON p.q_doc = q.q_doc AND p.qpos = q.qpos
         |       JOIN ctv c ON c.cluster = p.cluster AND c.doc_id <> q.q_doc
         |       GROUP BY q.q_doc, q.qpos, c.doc_id),
         |rd AS (SELECT q_doc, qpos, doc_id,
         |              ROW_NUMBER() OVER (PARTITION BY q_doc, qpos
         |                ORDER BY ms DESC, doc_id ASC) AS rn
         |       FROM s1),
         |cand AS (SELECT DISTINCT q_doc, doc_id FROM rd WHERE rn <= $MsT),
         |ctf AS (SELECT doc_id, $cdims FROM sth),
         |mx AS (SELECT q.q_doc, q.qpos, c.doc_id, MAX($simSql) AS ms
         |       FROM qv q
         |       JOIN cand d ON d.q_doc = q.q_doc
         |       JOIN ctf c ON c.doc_id = d.doc_id
         |       GROUP BY q.q_doc, q.qpos, c.doc_id),
         |sc AS (SELECT q_doc, doc_id,
         |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list_transform(list_sort(list({'p': qpos, 'm': ms})), x -> x.m)),
         |           (a, b) -> a + b) AS score
         |       FROM mx GROUP BY q_doc, doc_id),
         |r AS (SELECT q_doc, doc_id, score,
         |             ROW_NUMBER() OVER (PARTITION BY q_doc
         |               ORDER BY score DESC, doc_id ASC) AS rank
         |      FROM sc)
         |SELECT q_doc, rank, doc_id, score FROM r WHERE rank <= 10
         |ORDER BY q_doc, rank""".stripMargin)
  }

  val all: Seq[Q] = Seq(

    // L2 normalization of the embedding column (array-transform over the
    // vector, norm via the native dot product) — unit-sphere projection is
    // the usual prep before cosine/IP search. Output is exploded to scalar
    // (vec_id, i, unit_val) rows — same shape as mm_feature_extract — so the
    // driver's comparator (which can't sort array columns) can hash it.
    Q("embed_l2_normalize",
      (s, dir) => {
        val e = Catalog.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"),
            Similarity.norm(col("embedding")).as("nrm"))
        e.select(col("vec_id"), col("nrm"),
            posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE) / nrm)")))
          .select(col("vec_id"), col("nrm"),
            col("pos").as("i"), col("col").as("unit_val"))
          .orderBy("vec_id", "i")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |                 ${Similarity.normDuck("embedding")} AS nrm FROM embeddings),
              |u AS (SELECT vec_id, nrm, embedding,
              |             unnest(range(0, len(embedding))) AS i FROM e)
              |SELECT vec_id, nrm, CAST(i AS INTEGER) AS i,
              |  CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) / nrm AS unit_val
              |FROM u ORDER BY vec_id, i""".stripMargin)),

    // Array scalar surface over the embedding column: size, element access,
    // slice, min/max — every output widened to DOUBLE (float scalars repr
    // differently across engines; float→double widening is exact).
    Q("array_funcs",
      (s, dir) =>
        Catalog.load(s, dir, "embeddings").selectExpr(
            "vec_id",
            "size(embedding) AS dim",
            "CAST(embedding[0] AS DOUBLE) AS e_first",
            "CAST(element_at(embedding, -1) AS DOUBLE) AS e_last",
            "CAST(array_min(embedding) AS DOUBLE) AS e_min",
            "CAST(array_max(embedding) AS DOUBLE) AS e_max",
            "size(slice(embedding, 1, 8)) AS head_n")
          .orderBy("vec_id"),
      Some("""SELECT vec_id,
             |  CAST(len(embedding) AS INT) AS dim,
             |  CAST(embedding[1] AS DOUBLE) AS e_first,
             |  CAST(embedding[-1] AS DOUBLE) AS e_last,
             |  CAST(list_min(embedding) AS DOUBLE) AS e_min,
             |  CAST(list_max(embedding) AS DOUBLE) AS e_max,
             |  CAST(len(list_slice(embedding, 1, 8)) AS INT) AS head_n
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // Higher-order array lambdas (transform / filter / exists / forall /
    // aggregate-fold) — the codegen'd per-row loop surface that replaces
    // row-explode + regroup for array work (no shuffle, no UDF). Floats are
    // quantized to integer thousandths INSIDE the lambda so the left-fold
    // sum is exact in both engines (a raw float fold would be order-
    // sensitive only across engines' summation, not here — both fold left —
    // but integers make the contract unconditional). DuckDB spells the
    // quantifiers via list_filter lengths and the fold via list_aggregate.
    // sum_milli widens each float to DOUBLE before the multiply: engines
    // disagree on FLOAT*INT promotion (single- vs double-precision product),
    // and a product landing on a .5 boundary in one precision but not the
    // other shifts round() by 1 — caught by the sf0.1 sweep at vec 1879.
    // With an explicit double multiply both run the identical IEEE sequence.
    Q("scalar_lambda_funcs",
      (s, dir) =>
        Catalog.load(s, dir, "embeddings").selectExpr(
            "vec_id",
            "aggregate(transform(embedding, x -> " +
              "CAST(round(CAST(x AS DOUBLE) * CAST(1000 AS DOUBLE)) AS BIGINT)), " +
              "0L, (a, x) -> a + x) AS sum_milli",
            "size(filter(embedding, x -> x > 0)) AS n_pos",
            "exists(embedding, x -> x > 0.95) AS has_big",
            "forall(embedding, x -> x > -1.1) AS all_gt")
          .orderBy("vec_id"),
      Some("""SELECT vec_id,
             |  CAST(list_aggregate(
             |    list_transform(embedding, x ->
             |      CAST(round(CAST(x AS DOUBLE) * CAST(1000 AS DOUBLE)) AS BIGINT)),
             |    'sum') AS BIGINT) AS sum_milli,
             |  CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
             |  len(list_filter(embedding, x -> x > 0.95)) > 0 AS has_big,
             |  len(list_filter(embedding, x -> NOT (x > -1.1))) = 0 AS all_gt
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // SRP-LSH (hyperplane) near-dup pairs — label-free angular bucketing:
    // 16 sign-of-projection bits in 2 bands, equi-join per band, exact
    // cosine verify. The plane literals are generated from shared constants
    // so both engines compute identical signatures.
    Q("dedup_srp_lsh",
      (s, dir) =>
        Similarity.srpPairs(Catalog.load(s, dir, "embeddings"),
            "vec_id", "embedding", threshold = 0.4, dims = 64)
          .orderBy("v1", "v2"),
      Some {
        val bits = Similarity.SrpBandBits
        val mask = (1L << bits) - 1
        s"""WITH e AS (SELECT vec_id, embedding,
           |                  ${Similarity.normDuck("embedding")} AS nrm,
           |                  ${Similarity.srpSigDuck("embedding", 64)} AS sig
           |           FROM embeddings),
           |b AS (SELECT vec_id, embedding, nrm, sig, t.k,
           |             (sig >> (t.k*$bits)) & $mask AS bv
           |      FROM e, (SELECT unnest(range(0, ${Similarity.SrpBands})) AS k) t),
           |p AS (SELECT l.vec_id AS v1, r.vec_id AS v2,
           |             ${Similarity.dotDuck("l.embedding", "r.embedding")} / (l.nrm * r.nrm) AS cos
           |      FROM b l JOIN b r
           |        ON l.k = r.k AND l.bv = r.bv AND l.vec_id < r.vec_id
           |      WHERE l.k = 0
           |         OR (l.k = 1 AND ((l.sig >> 0) & $mask) <> ((r.sig >> 0) & $mask)))
           |SELECT v1, v2, cos FROM p WHERE cos >= 0.4 ORDER BY v1, v2""".stripMargin
      }),

    // Brute-force exact top-10 by cosine — the recall=1.0 baseline.
    Q("ann_bruteforce_topk",
      (s, dir) => {
        val vecs = Catalog.load(s, dir, "embeddings")
        Similarity.knnBruteForce(vecs, vecs.filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", k = 10)
          .orderBy("q_vec", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |                  ${Similarity.normDuck("embedding")} AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS q_vec, embedding AS q_emb,
              |             ${Similarity.normDuck("embedding")} AS q_nrm FROM embeddings
              |      WHERE vec_id % 100 = 0),
              |scored AS (SELECT q_vec, e.vec_id AS neighbor,
              |                  ${Similarity.dotDuck("q_emb", "e.embedding")} / (q_nrm * nrm) AS cos
              |           FROM e, q WHERE e.vec_id <> q.q_vec),
              |r AS (SELECT q_vec, neighbor, cos,
              |             ROW_NUMBER() OVER (PARTITION BY q_vec
              |                                ORDER BY cos DESC, neighbor ASC) AS rank
              |      FROM scored)
              |SELECT q_vec, rank, neighbor, cos FROM r WHERE rank <= 10
              |ORDER BY q_vec, rank""".stripMargin)),

    // Matryoshka-truncation serving trade (MRL-style): top-10 cosine over
    // the FIRST-16-DIM prefix of each embedding, with every truncated hit
    // flagged against the full-64-dim top-10 — the measurement behind
    // "serve the cheap prefix, rerank with the full vector": per probe,
    // the in_full_topk count IS prefix recall@10, carried per row so the
    // trade is visible at any corpus. Cost shape: two brute-force passes
    // (probe-bounded broadcasts, |Q|·|V| work by construction — excluded
    // from sweeps like ann_bruteforce_topk); at scale the prefix pass is
    // the IVF serve over a 16-dim index, same composition. The prefix
    // cosine is the identical left-fold IEEE sequence on the sliced
    // array, so both engines agree bit-for-bit.
    Q("embed_matryoshka_topk",
      (s, dir) => {
        val vecs = Catalog.load(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val t = vecs.select(col("vec_id"),
          expr("slice(embedding, 1, 16)").as("emb16"))
        val topT = Similarity.knnBruteForce(t,
          t.filter(col("vec_id") % 100 === 0), "vec_id", "emb16", k = 10)
        val topF = Similarity.knnBruteForce(vecs,
            vecs.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", k = 10)
          .select(col("q_vec").as("_qf"), col("neighbor").as("_nf"),
            lit(1).as("_hit"))
        topT.join(topF,
            col("q_vec") === col("_qf") && col("neighbor") === col("_nf"),
            "left")
          .select(col("q_vec"), col("rank"), col("neighbor"),
            col("cos").as("cos16"), col("_hit").isNotNull.as("in_full_topk"))
          .orderBy("q_vec", "rank")
      },
      Some(s"""WITH t AS (SELECT vec_id, list_slice(embedding, 1, 16) AS e16
              |           FROM embeddings),
              |tn AS (SELECT vec_id, e16, ${Similarity.normDuck("e16")} AS nrm FROM t),
              |tq AS (SELECT vec_id AS q_vec, e16 AS q16, nrm AS q_nrm FROM tn
              |       WHERE vec_id % 100 = 0),
              |ts AS (SELECT q_vec, tn.vec_id AS neighbor,
              |              ${Similarity.dotDuck("q16", "tn.e16")} / (q_nrm * tn.nrm) AS cos16
              |       FROM tn, tq WHERE tn.vec_id <> tq.q_vec),
              |tr AS (SELECT q_vec, neighbor, cos16,
              |              ROW_NUMBER() OVER (PARTITION BY q_vec
              |                ORDER BY cos16 DESC, neighbor ASC) AS rank
              |       FROM ts),
              |f AS (SELECT vec_id, embedding,
              |             ${Similarity.normDuck("embedding")} AS nrm FROM embeddings),
              |fq AS (SELECT vec_id AS q_vec, embedding AS q_emb, nrm AS q_nrm
              |       FROM f WHERE vec_id % 100 = 0),
              |fs AS (SELECT q_vec, f.vec_id AS neighbor,
              |              ${Similarity.dotDuck("q_emb", "f.embedding")} / (q_nrm * f.nrm) AS cos
              |       FROM f, fq WHERE f.vec_id <> fq.q_vec),
              |fr AS (SELECT q_vec, neighbor,
              |              ROW_NUMBER() OVER (PARTITION BY q_vec
              |                ORDER BY cos DESC, neighbor ASC) AS rank
              |       FROM fs),
              |ff AS (SELECT q_vec, neighbor FROM fr WHERE rank <= 10)
              |SELECT tr.q_vec, tr.rank, tr.neighbor, tr.cos16,
              |       ff.neighbor IS NOT NULL AS in_full_topk
              |FROM tr LEFT JOIN ff
              |  ON ff.q_vec = tr.q_vec AND ff.neighbor = tr.neighbor
              |WHERE tr.rank <= 10
              |ORDER BY tr.q_vec, tr.rank""".stripMargin)),

    // Late-interaction (ColBERT-style MaxSim) retrieval — the third
    // retrieval paradigm beside single-vector dense search and rank-level
    // hybrid fusion: score(q, d) = Σ over q's token positions of the MAX
    // similarity between that query token and ANY token of d, so a doc
    // matching every query term somewhere beats one matching a single
    // term everywhere. Token vectors here are the deterministic
    // pseudo-embedding stub (4 dims from the token polyhash through the
    // minhash affine family — the multimodal-decode stub discipline: the
    // Spark-side plumbing is real, the encoder is swapped at deployment).
    // Exactness discipline: per-pair sim is one fixed-order 4-term
    // expression; per-token MAX is order-independent; the per-doc SUM of
    // maxes folds in query-token-position order over a sorted struct list
    // (a shuffled double sum would be partitioning-dependent). Cost shape:
    // probe-bounded broadcast cross (|Q_tokens|·|corpus_tokens|, the
    // exactness baseline like ann_bruteforce_topk — at scale each query
    // token probes a token-level IVF index and the same MAX/fold
    // aggregation runs on candidates only).
    Q("retrieval_maxsim_topk",
      (s, dir) => {
        import graft.expressions.PolyHash.polyHash
        import graft.functions.Hashing.{A, B, P}
        val docs = Catalog.load(s, dir, "documents")
        def dims(c: String) = (0 until 4).map(i =>
          expr(s"CAST(($c * ${A(i)} + ${B(i)}) % $P AS DOUBLE) / $P.0").as(s"v$i"))
        // Explicit-count repartition of the corpus-token side: the explode
        // inherits the documents scan's file partitioning (ONE task on a
        // single-file corpus), which serializes the probe-broadcast cross
        // behind it — measured 24.6 s vs 2-3 s spread (the same
        // low-parallelism trap the ngram miner documented; the count must
        // be explicit or AQE coalesces the small token table to one
        // partition and re-serializes everything downstream).
        val ct = docs
          .select(col("doc_id"), explode(expr("split(text, ' ')")).as("tok"))
          .select(Seq(col("doc_id"), polyHash(col("tok")).as("h")): _*)
          .select(col("doc_id") +: dims("h"): _*)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        val qt = docs.filter(col("doc_id") % 250 === 0)
          .select(col("doc_id").as("q_doc"),
            posexplode(expr("split(text, ' ')")).as(Seq("qpos", "tok")))
          .select(Seq(col("q_doc"), col("qpos"), polyHash(col("tok")).as("h")): _*)
          .select(col("q_doc") +: col("qpos") +: (0 until 4).map(i =>
            expr(s"CAST((h * ${A(i)} + ${B(i)}) % $P AS DOUBLE) / $P.0").as(s"q$i")): _*)
        val sim = (0 until 4).map(i => col(s"q$i") * col(s"v$i")).reduce(_ + _)
        val maxes = ct.join(broadcast(qt), col("doc_id") =!= col("q_doc"))
          .groupBy(col("q_doc"), col("qpos"), col("doc_id"))
          .agg(max(sim).as("ms"))
        val scores = maxes.groupBy(col("q_doc"), col("doc_id"))
          .agg(expr("aggregate(transform(array_sort(collect_list(struct(qpos, ms))), " +
            "p -> p.ms), CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("score"))
        // Bounded top-10 cut (round 17): heap order (score desc, doc_id
        // asc) ≡ the row_number window order it replaces — bit-identical
        // results, same oracle; the exchange ships |Q|·10 map-combined
        // rows instead of every (q_doc, doc_id) score and skips the sort.
        scores.groupBy(col("q_doc"))
          .agg(graft.expressions.TopKAggregate
            .topK(col("score"), col("doc_id"), 10).as("_top"))
          .select(col("q_doc"), posexplode(col("_top")))
          .select(col("q_doc"), (col("pos") + 1).as("rank"),
            col("col.id").as("doc_id"), col("col.score").as("score"))
          .orderBy("q_doc", "rank")
      },
      Some {
        import graft.functions.Hashing.{polyHashDuck, A, B, P}
        val cdims = (0 until 4)
          .map(i => s"CAST((h * ${A(i)} + ${B(i)}) % $P AS DOUBLE) / $P.0 AS v$i")
          .mkString(", ")
        val qdims = (0 until 4)
          .map(i => s"CAST((h * ${A(i)} + ${B(i)}) % $P AS DOUBLE) / $P.0 AS q$i")
          .mkString(", ")
        val simSql = (0 until 4).map(i => s"q.q$i * c.v$i").mkString(" + ")
        s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
           |th AS (SELECT doc_id, ${polyHashDuck("t")} AS h FROM tok),
           |ct AS (SELECT doc_id, $cdims FROM th),
           |q0 AS (SELECT doc_id AS q_doc, string_split(text, ' ') AS w
           |       FROM documents WHERE doc_id % 250 = 0),
           |q1 AS (SELECT q_doc, z.x.p AS qpos, z.x.t AS t FROM (
           |         SELECT q_doc, unnest(list_transform(range(1, len(w) + 1),
           |             i -> {'p': i, 't': w[CAST(i AS INT)]})) AS x
           |         FROM q0) z),
           |qh AS (SELECT q_doc, qpos, ${polyHashDuck("t")} AS h FROM q1),
           |qv AS (SELECT q_doc, qpos, $qdims FROM qh),
           |mx AS (SELECT q.q_doc, q.qpos, c.doc_id, MAX($simSql) AS ms
           |       FROM qv q, ct c WHERE c.doc_id <> q.q_doc
           |       GROUP BY q.q_doc, q.qpos, c.doc_id),
           |sc AS (SELECT q_doc, doc_id,
           |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |           list_transform(list_sort(list({'p': qpos, 'm': ms})), x -> x.m)),
           |           (a, b) -> a + b) AS score
           |       FROM mx GROUP BY q_doc, doc_id),
           |r AS (SELECT q_doc, doc_id, score,
           |             ROW_NUMBER() OVER (PARTITION BY q_doc
           |               ORDER BY score DESC, doc_id ASC) AS rank
           |      FROM sc)
           |SELECT q_doc, rank, doc_id, score FROM r WHERE rank <= 10
           |ORDER BY q_doc, rank""".stripMargin
      }),

    // Token-level IVF MaxSim serve — the late-interaction paradigm's scale
    // path (the row above is its exactness baseline, like
    // ann_bruteforce_topk is dense ANN's): the same
    // IVF-generate + exact-rerank pattern the dense family uses, applied
    // per QUERY TOKEN.
    //   stage 1 (candidate generation): each query token probes its
    //     MsNprobe nearest coarse cells (centroids from the fixed-point
    //     Lloyd over the token VOCABULARY, broadcast), joins only those
    //     cells' corpus tokens (an equi-join on cluster — the full
    //     |Q_tok|·|corpus_tok| cross never forms), and keeps the MsT docs
    //     whose best token answers it strongest;
    //   stage 2 (exact rerank): the full MaxSim score — identical sim
    //     expression, identical position-ordered fold as the exact row —
    //     over the CANDIDATE (query, doc) pairs only, so per-query work and
    //     aggregation state are bounded by |q_tokens|·MsT regardless of
    //     corpus size (the group-cardinality explosion that aborted the
    //     exact row's scale sweep cannot form).
    // Overlap@10 vs the exact row's truth is carried per bench run (the
    // recall@10 discipline); correctness is pinned by the full DuckDB
    // replay of training + probe + both stages.
    Q("retrieval_maxsim_ivf",
      (s, dir) => {
        val (vocabAssigned, cents) = maxsimIvf(s, dir)
        val ctAll = corpusTokens(s, dir)
        val ct = ctAll.join(vocabAssigned.select(col("tid"), col("cluster")),
          col("h") === col("tid"))
        maxsimServe(ct, cents, ctAll, queryTokens(s, dir))
      },
      Some(maxsimIvfOracle)),

    // The token-IVF serve on the BIG-VOCABULARY fixture (round 13): the
    // base test corpus has 31 distinct words, which saturates the kc axis
    // and makes df/n_docs ≈ 1 for every term — this row pins the identical
    // two-stage serve (same kc/nprobe/T, same fold) on the ~7.5k-word
    // [[bigVocabDocs]] corpus, where cells hold ~940 words each and
    // candidate share genuinely shrinks with kc. The kc cost curve itself
    // is measured by the bench's maxsim_sweep bigvocab points and the
    // scale sweep; correctness here is the full DuckDB replay (vocabulary
    // build → Lloyd → probe → both stages) over the salted corpus.
    Q("retrieval_maxsim_ivf_bigvocab",
      (s, dir) => {
        val (vocabAssigned, cents) = maxsimIvfBig(s, dir)
        val ctAll = corpusTokens(s, dir, big = true)
        val ct = ctAll.join(vocabAssigned.select(col("tid"), col("cluster")),
          col("h") === col("tid"))
        maxsimServe(ct, cents, ctAll, queryTokens(s, dir, big = true))
      },
      Some(maxsimIvfOracleOver(big = true))),

    // The DISK-persisted token-IVF serve (train-once / serve-many — the
    // ann_ivf_kmeans_persisted discipline): stage 1 reads ONLY the probed
    // cells' partition directories of the `maxsim_ivf_index` layout
    // (cluster-partitioned token postings; centroids broadcast from the
    // index's own table), stage 2 fetches candidates' full token lists
    // from a SECOND columnar read of the same cells (the index doubles as
    // the forward table; the retrieval_maxsim_ivf_fwd row below serves the
    // doc_id-bucketed forward component, whose fetch is partition-pruned).
    // Serving pays NO training or assignment and touches the text zero
    // times — results must equal the in-session path bit-for-bit, so the
    // oracle is the identical SQL.
    Q("retrieval_maxsim_ivf_persisted",
      (s, dir) => {
        val path = maxsimIndex(s, dir)
        // The compacted index is one file per cell — correct for I/O, but a
        // raw scan then feeds the |q_tokens|x|cell| stage-1 pair compute at
        // file-count parallelism (kc tasks). The explicit repartition is the
        // corpusTokens single-file-scan discipline: a ~cells-sized shuffle
        // (trivial next to the pair compute) that restores full-width
        // parallelism. DPP on the probed cells still reaches the scan — the
        // pruning subquery sits below this exchange (verified in the plan).
        val cells = s.read.parquet(s"$path/cells")
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        val cents = s.read.parquet(s"$path/cents")
        // Stage 2 reads the INDEX's own cells as the forward token table
        // (maxsimForward) — the persisted serve touches the text zero
        // times. Round 12 passed corpusTokens here, so serving paid the
        // in-session explode + full-width repartition AGAIN on top of the
        // index scan: two corpus passes vs in-session's one reused
        // exchange — the 100× inversion (380 s vs 242 s in-session).
        maxsimServe(cells, cents, maxsimForward(s, path), queryTokens(s, dir))
      },
      Some(maxsimIvfOracle)),

    // The persisted serve against the DOC_ID-BUCKETED forward component
    // (round 14): stage 1 is identical to the row above; stage 2 fetches
    // candidates from the `maxsim_forward` layout, whose scan carries a
    // dynamic partition filter on fb (pinned in PlanShapeSpec) — at scale
    // the forward read touches only the candidate docs' buckets instead of
    // every cell file. fb is a pure function of doc_id, so the result —
    // and the oracle — are bit-identical to the cells-as-forward serve.
    Q("retrieval_maxsim_ivf_fwd",
      (s, dir) => {
        val path = maxsimIndex(s, dir)
        val cells = s.read.parquet(s"$path/cells")
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        maxsimServeParts(cells, s.read.parquet(s"$path/cents"),
          Seq(fwdPart(s, maxsimForwardBucketed(s, dir))),
          queryTokens(s, dir))
      },
      Some(maxsimIvfOracle)),

    // APPENDED token-IVF serve (round 13): the maxsim index's ingest path —
    // a delta batch's tokens assigned under the FROZEN quantizer land as
    // their own cells directory (pipeline:maxsim_ivf_delta), and serving
    // unions base ∪ delta cells for stage 1 AND for the forward read. No
    // retraining, base cells untouched: the ivf_pq_append / bm25_append
    // discipline, which the late-interaction index lacked (it could only
    // be rebuilt from scratch). Oracle: the full replay with the quantizer
    // trained on the BASE vocabulary and the served stream = base ∪ delta.
    Q("retrieval_maxsim_ivf_append",
      (s, dir) => {
        val base = maxsimIndexBig(s, dir)
        val cells = maxsimLiveCells(s, dir, deleted = false)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        val fwd = maxsimLiveCells(s, dir, deleted = false)
          .select("doc_id", "v0", "v1", "v2", "v3")
        maxsimServe(cells, s.read.parquet(s"$base/cents"), fwd,
          queryTokens(s, dir, big = true))
      },
      Some(maxsimIvfOracleOver(big = true, append = true))),

    // DELETES against the appended state (round 13): the mod-4 base docs'
    // tombstone table (pipeline:maxsim_ivf_tombstones, the bm25 delete
    // fixture's family) filters BOTH reads — the stage-1 cells and the
    // stage-2 forward — to live docs before any scoring, so a tombstoned
    // doc can never appear at any k (no posting of it survives) while the
    // quantizer and every stored dim stay as-built. Centroids are
    // vocabulary-trained, so deletion cannot invalidate them.
    Q("retrieval_maxsim_ivf_delete",
      (s, dir) => {
        val base = maxsimTombstoned(s, dir)
        val cells = maxsimLiveCells(s, dir, deleted = true)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        val fwd = maxsimLiveCells(s, dir, deleted = true)
          .select("doc_id", "v0", "v1", "v2", "v3")
        maxsimServe(cells, s.read.parquet(s"$base/cents"), fwd,
          queryTokens(s, dir, big = true))
      },
      Some(maxsimIvfOracleOver(big = true, append = true, deleted = true))),

    // Post-delete COMPACTION: live (base ∪ delta − tombstones) cells
    // rewritten as one layout under the same frozen centroids
    // (pipeline:maxsim_ivf_compact) — pure reorganization, so this serve
    // must BIT-equal the tombstone-filtered union serve above: the two
    // rows share one oracle (the segment-split-invariance discipline).
    Q("retrieval_maxsim_ivf_lifecycle_compacted",
      (s, dir) => {
        val path = maxsimLifecycleCompacted(s, dir)
        val cells = s.read.parquet(s"$path/cells")
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        maxsimServe(cells, s.read.parquet(s"$path/cents"),
          maxsimForward(s, path), queryTokens(s, dir, big = true))
      },
      Some(maxsimIvfOracleOver(big = true, append = true, deleted = true))),

    // The APPENDED serve against BUCKETED forward components (round 15):
    // stage 1 is identical to retrieval_maxsim_ivf_append; stage 2 fetches
    // candidates from TWO forward segments — the base corpus's bucket
    // layout and the delta batch's own (smaller-modulus) one, each join
    // DPP-pruned to its candidate buckets (pinned in PlanShapeSpec). The
    // union sits ABOVE the candidate joins: below them it would break
    // Catalyst's partition-pruning traversal and silently read every
    // bucket. fb is a pure function of doc_id per segment, so the result —
    // and the oracle — are bit-identical to the union-forward serve above.
    Q("retrieval_maxsim_ivf_append_fwd",
      (s, dir) => {
        val base = maxsimIndexBig(s, dir)
        val cells = maxsimLiveCells(s, dir, deleted = false)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        val fwd = Seq(fwdPart(s, maxsimForwardBig(s, dir)),
          fwdPart(s, maxsimForwardDelta(s, dir)))
        maxsimServeParts(cells, s.read.parquet(s"$base/cents"), fwd,
          queryTokens(s, dir, big = true))
      },
      Some(maxsimIvfOracleOver(big = true, append = true))),

    // DELETES against the bucketed forward components: tombstones filter
    // stage 1 (live cells) exactly as the union-forward delete row, and the
    // serve core anti-joins them against the bounded CANDIDATE set (round
    // 18) — defense-in-depth at O(|cand|), since stage-1 filtering already
    // keeps dead docs out of the candidates; the forward segments' static
    // fb pruning is untouched. No bucket is rewritten by a delete;
    // compaction is the rewrite.
    Q("retrieval_maxsim_ivf_delete_fwd",
      (s, dir) => {
        val base = maxsimTombstoned(s, dir)
        val cells = maxsimLiveCells(s, dir, deleted = true)
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        val fwd = Seq(fwdPart(s, maxsimForwardBig(s, dir)),
          fwdPart(s, maxsimForwardDelta(s, dir)))
        maxsimServeParts(cells, s.read.parquet(s"$base/cents"), fwd,
          queryTokens(s, dir, big = true),
          tomb = Some(Layout.tombstones(s, base, "doc_id")))
      },
      Some(maxsimIvfOracleOver(big = true, append = true, deleted = true))),

    // Post-delete forward COMPACTION: the two forward segments merged into
    // ONE bucket layout (tombstones dropped, single modulus) by a pass over
    // the forward components themselves — never back to the cells. Serving
    // the compacted cells against it must BIT-equal the two-segment delete
    // serve above (segment-split invariance: the three rows
    // delete/delete_fwd/compacted_fwd share one oracle).
    Q("retrieval_maxsim_ivf_lifecycle_compacted_fwd",
      (s, dir) => {
        val path = maxsimLifecycleCompacted(s, dir)
        val cells = s.read.parquet(s"$path/cells")
          .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
        val fwd = Seq(fwdPart(s, maxsimForwardCompacted(s, dir)))
        maxsimServeParts(cells, s.read.parquet(s"$path/cents"), fwd,
          queryTokens(s, dir, big = true))
      },
      Some(maxsimIvfOracleOver(big = true, append = true, deleted = true))),


    // Retrieval capstone: ANN top-3 per probe JOINED back to the documents
    // table (vec_id aligns with doc_id) — the retrieve step of a RAG
    // pipeline: embed → search → fetch text metadata. Exercises the ops
    // composing: broadcast probes, per-probe rank, then a hash join to the
    // doc store (which at 100 TB is the id-bucketed table the neighbor ids
    // probe into).
    Q("rag_retrieve_topk",
      (s, dir) => {
        val vecs = Catalog.load(s, dir, "embeddings")
        val hits = Similarity.knnBruteForce(vecs,
          vecs.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", k = 3)
        hits.join(Catalog.load(s, dir, "documents"),
            hits("neighbor") === col("doc_id"))
          .select(col("q_vec"), col("rank"), col("neighbor"),
            col("cos"), col("n_chars"), col("lang"))
          .orderBy("q_vec", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |                  ${Similarity.normDuck("embedding")} AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS q_vec, embedding AS q_emb,
              |             ${Similarity.normDuck("embedding")} AS q_nrm FROM embeddings
              |      WHERE vec_id % 100 = 0),
              |scored AS (SELECT q_vec, e.vec_id AS neighbor,
              |                  ${Similarity.dotDuck("q_emb", "e.embedding")} / (q_nrm * nrm) AS cos
              |           FROM e, q WHERE e.vec_id <> q.q_vec),
              |r AS (SELECT q_vec, neighbor, cos,
              |             ROW_NUMBER() OVER (PARTITION BY q_vec
              |                                ORDER BY cos DESC, neighbor ASC) AS rank
              |      FROM scored)
              |SELECT q_vec, rank, neighbor, cos, n_chars, lang
              |FROM r JOIN documents ON neighbor = doc_id
              |WHERE rank <= 3 ORDER BY q_vec, rank""".stripMargin)),

    // RAG context ASSEMBLY — the step after retrieve: top-3 docs per probe
    // concatenated in rank order under a 120-token budget (rank 1 always
    // kept). Rank-ordered concat via array_sort over (rank, text) structs —
    // deterministic on any partitioning, mirrored by DuckDB's ordered
    // string_agg.
    Q("rag_assemble_context",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val vecs = Catalog.load(s, dir, "embeddings")
        val hits = Similarity.knnBruteForce(vecs,
          vecs.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", k = 3)
        val docs = hits.join(Catalog.load(s, dir, "documents"),
            hits("neighbor") === col("doc_id"))
          .select(col("q_vec"), col("rank"), col("text"),
            expr("CAST(size(split(text, ' ')) AS BIGINT)").as("tokens"))
        val w = Window.partitionBy("q_vec").orderBy("rank")
        docs.withColumn("cum", sum(col("tokens")).over(w))
          .filter(col("rank") === 1 || col("cum") <= 120)
          .groupBy("q_vec")
          .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("n_tokens"),
            expr("array_join(transform(array_sort(collect_list(" +
              "struct(rank, text))), x -> x.text), ' | ')").as("context"))
          .orderBy("q_vec")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |                  ${Similarity.normDuck("embedding")} AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS q_vec, embedding AS q_emb,
              |             ${Similarity.normDuck("embedding")} AS q_nrm FROM embeddings
              |      WHERE vec_id % 100 = 0),
              |scored AS (SELECT q_vec, e.vec_id AS neighbor,
              |                  ${Similarity.dotDuck("q_emb", "e.embedding")} / (q_nrm * nrm) AS cos
              |           FROM e, q WHERE e.vec_id <> q.q_vec),
              |r AS (SELECT q_vec, neighbor, cos,
              |             ROW_NUMBER() OVER (PARTITION BY q_vec
              |                                ORDER BY cos DESC, neighbor ASC) AS rank
              |      FROM scored),
              |tk AS (SELECT q_vec, rank, text,
              |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
              |       FROM r JOIN documents ON neighbor = doc_id WHERE rank <= 3),
              |c AS (SELECT q_vec, rank, text, tokens,
              |        SUM(tokens) OVER (PARTITION BY q_vec ORDER BY rank) AS cum
              |      FROM tk),
              |k AS (SELECT * FROM c WHERE rank = 1 OR cum <= 120)
              |SELECT q_vec, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |  CAST(SUM(tokens) AS BIGINT) AS n_tokens,
              |  string_agg(text, ' | ' ORDER BY rank) AS context
              |FROM k GROUP BY q_vec ORDER BY q_vec""".stripMargin)),

    // IVF-style ANN: coarse partitions = `label`, representative = min-id
    // member, nprobe=2 — searches only ~2/10 of the corpus per probe.
    Q("ann_ivf_topk",
      (s, dir) => {
        val vecs = Catalog.load(s, dir, "embeddings")
        Similarity.knnIvf(vecs, vecs.filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", "label", nprobe = 2, k = 10)
          .orderBy("q_vec", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding,
              |                  ${Similarity.normDuck("embedding")} AS nrm FROM embeddings),
              |reps AS (SELECT label AS rep_label, embedding AS rep_emb FROM (
              |    SELECT label, embedding,
              |           ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
              |    FROM embeddings) x WHERE rn = 1),
              |q AS (SELECT vec_id AS q_vec, embedding AS q_emb,
              |             ${Similarity.normDuck("embedding")} AS q_nrm FROM embeddings
              |      WHERE vec_id % 100 = 0),
              |pp AS (SELECT q_vec, q_emb, q_nrm, rep_label FROM (
              |    SELECT q_vec, q_emb, q_nrm, rep_label,
              |           ROW_NUMBER() OVER (PARTITION BY q_vec
              |               ORDER BY ${cosDuck("q_emb", "rep_emb")} DESC, rep_label ASC) AS pr
              |    FROM q, reps) y WHERE pr <= 2),
              |scored AS (SELECT pp.q_vec, e.vec_id AS neighbor,
              |                  ${Similarity.dotDuck("pp.q_emb", "e.embedding")} / (pp.q_nrm * e.nrm) AS cos
              |           FROM e JOIN pp ON e.label = pp.rep_label AND e.vec_id <> pp.q_vec),
              |r AS (SELECT q_vec, neighbor, cos,
              |             ROW_NUMBER() OVER (PARTITION BY q_vec
              |                                ORDER BY cos DESC, neighbor ASC) AS rank
              |      FROM scored)
              |SELECT q_vec, rank, neighbor, cos FROM r WHERE rank <= 10
              |ORDER BY q_vec, rank""".stripMargin)),

    // The SERVING path: the same IVF search against a DISK-persisted index
    // (cells partitioned by label, norms precomputed at build time) — the
    // cell join prunes the scan to the probes' partition directories.
    // Results must equal the in-memory ann_ivf_topk, so the oracle is the
    // identical SQL.
    Q("ann_ivf_persisted",
      (s, dir) => {
        val tmp = graft.engine.TempDirs.create("graft_ivf")
        val vecs = Catalog.load(s, dir, "embeddings")
        Similarity.writeIvfIndex(vecs, "vec_id", "embedding", "label", tmp)
        Similarity.knnIvfPersisted(s, tmp,
            vecs.filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", "label", nprobe = 2, k = 10)
          .orderBy("q_vec", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding,
              |                  ${Similarity.normDuck("embedding")} AS nrm FROM embeddings),
              |reps AS (SELECT label AS rep_label, embedding AS rep_emb FROM (
              |    SELECT label, embedding,
              |           ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
              |    FROM embeddings) x WHERE rn = 1),
              |q AS (SELECT vec_id AS q_vec, embedding AS q_emb,
              |             ${Similarity.normDuck("embedding")} AS q_nrm FROM embeddings
              |      WHERE vec_id % 100 = 0),
              |pp AS (SELECT q_vec, q_emb, q_nrm, rep_label FROM (
              |    SELECT q_vec, q_emb, q_nrm, rep_label,
              |           ROW_NUMBER() OVER (PARTITION BY q_vec
              |               ORDER BY ${cosDuck("q_emb", "rep_emb")} DESC, rep_label ASC) AS pr
              |    FROM q, reps) y WHERE pr <= 2),
              |scored AS (SELECT pp.q_vec, e.vec_id AS neighbor,
              |                  ${Similarity.dotDuck("pp.q_emb", "e.embedding")} / (pp.q_nrm * e.nrm) AS cos
              |           FROM e JOIN pp ON e.label = pp.rep_label AND e.vec_id <> pp.q_vec),
              |r AS (SELECT q_vec, neighbor, cos,
              |             ROW_NUMBER() OVER (PARTITION BY q_vec
              |                                ORDER BY cos DESC, neighbor ASC) AS rank
              |      FROM scored)
              |SELECT q_vec, rank, neighbor, cos FROM r WHERE rank <= 10
              |ORDER BY q_vec, rank""".stripMargin)),

    // Batch hybrid retrieval — the probe-SET form of RRF: for EVERY probe
    // (id % 100 == 0), fuse its cosine top-20 (embeddings) and its n-gram
    // Jaccard top-20 (document text, the dedup family's shingle sets +
    // codegen'd IntersectSize) with 1/(60+rank), full outer per (probe,
    // doc), keep the fused top-10. Both sides are the brute-force
    // exactness-baseline shape: probes broadcast, the corpus scanned once
    // and ranked per probe — at 100 TB the vector side swaps in the IVF
    // serve and the lexical side an impact-ordered index, but the fusion
    // stage is IDENTICAL (rank lists in, rank lists out).
    Q("retrieval_hybrid_batch",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import graft.expressions.IntersectSize.intersectSize
        val vecs = Catalog.load(s, dir, "embeddings")
        val vr = Similarity.knnBruteForce(vecs,
            vecs.filter(col("vec_id") % 100 === 0),
            "vec_id", "embedding", k = 20)
          .select(col("q_vec"), col("neighbor"), col("rank").as("v_rank"))
        val sh = graft.ops.Dedup.hashedShingleSets(
          Catalog.load(s, dir, "documents"), "doc_id", "text", n = 2)
        val qsh = broadcast(sh.filter(col("doc_id") % 100 === 0)
          .select(col("doc_id").as("q_doc"), col("s").as("qs")))
        // Bounded top-k cut, not a window (round 17): the window form
        // map-side SORTED the entire |Q|·|corpus| scored cross product per
        // partition before WindowGroupLimit could bound it; the
        // TopKAggregate heap ((jacc desc, doc_id asc) ≡ the window order —
        // identical rows, same oracle) updates in O(log k) per row and
        // ships ≤ |Q|·20 rows per partition into the exchange.
        val lscored = sh.crossJoin(qsh).filter(col("doc_id") =!= col("q_doc"))
          .withColumn("ni", intersectSize(col("qs"), col("s")))
          .select(col("q_doc").as("q_vec"), col("doc_id").as("neighbor"),
            expr("CAST(ni AS DOUBLE) / (size(qs) + size(s) - ni)").as("jacc"))
        val lr = Similarity.topKCut(lscored, "jacc", 20)
          .select(col("q_vec").as("q_doc"), col("neighbor").as("l_doc"),
            col("rank").as("l_rank"))
        val fused = vr.join(lr,
            vr("q_vec") === lr("q_doc") && vr("neighbor") === lr("l_doc"),
            "full_outer")
          .select(
            coalesce(vr("q_vec"), lr("q_doc")).as("q_id"),
            coalesce(vr("neighbor"), lr("l_doc")).as("doc_id"),
            col("v_rank"), col("l_rank"),
            (coalesce(expr("1.0 / (60.0 + CAST(v_rank AS DOUBLE))"), lit(0.0)) +
              coalesce(expr("1.0 / (60.0 + CAST(l_rank AS DOUBLE))"), lit(0.0)))
              .as("rrf"))
        val fw = Window.partitionBy("q_id")
          .orderBy(col("rrf").desc, col("doc_id").asc)
        fused.withColumn("fused_rank", row_number().over(fw))
          .filter(col("fused_rank") <= 10)
          .orderBy("q_id", "fused_rank")
      },
      Some(s"""WITH ${DedupQ.shingleCte(2)},
              |e AS (SELECT vec_id, embedding,
              |             ${Similarity.normDuck("embedding")} AS nrm FROM embeddings),
              |q AS (SELECT vec_id AS q_vec, embedding AS q_emb,
              |             ${Similarity.normDuck("embedding")} AS q_nrm FROM embeddings
              |      WHERE vec_id % 100 = 0),
              |vscored AS (SELECT q_vec, e.vec_id AS neighbor,
              |              ${Similarity.dotDuck("q_emb", "e.embedding")} / (q_nrm * nrm) AS cos
              |            FROM e, q WHERE e.vec_id <> q.q_vec),
              |vr AS (SELECT q_vec, neighbor, CAST(rk AS INT) AS v_rank FROM (
              |         SELECT q_vec, neighbor,
              |                ROW_NUMBER() OVER (PARTITION BY q_vec
              |                    ORDER BY cos DESC, neighbor ASC) AS rk
              |         FROM vscored) x WHERE rk <= 20),
              |qsh AS (SELECT doc_id AS q_doc, s AS qs FROM sh
              |        WHERE doc_id % 100 = 0),
              |lscored AS (SELECT q_doc, sh.doc_id,
              |              CAST(len(list_intersect(qs, s)) AS DOUBLE)
              |                / (len(qs) + len(s) - len(list_intersect(qs, s))) AS jacc
              |            FROM sh, qsh WHERE sh.doc_id <> qsh.q_doc),
              |lr AS (SELECT q_doc, doc_id AS l_doc, CAST(rk AS INT) AS l_rank FROM (
              |         SELECT q_doc, doc_id,
              |                ROW_NUMBER() OVER (PARTITION BY q_doc
              |                    ORDER BY jacc DESC, doc_id ASC) AS rk
              |         FROM lscored) y WHERE rk <= 20),
              |fused AS (SELECT COALESCE(vr.q_vec, lr.q_doc) AS q_id,
              |            COALESCE(vr.neighbor, lr.l_doc) AS doc_id,
              |            v_rank, l_rank,
              |            COALESCE(1.0 / (60.0 + CAST(v_rank AS DOUBLE)), 0.0) +
              |            COALESCE(1.0 / (60.0 + CAST(l_rank AS DOUBLE)), 0.0) AS rrf
              |          FROM vr FULL OUTER JOIN lr
              |            ON vr.q_vec = lr.q_doc AND vr.neighbor = lr.l_doc)
              |SELECT q_id, doc_id, v_rank, l_rank, rrf,
              |       CAST(frk AS INT) AS fused_rank
              |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
              |          ORDER BY rrf DESC, doc_id ASC) AS frk FROM fused) z
              |WHERE frk <= 10
              |ORDER BY q_id, fused_rank""".stripMargin)),

    // The serve path in STREAMING form — online retrieval: query vectors
    // arrive as a stream, each microbatch probes the persisted IVF index
    // (Streams.annServeSink → knnIvfPersisted: reps broadcast, cell join
    // partition-pruned), hits land as idempotent batch=<id> dirs.
    // AvailableNow with no maxFilesPerTrigger drains in ONE microbatch, so
    // the read-back equals the batch serve and the oracle is
    // ann_ivf_persisted's identical SQL.
    Q("stream_ann_serve",
      (s, dir) => {
        val tmp = graft.engine.TempDirs.create("graft_sann")
        Similarity.writeIvfIndex(Catalog.load(s, dir, "embeddings"),
          "vec_id", "embedding", "label", s"$tmp/index")
        val probes = graft.streaming.Streams.tableStream(s, dir, "embeddings")
          .filter(col("vec_id") % 100 === 0)
          .select("vec_id", "embedding")
        graft.streaming.Streams.annServeSink(probes, s"$tmp/index",
            s"$tmp/hits", "vec_id", "embedding", "label", nprobe = 2, k = 10)
          .awaitTermination()
        s.read.parquet(s"$tmp/hits")
          .select("q_vec", "rank", "neighbor", "cos")
          .orderBy("q_vec", "rank")
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding,
              |                  ${Similarity.normDuck("embedding")} AS nrm FROM embeddings),
              |reps AS (SELECT label AS rep_label, embedding AS rep_emb FROM (
              |    SELECT label, embedding,
              |           ROW_NUMBER() OVER (PARTITION BY label ORDER BY vec_id) AS rn
              |    FROM embeddings) x WHERE rn = 1),
              |q AS (SELECT vec_id AS q_vec, embedding AS q_emb,
              |             ${Similarity.normDuck("embedding")} AS q_nrm FROM embeddings
              |      WHERE vec_id % 100 = 0),
              |pp AS (SELECT q_vec, q_emb, q_nrm, rep_label FROM (
              |    SELECT q_vec, q_emb, q_nrm, rep_label,
              |           ROW_NUMBER() OVER (PARTITION BY q_vec
              |               ORDER BY ${cosDuck("q_emb", "rep_emb")} DESC, rep_label ASC) AS pr
              |    FROM q, reps) y WHERE pr <= 2),
              |scored AS (SELECT pp.q_vec, e.vec_id AS neighbor,
              |                  ${Similarity.dotDuck("pp.q_emb", "e.embedding")} / (pp.q_nrm * e.nrm) AS cos
              |           FROM e JOIN pp ON e.label = pp.rep_label AND e.vec_id <> pp.q_vec),
              |r AS (SELECT q_vec, neighbor, cos,
              |             ROW_NUMBER() OVER (PARTITION BY q_vec
              |                                ORDER BY cos DESC, neighbor ASC) AS rank
              |      FROM scored)
              |SELECT q_vec, rank, neighbor, cos FROM r WHERE rank <= 10
              |ORDER BY q_vec, rank""".stripMargin))
  )
}
