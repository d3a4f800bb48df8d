package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Catalog
import graft.functions.Hashing._
import graft.ops.Corpus

/** Oracle-checked corpus-construction queries over `documents`: benchmark
  * decontamination, repetition-based quality filters (Gopher-style),
  * weighted mixture sampling with upsampling, and BM25 relevance ranking.
  * All hash gates and scores are engine-portable (shared integer
  * recurrences; IEEE double arithmetic in identical expression order). */
object CorpusQ {

  private val shared = new graft.ops.SharedBuilds

  /** The canonical BM25 term contribution ([[graft.ops.Corpus.bm25Term]]):
    * ONE definition shared by the exact ranker, the hybrid fusion rows, and
    * the impact index, so the impact serve's provable-equality argument
    * rests on literally the same expression text. */
  private def bm25Term(tf: String, df: String): String =
    Corpus.bm25Term(tf, df)

  /** Session-scoped trained BPE model (k=8): the merge list + the
    * persisted final vocabulary state, built ONCE per (session, dir) and
    * fanned out to the train/encode/tokenize rows — the Lloyd-pipeline
    * discipline, so the bench attributes training to `pipeline:bpe_model`
    * and the rows measure SERVING. */
  private val bpeModel = shared.persisted("bpe_model") { (s, dir) =>
    Corpus.bpeTrain(Catalog.load(s, dir, "documents"), "text", k = 8)
  }(m => Seq(m._2))

  private[queries] val Bm25Buckets = 32

  /** Session-scoped persisted BM25 impact index (train-once / serve-many,
    * the kmeansIndex discipline): the full impact-ordered posting table
    * written bucket-partitioned to a session temp dir. The serve row
    * (`text_bm25_impact_topk`) reads ONLY this. */
  private[queries] val bm25Index = shared("bm25_impact_index") { (s, dir) =>
    val tmp = graft.engine.TempDirs.create("graft_bm25idx")
    Corpus.writeBm25ImpactIndex(Catalog.load(s, dir, "documents"), "text",
      tmp, Bm25Buckets)
    tmp
  }

  /** The lexical DELTA corpus — the ann_ivf_pq_append discipline: every
    * 10th-ish doc cloned with ids offset by 1e15, the "new arrivals"
    * batch whose postings are appended WITHOUT touching base postings or
    * refreshing any global statistic. */
  private def bm25DeltaDocs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Catalog.load(s, dir, "documents").filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + 1000000000000000L).as("doc_id"), col("text"))

  private val bm25Delta = shared("bm25_impact_delta") { (s, dir) =>
    val tmp = graft.engine.TempDirs.create("graft_bm25delta")
    Corpus.writeBm25Delta(s, bm25DeltaDocs(s, dir), "text",
      bm25Index(s, dir), tmp, Bm25Buckets)
    tmp
  }

  /** The COMPACTION: a full rebuild over base ∪ delta with REFRESHED
    * statistics — the periodic merge that pays the idf/avgdl refresh the
    * append deferred. */
  private val bm25Compacted = shared("bm25_impact_compact") { (s, dir) =>
    val tmp = graft.engine.TempDirs.create("graft_bm25compact")
    Corpus.writeBm25ImpactIndex(
      Catalog.load(s, dir, "documents").select(col("doc_id"), col("text"))
        .unionByName(bm25DeltaDocs(s, dir)),
      "text", tmp, Bm25Buckets)
    tmp
  }

  /** N-SEGMENT lifecycle (round 12): a real ingest accumulates SEVERAL
    * delta segments between compactions — the single-delta append above is
    * the N = 1 case. Three batches (doc_id mod 10 ∈ {5, 7, 9}, ids offset
    * by mod·1e15 so every segment is disjoint from base AND from each
    * other), each written under the base index's FROZEN statistics. */
  private[queries] val Bm25SegMods = Seq(5, 7, 9)

  private def bm25SegDocs(s: org.apache.spark.sql.SparkSession, dir: String,
      mod: Int) =
    Catalog.load(s, dir, "documents").filter(col("doc_id") % 10 === mod)
      .select((col("doc_id") + mod * 1000000000000000L).as("doc_id"),
        col("text"))

  private val bm25Segs = shared("bm25_impact_segments") { (s, dir) =>
    Bm25SegMods.map { m =>
      val tmp = graft.engine.TempDirs.create(s"graft_bm25seg$m")
      Corpus.writeBm25Delta(s, bm25SegDocs(s, dir, m), "text",
        bm25Index(s, dir), tmp, Bm25Buckets)
      tmp
    }
  }

  /** TIERED compaction of the multi-segment index: rebuild over base ∪ all
    * segments with refreshed statistics, gated by the size-tiered trigger
    * ([[graft.ops.Corpus.bm25CompactionTrigger]], ratio 25%) — the Lucene
    * merge-policy shape. The trigger read is a 1-row build-time pull (the
    * merge policy IS a driver decision); on this corpus the three ~10%
    * segments total ~30% of base, so the policy fires at every SF. */
  private val bm25MultisegCompacted = shared("bm25_multiseg_compact") { (s, dir) =>
    val fire = Corpus.bm25CompactionTrigger(s, bm25Index(s, dir),
      bm25Segs(s, dir), ratioPct = 25).head.getBoolean(3)
    require(fire,
      "tiered trigger did not fire — segments too small to compact")
    val tmp = graft.engine.TempDirs.create("graft_bm25multicompact")
    Corpus.writeBm25ImpactIndex(
      Bm25SegMods.map(bm25SegDocs(s, dir, _))
        .foldLeft(Catalog.load(s, dir, "documents")
          .select(col("doc_id"), col("text")))(_.unionByName(_)),
      "text", tmp, Bm25Buckets)
    tmp
  }

  /** DELETE lifecycle (round 13): base docs with doc_id % 10 = 4 are
    * tombstoned — disjoint from every delta/segment family (mods 3/5/7/9
    * live at ≥1e15 offsets anyway), so deletes exercise the base postings
    * specifically. The tombstone table is written INTO the base index dir
    * (the Lucene `.liv` discipline): an O(|deletes|) write, base postings
    * and frozen statistics untouched until compaction. */
  private[queries] val Bm25TombMod = 4

  private def bm25TombstoneDocs(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    Catalog.load(s, dir, "documents")
      .filter(col("doc_id") % 10 === Bm25TombMod).select("doc_id")

  /** Session-scoped: the base index path AFTER its tombstone table is
    * written (idempotent per (session, dir); the base postings are shared
    * with every other lifecycle row — only the `tombstones/` subdir is
    * added). */
  private val bm25IndexTombstoned = shared("bm25_tombstones") { (s, dir) =>
    val base = bm25Index(s, dir)
    Corpus.writeBm25Tombstones(bm25TombstoneDocs(s, dir), base)
    base
  }

  /** Compaction AFTER deletes: rebuild over (base minus tombstoned) ∪ all
    * segments with refreshed statistics — the merge that physically drops
    * tombstoned postings AND removes the deleted docs from df/n_docs/avgdl. */
  private val bm25TombstoneCompacted = shared("bm25_tombstone_compact") { (s, dir) =>
    val tmp = graft.engine.TempDirs.create("graft_bm25tombcompact")
    Corpus.writeBm25ImpactIndex(
      Bm25SegMods.map(bm25SegDocs(s, dir, _))
        .foldLeft(Catalog.load(s, dir, "documents")
          .filter(col("doc_id") % 10 =!= Bm25TombMod)
          .select(col("doc_id"), col("text")))(_.unionByName(_)),
      "text", tmp, Bm25Buckets)
    tmp
  }

  /** BIG-VOCABULARY impact index (round 13): the base corpus's 31-word
    * vocabulary makes df/n_docs ≈ 1 for every term (idf barely
    * discriminates) and packs ~1 word per bucket-hash class — the bm25
    * serve's bucket pruning and idf behavior are only honestly testable on
    * [[SimilarityQ.bigVocabDocs]]'s ~7.5k-word salted corpus, where a
    * 3-term query prunes to ≤3 of 32 buckets each carrying ~235 terms. */
  private[queries] val bm25BigIndex = shared("bm25_bigvocab_index") { (s, dir) =>
    val tmp = graft.engine.TempDirs.create("graft_bm25big")
    Corpus.writeBm25ImpactIndex(SimilarityQ.bigVocabDocs(s, dir), "text",
      tmp, Bm25Buckets)
    tmp
  }

  /** Salted query terms for the bigvocab serve — measured present at every
    * SF (df 1–43): low-df terms are exactly what the 31-word corpus cannot
    * produce (every base term matches ~every doc). */
  private[queries] val Bm25BigTerms =
    Seq("spark_7", "vector_33", "customer_101")

  /** Generated oracle for the N-segment lifecycle serves: the exact BM25
    * top-20 over base ∪ all [[Bm25SegMods]] segments, with statistics
    * FROZEN to the base (frozen = true — the ranking the segment writes
    * store) or REFRESHED over the union (frozen = false — what the tiered
    * compaction rebuilds). Frozen stats fall out of one filter: segment ids
    * carry a ≥1e15 offset, so `doc_id < 1e15` selects exactly the base.
    *
    * `deleted` (round 13): with the [[Bm25Tombstoned]] base docs
    * tombstoned, SCORING excludes them (a tombstoned doc can never be
    * returned) while the STATISTICS follow the lifecycle stage — frozen
    * stats still COUNT the deleted docs (impacts as stored: Lucene's
    * stale-stats semantics, postings and df untouched until merge);
    * refreshed stats (the compaction rebuild) exclude them, because the
    * rebuild physically dropped their postings. */
  private def bm25MultisegOracle(frozen: Boolean,
      deleted: Boolean = false): String = {
    val dds = Bm25SegMods.map(m =>
      s"""dd$m AS (SELECT doc_id + ${m}000000000000000 AS doc_id,
         |            string_split(text, ' ') AS w
         |       FROM documents WHERE doc_id % 10 = $m)""".stripMargin)
    val union = (Seq("SELECT * FROM db") ++
      Bm25SegMods.map(m => s"SELECT * FROM dd$m")).mkString(" UNION ALL ")
    val del = s"(doc_id % 10 = $Bm25TombMod AND doc_id < 1000000000000000)"
    val statsWhere =
      if (frozen) "WHERE doc_id < 1000000000000000 "
      else if (deleted) s"WHERE NOT $del "
      else ""
    val scoreAnd = if (deleted) s"AND NOT $del" else ""
    s"""WITH db AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |${dds.mkString(",\n")},
       |du AS ($union),
       |tf AS (SELECT doc_id, len(w) AS dl,
       |         CAST(len(list_filter(w, t -> t = 'spark')) AS BIGINT) AS tf1,
       |         CAST(len(list_filter(w, t -> t = 'vector')) AS BIGINT) AS tf2,
       |         CAST(len(list_filter(w, t -> t = 'customer')) AS BIGINT) AS tf3
       |       FROM du),
       |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
       |         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
       |         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
       |         SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
       |       FROM tf $statsWhere),
       |sc AS (SELECT doc_id, CAST(dl AS INT) AS dl, tf1, tf2, tf3,
       |         CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
       |         n_docs, df1, df2, df3
       |       FROM tf, st)
       |SELECT doc_id, dl,
       |  ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
       |  ${bm25Term("tf3", "df3")} AS score
       |FROM sc
       |WHERE ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
       |      ${bm25Term("tf3", "df3")} > 0 $scoreAnd
       |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  /** Bench hook: the BATCHED impact serve at an arbitrary |Q| — the
    * probe-axis sweep's entry (serve cost vs workload size at fixed
    * corpus), running the exact shipped serve code. */
  private[graft] def bm25BatchServeAt(s: org.apache.spark.sql.SparkSession,
      dir: String, nq: Int): org.apache.spark.sql.DataFrame =
    Corpus.bm25ImpactTopKBatched(s, bm25Index(s, dir),
      Corpus.bm25QueryBatch(s, nq), k = 10, Bm25Buckets)

  /** Oracle for the batched serve at |Q| = `nq`: the exact BM25 ranking
    * per generated query (same rotated-pool workload), scores folded in
    * the same term-sorted order. */
  private def bm25BatchOracle(nq: Int): String = {
    val pool = Corpus.Bm25QueryPool.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH q AS (SELECT unnest(range(0, $nq)) AS q_id),
       |pool AS (SELECT $pool AS p),
       |qt AS (SELECT q_id, unnest([
       |         p[CAST(q_id % 12 AS INT) + 1],
       |         p[CAST((q_id*5 + 1) % 12 AS INT) + 1],
       |         p[CAST((q_id*7 + 2) % 12 AS INT) + 1]]) AS term
       |       FROM q, pool),
       |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |tok AS (SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM d),
       |tfx AS (SELECT doc_id, dl, term, COUNT(*) AS tfv
       |        FROM tok GROUP BY 1, 2, 3),
       |dfx AS (SELECT term, COUNT(*) AS dfv FROM tfx GROUP BY 1),
       |stx AS (SELECT COUNT(*) AS n_docs, SUM(len(w)) AS sum_dl FROM d),
       |imp AS (SELECT qt.q_id, tfx.doc_id, tfx.dl, tfx.term,
       |          ${bm25Term("tfv", "dfv")} AS impact
       |        FROM qt
       |        JOIN tfx ON tfx.term = qt.term
       |        JOIN dfx ON dfx.term = qt.term,
       |        (SELECT n_docs,
       |                CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
       |         FROM stx) s),
       |sc AS (SELECT q_id, doc_id, dl,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list_transform(list_sort(list({'t': term, 'i': impact})),
       |             x -> x.i)),
       |           (a, b) -> a + b) AS score
       |       FROM imp GROUP BY q_id, doc_id, dl),
       |r AS (SELECT q_id, doc_id, score,
       |        ROW_NUMBER() OVER (PARTITION BY q_id
       |          ORDER BY score DESC, doc_id ASC) AS rank
       |      FROM sc)
       |SELECT q_id, rank, doc_id, score FROM r
       |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin
  }

  /** Bench hook: the multi-segment serve at a PREFIX of the segment list —
    * the shipped serve code at nseg ∈ 0..3, for the bm25_seg_sweep section
    * (serve cost must stay flat in segment count). */
  private[graft] def bm25MultisegServeAt(s: org.apache.spark.sql.SparkSession,
      dir: String, nseg: Int): org.apache.spark.sql.DataFrame =
    Corpus.bm25ImpactTopKMultiseg(s, bm25Index(s, dir),
        bm25Segs(s, dir).take(nseg), Seq("spark", "vector", "customer"),
        k = 20, Bm25Buckets)
      .orderBy(col("score").desc, col("doc_id").asc)

  /** Named builders for bench attribution (see SparkEntry.pipelines). */
  def pipelines: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Unit)] =
    shared.pipelines

  /** [[bpeTrainOracle]]'s stage chain with the final select reading the
    * ENCODED vocabulary state e_k instead of the merge list. */
  private def bpeEncodeOracle(k: Int): String = {
    val chain = bpeTrainOracle(k)
    val cut = chain.lastIndexOf("SELECT CAST(rank AS INT)")
    chain.take(cut) +
      s"""SELECT word, wc, CAST(length(word) AS INT) AS n_chars,
         |  CAST(len(string_split(trim(spaced), ' ')) AS INT) AS n_tokens,
         |  trim(spaced) AS encoded
         |FROM e$k ORDER BY word""".stripMargin
  }

  /** Inference oracle: the documents-trained merge chain applied, in rank
    * order with the exact leftmost-greedy contraction fold, to the distinct
    * words of part.p_name — an unseen domain (same fold as the
    * `bpe_apply_merges` oracle, but with the TRAINED multi-char merge
    * list). */
  private def bpeInferOracle(k: Int): String = {
    val chain = bpeTrainOracle(k)
    val cut = chain.lastIndexOf("SELECT CAST(rank AS INT)")
    val ranked = (1 to k)
      .map(i => s"SELECT $i AS rank, pair FROM m$i")
      .mkString("\nUNION ALL ")
    val con = contractDuck("s", "split_part(m, ' ', 1)", "split_part(m, ' ', 2)")
    chain.take(cut).stripTrailing() + ",\n" +
      s"""ml AS (SELECT list(pair ORDER BY rank) AS merges FROM ($ranked)),
         |iw AS (SELECT DISTINCT w AS word FROM
         |         (SELECT unnest(string_split(p_name, ' ')) AS w FROM part)
         |       WHERE length(w) >= 1),
         |sp AS (SELECT word,
         |         ' ' || array_to_string(list_transform(range(1, length(word) + 1),
         |                 i -> substr(word, CAST(i AS INT), 1)), ' ') || ' ' AS spaced
         |       FROM iw),
         |ienc AS (SELECT word,
         |  trim(list_reduce(list_prepend(spaced, merges), (s, m) ->
         |    $con)) AS encoded
         |  FROM sp, ml)
         |SELECT word, CAST(len(string_split(encoded, ' ')) AS INT) AS n_tokens,
         |       encoded
         |FROM ienc ORDER BY word""".stripMargin
  }

  /** Corpus tokenization oracle: the encode chain's final state joined
    * back to the exploded corpus; sub-floor words count 1 token. */
  private def bpeTokenizeOracle(k: Int): String = {
    val chain = bpeTrainOracle(k)
    val cut = chain.lastIndexOf("SELECT CAST(rank AS INT)")
    chain.take(cut).stripTrailing() + ",\n" +
      s"""cw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |       FROM documents),
         |dict AS (SELECT word,
         |           CAST(len(string_split(trim(spaced), ' ')) AS INT) AS nt
         |         FROM e$k)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(COALESCE(nt, 1)) AS BIGINT) AS n_tokens
         |FROM cw LEFT JOIN dict USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of [[graft.ops.Corpus.contract]]: exact leftmost-greedy
    * contraction of merge (a, b) over the spaced string `s` as a
    * `list_reduce` fold — same semantics as the Spark `aggregate` fold,
    * including on self-overlapping runs. */
  private def contractDuck(s: String, a: String, b: String): String =
    s"list_reduce(list_prepend('', string_split(trim($s), ' ')), " +
      s"(acc, t) -> CASE WHEN t = $b AND ends_with(acc, ' ' || $a) " +
      s"THEN acc || t ELSE acc || ' ' || t END) || ' '"

  /** k-round sequential BPE-training oracle: one (pairs → argmax →
    * contract) CTE stage per merge, replayed exactly as
    * [[graft.ops.Corpus.bpeTrainMerges]] computes it — the staged-CTE
    * discipline the Lloyd/PQ oracles use for iterative training. Each
    * contraction is the exact leftmost-greedy fold ([[contractDuck]],
    * mirroring [[graft.ops.Corpus.contract]]). */
  private def bpeTrainOracle(k: Int): String = {
    val stages = (1 to k).map { i =>
      val prev = s"e${i - 1}"
      val con = contractDuck("spaced",
        "split_part(pair, ' ', 1)", "split_part(pair, ' ', 2)")
      s"""p$i AS (SELECT wc, unnest(list_transform(range(1, len(t)), j ->
         |          t[CAST(j AS INT)] || ' ' || t[CAST(j + 1 AS INT)])) AS pair
         |        FROM (SELECT wc, string_split(trim(spaced), ' ') AS t FROM $prev) x),
         |m$i AS (SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM p$i
         |        GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 1),
         |e$i AS (SELECT word, wc,
         |          $con AS spaced
         |        FROM $prev, m$i)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to k)
      .map(i => s"SELECT $i AS rank, pair, cnt FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH t0 AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       |w0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM t0
       |       WHERE length(word) >= 2 GROUP BY word),
       |e0 AS (SELECT word, wc,
       |         ' ' || array_to_string(list_transform(range(1, length(word) + 1),
       |                 i -> substr(word, CAST(i AS INT), 1)), ' ') || ' ' AS spaced
       |       FROM w0),
       |$stages
       |SELECT CAST(rank AS INT) AS rank,
       |       split_part(pair, ' ', 1) AS a, split_part(pair, ' ', 2) AS b, cnt
       |FROM ($finals) ORDER BY rank""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // Benchmark decontamination: docs with doc_id % 97 = 0 form the eval
    // set; every other doc is scored by the fraction of its word-5-gram
    // shingles that appear anywhere in the eval set.
    Q("text_decontaminate",
      (s, dir) =>
        Corpus.decontaminate(Catalog.load(s, dir, "documents"),
            "doc_id", "text", n = 5,
            benchmarkPred = col("doc_id") % 97 === 0, threshold = 0.2)
          .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |dd AS (SELECT doc_id, w FROM d WHERE len(w) >= 5),
              |thx AS (SELECT doc_id, list_transform(w, t0 -> ${polyHashDuck("t0")}) AS th FROM dd),
              |sh AS (SELECT doc_id, ${windowFoldDuck("th", 5)} AS s FROM thx),
              |bench AS (SELECT DISTINCT unnest(s) AS h FROM sh WHERE doc_id % 97 = 0),
              |train AS (SELECT doc_id, len(s) AS n_shingles, unnest(s) AS h
              |          FROM sh WHERE doc_id % 97 <> 0),
              |j AS (SELECT t.doc_id, t.n_shingles,
              |             CASE WHEN b.h IS NULL THEN 0 ELSE 1 END AS hit
              |      FROM train t LEFT JOIN bench b ON t.h = b.h)
              |SELECT doc_id, n_shingles, CAST(SUM(hit) AS BIGINT) AS n_contaminated,
              |  CAST(SUM(hit) AS DOUBLE) / n_shingles AS contam_frac,
              |  CAST(SUM(hit) AS DOUBLE) / n_shingles >= 0.2 AS contaminated
              |FROM j GROUP BY doc_id, n_shingles ORDER BY doc_id""".stripMargin)),

    // SURGICAL decontamination — the production variant of the row above:
    // instead of DROPPING a contaminated doc, remove exactly the token
    // spans covered by benchmark-matching 5-gram windows and keep the
    // rest (a long page with one quoted benchmark question is
    // salvageable). Positional window folds (the compiled WindowFoldPos
    // sibling of the shingle-set fold), benchmark shingles broadcast
    // (bounded by the eval suite at any corpus scale), span union and
    // text reconstruction array-local per doc. Sanity invariant pinned by
    // construction: n_removed = 0 ⟹ clean_text = text.
    Q("text_decontaminate_surgical",
      (s, dir) =>
        Corpus.decontaminateSurgical(Catalog.load(s, dir, "documents"),
            "doc_id", "text", n = 5,
            benchmarkPred = col("doc_id") % 97 === 0)
          .orderBy("doc_id"),
      Some(s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
              |thx AS (SELECT doc_id, text, w,
              |          list_transform(w, t0 -> ${polyHashDuck("t0")}) AS th FROM d),
              |ws AS (SELECT doc_id, text, w, ${windowFoldPosDuck("th", 5)} AS ws FROM thx),
              |bench AS (SELECT DISTINCT unnest(ws) AS h FROM ws WHERE doc_id % 97 = 0),
              |train AS (SELECT * FROM ws WHERE doc_id % 97 <> 0),
              |hits AS (SELECT z.doc_id, z.x.p AS i FROM (
              |           SELECT t.doc_id, unnest(list_transform(range(1, len(t.ws) + 1),
              |               i -> {'p': i, 'h': t.ws[CAST(i AS INT)]})) AS x
              |           FROM train t) z
              |         JOIN bench b ON b.h = z.x.h),
              |cov AS (SELECT doc_id, list_sort(list(DISTINCT tp)) AS cov FROM (
              |          SELECT doc_id, i + jj AS tp
              |          FROM hits, range(0, 5) rr(jj)) GROUP BY doc_id)
              |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
              |  CAST(COALESCE(len(c.cov), 0) AS BIGINT) AS n_removed,
              |  COALESCE(array_to_string(list_filter(list_transform(range(1, len(t.w) + 1),
              |      i -> CASE WHEN c.cov IS NOT NULL
              |                     AND list_contains(c.cov, i) THEN NULL
              |                ELSE t.w[CAST(i AS INT)] END),
              |    x -> x IS NOT NULL), ' '), '') AS clean_text
              |FROM train t LEFT JOIN cov c ON c.doc_id = t.doc_id
              |ORDER BY t.doc_id""".stripMargin)),

    // Deterministic uniform 20-per-source sample via the bounded top-k
    // aggregate over a salted id hash — reservoir sampling's scalable,
    // reproducible replacement (|groups|·k shuffle rows; same sample on any
    // engine/layout). Oracle: the equivalent hash-ordered window.
    Q("sample_bottomk",
      (s, dir) =>
        Corpus.sampleKPerGroup(Catalog.load(s, dir, "documents"),
            "source", "doc_id", k = 20)
          .orderBy("source", "rn"),
      Some(s"""WITH h AS (SELECT source, doc_id,
              |  ${polyHashDuck("'smp:' || CAST(doc_id AS VARCHAR)")} AS smp_hash
              |  FROM documents),
              |r AS (SELECT source, doc_id, smp_hash,
              |        CAST(ROW_NUMBER() OVER (PARTITION BY source
              |               ORDER BY smp_hash ASC, doc_id ASC) AS INTEGER) AS rn
              |      FROM h)
              |SELECT source, rn, doc_id, smp_hash FROM r
              |WHERE rn <= 20 ORDER BY source, rn""".stripMargin)),

    // One BPE merge-induction step: adjacent char-pair counts weighted by
    // word frequency, top-50 merge candidates. The corpus shuffles once
    // (word counts); the pair cascade runs on the distinct-word table.
    Q("bpe_pair_counts",
      (s, dir) =>
        Corpus.bpePairCounts(Catalog.load(s, dir, "documents"), "text", topN = 50),
      Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
             |wc AS (SELECT word, COUNT(*) AS wc FROM t
             |       WHERE length(word) >= 2 GROUP BY word),
             |p AS (SELECT wc, unnest(list_transform(range(1, length(word)),
             |               i -> substr(word, CAST(i AS INT), 2))) AS pair
             |      FROM wc)
             |SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt FROM p
             |GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 50""".stripMargin)),

    // Apply the top-30 round-1 BPE merges to the vocabulary (rank-ordered
    // exact leftmost-greedy contraction fold — see Corpus.contract).
    Q("bpe_apply_merges",
      (s, dir) =>
        Corpus.bpeApplyMerges(Catalog.load(s, dir, "documents"), "text", topN = 30)
          .orderBy("word"),
      Some(s"""WITH t AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
              |wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS wc FROM t
              |       WHERE length(word) >= 2 GROUP BY word),
              |p AS (SELECT wc, unnest(list_transform(range(1, length(word)),
              |               i -> substr(word, CAST(i AS INT), 2))) AS pair
              |      FROM wc),
              |g AS (SELECT pair, SUM(wc) AS cnt FROM p
              |      GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 30),
              |m AS (SELECT list(pair ORDER BY cnt DESC, pair ASC) AS merges FROM g),
              |e AS (SELECT word, wc,
              |        ' ' || array_to_string(list_transform(range(1, length(word)+1),
              |                i -> substr(word, CAST(i AS INT), 1)), ' ') || ' '
              |          AS spaced
              |      FROM wc),
              |enc AS (SELECT word, wc,
              |  trim(list_reduce(list_prepend(spaced, merges), (s, m) ->
              |    ${contractDuck("s", "substr(m, 1, 1)", "substr(m, 2, 1)")})) AS encoded
              |  FROM e, m)
              |SELECT word, wc, CAST(length(word) AS INT) AS n_chars,
              |  CAST(len(string_split(encoded, ' ')) AS INT) AS n_tokens, encoded
              |FROM enc ORDER BY word""".stripMargin)),

    // Full sequential BPE training, k=8 merges: each round counts adjacent
    // SYMBOL pairs (multi-char after round 1), takes the deterministic
    // argmax (cnt desc, pair asc), contracts it, repeats — the inherently
    // sequential part of tokenizer training, staged in the oracle as one
    // CTE chain per round exactly like the Lloyd iterations.
    Q("bpe_train_merges",
      (s, dir) =>
        Corpus.bpeMergesDF(s, bpeModel(s, dir)._1).orderBy("rank"),
      Some(bpeTrainOracle(8))),

    // The vocabulary ENCODED by the trained 8-merge model — the loop's
    // final state, with the char→token compression per word. Same staged
    // oracle chain, final select from e8 instead of the merge list.
    Q("bpe_encode_trained",
      (s, dir) =>
        Corpus.bpeEncodeFromVocab(bpeModel(s, dir)._2).orderBy("word"),
      Some(bpeEncodeOracle(8))),

    // BPE INFERENCE on an UNSEEN domain: part names tokenized with the
    // documents-trained model — the tokenizer-serving shape. One
    // rank-ordered merge sweep per word, each merge the exact
    // leftmost-greedy contraction the trainer itself used (classic scan
    // semantics even on self-overlapping runs), compiled to a map-side
    // contraction chain; no join, no shuffle.
    Q("bpe_infer_part_names",
      (s, dir) => {
        val words = Catalog.load(s, dir, "part")
          .select(explode(split(col("p_name"), " ")).as("w"))
          .filter(length(col("w")) >= 1).distinct()
        Corpus.bpeEncodeWords(words, "w", bpeModel(s, dir)._1)
          .orderBy("word")
      },
      Some(bpeInferOracle(8))),

    // Corpus tokenization under the trained model: the bounded
    // (word → n_tokens) dictionary broadcast-joins back to the exploded
    // corpus (the corpus never shuffles for the encode); one exchange —
    // the per-doc count aggregate's.
    Q("bpe_tokenize_corpus",
      (s, dir) =>
        Corpus.bpeTokenizeCorpus(Catalog.load(s, dir, "documents"),
            "doc_id", "text", k = 8,
            trainedDict = Some(Corpus.bpeEncodeFromVocab(bpeModel(s, dir)._2)
              .select(col("word"), col("n_tokens"))))
          .orderBy("doc_id"),
      Some(bpeTokenizeOracle(8))),

    // Chunk→document embedding mean pooling (4 chunks per doc via
    // vec_id DIV 4): per-dimension mean with the sum folded in chunk-id
    // order, so the IEEE value is engine- and partitioning-exact.
    Q("embed_mean_pool",
      (s, dir) =>
        Corpus.meanPoolEmbeddings(Catalog.load(s, dir, "embeddings"),
            "vec_id", "embedding", chunkOf = expr("vec_id DIV 4"))
          .orderBy("doc_id", "i"),
      Some("""WITH x AS (SELECT vec_id // 4 AS doc_id, vec_id, embedding,
             |                  unnest(range(0, len(embedding))) AS i
             |           FROM embeddings),
             |v AS (SELECT doc_id, vec_id, CAST(i AS INTEGER) AS i,
             |             CAST(embedding[CAST(i AS INTEGER) + 1] AS DOUBLE) AS v
             |      FROM x),
             |g AS (SELECT doc_id, i, COUNT(*) AS n_chunks,
             |             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |                                      list(v ORDER BY vec_id)),
             |                         (a, b) -> a + b) AS vsum
             |      FROM v GROUP BY doc_id, i)
             |SELECT doc_id, i, n_chunks, vsum / CAST(n_chunks AS DOUBLE) AS mean_val
             |FROM g ORDER BY doc_id, i""".stripMargin)),

    // Gopher-style repetition quality: most-frequent unigram and bigram
    // fractions per doc (multiplicity preserved — NOT the distinct shingle
    // sets the dedup path uses). High top-fractions mark low-quality
    // repetitive docs. Two codegen'd hash-aggregate cascades, no windows.
    Q("text_repetition_quality",
      (s, dir) => {
        val d = Catalog.load(s, dir, "documents")
          .select(col("doc_id"), expr("split(text, ' ')").as("w"))
          .filter(expr("size(w) >= 2"))
        val uni = d.select(col("doc_id"), explode(col("w")).as("t"))
          .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_tokens"), max(col("c")).as("top_tok_cnt"))
        val bi = d.select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(w)-1), " +
              "i -> concat(element_at(w, i), ' ', element_at(w, i+1)))")).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id")
          .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_bigram_cnt"))
        uni.join(bi, "doc_id")
          .select(col("doc_id"), col("n_tokens"), col("top_tok_cnt"),
            (col("top_tok_cnt").cast("double") / col("n_tokens")).as("top_tok_frac"),
            col("n_bigrams"), col("top_bigram_cnt"),
            (col("top_bigram_cnt").cast("double") / col("n_bigrams")).as("top_bigram_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
             |           WHERE len(string_split(text, ' ')) >= 2),
             |u0 AS (SELECT doc_id, unnest(w) AS t FROM d),
             |u1 AS (SELECT doc_id, t, COUNT(*) AS c FROM u0 GROUP BY 1, 2),
             |u AS (SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_tok_cnt
             |      FROM u1 GROUP BY doc_id),
             |b0 AS (SELECT doc_id,
             |         unnest(list_transform(range(1, len(w)),
             |                i -> w[i] || ' ' || w[i+1])) AS g FROM d),
             |b1 AS (SELECT doc_id, g, COUNT(*) AS c FROM b0 GROUP BY 1, 2),
             |b AS (SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_cnt
             |      FROM b1 GROUP BY doc_id)
             |SELECT u.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(top_tok_cnt AS BIGINT) AS top_tok_cnt,
             |  CAST(top_tok_cnt AS DOUBLE) / n_tokens AS top_tok_frac,
             |  CAST(n_bigrams AS BIGINT) AS n_bigrams,
             |  CAST(top_bigram_cnt AS BIGINT) AS top_bigram_cnt,
             |  CAST(top_bigram_cnt AS DOUBLE) / n_bigrams AS top_bigram_frac
             |FROM u JOIN b ON u.doc_id = b.doc_id ORDER BY u.doc_id""".stripMargin)),

    // Weighted mixture sampling with UPSAMPLING: per-source target weights
    // in percent (150 = 1.5×); guaranteed copies + one hash-gated extra.
    Q("sample_mixture_weights",
      (s, dir) =>
        Corpus.mixtureSample(Catalog.load(s, dir, "documents"),
            "doc_id", "source",
            weightsPct = Map("src0" -> 250, "src1" -> 150, "src2" -> 100, "src3" -> 30),
            defaultPct = 80)
          .orderBy("doc_id", "copy"),
      Some(s"""WITH b AS (SELECT doc_id, source,
              |  ${polyHashDuck("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
              |  CASE source WHEN 'src0' THEN 250 WHEN 'src1' THEN 150
              |              WHEN 'src2' THEN 100 WHEN 'src3' THEN 30
              |              ELSE 80 END AS pct
              |  FROM documents),
              |c AS (SELECT doc_id, source,
              |        CAST(pct // 100 + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END
              |             AS INT) AS n_copies
              |      FROM b)
              |SELECT doc_id, source, n_copies,
              |       CAST(unnest(range(1, n_copies + 1)) AS INT) AS copy
              |FROM c WHERE n_copies > 0 ORDER BY doc_id, copy""".stripMargin)),

    // Temperature-scaled mixture sampling (share^alpha renormalized,
    // alpha = 1/2 — the multilingual-LLM data-mixing rule): per-source
    // quotas proportional to sqrt(token mass), budget = 2/5 of the corpus.
    // All-integer quota arithmetic (floor-sqrt is the single, exactly
    // rounded float op) — see Corpus.temperatureSample; selection is the
    // quota smallest (salted hash, id) docs per source.
    Q("sample_temperature",
      (s, dir) =>
        Corpus.temperatureSample(Catalog.load(s, dir, "documents"),
            "doc_id", "source", "n_chars", budgetNum = 2, budgetDen = 5)
          .orderBy("doc_id"),
      Some(s"""WITH w AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w,
              |                 CAST(COUNT(*) AS BIGINT) AS n
              |          FROM documents GROUP BY source),
              |r AS (SELECT source, n,
              |             CAST(floor(sqrt(CAST(w AS DOUBLE))) AS BIGINT) AS r
              |      FROM w),
              |t AS (SELECT CAST(SUM(r) AS BIGINT) AS denom,
              |             CAST(SUM(n) AS BIGINT) AS total FROM r),
              |q AS (SELECT r.source,
              |             CAST(((t.total * 2 // 5) * r.r) // t.denom AS BIGINT) AS quota
              |      FROM r, t),
              |rk AS (SELECT doc_id, source,
              |         CAST(ROW_NUMBER() OVER (PARTITION BY source
              |           ORDER BY ${polyHashDuck("'tsmp:' || CAST(doc_id AS VARCHAR)")} ASC,
              |                    doc_id ASC) AS INT) AS rk
              |       FROM documents)
              |SELECT rk.doc_id, rk.source, q.quota, rk.rk
              |FROM rk JOIN q ON q.source = rk.source
              |WHERE rk.rk <= q.quota ORDER BY doc_id""".stripMargin)),

    // Priority sampling (Duffield–Lund–Thorup): weighted-without-replacement
    // sample of 200 docs by character mass, with the Horvitz–Thompson
    // estimation weight max(w, τ) carried per row (τ = the 201st priority)
    // so any subset-sum over the sample unbiasedly estimates the corpus
    // total. Priority = w·P/(h+1) — the salted-hash rational; one BIGINT
    // product + one IEEE division, hash-exact in both engines. Top-(k+1)
    // is a TakeOrdered, never a global sort (see Corpus.prioritySample).
    Q("sample_priority_weighted",
      (s, dir) =>
        Corpus.prioritySample(Catalog.load(s, dir, "documents"),
          "doc_id", "n_chars", k = 200),
      Some(s"""WITH p AS (SELECT doc_id, n_chars,
              |    CAST(n_chars * $P AS DOUBLE)
              |      / CAST(${polyHashDuck("'psmp:' || CAST(doc_id AS VARCHAR)")} + 1 AS DOUBLE)
              |      AS priority
              |  FROM documents),
              |r AS (SELECT doc_id, n_chars, priority,
              |             CAST(ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id ASC) AS INT) AS rk
              |      FROM p),
              |t AS (SELECT CASE WHEN COUNT(*) = 201 THEN MIN(priority)
              |             ELSE 0 END AS tau FROM r WHERE rk <= 201)
              |SELECT doc_id, rk, n_chars, priority,
              |       greatest(CAST(n_chars AS DOUBLE), tau) AS est_w
              |FROM r, t WHERE rk <= 200 ORDER BY rk""".stripMargin)),

    // Pareto-front (skyline) corpus selection: the docs not dominated on
    // (lexical diversity, length) — doc A dominates B iff A is ≥ on both
    // dims and > on at least one; equal points don't dominate, so exact
    // ties all survive. The multi-objective "best of the corpus" cut that
    // needs no weighting function. 2-D skyline needs NO pairwise join:
    // group to the per-diversity max length (bounded: |distinct ratios| ≤
    // |(n_distinct, n_tokens) pairs|, a small-int domain), one window pass
    // over that bounded table ordered by diversity desc gives the
    // strictly-higher-diversity running max, and a doc survives iff it
    // holds its group's max AND beats that running max. Dim values are one
    // identical IEEE division in both engines, so the double equality
    // join/group is exact.
    Q("select_pareto_front",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val x = Catalog.load(s, dir, "documents")
          .select(col("doc_id"), expr("split(text, ' ')").as("w"))
          .select(col("doc_id"), expr("size(w)").as("n_tokens"),
            expr("CAST(size(array_distinct(w)) AS DOUBLE) / size(w)").as("dr"))
        val g = x.groupBy(col("dr")).agg(max(col("n_tokens")).as("gmax"))
        val ws = Window.orderBy(col("dr").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val gs = g.withColumn("smax", max(col("gmax")).over(ws))
        x.join(gs, "dr")
          .filter(col("n_tokens") === col("gmax") &&
            col("n_tokens") > coalesce(col("smax"), lit(-1L)))
          .select(col("doc_id"), col("dr"), col("n_tokens"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |x AS (SELECT doc_id, len(w) AS n_tokens,
             |             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS dr
             |      FROM d),
             |g AS (SELECT dr, MAX(n_tokens) AS gmax FROM x GROUP BY dr),
             |gs AS (SELECT dr, gmax,
             |              MAX(gmax) OVER (ORDER BY dr DESC
             |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS smax
             |       FROM g)
             |SELECT x.doc_id, x.dr, x.n_tokens
             |FROM x JOIN gs ON gs.dr = x.dr
             |WHERE x.n_tokens = gs.gmax AND x.n_tokens > COALESCE(gs.smax, -1)
             |ORDER BY doc_id""".stripMargin)),

    // DSIR-shape importance resampling (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score every doc by
    // how much more likely its tokens are under a TARGET distribution (the
    // 'en' slice — the curated-domain proxy) than under the raw corpus,
    // then keep the top-100. Per-token importance ratio with add-1
    // smoothing, all-integer numerator/denominator
    // ((cnt_t+1)·(N_s+V)) / ((cnt_s+1)·(N_t+V)) — ONE IEEE division per
    // vocab entry (products < 2^53 even at the 100× replica), and the
    // per-doc score is the ratio product folded in SORTED token order
    // (array_sort of (tok, r) structs — binary string collation in both
    // engines), so the float sequence is identical and the hash exact.
    // DSIR proper exponentiates a log-ratio sum; the sorted product IS
    // e^(that sum) with no libm anywhere. Shape: two hash aggregates
    // (vocab-bounded), one broadcast-able vocab join back to the exploded
    // tokens, one per-doc fold — at 100 TB the vocab table shards by hash
    // and the join stays the explode side's partitioning; top-100 is a
    // TakeOrdered, never a global sort.
    Q("select_dsir_importance",
      (s, dir) => {
        val docs = Catalog.load(s, dir, "documents")
        val toks = docs.select(col("doc_id"), col("lang"),
          explode(expr("split(text, ' ')")).as("tok"))
        val uni = toks.groupBy(col("tok")).agg(
          count(lit(1)).as("cs"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
        val tot = uni.agg(sum(col("cs")).as("ns"), sum(col("ct")).as("nt"),
          count(lit(1)).as("v"))
        val r = uni.crossJoin(broadcast(tot))
          .select(col("tok"), expr(
            "CAST((ct + 1) * (ns + v) AS DOUBLE) / CAST((cs + 1) * (nt + v) AS DOUBLE)")
            .as("r"))
        toks.join(r, "tok")
          .groupBy(col("doc_id"))
          .agg(expr(
            "aggregate(transform(array_sort(collect_list(struct(tok, r))), p -> p.r), " +
              "CAST(1.0 AS DOUBLE), (a, x) -> a * x)").as("score"))
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(100)
          .select("doc_id", "score")
      },
      Some("""WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
             |             FROM documents),
             |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cs,
             |               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct
             |        FROM toks GROUP BY tok),
             |tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS ns, CAST(SUM(ct) AS BIGINT) AS nt,
             |               CAST(COUNT(*) AS BIGINT) AS v FROM uni),
             |r AS (SELECT tok,
             |        CAST((ct + 1) * (ns + v) AS DOUBLE) / CAST((cs + 1) * (nt + v) AS DOUBLE) AS r
             |      FROM uni, tot),
             |sc AS (SELECT t.doc_id,
             |         list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
             |           list_transform(list_sort(list({'t': t.tok, 'r': r.r})), p -> p.r)),
             |           (a, x) -> a * x) AS score
             |       FROM toks t JOIN r ON r.tok = t.tok
             |       GROUP BY t.doc_id)
             |SELECT doc_id, score FROM sc
             |ORDER BY score DESC, doc_id ASC LIMIT 100""".stripMargin)),

    // Inverted-index build: per-term document frequency, collection
    // frequency, id range and a digest of the SORTED posting list (arrays
    // can't flow to the driver comparator; at 100 TB posting lists are
    // capped/delta-encoded, but df/cf and the digest pin the semantics).
    // One explode + one hash aggregate — the classic index-build dataflow.
    // The digest folds the sorted ids NUMERICALLY — O(df) integer ops. The
    // round-2 formulation (char-level polyHash of the comma-joined id
    // string) was O(|string|²): interpreted substr(s, i, 1) rescans the
    // string per character, which at sf0.1 turned one hot term's ~30 KB
    // posting string into minutes of single-task CPU. Digests of unbounded
    // strings must never go through the char-level hash.
    Q("text_inverted_index",
      (s, dir) =>
        Catalog.load(s, dir, "documents")
          .select(col("doc_id"), explode(expr("split(text, ' ')")).as("term"))
          .groupBy("term")
          .agg(
            countDistinct(col("doc_id")).as("df"),
            count(lit(1)).as("cf"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"),
            expr("aggregate(sort_array(collect_set(doc_id)), " +
              s"CAST(0 AS BIGINT), (a, x) -> (a*31 + x) % ${graft.functions.Hashing.P})")
              .as("postings_digest"))
          .orderBy("term"),
      Some(s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              |          FROM documents),
              |g AS (SELECT term,
              |        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
              |        CAST(COUNT(*) AS BIGINT) AS cf,
              |        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
              |        list_reduce(list_prepend(CAST(0 AS BIGINT),
              |          list_sort(list_distinct(list(doc_id)))),
              |          (a, x) -> (a*31 + x) % ${graft.functions.Hashing.P}) AS postings_digest
              |      FROM t GROUP BY term)
              |SELECT term, df, cf, first_doc, last_doc, postings_digest
              |FROM g ORDER BY term""".stripMargin)),

    // PII redaction: scrub emails and phone-shaped tokens, count what was
    // removed. The corpus has no PII, so the probe PLANTS deterministic
    // contact strings per doc, then the redactor (codegen'd regexes) must
    // find and replace exactly those. Patterns stay in the Java∩RE2 regex
    // subset so both engines match identically.
    Q("text_pii_redact",
      (s, dir) =>
        Catalog.load(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("text"), lit(" contact user"),
              col("doc_id").cast("string"), lit("@mail.example.com or 555-"),
              (col("doc_id") % 1000).cast("string")).as("raw"))
          .select(col("doc_id"),
            expr("size(regexp_extract_all(raw, '[a-z0-9]+@[a-z0-9.]+[a-z]', 0))")
              .as("n_emails"),
            expr("size(regexp_extract_all(raw, '555-[0-9]+', 0))").as("n_phones"),
            expr("regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z0-9.]+[a-z]', " +
              "'<EMAIL>'), '555-[0-9]+', '<PHONE>')").as("clean"))
          .orderBy("doc_id"),
      Some("""WITH r AS (SELECT doc_id,
             |  text || ' contact user' || CAST(doc_id AS VARCHAR)
             |       || '@mail.example.com or 555-'
             |       || CAST(doc_id % 1000 AS VARCHAR) AS raw
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(raw, '[a-z0-9]+@[a-z0-9.]+[a-z]')) AS INT)
             |    AS n_emails,
             |  CAST(len(regexp_extract_all(raw, '555-[0-9]+')) AS INT) AS n_phones,
             |  regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z0-9.]+[a-z]',
             |    '<EMAIL>', 'g'), '555-[0-9]+', '<PHONE>', 'g') AS clean
             |FROM r ORDER BY doc_id""".stripMargin)),

    // Curriculum ordering: quality-band phases (fixed thresholds on the
    // lexical-diversity score — per-row, fully distributed; an ntile would
    // be a single-partition global sort at 100 TB), with a deterministic
    // hash shuffle WITHIN each phase — the easy-to-hard data ordering of
    // curriculum training, reproducibly permuted (row-order shuffles
    // are not).
    Q("sample_curriculum",
      (s, dir) =>
        Catalog.load(s, dir, "documents")
          .select(col("doc_id"), expr("split(text, ' ')").as("w"))
          .select(col("doc_id"),
            expr("CAST(size(array_distinct(w)) AS DOUBLE) / size(w)").as("q"))
          .withColumn("phase",
            when(col("q") >= 0.75, 1).when(col("q") >= 0.6, 2)
              .when(col("q") >= 0.45, 3).otherwise(4))
          .withColumn("shuffle_key",
            expr(polyHashSpark("CAST(doc_id AS STRING)")))
          .select("doc_id", "q", "phase", "shuffle_key")
          .orderBy("phase", "shuffle_key", "doc_id"),
      Some(s"""WITH s AS (SELECT doc_id,
              |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              |    / len(string_split(text, ' ')) AS q
              |  FROM documents)
              |SELECT doc_id, q,
              |  CAST(CASE WHEN q >= 0.75 THEN 1 WHEN q >= 0.6 THEN 2
              |            WHEN q >= 0.45 THEN 3 ELSE 4 END AS INT) AS phase,
              |  ${polyHashDuck("CAST(doc_id AS VARCHAR)")} AS shuffle_key
              |FROM s ORDER BY phase, shuffle_key, doc_id""".stripMargin)),

    // BM25 top-20 for a fixed 3-term query. Ratio idf (no log ⇒ no libm
    // dependence); per-term scores summed in a FIXED left-to-right order so
    // double arithmetic is bit-identical across engines. Two hash
    // aggregates + one broadcast scalar join — the corpus never reshuffles.
    Q("text_bm25_topk",
      (s, dir) => {
        val d = Catalog.load(s, dir, "documents")
          .select(col("doc_id"), expr("split(text, ' ')").as("w"))
          .select(col("doc_id"), size(col("w")).as("dl"), col("w"))
        val tf = d.select(col("doc_id"), col("dl"), explode(col("w")).as("t"))
          .groupBy("doc_id", "dl")
          .agg(
            sum(when(col("t") === "spark", 1L).otherwise(0L)).as("tf1"),
            sum(when(col("t") === "vector", 1L).otherwise(0L)).as("tf2"),
            sum(when(col("t") === "customer", 1L).otherwise(0L)).as("tf3"))
        val stats = tf.agg(
          count(lit(1)).as("n_docs"),
          sum(col("dl")).as("sum_dl"),
          sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
          sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"),
          sum(when(col("tf3") > 0, 1L).otherwise(0L)).as("df3"))
        tf.crossJoin(broadcast(stats))
          .withColumn("avgdl",
            expr("CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)"))
          .withColumn("score", expr(
            s"${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} + " +
              bm25Term("tf3", "df3")))
          .filter(col("score") > 0)
          .select("doc_id", "dl", "tf1", "tf2", "tf3", "score")
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(20)
      },
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
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
              |sc AS (SELECT doc_id, CAST(dl AS INT) AS dl, tf1, tf2, tf3,
              |         CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
              |         n_docs, df1, df2, df3
              |       FROM tf, st)
              |SELECT doc_id, dl, tf1, tf2, tf3,
              |  ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
              |  ${bm25Term("tf3", "df3")} AS score
              |FROM sc
              |WHERE ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
              |      ${bm25Term("tf3", "df3")} > 0
              |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // Impact-ordered (WAND-style) BM25 serve — the lexical retrieval
    // paradigm's 100 TB story, the twin of the dense-ANN index serves:
    // postings persisted bucket-partitioned and impact-SORTED at build
    // (pipeline:bm25_impact_index), served with a safe two-phase threshold
    // prune (top-k prefix seeds -> theta -> impact >= theta/m survivors;
    // safety proof at ops/Corpus.bm25ImpactTopK). Because the prune is
    // provably lossless, the oracle is the EXACT full-corpus BM25 SQL —
    // a stronger pin than any overlap metric: the serve must reproduce the
    // exact ranking bit-for-bit while reading only bucket-pruned prefix
    // row groups.
    Q("text_bm25_impact_topk",
      (s, dir) =>
        Corpus.bm25ImpactTopK(s, bm25Index(s, dir),
            Seq("spark", "vector", "customer"), k = 20, Bm25Buckets)
          .orderBy(col("score").desc, col("doc_id").asc),
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
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
              |sc AS (SELECT doc_id, CAST(dl AS INT) AS dl, tf1, tf2, tf3,
              |         CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
              |         n_docs, df1, df2, df3
              |       FROM tf, st)
              |SELECT doc_id, dl,
              |  ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
              |  ${bm25Term("tf3", "df3")} AS score
              |FROM sc
              |WHERE ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
              |      ${bm25Term("tf3", "df3")} > 0
              |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // APPENDED lexical serve — the ingest path of the impact index
    // (pipeline:bm25_impact_delta): the delta batch's postings are written
    // as their own segment under the BASE index's FROZEN statistics (df,
    // n_docs, avgdl read from the index's persisted tables — base postings
    // untouched, no stat refreshed), and serving unions per-term prefixes
    // from both segments with the same safe theta-prune. Results are exact
    // FOR THE IMPACTS AS STORED, so the oracle replays the frozen-stats
    // ranking over base ∪ delta in SQL — staleness vs the refreshed
    // ranking is MEASURED by the bench's append-vs-compacted overlap, not
    // assumed away.
    Q("text_bm25_impact_append",
      (s, dir) =>
        Corpus.bm25ImpactTopKAppended(s, bm25Index(s, dir), bm25Delta(s, dir),
            Seq("spark", "vector", "customer"), k = 20, Bm25Buckets)
          .orderBy(col("score").desc, col("doc_id").asc),
      Some(s"""WITH db AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |dd AS (SELECT doc_id + 1000000000000000 AS doc_id,
              |              string_split(text, ' ') AS w
              |       FROM documents WHERE doc_id % 10 = 3),
              |tb AS (SELECT doc_id, len(w) AS dl,
              |         CAST(len(list_filter(w, t -> t = 'spark')) AS BIGINT) AS tf1,
              |         CAST(len(list_filter(w, t -> t = 'vector')) AS BIGINT) AS tf2,
              |         CAST(len(list_filter(w, t -> t = 'customer')) AS BIGINT) AS tf3
              |       FROM db),
              |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
              |         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
              |         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
              |         SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
              |       FROM tb),
              |td AS (SELECT doc_id, len(w) AS dl,
              |         CAST(len(list_filter(w, t -> t = 'spark')) AS BIGINT) AS tf1,
              |         CAST(len(list_filter(w, t -> t = 'vector')) AS BIGINT) AS tf2,
              |         CAST(len(list_filter(w, t -> t = 'customer')) AS BIGINT) AS tf3
              |       FROM dd),
              |tu AS (SELECT * FROM tb UNION ALL SELECT * FROM td),
              |sc AS (SELECT doc_id, CAST(dl AS INT) AS dl, tf1, tf2, tf3,
              |         CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
              |         n_docs, df1, df2, df3
              |       FROM tu, st)
              |SELECT doc_id, dl,
              |  ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
              |  ${bm25Term("tf3", "df3")} AS score
              |FROM sc
              |WHERE ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
              |      ${bm25Term("tf3", "df3")} > 0
              |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // COMPACTED lexical serve: the full rebuild over base ∪ delta with
    // refreshed statistics (pipeline:bm25_impact_compact) — what the
    // append deferred. The oracle is the exact BM25 SQL with stats over
    // the UNION; append-vs-compacted top-20 overlap rides the bench as
    // the lexical staleness metric (the dense family's maint_recall
    // analog).
    Q("text_bm25_impact_compacted",
      (s, dir) =>
        Corpus.bm25ImpactTopK(s, bm25Compacted(s, dir),
            Seq("spark", "vector", "customer"), k = 20, Bm25Buckets)
          .orderBy(col("score").desc, col("doc_id").asc),
      Some(s"""WITH db AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |dd AS (SELECT doc_id + 1000000000000000 AS doc_id,
              |              string_split(text, ' ') AS w
              |       FROM documents WHERE doc_id % 10 = 3),
              |du AS (SELECT * FROM db UNION ALL SELECT * FROM dd),
              |tf AS (SELECT doc_id, len(w) AS dl,
              |         CAST(len(list_filter(w, t -> t = 'spark')) AS BIGINT) AS tf1,
              |         CAST(len(list_filter(w, t -> t = 'vector')) AS BIGINT) AS tf2,
              |         CAST(len(list_filter(w, t -> t = 'customer')) AS BIGINT) AS tf3
              |       FROM du),
              |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
              |         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
              |         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
              |         SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
              |       FROM tf),
              |sc AS (SELECT doc_id, CAST(dl AS INT) AS dl, tf1, tf2, tf3,
              |         CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
              |         n_docs, df1, df2, df3
              |       FROM tf, st)
              |SELECT doc_id, dl,
              |  ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
              |  ${bm25Term("tf3", "df3")} AS score
              |FROM sc
              |WHERE ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
              |      ${bm25Term("tf3", "df3")} > 0
              |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin)),

    // N-SEGMENT lexical serve (round 12): base ∪ THREE frozen-stats delta
    // segments — the accumulation state a real ingest reaches between
    // compactions, which the single-delta append row cannot exercise. The
    // θ-prune safety proof is segment-count-independent (any seed set gives
    // a valid lower bound), so the serve stays provably exact FOR THE
    // IMPACTS AS STORED and the oracle replays the frozen-stats ranking
    // over base ∪ all segments. Serve-cost-vs-segment-count is measured by
    // the bench's bm25_seg_sweep (flat by design: same bucket-pruned
    // prefix + threshold reads, split across segment directories).
    Q("text_bm25_impact_multiseg",
      (s, dir) => bm25MultisegServeAt(s, dir, Bm25SegMods.size),
      Some(bm25MultisegOracle(frozen = true))),

    // BIG-VOCABULARY impact serve (round 13): the identical WAND-style
    // θ-pruned serve over the ~7.5k-word salted corpus — the fixture where
    // bucket pruning is selective (3 of 32 buckets, ~235 terms each behind
    // the pushed term filter) and idf genuinely ranks (query terms carry
    // df 1–43 instead of df ≈ n_docs). Oracle: the exact BM25 SQL over the
    // salted corpus — prune losslessness carries over unchanged.
    Q("text_bm25_bigvocab_topk",
      (s, dir) =>
        Corpus.bm25ImpactTopK(s, bm25BigIndex(s, dir), Bm25BigTerms, k = 20,
            Bm25Buckets)
          .orderBy(col("score").desc, col("doc_id").asc),
      Some {
        val Seq(t1, t2, t3) = Bm25BigTerms
        s"""WITH ${SimilarityQ.docsCte(big = true)},
           |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM mdocs),
           |tf AS (SELECT doc_id, len(w) AS dl,
           |         CAST(len(list_filter(w, t -> t = '$t1')) AS BIGINT) AS tf1,
           |         CAST(len(list_filter(w, t -> t = '$t2')) AS BIGINT) AS tf2,
           |         CAST(len(list_filter(w, t -> t = '$t3')) AS BIGINT) AS tf3
           |       FROM d),
           |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
           |         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
           |         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
           |         SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
           |       FROM tf),
           |sc AS (SELECT doc_id, CAST(dl AS INT) AS dl, tf1, tf2, tf3,
           |         CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
           |         n_docs, df1, df2, df3
           |       FROM tf, st)
           |SELECT doc_id, dl,
           |  ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
           |  ${bm25Term("tf3", "df3")} AS score
           |FROM sc
           |WHERE ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
           |      ${bm25Term("tf3", "df3")} > 0
           |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
      }),

    // DELETES against the base segment (round 13): serve base ∪ all three
    // segments with the tombstone table honored — postings filtered to
    // live docs BEFORE the θ-prune (the prune proof is unaffected; a
    // tombstoned doc has no posting left to score), impacts AS STORED
    // (deleted docs still count in the frozen df/n_docs/avgdl — Lucene's
    // stale-stats semantics until merge). Oracle: exact frozen-stats BM25
    // over the union, scoring filtered to live docs, statistics NOT.
    Q("text_bm25_impact_delete",
      (s, dir) =>
        Corpus.bm25ImpactTopKMultisegDeleted(s, bm25IndexTombstoned(s, dir),
            bm25Segs(s, dir), Seq("spark", "vector", "customer"), k = 20,
            Bm25Buckets)
          .orderBy(col("score").desc, col("doc_id").asc),
      Some(bm25MultisegOracle(frozen = true, deleted = true))),

    // What the post-delete compaction produces: tombstoned postings
    // PHYSICALLY dropped and statistics refreshed over the live union —
    // the plain serve needs no tombstone filter because the index no
    // longer contains the deleted docs (pinned in CorpusSpec). Oracle:
    // exact BM25 with both scoring AND stats over live docs.
    Q("text_bm25_impact_delete_compacted",
      (s, dir) =>
        Corpus.bm25ImpactTopK(s, bm25TombstoneCompacted(s, dir),
            Seq("spark", "vector", "customer"), k = 20, Bm25Buckets)
          .orderBy(col("score").desc, col("doc_id").asc),
      Some(bm25MultisegOracle(frozen = false, deleted = true))),

    // The TIERED COMPACTION DECISION as a data row — Lucene's merge policy
    // restated set-oriented: fire when accumulated segment postings exceed
    // 25% of the base (counts are the engine-portable proxy for bytes;
    // integer cross-multiply, no float compare). Spark counts the PERSISTED
    // indexes' postings (Parquet metadata count); the oracle re-derives
    // both counts from the corpus — green means the persisted segments
    // contain exactly the postings the corpus implies, row for row.
    Q("text_bm25_multiseg_compact_trigger",
      (s, dir) =>
        Corpus.bm25CompactionTrigger(s, bm25Index(s, dir), bm25Segs(s, dir),
          ratioPct = 25),
      Some("""WITH p AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
             |           FROM documents),
             |nb AS (SELECT COUNT(*) AS n_base
             |       FROM (SELECT DISTINCT doc_id, t FROM p)),
             |ns AS (SELECT COUNT(*) AS n_segs
             |       FROM (SELECT DISTINCT doc_id, t FROM p
             |             WHERE doc_id % 10 IN (5, 7, 9)))
             |SELECT n_base, n_segs, 3 AS n_segments,
             |       n_segs * 100 > n_base * 25 AS should_compact
             |FROM nb, ns""".stripMargin)),

    // BATCHED impact serve (round 12): a 20-query workload TABLE served in
    // ONE job — the per-query θ-prune data-parallel across queries, scores
    // term-sort-folded so the IEEE order is deterministic without
    // per-query literal expressions. This is the shape "queries are
    // embarrassingly parallel" takes at 100 TB: the workload rides a
    // broadcast, never a driver loop. Oracle = the exact per-query BM25
    // ranking (prune losslessness is per-query and carries over).
    Q("text_bm25_impact_batch",
      (s, dir) => bm25BatchServeAt(s, dir, nq = 20).orderBy("q_id", "rank"),
      Some(bm25BatchOracle(20))),

    // What the fired trigger produces: the multi-segment COMPACTION —
    // a rebuild over base ∪ all three segments with refreshed statistics
    // (pipeline:bm25_multiseg_compact). Oracle = the exact BM25 SQL with
    // stats over the full union.
    Q("text_bm25_impact_multiseg_compacted",
      (s, dir) =>
        Corpus.bm25ImpactTopK(s, bm25MultisegCompacted(s, dir),
            Seq("spark", "vector", "customer"), k = 20, Bm25Buckets)
          .orderBy(col("score").desc, col("doc_id").asc),
      Some(bm25MultisegOracle(frozen = false))),

    // Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
    // vector (cosine vs probe 0's embedding) top-50 lists for one query —
    // the fusion step of a two-tower retrieval stack. Both lists come from
    // distributed top-k (`orderBy.limit` → TakeOrderedAndProject: per-
    // partition partial top-k, NO global window), so ranking never funnels
    // the corpus through one partition; ranks are then assigned on the
    // ≤50-row results. RRF terms 1/(60+rank) are single IEEE divisions
    // summed in fixed lex+vec order, so scores hash bit-identically.
    // Missing-from-one-list docs contribute 0.0 for that list (full outer
    // join on the aligned doc_id/vec_id key).
    Q("retrieval_rrf_fusion",
      (s, dir) => {
        import graft.ops.Similarity
        // lexical: the same fixed 3-term BM25 as text_bm25_topk, top 50
        val d = Catalog.load(s, dir, "documents")
          .select(col("doc_id"), expr("split(text, ' ')").as("w"))
          .select(col("doc_id"), size(col("w")).as("dl"), col("w"))
        val tf = d.select(col("doc_id"), col("dl"), explode(col("w")).as("t"))
          .groupBy("doc_id", "dl")
          .agg(
            sum(when(col("t") === "spark", 1L).otherwise(0L)).as("tf1"),
            sum(when(col("t") === "vector", 1L).otherwise(0L)).as("tf2"),
            sum(when(col("t") === "customer", 1L).otherwise(0L)).as("tf3"))
        val stats = tf.agg(
          count(lit(1)).as("n_docs"),
          sum(col("dl")).as("sum_dl"),
          sum(when(col("tf1") > 0, 1L).otherwise(0L)).as("df1"),
          sum(when(col("tf2") > 0, 1L).otherwise(0L)).as("df2"),
          sum(when(col("tf3") > 0, 1L).otherwise(0L)).as("df3"))
        val lexTop = tf.crossJoin(broadcast(stats))
          .withColumn("avgdl",
            expr("CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)"))
          .withColumn("score", expr(
            s"${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} + " +
              bm25Term("tf3", "df3")))
          .filter(col("score") > 0)
          .select("doc_id", "score")
          .orderBy(col("score").desc, col("doc_id").asc)
          .limit(50)
        val lexRanked = lexTop.withColumn("lex_rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("doc_id").asc)))
          .select("doc_id", "lex_rank")
        // vector: cosine of every other embedding vs vec 0's, top 50 —
        // codegen'd DotProduct + precomputed norms (the knnBruteForce
        // shape: one dot per pair, not three lambda folds)
        val e = Catalog.load(s, dir, "embeddings")
        val probe = broadcast(e.filter(col("vec_id") === 0)
          .select(col("embedding").as("q_emb"),
            Similarity.norm(col("embedding")).as("q_nrm")))
        val vecTop = e.filter(col("vec_id") =!= 0)
          .withColumn("nrm", Similarity.norm(col("embedding")))
          .crossJoin(probe)
          .withColumn("cos",
            graft.expressions.DotProduct.dot(col("q_emb"), col("embedding")) /
              (col("q_nrm") * col("nrm")))
          .select("vec_id", "cos")
          .orderBy(col("cos").desc, col("vec_id").asc)
          .limit(50)
        val vecRanked = vecTop.withColumn("vec_rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("cos").desc, col("vec_id").asc)))
          .select(col("vec_id"), col("vec_rank"))
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
      Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
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
              |sc AS (SELECT doc_id,
              |         CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl,
              |         dl, tf1, tf2, tf3, n_docs, df1, df2, df3
              |       FROM tf, st),
              |lex AS (SELECT doc_id,
              |          ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
              |          ${bm25Term("tf3", "df3")} AS score
              |        FROM sc
              |        WHERE ${bm25Term("tf1", "df1")} + ${bm25Term("tf2", "df2")} +
              |              ${bm25Term("tf3", "df3")} > 0
              |        ORDER BY score DESC, doc_id ASC LIMIT 50),
              |lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
              |           ORDER BY score DESC, doc_id ASC) AS INT) AS lex_rank
              |         FROM lex),
              |q AS (SELECT embedding AS q_emb,
              |        ${graft.ops.Similarity.normDuck("embedding")} AS q_nrm
              |      FROM embeddings WHERE vec_id = 0),
              |en AS (SELECT vec_id, embedding,
              |         ${graft.ops.Similarity.normDuck("embedding")} AS nrm
              |       FROM embeddings WHERE vec_id <> 0),
              |vt AS (SELECT vec_id,
              |         ${graft.ops.Similarity.dotDuck("q_emb", "embedding")} / (q_nrm * nrm) AS cos
              |       FROM en, q
              |       ORDER BY cos DESC, vec_id ASC LIMIT 50),
              |vecr AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (
              |           ORDER BY cos DESC, vec_id ASC) AS INT) AS vec_rank
              |         FROM vt)
              |SELECT COALESCE(lexr.doc_id, vecr.vec_id) AS doc_id,
              |  lex_rank, vec_rank,
              |  COALESCE(1.0 / (60.0 + CAST(lex_rank AS DOUBLE)), 0.0) +
              |  COALESCE(1.0 / (60.0 + CAST(vec_rank AS DOUBLE)), 0.0) AS rrf
              |FROM lexr FULL OUTER JOIN vecr ON lexr.doc_id = vecr.vec_id
              |ORDER BY rrf DESC, doc_id ASC LIMIT 20""".stripMargin))
  )
}
