package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-construction operators for training-data pipelines: benchmark
  * decontamination and weighted mixture sampling. Absent from the reference
  * (its surface is relational-only); designed Spark-first for 100 TB. */
object Corpus {

  /** Benchmark decontamination: flag training documents sharing word-n-gram
    * shingles with a benchmark/eval subset — the standard guard against
    * test-set leakage into training corpora. `benchmarkPred` selects the
    * benchmark docs (a predicate over `idCol`).
    *
    * Plan: hashed shingle sets once over the whole corpus
    * ([[Dedup.hashedShingleSets]]); the benchmark shingle DICTIONARY (tiny
    * vs the corpus — distinct hashes of the eval set) broadcasts to an
    * exploded-shingle left join, then one hash aggregate per doc. At 100 TB
    * the corpus side never shuffles; if the benchmark dictionary outgrows
    * broadcast, the same shape runs with a bloom-filter pre-pass feeding a
    * shuffle join on the surviving shingles.
    *
    * Output: idCol, n_shingles, n_contaminated, contam_frac, contaminated. */
  def decontaminate(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      benchmarkPred: Column, threshold: Double): DataFrame = {
    // Hashed shingle sets (two-level token-hash fold — see
    // [[Dedup.hashedShingleSets]]), persisted because BOTH the benchmark and
    // the train branch scan them — without the persist the
    // tokenize+hash pipeline runs twice per query. Tracked for session
    // release ([[CacheRegistry]] — lazy persist, consumer-owned lifetime).
    val sh = CacheRegistry.track(Dedup.hashedShingleSets(docs, idCol, textCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bench = sh.filter(benchmarkPred)
      .select(explode(col("s")).as("h")).distinct()
      .withColumn("_hit", lit(1L))
    val train = sh.filter(!benchmarkPred)
      .select(col(idCol), size(col("s")).as("n_shingles"), explode(col("s")).as("h"))
    train.join(broadcast(bench), Seq("h"), "left")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_contaminated"))
      .withColumn("contam_frac",
        col("n_contaminated").cast("double") / col("n_shingles"))
      .withColumn("contaminated", col("contam_frac") >= threshold)
  }

  /** SURGICAL benchmark decontamination — remove the contaminated SPANS
    * instead of dropping the document (the production variant: a 50k-token
    * web page with one quoted benchmark question is salvageable; binary
    * drop wastes it). Every positional n-gram window of a train doc whose
    * hash appears anywhere in the benchmark set marks its n covered token
    * positions; overlapping windows merge naturally (position-set union),
    * and the cleaned text is the original token sequence with covered
    * positions deleted.
    *
    * Shape: one compiled positional window fold per document
    * ([[graft.expressions.WindowFoldPos]] — the set form can't say WHERE),
    * a broadcast of the distinct benchmark shingles (bounded by the eval
    * SUITE, small by construction at any corpus scale), and the span
    * union + text reconstruction run ARRAY-LOCALLY per document (sorted
    * covered-position set vs the token array — never a per-token join).
    * Output: (idCol, n_tokens, n_removed, clean_text) for every train doc.
    */
  def decontaminateSurgical(
      docs: DataFrame, idCol: String, textCol: String, n: Int,
      benchmarkPred: Column): DataFrame = {
    import graft.expressions.{PolyHash, WindowFold}
    // Both the benchmark and the train branch scan the positional folds —
    // persist so tokenize+hash+fold runs once (same discipline as
    // [[decontaminate]]'s shingle sets; tracked for session release).
    val base = CacheRegistry.track(docs
      .select(col(idCol), col(textCol), expr(s"split($textCol, ' ')").as("w"))
      .select(col(idCol), col(textCol), col("w"),
        WindowFold.windowFoldPos(
          transform(col("w"), t => PolyHash.polyHash(t)), n).as("ws"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bench = base.filter(benchmarkPred)
      .select(explode(col("ws")).as("h")).distinct()
    val train = base.filter(!benchmarkPred)
    // (doc, 0-based window start) for every window whose hash is in the
    // benchmark set; covered 1-based token positions are start+1..start+n.
    val cov = train
      .select(col(idCol), posexplode(col("ws")).as(Seq("wpos", "h")))
      .join(broadcast(bench), "h")
      .select(col(idCol), explode(expr(s"sequence(wpos + 1, wpos + $n)")).as("tpos"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("tpos"))).as("cov"))
    train.join(cov, Seq(idCol), "left")
      .select(col(idCol),
        size(col("w")).as("n_tokens"),
        when(col("cov").isNull, 0L)
          .otherwise(size(col("cov")).cast("long")).as("n_removed"),
        expr("array_join(filter(transform(sequence(1, size(w)), " +
          "i -> IF(cov IS NOT NULL AND array_contains(cov, i), NULL, element_at(w, i))), " +
          "x -> x IS NOT NULL), ' ')").as("clean_text"))
  }

  /** Deterministic uniform k-per-group sample: keep the k rows with the
    * smallest salted id-hash per group. Ordering by a salted hash IS uniform
    * sampling (the hash is a fixed pseudo-random permutation of ids), and —
    * unlike reservoir or `rand()` sampling — it is reproducible across
    * engines, reruns, task retries and cluster layouts, which is the only
    * sampling discipline that audits cleanly at 100 TB.
    *
    * Runs on the bounded [[graft.expressions.TopKAggregate]] rather than a
    * window: partial buffers cap at k, so map-side combine ships at most
    * |groups|·k rows into the shuffle instead of sorting the whole corpus
    * per group. Output: groupCol, rn (1-based sample rank), idCol, smp_hash. */
  def sampleKPerGroup(
      df: DataFrame, groupCol: String, idCol: String, k: Int): DataFrame = {
    import graft.expressions.TopKAggregate.topK
    import graft.functions.Hashing.polyHashSpark
    // Salt prefix decorrelates this permutation from every other hash use;
    // hashes < P ≈ 1e9 are exactly representable as the aggregate's double
    // score, so negation is a lossless order flip (largest -h = smallest h).
    val h = expr(polyHashSpark(s"concat('smp:', CAST($idCol AS STRING))"))
    df.select(col(groupCol), col(idCol).as("_id"), h.as("_h"))
      .groupBy(col(groupCol))
      .agg(topK(-col("_h").cast("double"), col("_id"), k).as("top"))
      .select(col(groupCol), posexplode(col("top")))
      .select(col(groupCol), (col("pos") + 1).cast("int").as("rn"),
        col("col.id").as(idCol), (-col("col.score")).cast("bigint").as("smp_hash"))
  }

  /** One BPE merge-induction step — the inner loop of vocabulary training:
    * count adjacent symbol pairs across the corpus, weighted by word
    * frequency, and rank the merge candidates. Two codegen'd hash-aggregate
    * cascades: corpus → word counts (the corpus's only shuffle — everything
    * after runs on the tiny distinct-word table), then word → exploded
    * adjacent char pairs → global pair counts. At 100 TB the word-count
    * table is millions of rows regardless of corpus size, so iterating
    * merges (the full BPE training loop) re-reads only it.
    * Output: pair, cnt — top `topN` by (cnt desc, pair asc). */
  def bpePairCounts(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val words = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    words
      .select(col("wc"),
        explode(expr("transform(sequence(1, length(word)-1), i -> substr(word, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(topN)
  }

  /** EXACT leftmost-greedy contraction of one merge (a, b) over a spaced
    * symbol string (` t1 t2 … tk `): fold the token list left to right,
    * merging when the accumulator's last token is `a` and the incoming
    * token is `b` — precisely the classic BPE scan (merge at i, continue at
    * i+2). The boundary-space guard (` ` + a as a SUFFIX of the
    * accumulator) makes the check token-exact, and a token just merged can
    * never be the left operand of the same pair again because the merged
    * symbol `a||b` ≠ `a` (b is non-empty) — so self-overlapping runs come
    * out exactly as the classic scan does (`(a,a)` on `a a a a a` →
    * `aa aa a`, NOT the `aa a aa` a string double-replace produces; the
    * round-8 advice counterexample is pinned in CorpusSpec). O(|word|²)
    * worst-case from the accumulator copy — fine on bounded-length words.
    * Mirrored 1:1 by the DuckDB oracles' `list_reduce` fold. */
  def contract(spaced: Column, a: Column, b: Column): Column =
    concat(aggregate(split(trim(spaced), lit(" ")), lit(""), (acc, t) =>
      when(t === b && acc.endsWith(concat(lit(" "), a)), concat(acc, t))
        .otherwise(concat(acc, lit(" "), t))), lit(" "))

  /** Apply one learned round of BPE merges to the vocabulary: the top-N
    * char-pair candidates from [[bpePairCounts]] contract, in rank order,
    * over each distinct word's space-separated character string — each
    * contraction the exact leftmost-greedy fold of [[contract]]. Because
    * round-1 merges only pair SINGLE characters, the rank-ordered sweep
    * reaches the same result as re-ranking between merges would (a round-1
    * merge can never create a new single-char pair).
    *
    * The encode runs on the DISTINCT-WORD table (bounded vocabulary), never
    * the corpus: at 100 TB the resulting word→tokens dictionary
    * broadcast-joins back to documents, so the interpreted lambda cost
    * scales with |vocab|, not corpus bytes. The merge list travels as one
    * broadcast array row — no driver round trip. */
  def bpeApplyMerges(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val wc = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
    val mergesRow = bpePairCounts(docs, textCol, topN)
      .agg(expr("transform(array_sort(collect_list(named_struct(" +
        "'nc', -cnt, 'p', pair))), x -> x.p)").as("merges"))
    wc.crossJoin(broadcast(mergesRow))
      .withColumn("spaced", expr(
        "concat(' ', array_join(transform(sequence(1, length(word)), " +
          "i -> substr(word, i, 1)), ' '), ' ')"))
      .withColumn("encoded", trim(aggregate(col("merges"), col("spaced"),
        (s, m) => contract(s, substring(m, 1, 1), substring(m, 2, 1)))))
      .select(col("word"), col("wc"), length(col("word")).as("n_chars"),
        size(split(col("encoded"), " ")).as("n_tokens"), col("encoded"))
  }

  /** Full sequential BPE merge TRAINING — `k` merge inductions, each one
    * the classic argmax step: count adjacent SYMBOL pairs across the
    * vocabulary (frequency-weighted), take the single best pair
    * (cnt desc, pair asc — the deterministic tie-break), contract it
    * everywhere, repeat. Unlike [[bpePairCounts]]/[[bpeApplyMerges]]
    * (round-1 only: single-character pairs, batch-applied), later rounds
    * here merge MULTI-character symbols — "t h"→"th" then "th e"→"the" —
    * which is the part of tokenizer training that is inherently
    * sequential: merge i+1's counts depend on merge i's contraction.
    *
    * Scale shape is the Lloyd-loop discipline: the corpus shuffles ONCE
    * into the distinct-word table (at 100 TB: millions of rows regardless
    * of corpus bytes); each round is one bounded aggregate over that
    * table + an O(1)-row driver pull (the argmax pair — the same
    * legitimate budget as a centroid collect); per-round state re-persists
    * and the previous round releases eagerly, so the plan never grows a
    * k-deep contraction chain. Each round's contraction is the exact
    * leftmost-greedy fold of [[contract]] — classic BPE scan semantics,
    * including on self-overlapping runs.
    *
    * Output: one row per learned merge — rank (1-based), a, b (the merged
    * symbol pair), cnt (its frequency-weighted count at selection time). */
  def bpeTrainMerges(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val (merges, vocab) = bpeTrain(docs, textCol, k)
    vocab.unpersist()
    bpeMergesDF(docs.sparkSession, merges)
  }

  /** The learned merge list as a DataFrame (rank, a, b, cnt) — for callers
    * holding a [[bpeTrain]] result (e.g. a session-cached model). */
  def bpeMergesDF(
      spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    import spark.implicits._
    merges.toDF("rank", "a", "b", "cnt")
  }

  /** The vocabulary ENCODED by a freshly-trained k-merge BPE model — the
    * final state of [[bpeTrainMerges]]'s loop: every distinct word with
    * its token sequence under the learned ordered merges, plus the
    * char→token compression the pipeline actually consumes. At 100 TB the
    * (word → tokens) dictionary broadcast-joins back to documents, so
    * corpus encode cost scales with |vocab|, not corpus bytes.
    * Output: word, wc, n_chars, n_tokens, encoded. */
  def bpeEncodeTrained(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val (_, vocab) = bpeTrain(docs, textCol, k)
    // Lazy consumer of the loop's persisted final state: hand release to
    // the session registry rather than unpersisting under the caller.
    CacheRegistry.track(vocab)
    bpeEncodeFromVocab(vocab)
  }

  /** Encode projection over a [[bpeTrain]] final-vocabulary state. */
  def bpeEncodeFromVocab(vocab: DataFrame): DataFrame =
    vocab
      .select(col("word"), col("wc"), length(col("word")).as("n_chars"),
        size(split(expr("trim(spaced)"), " ")).as("n_tokens"),
        expr("trim(spaced)").as("encoded"))

  /** Tokenize the CORPUS under a freshly-trained k-merge BPE model — the
    * claim the encode row's scaladoc makes, as an actual plan: the
    * (word → n_tokens) dictionary (bounded |vocab|) broadcast-joins back
    * to the exploded corpus, so the corpus side never shuffles for the
    * encode; the only exchange is the per-document count aggregate's.
    * Words below the trainer's length-2 floor count as one token each.
    * Output: one row per doc — idCol, n_words, n_tokens. */
  def bpeTokenizeCorpus(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      trainedDict: Option[DataFrame] = None): DataFrame = {
    // trainedDict lets a serve-many caller feed the (word, n_tokens)
    // dictionary from a session-cached bpeTrain model instead of
    // re-running the k-round trainer per query.
    val dict = trainedDict.getOrElse(bpeEncodeTrained(docs, textCol, k)
      .select(col("word"), col("n_tokens")))
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .join(broadcast(dict), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(coalesce(col("n_tokens"), lit(1))).as("n_tokens"))
  }

  /** BPE INFERENCE: encode arbitrary (possibly unseen) words with a
    * trained ordered merge list — the tokenizer-serving shape. One
    * rank-ordered sweep applying each merge's exact leftmost-greedy
    * contraction ([[contract]]) — by construction the SAME discipline the
    * trainer itself applied round by round, so inference tokenizes a
    * training word exactly as the final training state does. (This matches
    * classic lowest-rank-first encoding whenever a merge's operands become
    * adjacent only through earlier merges — the usual training invariant;
    * the rank-ordered sweep is the convention this engine pins, replayed
    * verbatim by the oracle.) The merge list is driver-side (O(k) strings,
    * the trained model); the fold compiles to a k-deep contraction chain
    * evaluated map-side — no joins, no shuffle beyond the caller's.
    * Output: word, n_tokens, encoded. */
  def bpeEncodeWords(
      words: DataFrame, wordCol: String,
      merges: Seq[(Int, String, String, Long)]): DataFrame = {
    val spaced = expr(
      s"concat(' ', array_join(transform(sequence(1, length($wordCol)), " +
        s"i -> substr($wordCol, i, 1)), ' '), ' ')")
    val encodedSpaced = merges.sortBy(_._1).foldLeft(spaced: org.apache.spark.sql.Column) {
      case (acc, (_, a, b, _)) => contract(acc, lit(a), lit(b))
    }
    words
      .withColumn("_enc", encodedSpaced)
      .select(col(wordCol).as("word"),
        size(split(expr("trim(_enc)"), " ")).as("n_tokens"),
        expr("trim(_enc)").as("encoded"))
  }

  /** The trainer loop itself: returns the learned merges and the FINAL
    * persisted vocabulary state (word, wc, spaced) — still persisted; the
    * caller owns the release (session-cached models hand it to their
    * cache's eviction hook). */
  def bpeTrain(docs: DataFrame, textCol: String, k: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    require(k >= 1, "k must be at least 1")
    var vocab = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .withColumn("spaced", expr(
        "concat(' ', array_join(transform(sequence(1, length(word)), " +
          "i -> substr(word, i, 1)), ' '), ' ')"))
      .persist(MEMORY_AND_DISK)
    vocab.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var i = 1
    var exhausted = false
    while (i <= k && !exhausted) {
      // Adjacent symbol pairs; a fully-merged single-symbol word emits none
      // (sequence is descending for size 1 — guard with CASE).
      val top = vocab
        .select(col("wc"), expr(
          "explode(CASE WHEN size(split(trim(spaced), ' ')) >= 2 THEN " +
            "transform(sequence(1, size(split(trim(spaced), ' ')) - 1), " +
            "j -> concat(element_at(split(trim(spaced), ' '), j), ' ', " +
            "element_at(split(trim(spaced), ' '), j + 1))) " +
            "ELSE array() END)").as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        merges += ((i, a, b, cnt))
        val next = vocab
          .withColumn("spaced", contract(col("spaced"), lit(a), lit(b)))
          .persist(MEMORY_AND_DISK)
        next.count()
        vocab.unpersist()
        // Cut the lineage every round (the same Lloyd discipline as the
        // graph loops, Dedup.scala): per-round persist bounds EXECUTION to
        // one contract over the cached previous state, but the LOGICAL
        // chain still deepens by one contract per round, and per-round
        // analyze/canonicalize cost over that chain grows super-linearly —
        // measured 8.5 s at k=8 → 68 s at k=16 → 16 GB OOM at k=32 before
        // this cut; flat ~0.5 s/round after. localCheckpoint rebases the
        // plan on the already-cached blocks (one cheap cache-read job);
        // executor-local blocks suffice single-box and on a stable
        // cluster — a 100 TB deployment with preemptible executors sets a
        // checkpoint dir and uses reliable checkpoint() here instead.
        // Cheap at every round because the state is the bounded
        // distinct-word table, never the corpus.
        vocab = { val ck = next.localCheckpoint(); next.unpersist(); ck }
        i += 1
      }
    }
    (merges.toSeq, vocab)
  }

  /** Mean-pool chunk embeddings into document embeddings — the aggregation
    * step after chunk-level embedding (`chunkOf` maps chunk id → doc id).
    * Output is scalar (doc id, dimension, n_chunks, mean_val) rows.
    *
    * The per-dimension sum folds the chunk values in chunk-id order (sorted
    * struct array), so the IEEE result is identical on any engine, any
    * partitioning, any retry — the determinism discipline exact-DECIMAL sums
    * give money columns, applied to floats (where no decimal widening is
    * faithful). Chunk counts per doc are small by construction, so the
    * collect-per-group never outgrows a row. */
  def meanPoolEmbeddings(
      chunks: DataFrame, chunkIdCol: String, vecCol: String,
      chunkOf: Column): DataFrame = {
    val x = chunks
      .select(chunkOf.as("doc_id"), col(chunkIdCol).as("_cid"),
        posexplode(expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))")))
      .select(col("doc_id"), col("_cid"), col("pos").as("i"), col("col").as("v"))
    x.groupBy(col("doc_id"), col("i"))
      .agg(
        count(lit(1)).as("n_chunks"),
        aggregate(sort_array(collect_list(struct(col("_cid"), col("v")))),
          lit(0.0), (acc, e) => acc + e.getField("v")).as("_vsum"))
      .select(col("doc_id"), col("i"), col("n_chunks"),
        (col("_vsum") / col("n_chunks").cast("double")).as("mean_val"))
  }

  /** Weighted mixture sampling: resample per `byCol` class to target
    * weights, supporting UPSAMPLING (weight > 1 emits repeated copies) —
    * the domain-mixing step of corpus construction. Weights are integer
    * PERCENTAGES (150 = 1.5×): copies = pct/100 guaranteed copies plus one
    * more when the doc's deterministic hash bucket falls under pct%100.
    * Hash-of-id gating (not row-order sampling) is the only reproducible
    * sampling at 100 TB: stable across engines, runs and cluster layouts.
    * Output: idCol, byCol, n_copies, copy (1-based). */
  def mixtureSample(
      docs: DataFrame, idCol: String, byCol: String,
      weightsPct: Map[String, Int], defaultPct: Int): DataFrame = {
    import graft.functions.Hashing.polyHashSpark
    // deterministic when-chain (sorted keys) — map order must not matter
    val pct = weightsPct.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPct)) { case (acc, (k, v)) =>
        when(col(byCol) === k, lit(v)).otherwise(acc)
      }
    docs
      .withColumn("_pct", pct)
      .withColumn("_bucket",
        expr(s"${polyHashSpark(s"CAST($idCol AS STRING)")} % 100"))
      .withColumn("n_copies",
        expr("CAST(_pct DIV 100 AS INT)") +
          when(col("_bucket") < col("_pct") % 100, 1).otherwise(0))
      .filter(col("n_copies") > 0)
      .select(col(idCol), col(byCol), col("n_copies"),
        explode(expr("sequence(1, n_copies)")).as("copy"))
  }

  /** Temperature-scaled mixture sampling — the multilingual/multi-domain
    * rebalancing rule (share^alpha renormalized, alpha = 1/2 here): domain
    * quotas proportional to the square root of the domain's weight (token
    * mass), so dominant domains are down-weighted and tail domains
    * up-weighted relative to natural sampling.
    *
    * Exactness discipline: quota_d = (budget · ⌊√w_d⌋) div Σ⌊√w_t⌋ in pure
    * BIGINT arithmetic — the ONLY float op is `floor(sqrt(double(w_d)))`,
    * exact and engine-identical for w_d < 2^53 (sqrt is correctly rounded
    * IEEE in both engines; every sum is an integer sum, so Spark's partial
    * aggregation order can't perturb anything). A normalized-double
    * formulation would instead sum 20 sqrt doubles in engine-dependent
    * order. Selection inside a domain is the quota smallest (salted hash,
    * id) rows — deterministic, uniform, and stable under corpus growth.
    *
    * Scale: the per-domain table is |domains| rows (broadcast); selection
    * is one window partitioned by domain — at 100 TB the rank scan is the
    * same per-key top-N every engine pays, and domains are numerous enough
    * (thousands) that partitions stay balanced. */
  def temperatureSample(
      docs: DataFrame, idCol: String, byCol: String, weightCol: String,
      budgetNum: Int, budgetDen: Int): DataFrame = {
    import graft.functions.Hashing.polyHashSpark
    import org.apache.spark.sql.expressions.Window
    val w = docs.groupBy(col(byCol))
      .agg(sum(col(weightCol)).cast("long").as("_w"),
        count(lit(1)).cast("long").as("_n"))
      .withColumn("_r", expr("CAST(floor(sqrt(CAST(_w AS DOUBLE))) AS BIGINT)"))
    val tot = w.agg(sum("_r").cast("long").as("_denom"),
      sum("_n").cast("long").as("_total"))
    val quota = w.crossJoin(broadcast(tot))
      .withColumn("quota",
        expr(s"CAST(((_total * $budgetNum DIV $budgetDen) * _r) DIV _denom AS BIGINT)"))
      .select(col(byCol), col("quota"))
    val wRank = Window.partitionBy(byCol).orderBy(col("_h").asc, col(idCol).asc)
    docs.select(col(idCol), col(byCol))
      .withColumn("_h",
        expr(polyHashSpark(s"'tsmp:' || CAST($idCol AS STRING)")))
      .withColumn("rk", row_number().over(wRank).cast("int"))
      .join(broadcast(quota), byCol)
      .filter(col("rk") <= col("quota"))
      .select(col(idCol), col(byCol), col("quota"), col("rk"))
  }

  /** Priority sampling (Duffield–Lund–Thorup, JACM 2007) — weighted
    * sampling WITHOUT replacement with unbiased Horvitz–Thompson
    * subset-sum estimates and no transcendental anywhere: item priority
    * q_i = w_i / u_i with u_i = (h_i + 1)/P an exact rational from the
    * salted polynomial hash (h_i ∈ [0, P)); the sample is the top-k by
    * priority and each sampled item's estimation weight is max(w_i, τ)
    * with τ the (k+1)-th priority — E[Σ est over any subset] = Σ w, the
    * property that makes the sample a drop-in for downstream weighted
    * sums. The only float ops are one exact BIGINT→DOUBLE conversion of
    * the w·P product (< 2^53 here) and ONE IEEE division, so rank and
    * estimate are engine-exact.
    *
    * When the input has ≤ k rows there is no genuine (k+1)-th priority and
    * DLT defines τ = 0 (every item is sampled with certainty, est_w = w);
    * taking the minimum SAMPLED priority instead would bias every
    * subset-sum estimate upward.
    *
    * Scale: top-(k+1) is a distributed TakeOrdered (per-partition heaps,
    * never a global sort); τ is one scalar; the rank window runs on the
    * collected ≤ k+1 rows. When w approaches 2^53/P the product moves to
    * DOUBLE (rank changes only where priorities tie within 1 ulp). */
  def prioritySample(
      docs: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame = {
    import graft.functions.Hashing.{polyHashSpark, P}
    import org.apache.spark.sql.expressions.Window
    val topk1 = docs
      .withColumn("_h", expr(polyHashSpark(s"'psmp:' || CAST($idCol AS STRING)")))
      .withColumn("priority",
        expr(s"CAST($weightCol * $P AS DOUBLE) / CAST(_h + 1 AS DOUBLE)"))
      .orderBy(col("priority").desc, col(idCol).asc)
      .limit(k + 1)
    val tau = topk1
      .agg(min("priority").as("_min"), count(lit(1)).as("_n"))
      .select(when(col("_n") === (k + 1), col("_min"))
        .otherwise(lit(0.0)).as("tau"))
    val w = Window.orderBy(col("priority").desc, col(idCol).asc)
    topk1.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .crossJoin(broadcast(tau))
      .withColumn("est_w", expr(s"greatest(CAST($weightCol AS DOUBLE), tau)"))
      .select(col(idCol), col("rk"), col(weightCol), col("priority"), col("est_w"))
      .orderBy("rk")
  }

  // ---------------------------------------------- BM25 impact-ordered serve

  /** BM25 constants shared by the exact ranker (`text_bm25_topk`) and the
    * impact index: k1 = 1.2, b = 0.75, spelled as literals in BOTH engines
    * so neither depends on constant folding; ratio idf (no log) keeps the
    * score libm-free. The per-(term, doc) CONTRIBUTION below is the whole
    * serve-time unit of the impact index — precomputable at build because
    * every input (tf, dl, df, avgdl, n_docs) is known once the corpus is
    * fixed. */
  val Bm25K1 = "1.2"
  val Bm25K1p1 = "2.2"

  /** One term's BM25 contribution as a SQL fragment (identical text in
    * Spark and DuckDB): ratio-idf(df) · saturated-tf(tf, dl/avgdl). Free
    * column refs: `n_docs`, `dl`, `avgdl`. */
  def bm25Term(tf: String, df: String): String =
    s"(((CAST(n_docs AS DOUBLE) - $df + 0.5) / ($df + 0.5)) * " +
      s"(($tf * $Bm25K1p1) / ($tf + $Bm25K1 * (0.25 + 0.75 * (dl / avgdl)))))"

  /** Per-(doc, term) frequencies with doc length: (doc_id, dl, term, tf). */
  def bm25TermFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), expr(s"split($textCol, ' ')").as("w"))
      .select(col("doc_id"), size(col("w")).as("dl"), col("w"))
      .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))

  /** Corpus totals for the idf/avgdl terms: one row (n_docs, sum_dl). */
  def bm25CorpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"), expr(s"size(split($textCol, ' '))").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** Impact postings from EXPLICIT statistics sources — the segment-build
    * primitive. Output (bkt, term, doc_id, dl, tf, impact, irank):
    * `impact` is the exact BM25 contribution of (term, doc), `irank` ranks
    * a term's postings by (impact DESC, doc_id ASC) — the impact ORDER a
    * WAND-style serve reads prefixes of — and `bkt` = polyhash(term) mod
    * `buckets` is the partition key, so a query's scan prunes to its
    * terms' buckets before any posting is read. The base build passes its
    * own (df, stats); an APPEND segment passes the BASE index's persisted
    * statistics, producing frozen-stats impacts (the Lucene-segment
    * discipline: global stats go stale until compaction). A term absent
    * from the stats source (brand-new vocabulary in a delta) scores with
    * df = 0 — the maximal-idf convention, deterministic in both engines. */
  def bm25PostingsWith(tf: DataFrame, dfT: DataFrame, stats: DataFrame,
      buckets: Int): DataFrame = {
    import graft.functions.Hashing.polyHashSpark
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("term")
      .orderBy(col("impact").desc, col("doc_id").asc)
    tf.join(dfT, Seq("term"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        expr("CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)"))
      .withColumn("impact", expr(bm25Term("tf", "df")))
      .withColumn("irank", row_number().over(w))
      .withColumn("bkt",
        expr(s"CAST(${polyHashSpark("term")} % $buckets AS INT)"))
      .select(col("bkt"), col("term"), col("doc_id").cast("long").as("doc_id"),
        col("dl"), col("tf"), col("impact"), col("irank"))
  }

  /** The on-disk schemas of an impact index's tables: `postings` (what
    * [[bm25PostingsWith]] writes, `bkt` being the partition directory),
    * `df` and `stats` ([[Layout.tombstones]] pins `tombstones`). Readers
    * pass them to `spark.read.schema`, so opening the index launches no
    * schema-inference job. */
  val Bm25PostingsSchema: StructType = StructType(Seq(
    StructField("bkt", IntegerType), StructField("term", StringType),
    StructField("doc_id", LongType), StructField("dl", IntegerType),
    StructField("tf", LongType), StructField("impact", DoubleType),
    StructField("irank", IntegerType)))
  val Bm25DfSchema: StructType = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType)))
  val Bm25StatsSchema: StructType = StructType(Seq(
    StructField("n_docs", LongType), StructField("sum_dl", LongType)))

  /** Every segment's postings ([[Layout.live]] with the pinned schema). */
  private def bm25Postings(spark: org.apache.spark.sql.SparkSession,
      segPaths: Seq[String]): DataFrame =
    Layout.live(spark, segPaths.map(p => s"$p/postings"), "doc_id", None,
      Some(Bm25PostingsSchema))

  /** Persist the impact index partitioned by term bucket, each file sorted
    * by (term, impact DESC): directory pruning kills non-query buckets and
    * Parquet row-group stats on `irank` let a prefix read (`irank <= k`)
    * skip the deep tail of every posting list — the on-disk analog of an
    * impact-ordered inverted file. */
  def writeBm25ImpactIndex(docs: DataFrame, textCol: String, path: String,
      buckets: Int): Unit = {
    val tf = bm25TermFreqs(docs, textCol)
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = bm25CorpusStats(docs, textCol)
    writePostings(bm25PostingsWith(tf, dfT, stats, buckets),
      s"$path/postings", buckets)
    // The index carries its OWN statistics tables: an append segment
    // freezes THESE (read from disk, never recomputed), exactly as a
    // production index serves stale idf until compaction.
    dfT.write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/df")
    stats.write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/stats")
  }

  private def writePostings(postings: DataFrame, path: String,
      buckets: Int): Unit =
    Layout.writeCells(postings, "bkt", path,
      Seq(col("term"), col("impact").desc), maxCells = buckets)

  /** Append a DELTA segment to a [[writeBm25ImpactIndex]] index under
    * FROZEN base statistics (df, n_docs, avgdl read from the index's own
    * tables — the base postings are NOT rewritten and no global stat is
    * refreshed): the production ingest path, where idf staleness is the
    * price of an O(|delta|) append. [[bm25ImpactTopKAppended]] serves
    * base ∪ delta; the staleness is measured (not guessed) by the bench's
    * append-vs-compacted overlap metric. */
  def writeBm25Delta(spark: org.apache.spark.sql.SparkSession,
      deltaDocs: DataFrame, textCol: String, basePath: String,
      deltaPath: String, buckets: Int): Unit =
    writePostings(
      bm25PostingsWith(bm25TermFreqs(deltaDocs, textCol),
        spark.read.schema(Bm25DfSchema).parquet(s"$basePath/df"),
        spark.read.schema(Bm25StatsSchema).parquet(s"$basePath/stats"),
        buckets),
      s"$deltaPath/postings", buckets)

  /** WAND-style threshold-pruned BM25 top-k over a persisted impact index —
    * the serving path whose results are PROVABLY identical to the exact
    * full-corpus ranker, so its oracle is the exact SQL itself. It runs in
    * two phases over the bucket- and term-pruned postings of the m query
    * terms:
    *
    *   1. Threshold: the top-`k` impact PREFIX of each query term's posting
    *      list (irank <= k, a row-group-pruned prefix read, at most m·k
    *      rows) is collected to the driver EAGERLY, while the DataFrame is
    *      built — the same bounded pull the batched serve makes for its
    *      terms. θ = the k-th best PARTIAL score among the prefix docs:
    *      their prefix impacts summed in query-term order, a term outside
    *      the doc's prefixes adding 0.0. Fewer than k prefix docs ⇒
    *      θ = -inf, degrading to exact full scoring. No shuffle runs here.
    *   2. Prune and rescore: the postings scan keeps only `impact >= θ/m`,
    *      a literal the Parquet reader gets, so row groups whose max impact
    *      is below θ/m never leave disk — on the impact-sorted layout this
    *      is ANOTHER prefix read, the set-oriented restatement of WAND's
    *      pointer walk. The surviving doc ids semi-join back to their full
    *      postings, which are rescored exactly, top-k.
    *
    * Safety rests on every stored impact being POSITIVE: the ratio idf
    * (n_docs - df + 0.5) / (df + 0.5) is positive because df <= n_docs in
    * the statistics the impact was computed with, and so is the saturated
    * tf of a posting (tf >= 1). A partial score then sums, term by term,
    * values no larger than the full score's, and floating-point addition is
    * monotone, so partial <= full for every doc: the k prefix docs with
    * partial >= θ have full scores >= θ, and θ is a lower bound on the true
    * k-th score. A doc with no posting at `impact >= θ/m` has all m
    * query-term impacts below θ/m, so its score is below θ and it cannot
    * displace the top-k; the survivors contain the true top-k. */
  def bm25ImpactTopK(spark: org.apache.spark.sql.SparkSession, path: String,
      terms: Seq[String], k: Int, buckets: Int): DataFrame =
    bm25ImpactTopKFrom(spark, Seq(path), None, terms, k, buckets)

  /** Serve base ∪ delta segments: per-term prefixes come from EACH
    * segment (`irank` is segment-local — the union of both prefixes seeds
    * theta, and the safety proof below only needs theta to be a valid
    * k-th-best lower bound, which any seed set gives); the survivor
    * threshold scans BOTH segments' impact-ordered postings. Results are
    * exact for the impacts AS STORED — i.e. the frozen-stats ranking the
    * append semantics define.
    *
    * PRECONDITION: base and delta doc_id sets must be DISJOINT (append-only
    * segments, the Lucene model — updates are delete+re-add into the delta
    * with a NEW id, as the `+1e15` offset in the pipeline callers ensures).
    * An overlapping id would get its cross-segment postings merged by the
    * per-term MAX in the rescore and, if its dl changed between segments,
    * would surface twice via distinct (doc_id, dl) groups — silently wrong
    * scores. Segment producers own this invariant; the serve path cannot
    * check it without a full-index scan. */
  def bm25ImpactTopKAppended(spark: org.apache.spark.sql.SparkSession,
      basePath: String, deltaPath: String, terms: Seq[String], k: Int,
      buckets: Int): DataFrame =
    bm25ImpactTopKMultiseg(spark, basePath, Seq(deltaPath), terms, k, buckets)

  /** Serve base ∪ N delta segments — the general form of
    * [[bm25ImpactTopKAppended]] (its N = 1 case delegates here), in the two
    * phases of [[bm25ImpactTopK]] over every segment's postings. Phase 1 collects each segment's `irank <= k` prefix rows
    * (iranks are segment-local, so at most m·k rows per segment); a doc
    * lives in one segment, so its partial score is still a sum of its own
    * impacts and θ is a valid k-th-best lower bound for any segment count.
    * Phase 2's `impact >= θ/m` threshold scans every segment's
    * impact-ordered postings. All segments must carry pairwise-disjoint
    * doc_id sets (the append precondition above). Serve cost is flat in
    * segment count at fixed total size: each segment contributes the same
    * bucket-pruned prefix + threshold reads the single index pays, just
    * split across directories — measured by the bench's bm25_seg_sweep
    * section. */
  def bm25ImpactTopKMultiseg(spark: org.apache.spark.sql.SparkSession,
      basePath: String, segPaths: Seq[String], terms: Seq[String], k: Int,
      buckets: Int): DataFrame =
    bm25ImpactTopKFrom(spark, basePath +: segPaths, None, terms, k, buckets)

  /** Persist a DELETE tombstone set against an impact index — the Lucene
    * `.liv` analog: a doc_id table under the index's own directory, the
    * base postings untouched (an O(|deletes|) write, like the delta
    * append's O(|delta|)). The doc stays IN the postings and IN the frozen
    * statistics until compaction physically drops it — serve-time filtering
    * ([[bm25ImpactTopKMultisegDeleted]]) is what hides it. */
  def writeBm25Tombstones(docIds: DataFrame, basePath: String): Unit =
    Layout.writeTombstones(docIds, "doc_id", basePath)

  /** Serve base ∪ N segments honoring the base index's TOMBSTONES: both
    * phases of [[bm25ImpactTopKMultiseg]] read the LIVE postings, i.e. the
    * postings anti-joined with the tombstone table (deletes ≪ corpus, so
    * the build side is the small one). Phase 1's prefixes may then hold
    * fewer than k live docs — every prefix posting of a term may be
    * tombstoned — and θ = -inf then scores the live index exactly. With
    * k or more live prefix docs, θ is the k-th best partial score among
    * LIVE docs, a lower bound on the k-th best live score by the
    * positive-impact argument of [[bm25ImpactTopK]]. Phase 2's survivors
    * are live docs, so a tombstoned doc can never appear at any k. Impacts
    * stay AS STORED (the deleted docs still count in df/n_docs/avgdl —
    * Lucene's stale-stats semantics until compaction). Bucket, term and
    * impact filters still reach every segment scan: they push through the
    * anti-join's left side. */
  def bm25ImpactTopKMultisegDeleted(spark: org.apache.spark.sql.SparkSession,
      basePath: String, segPaths: Seq[String], terms: Seq[String], k: Int,
      buckets: Int): DataFrame =
    bm25ImpactTopKFrom(spark, basePath +: segPaths, Some(basePath), terms, k,
      buckets)

  /** BATCHED WAND-style serve — the workload axis, set-oriented: ONE job
    * serves a whole query TABLE `queries(q_id, term)` against the impact
    * index, the per-query θ-prune running data-parallel across queries
    * (this is how "queries are embarrassingly parallel" cashes out as a
    * plan instead of a driver loop). Differences from the single-query
    * serve:
    *   - the static bucket prune comes from ONE bounded driver pull — the
    *     batch's distinct terms (workload-sized, like the single-query
    *     serve's prefix pull);
    *   - per-(q, doc) scores fold in TERM-SORTED order (both engines sort
    *     the (term, impact) structs, so the IEEE sum order is deterministic
    *     without per-query literal expressions);
    *   - θ, and the per-query term count m_q, ride a |Q|-row broadcast.
    * The prune-safety proof is per-query and unchanged. */
  def bm25ImpactTopKBatched(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, k: Int, buckets: Int): DataFrame = {
    import graft.functions.Hashing.polyHashLocal
    // Dedup the workload at entry: a repeated (q_id, term) row would
    // double-count that term's impact in the collect_list rescore AND
    // inflate m_q's prune divisor — the single-query serve rejects
    // duplicate terms via require, so the batched public API must be
    // equally safe for arbitrary callers (round-12 advice).
    val qt = queries.select(col("q_id"), col("term")).distinct()
    // Bounded driver pull: the workload's distinct terms (the query batch
    // is an input the driver already holds — this never touches the corpus).
    val terms = qt.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    require(terms.nonEmpty, "empty query workload: no (q_id, term) rows")
    require(terms.forall(_.forall(_ < 128)),
      "query terms must be ASCII (bucket hash is ascii-codepoint-based)")
    val bkts = terms.map(t => (polyHashLocal(t) % buckets).toInt).distinct
    val idx = bm25Postings(spark, Seq(path))
      .filter(col("bkt").isin(bkts: _*) && col("term").isin(terms: _*))
    // Per-query postings: the bucket-pruned index joined to the broadcast
    // workload — each posting row fans out only to the queries whose term
    // it carries.
    val qidx = idx.join(broadcast(qt), "term")
    val sortedFold = expr(
      "aggregate(transform(array_sort(collect_list(struct(term, impact))), " +
        "p -> p.impact), CAST(0.0 AS DOUBLE), (a, x) -> a + x)")
    // The seed set is workload-bounded by construction (≤ |Q|·m·k rows —
    // irank <= k per (term, segment), m terms per query), so its rescore
    // join rides a BROADCAST instead of exchanging the bucket-pruned
    // postings on (q_id, doc_id) (round 17, guide §3.1); the survivor
    // rescore keeps the lazy shuffle join — survivors are prune-bounded,
    // not workload-bounded. SINGLE-SEGMENT assumption (r17 advice): the
    // ≤ |Q|·m·k bound holds because this path reads one unsegmented
    // postings table (irank is global here); against a SEGMENTED layout
    // irank is segment-local, so the seed set — and this broadcast —
    // would grow by the live segment count. Re-derive the bound before
    // pointing this helper at a segmented index.
    def rescore(cands: DataFrame, broadcastCands: Boolean = false): DataFrame =
      (if (broadcastCands) broadcast(cands) else cands)
        .join(qidx, Seq("q_id", "doc_id"))
        .groupBy("q_id", "doc_id", "dl")
        .agg(sortedFold.as("score"))
    val seeds = qidx.filter(col("irank") <= k)
      .select("q_id", "doc_id").distinct()
    // θ = the k-th best seed score per query, as a bounded TopKAggregate
    // instead of a row_number window (round 17, the last window in this
    // path): heap order (score desc, doc_id asc) ≡ the window order, and
    // "k-th element's score" ≡ "min(score) over the rn <= k rows", so θ is
    // bit-identical; fewer than k seeds ⇒ MinValue (exact scoring), as
    // before. The window form exchanged AND per-group-sorted the rescored
    // seed set; the aggregate map-side-combines to ≤ k entries per query.
    Similarity.requireIntegralId(qidx, "doc_id", "bm25ImpactTopKBatched")
    val thetas = rescore(seeds, broadcastCands = true)
      .groupBy("q_id")
      .agg(graft.expressions.TopKAggregate
        .topK(col("score"), col("doc_id").cast("long"), k).as("_top"))
      .select(col("q_id"), when(size(col("_top")) < k, lit(Double.MinValue))
        .otherwise(element_at(col("_top"), k).getField("score")).as("theta"))
    val mq = qt.groupBy("q_id").agg(count(lit(1)).as("m"))
    val survivors = qidx
      .join(broadcast(thetas.join(mq, "q_id")), "q_id")
      .filter(col("impact") >= col("theta") / col("m").cast("double"))
      .select("q_id", "doc_id").distinct()
    // Final cut: bounded TopKAggregate ((score desc, doc_id asc) ≡ the
    // window order — bit-identical); the window form exchanged and sorted
    // every surviving rescored candidate. Both cuts in this path (θ above
    // and this one) are bounded TopKAggregates — no windows remain.
    Similarity.topKCut(
        rescore(survivors).withColumnRenamed("q_id", "q_vec")
          .withColumnRenamed("doc_id", "neighbor"),
        "score", k)
      .select(col("q_vec").as("q_id"), col("rank"),
        col("neighbor").as("doc_id"), col("score"))
  }

  /** Deterministic query workload for the batched serve: q_id i carries
    * three distinct terms rotated through a fixed 12-term pool (the index
    * arithmetic guarantees pairwise distinctness for every i) — trivially
    * replayable in SQL, scalable to any |Q| for the probe-axis sweep. */
  val Bm25QueryPool: Seq[String] = Seq(
    "spark", "vector", "customer", "table", "scan", "query",
    "window", "batch", "stream", "merge", "filter", "group")

  def bm25QueryBatch(spark: org.apache.spark.sql.SparkSession,
      nq: Int): DataFrame = {
    import spark.implicits._
    val p = Bm25QueryPool
    (0 until nq).flatMap(i =>
      Seq(p(i % 12), p((i * 5 + 1) % 12), p((i * 7 + 2) % 12))
        .map(t => (i.toLong, t)))
      .toDF("q_id", "term")
  }

  /** Size-tiered compaction decision (the Lucene merge-policy shape) over
    * postings COUNTS — the deterministic, engine-portable proxy for segment
    * bytes (postings rows × a fixed row width): fire when the accumulated
    * segments exceed `ratioPct`/100 of the base segment. Returns ONE row
    * (n_base, n_segs, n_segments, should_compact) from the segments'
    * postings scans with no data column read — only the Parquet footers'
    * row counts. The scans run as one task, so the decision costs one
    * Spark job; its file count is buckets × (1 + segments), which the
    * trigger itself keeps bounded. The decision is consumed driver-side at
    * BUILD time (a 1-row pull, the merge-policy analog) — never in a serve
    * path. */
  def bm25CompactionTrigger(spark: org.apache.spark.sql.SparkSession,
      basePath: String, segPaths: Seq[String], ratioPct: Int): DataFrame =
    (basePath +: segPaths).zipWithIndex
      .map { case (p, i) =>
        spark.read.schema(Bm25PostingsSchema).parquet(s"$p/postings")
          .select(lit(i == 0).as("_base"))
      }
      .reduce(_.unionByName(_))
      .coalesce(1)
      .agg(count_if(col("_base")).as("n_base"),
        count_if(!col("_base")).as("n_segs"))
      .select(col("n_base"), col("n_segs"),
        lit(segPaths.size).as("n_segments"),
        (col("n_segs") * lit(100L) > col("n_base") * lit(ratioPct.toLong))
          .as("should_compact"))

  private def bm25ImpactTopKFrom(spark: org.apache.spark.sql.SparkSession,
      segPaths: Seq[String], tombstonesOf: Option[String], terms: Seq[String],
      k: Int, buckets: Int): DataFrame = {
    import graft.functions.Hashing.polyHashLocal
    require(k > 0, s"k must be positive: $k")
    require(terms.nonEmpty && terms.distinct == terms, "distinct query terms")
    // polyHashLocal folds UTF-16 code units while the build side's
    // polyHashSpark folds ascii() code points — identical ONLY for ASCII
    // terms. A non-ASCII term would bucket-prune to the WRONG partition and
    // silently drop its postings, so enforce the documented constraint here.
    require(terms.forall(_.forall(_ < 128)),
      s"query terms must be ASCII (bucket hash is ascii-codepoint-based): " +
        terms.filter(!_.forall(_ < 128)).mkString(","))
    val bkts = terms.map(t => (polyHashLocal(t) % buckets).toInt).distinct
    val idx = bm25Postings(spark, segPaths)
      .filter(col("bkt").isin(bkts: _*) && col("term").isin(terms: _*))
    // One postings read serves the rescore (`idx`) and both phases (`live`,
    // the pruned `idx` minus tombstones).
    val live = tombstonesOf.fold(idx)(ix =>
      Layout.dropTombstoned(idx, Layout.tombstones(spark, ix, "doc_id"), "doc_id"))
    // Phase 1: θ from the live prefixes' partial scores, summed in query
    // order like the rescore below (see the safety argument on
    // bm25ImpactTopK).
    val partial = live.filter(col("irank") <= k)
      .select("doc_id", "term", "impact").collect()
      .groupBy(_.getLong(0)).values.map { rows =>
        val byTerm = rows.groupMapReduce(_.getString(1))(_.getDouble(2))(math.max)
        terms.map(byTerm.getOrElse(_, 0.0)).reduce(_ + _)
      }.toSeq.sorted(Ordering[Double].reverse)
    val theta = if (partial.size < k) Double.MinValue else partial(k - 1)
    // Phase 2: threshold scan, then the fixed-order rescore: one
    // conditional MAX per query term (a doc has at most one posting per
    // term), summed in QUERY order — the identical IEEE sequence the exact
    // ranker's term1 + term2 + term3 evaluates, so scores hash-match the
    // oracle bit-for-bit (a missing term contributes +0.0 exactly as a
    // tf=0 term does in the exact ranker).
    val survivors = live
      .filter(col("impact") >= lit(theta / terms.size)).select("doc_id")
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("impact"))).as(s"_i$i")
    }
    idx.join(survivors, Seq("doc_id"), "left_semi")
      .groupBy("doc_id", "dl")
      .agg(perTerm.head, perTerm.tail: _*)
      .withColumn("score", terms.indices
        .map(i => coalesce(col(s"_i$i"), lit(0.0))).reduce(_ + _))
      .select("doc_id", "dl", "score")
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
  }
}
