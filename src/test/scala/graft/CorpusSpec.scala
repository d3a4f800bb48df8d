package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Corpus

class CorpusSpec extends SparkSpec {

  /** Exact BM25 top-k by full scoring of every doc in `scored` under the
    * statistics (n_docs, avgdl, per-term df) of `statsFrom`: passing the
    * same corpus twice gives the refreshed-stats ranker, passing an
    * index's base corpus as `statsFrom` gives the frozen-stats ranking of
    * its appended segments. Rows (doc_id, dl, score) for docs with a
    * query term, ordered (score desc, doc_id asc). */
  private def exactBm25(scored: DataFrame, statsFrom: DataFrame,
      terms: Seq[String], k: Int): Seq[(Long, Int, Double)] = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      sum(when(col("t") === t, 1L).otherwise(0L)).as(s"tf$i")
    }
    def tfs(docs: DataFrame) =
      docs.select(col("doc_id"), expr("split(text, ' ')").as("w"))
        .select(col("doc_id"), size(col("w")).as("dl"), explode(col("w")).as("t"))
        .groupBy("doc_id", "dl").agg(tfCols.head, tfCols.tail: _*)
    val stats = tfs(statsFrom).agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    tfs(scored).crossJoin(broadcast(stats))
      .withColumn("avgdl",
        expr("CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)"))
      .withColumn("score", expr(terms.indices
        .map(i => Corpus.bm25Term(s"tf$i", s"df$i")).mkString(" + ")))
      .filter(col("score") > 0)
      .select("doc_id", "dl", "score")
      .orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
  }

  private def scoredRows(df: DataFrame): Seq[(Long, Int, Double)] =
    df.orderBy(col("score").desc, col("doc_id").asc)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq

  test("decontaminate: cloned benchmark doc is fully contaminated, unrelated doc clean") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),  // benchmark
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),  // exact clone
      (2L, "one two three four five six seven eight nine"),   // unrelated
      (3L, "alpha beta gamma delta epsilon xx yy zz qq")      // partial overlap
    ).toDF("doc_id", "text")
    val out = Corpus.decontaminate(docs, "doc_id", "text", n = 5,
        benchmarkPred = col("doc_id") === 0, threshold = 0.5)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(3), r.getBoolean(4)))
    assert(out(0) === ((1L, 1.0, true)))
    assert(out(1) === ((2L, 0.0, false)))
    assert(out(2)._1 === 3L && out(2)._2 > 0.0 && out(2)._2 < 0.5 && !out(2)._3)
  }

  test("mixtureSample: copy counts follow the percent weights deterministically") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, if (i < 100) "up" else "down"))
      .toDF("doc_id", "source")
    val out = Corpus.mixtureSample(docs, "doc_id", "source",
      weightsPct = Map("up" -> 250, "down" -> 40), defaultPct = 0)
    val perDoc = out.groupBy("doc_id", "source", "n_copies")
      .agg(count(lit(1)).as("emitted")).collect()
    // every emitted doc materializes exactly n_copies rows
    assert(perDoc.forall(r => r.getInt(2).toLong === r.getLong(3)))
    val up = perDoc.filter(_.getString(1) == "up")
    assert(up.map(_.getInt(2)).forall(c => c == 2 || c == 3))
    assert(up.length === 100) // 250% never drops a doc
    val down = perDoc.filter(_.getString(1) == "down")
    assert(down.map(_.getInt(2)).forall(_ == 1))
    assert(down.length < 100 && down.length > 10) // ~40% hash gate
    // deterministic: identical on re-run
    val again = Corpus.mixtureSample(docs, "doc_id", "source",
      weightsPct = Map("up" -> 250, "down" -> 40), defaultPct = 0)
    assert(out.exceptAll(again).count() === 0 && again.exceptAll(out).count() === 0)
  }

  test("contract is exact leftmost-greedy on self-overlapping runs (round-8 advice)") {
    import spark.implicits._
    // The advice counterexamples: a string double-replace of " a a " gives
    // "aa a aa" on 'aaaaa' (it skips the occurrence whose boundary space
    // the previous match consumed, then catches the NEXT one) and 6 tokens
    // on 'a'*9 — classic BPE scans left to right merging at i, i+2, …:
    // 'aa aa a' and 5 tokens. The fold must reproduce the classic scan.
    val df = Seq("aaaaa", "aaaaaaaaa").toDF("w")
      .withColumn("spaced", expr("concat(' ', array_join(transform(" +
        "sequence(1, length(w)), i -> substr(w, i, 1)), ' '), ' ')"))
      .withColumn("c", trim(Corpus.contract(col("spaced"), lit("a"), lit("a"))))
    val got = df.select("w", "c").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("aaaaa") === "aa aa a", got)
    assert(got("aaaaaaaaa") === "aa aa aa aa a", got)
  }

  test("bpeApplyMerges contracts all occurrences and preserves the word") {
    import spark.implicits._
    // 'aaaa' exercises the adjacent-occurrence case: merge (a,a) must
    // yield [aa, aa], not [aa, a, a].
    val docs = Seq("aaaa aaaa aaaa ab ab ab xy").toDF("text")
    val out = Corpus.bpeApplyMerges(docs, "text", topN = 2)
      .orderBy("word").collect()
    // top-2 pairs: 'aa' (cnt 3*3=9) then 'ab' (3 within 'ab' words... plus 0)
    val byWord = out.map(r => r.getString(0) -> (r.getInt(3), r.getString(4))).toMap
    assert(byWord("aaaa") === ((2, "aa aa")), byWord)
    assert(byWord("ab") === ((1, "ab")), byWord)
    assert(byWord("xy")._2.replace(" ", "") === "xy")
    // every word reassembles from its tokens
    out.foreach { r =>
      assert(r.getString(4).replace(" ", "") === r.getString(0))
    }
  }

  test("bpeTrainMerges learns sequential merges and stops when exhausted") {
    import spark.implicits._
    // "aaab" × 3. Round 1: pairs {a a: 6, a b: 3} → merge (a,a), every word
    // becomes [aa, a, b] (leftmost-greedy contraction: NOT [aa, aa]-style
    // over-merge, and greedy-left like reference BPE). Round 2: tie
    // {aa a: 3, a b: 3} → pair-asc tie-break picks (a,b) → [aa, ab].
    // Round 3: {aa ab: 3} → (aa,ab) → [aaab], a single symbol. Round 4:
    // no pairs remain → training stops early with 3 merges despite k=4.
    val docs = Seq("aaab aaab", "aaab").toDF("text")
    val got = Corpus.bpeTrainMerges(docs, "text", k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "a", 6L), (2, "a", "b", 3L),
      (3, "aa", "ab", 3L)), got.toSeq)
  }

  test("bpeTrain: larger k extends the merge list as a prefix and compresses monotonically") {
    import spark.implicits._
    // Greedy deterministic training means a k=6 run must begin with the
    // k=2 run's merges verbatim (prefix property), and because every merge
    // only CONTRACTS, the corpus-weighted mean tokens/word can only fall
    // as k grows — the structural half of the bench's vocabulary-size
    // sweep (the artifact carries the cost half).
    val docs = Seq("the cat sat on the mat", "the rat ate the malt",
      "a cat and a rat", "the cat sat still").toDF("text")
    def meanTok(vocab: org.apache.spark.sql.DataFrame): Double = {
      val r = vocab.agg(
        expr("sum(wc * size(split(trim(spaced), ' ')))"), expr("sum(wc)")).head
      r.getLong(0).toDouble / r.getLong(1)
    }
    val (m2, v2) = Corpus.bpeTrain(docs, "text", 2)
    val (m6, v6) = Corpus.bpeTrain(docs, "text", 6)
    try {
      assert(m6.take(m2.size) === m2, s"prefix violated: $m2 vs ${m6.take(m2.size)}")
      assert(m6.size > m2.size)
      assert(meanTok(v6) <= meanTok(v2), s"${meanTok(v6)} > ${meanTok(v2)}")
    } finally { v2.unpersist(); v6.unpersist() }
  }

  test("bpeEncodeWords applies trained merges in rank order to unseen words") {
    import spark.implicits._
    // Model from the trainer test: (a,a) → aa, (a,b) → ab, (aa,ab) → aaab.
    // Unseen words exercise each stage: "aab" needs merge 1 then 2 but NOT
    // 3 ("aa ab" pair != (aa,ab)? it IS (aa,ab) — merges to aaab);
    // "aba" hits only merge 2 (greedy-left); "ba" hits nothing;
    // "aaaba" shows the multi-char chain on a word training never saw.
    val merges = Seq((1, "a", "a", 6L), (2, "a", "b", 3L), (3, "aa", "ab", 3L))
    val words = Seq("aab", "aba", "ba", "aaaba", "aaab").toDF("w")
    val got = Corpus.bpeEncodeWords(words, "w", merges)
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getString(2))).toMap
    // aab: m1 consumes the leading (a,a) → "aa b"; m2's (a,b) needs a
    // SINGLE-char a and no longer finds one — rank order matters, exactly
    // classic lowest-rank-first BPE.
    assert(got("aab") === ((2, "aa b")), got("aab"))
    // aba: m1 no " a a "; m2 merges the leading (a,b) → [ab, a]
    assert(got("aba") === ((2, "ab a")), got("aba"))
    assert(got("ba") === ((2, "b a")), got("ba"))
    // aaab: m1 → " aa a b " (greedy-left), m2 → " aa ab ", m3 → " aaab "
    assert(got("aaab") === ((1, "aaab")), got("aaab"))
    // aaaba: m1 → " aa a b a ", m2 → " aa ab a ", m3 → " aaab a "
    assert(got("aaaba") === ((2, "aaab a")), got("aaaba"))
  }

  test("temperatureSample: sqrt-quota allocation, exact per-source counts") {
    import spark.implicits._
    // Three domains with weight masses 10000, 2500, 100 (isqrt 100, 50, 10;
    // denom 160). Budget = 2/5 of 320 docs = 128 →
    // quotas: 128·100/160 = 80, 128·50/160 = 40, 128·10/160 = 8.
    // Natural shares are 79/20/1 % — temperature lifts the tail (1 % of
    // mass → 6.25 % of the sample) and trims the head (79 → 62.5 %).
    val docs = ((0L until 200L).map(i => (i, "big", 50L)) ++
        (200L until 300L).map(i => (i, "mid", 25L)) ++
        (300L until 320L).map(i => (i, "tail", 5L)))
      .toDF("doc_id", "source", "n_chars")
    val out = Corpus.temperatureSample(docs, "doc_id", "source", "n_chars",
      budgetNum = 2, budgetDen = 5)
    val bySrc = out.groupBy("source")
      .agg(count(lit(1)).as("n"), max("quota").as("q"), max("rk").as("mx"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    assert(bySrc("big") === ((80L, 80L, 80)))
    assert(bySrc("mid") === ((40L, 40L, 40)))
    assert(bySrc("tail") === ((8L, 8L, 8)))
    // Determinism: same selection under a different physical layout.
    val again = Corpus.temperatureSample(docs.repartition(7, col("doc_id")),
      "doc_id", "source", "n_chars", budgetNum = 2, budgetDen = 5)
    assert(again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      out.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("decontaminateSurgical removes exactly the covered spans, merges overlaps") {
    import spark.implicits._
    // Benchmark doc 0: "q1 q2 q3 q4 q5 q6" — its 3-gram windows are
    // (q1 q2 q3)(q2 q3 q4)(q3 q4 q5)(q4 q5 q6).
    // Doc 1 quotes "q1..q4" mid-text: windows (q1 q2 q3) and (q2 q3 q4)
    // match, covering token positions 3..5 and 4..6 — merged span 3..6,
    // 4 tokens (overlap-union, not per-window duplication).
    // Doc 2 quotes two DISJOINT benchmark windows.
    // Doc 3 is clean (clean_text must equal text verbatim).
    // Doc 4 is shorter than the window (never contaminated).
    val docs = Seq(
      (0L, "q1 q2 q3 q4 q5 q6"),
      (1L, "aa bb q1 q2 q3 q4 cc dd"),
      (2L, "q1 q2 q3 xx yy q4 q5 q6 zz"),
      (3L, "aa bb cc dd ee"),
      (4L, "q1 q2")
    ).toDF("doc_id", "text")
    val out = graft.ops.Corpus.decontaminateSurgical(
        docs, "doc_id", "text", n = 3, benchmarkPred = col("doc_id") === 0L)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq === Seq(
      (1L, 8, 4L, "aa bb cc dd"),
      (2L, 9, 6L, "xx yy zz"),
      (3L, 5, 0L, "aa bb cc dd ee"),
      (4L, 2, 0L, "q1 q2")))
  }

  test("bm25 impact serve equals the exact ranker — prune is lossless, " +
      "and the under-k edge degrades to full scoring") {
    import spark.implicits._
    // A corpus engineered so phase-1 seeds do NOT already contain every
    // scoring doc at k=2: 'spark'-heavy docs dominate the spark posting
    // list, but a doc scoring via two medium terms must still surface.
    val docs = Seq(
      (0L, "spark spark spark spark filler filler"),
      (1L, "spark vector filler filler"),
      (2L, "vector customer filler"),
      (3L, "customer filler filler filler filler filler filler filler"),
      (4L, "spark filler"),
      (5L, "filler filler filler"),
      (6L, "vector spark customer")
    ).toDF("doc_id", "text")
    val tmp = graft.engine.TempDirs.create("graft_bm25spec")
    Corpus.writeBm25ImpactIndex(docs, "text", tmp, buckets = 4)
    val terms = Seq("spark", "vector", "customer")
    def exact(k: Int) = exactBm25(docs, docs, terms, k)
    def served(k: Int) =
      scoredRows(Corpus.bm25ImpactTopK(spark, tmp, terms, k, buckets = 4))
    // k=2: theta prunes (6 scoring docs, only 2 survive) — BIT-equal scores.
    assert(served(2) === exact(2))
    // k=3 and k=5: intermediate prune depths.
    assert(served(3) === exact(3))
    assert(served(5) === exact(5))
    // k=20 > scoring docs: under-k edge, theta = -inf, full scoring.
    assert(served(20) === exact(20))
    assert(served(20).size === 6)
  }

  test("bm25 append serves frozen base stats; compaction refreshes them") {
    import spark.implicits._
    val base = Seq(
      (0L, "spark filler filler"),
      (1L, "vector filler"),
      (2L, "filler filler filler filler")
    ).toDF("doc_id", "text")
    // The delta floods the corpus with 'spark' docs: under REFRESHED stats
    // spark's df jumps 1 -> 4 (idf collapses), under FROZEN stats the new
    // docs score with spark's OLD df = 1.
    val delta = Seq(
      (10L, "spark aa"), (11L, "spark bb"), (12L, "spark cc")
    ).toDF("doc_id", "text")
    val basePath = graft.engine.TempDirs.create("graft_bmlc_base")
    val deltaPath = graft.engine.TempDirs.create("graft_bmlc_delta")
    val compPath = graft.engine.TempDirs.create("graft_bmlc_comp")
    Corpus.writeBm25ImpactIndex(base, "text", basePath, buckets = 4)
    Corpus.writeBm25Delta(spark, delta, "text", basePath, deltaPath, buckets = 4)
    Corpus.writeBm25ImpactIndex(base.unionByName(delta), "text", compPath,
      buckets = 4)
    val terms = Seq("spark", "vector")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("score").desc, col("doc_id").asc).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val appended = rows(Corpus.bm25ImpactTopKAppended(spark, basePath,
      deltaPath, terms, k = 10, buckets = 4))
    val compacted = rows(Corpus.bm25ImpactTopK(spark, compPath, terms,
      k = 10, buckets = 4))
    // Both rankings contain all 5 scoring docs.
    assert(appended.map(_._1).toSet === Set(0L, 1L, 10L, 11L, 12L))
    assert(compacted.map(_._1).toSet === Set(0L, 1L, 10L, 11L, 12L))
    // Frozen stats: a delta spark doc scores with spark's STALE df=1 idf,
    // which exactly equals vector's idf — so doc 10 ('spark aa', tf=1,
    // dl=2) TIES doc 1 ('vector filler', tf=1, dl=2) bit-for-bit, and
    // outscores base doc 0 only through dl saturation.
    val app = appended.toMap
    assert(app(10L) === app(1L), appended)
    assert(app(10L) > app(0L), appended)
    // Refreshed stats break the tie: spark's df jumps 1 -> 4 (of 6 docs,
    // idf collapses) while vector stays rare — compaction ranks the
    // vector doc STRICTLY first and drops every spark doc's score below
    // its frozen value. This asymmetry is the staleness the bench
    // append-vs-compacted overlap measures.
    val comp = compacted.toMap
    assert(compacted.head._1 === 1L && comp(1L) > comp(10L), compacted)
    assert(comp(10L) < app(10L), (appended, compacted))
  }

  test("bm25 multi-segment serve is segment-split invariant, and the " +
      "tiered trigger fires on the postings ratio") {
    import spark.implicits._
    val base = Seq(
      (0L, "spark filler filler"),
      (1L, "vector filler"),
      (2L, "filler filler filler filler"),
      (3L, "spark vector filler")
    ).toDF("doc_id", "text")
    val d1 = Seq((10L, "spark aa"), (11L, "vector bb")).toDF("doc_id", "text")
    val d2 = Seq((20L, "spark vector cc")).toDF("doc_id", "text")
    val basePath = graft.engine.TempDirs.create("graft_bmms_base")
    val p1 = graft.engine.TempDirs.create("graft_bmms_s1")
    val p2 = graft.engine.TempDirs.create("graft_bmms_s2")
    val pUnion = graft.engine.TempDirs.create("graft_bmms_union")
    Corpus.writeBm25ImpactIndex(base, "text", basePath, buckets = 4)
    Corpus.writeBm25Delta(spark, d1, "text", basePath, p1, buckets = 4)
    Corpus.writeBm25Delta(spark, d2, "text", basePath, p2, buckets = 4)
    // The same delta rows written as ONE segment under the same frozen
    // stats: how the N-segment state relates to the single-append state.
    Corpus.writeBm25Delta(spark, d1.unionByName(d2), "text", basePath,
      pUnion, buckets = 4)
    val terms = Seq("spark", "vector")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("score").desc, col("doc_id").asc).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    for (k <- Seq(1, 2, 10)) {
      // Segment-split invariance: serving base ∪ {s1, s2} must BIT-equal
      // serving base ∪ (s1 ∪ s2) — how the postings were sliced into
      // segments (and their segment-LOCAL iranks) must not leak into the
      // ranking. This is the N-generalization of the θ-prune safety proof.
      assert(
        rows(Corpus.bm25ImpactTopKMultiseg(spark, basePath, Seq(p1, p2),
          terms, k, buckets = 4)) ===
        rows(Corpus.bm25ImpactTopKAppended(spark, basePath, pUnion,
          terms, k, buckets = 4)), s"k=$k")
    }
    // Tiered trigger: 3 segment postings (2+2+3=7? count exact below) vs
    // base postings — fires at a low ratio, holds at a high one. Counts
    // are distinct (doc, term) pairs: base = 8, segments = 7.
    def trig(pct: Int) =
      Corpus.bm25CompactionTrigger(spark, basePath, Seq(p1, p2), pct)
        .head
    val t = trig(25)
    assert(t.getLong(0) === 8L && t.getLong(1) === 7L, t)
    assert(t.getBoolean(3))          // 700 > 200: compact
    assert(!trig(90).getBoolean(3))  // 700 > 720 is false: hold
    // Zero accumulated segments: a defined no-compact decision, not
    // reduce()'s UnsupportedOperationException (round-12 advice).
    val t0 = Corpus.bm25CompactionTrigger(spark, basePath, Seq.empty, 25).head
    assert(t0.getLong(0) === 8L && t0.getLong(1) === 0L &&
      t0.getInt(2) === 0 && !t0.getBoolean(3), t0)
  }

  test("bm25 tombstoned docs never appear at any k, and the deleted serve " +
      "equals serving physically-filtered frozen-stats postings") {
    import spark.implicits._
    // Docs 0 and 4 sit inside the undeleted top-10 (asserted below) —
    // deleting them genuinely changes the list, not just its tail.
    val base = Seq(
      (0L, "spark spark spark"),
      (1L, "vector filler"),
      (2L, "filler filler filler filler"),
      (3L, "spark vector filler"),
      (4L, "spark filler filler filler")
    ).toDF("doc_id", "text")
    val d1 = Seq((10L, "spark aa"), (11L, "vector bb")).toDF("doc_id", "text")
    val basePath = graft.engine.TempDirs.create("graft_bmtomb_base")
    val p1 = graft.engine.TempDirs.create("graft_bmtomb_s1")
    val pLive = graft.engine.TempDirs.create("graft_bmtomb_live")
    Corpus.writeBm25ImpactIndex(base, "text", basePath, buckets = 4)
    Corpus.writeBm25Delta(spark, d1, "text", basePath, p1, buckets = 4)
    val deleted = Seq(0L, 4L)
    Corpus.writeBm25Tombstones(deleted.toDF("doc_id"), basePath)
    // The live base docs re-coded under the SAME frozen base stats: its
    // postings are exactly the base postings minus the tombstoned docs'
    // (iranks renumber segment-locally, which the θ-proof makes
    // irrelevant) — so the tombstone-filtered serve must BIT-equal it.
    Corpus.writeBm25Delta(spark, base.filter(!col("doc_id").isin(deleted: _*)),
      "text", basePath, pLive, buckets = 4)
    val terms = Seq("spark", "vector")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("score").desc, col("doc_id").asc).collect()
        .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    // strength sanity: without deletes the top-10 CONTAINS tombstoned
    // docs — the delete genuinely changes the list, not just its tail
    assert(rows(Corpus.bm25ImpactTopKMultiseg(spark, basePath, Seq(p1),
      terms, 10, buckets = 4)).exists(r => deleted.contains(r._1)))
    for (k <- Seq(1, 2, 3, 10, 50)) {
      val got = rows(Corpus.bm25ImpactTopKMultisegDeleted(spark, basePath,
        Seq(p1), terms, k, buckets = 4))
      // the pin: a tombstoned doc can never appear at ANY k
      assert(got.forall(r => !deleted.contains(r._1)), s"k=$k: $got")
      assert(got === rows(Corpus.bm25ImpactTopKMultiseg(spark, pLive,
        Seq(p1), terms, k, buckets = 4)), s"k=$k")
    }
  }

  test("bm25 two-phase serve edge cases: a fully tombstoned term prefix, " +
      "a base/segment tie at the k-th score, k past the live doc count") {
    import spark.implicits._
    val terms = Seq("vector", "spark")
    // (a) vector's impact order in the base is 0, 1, 2, 4 (tf, then dl
    // saturation), so at k = 3 its whole prefix {0, 1, 2} is tombstoned:
    // the live prefixes hold only docs 3 and 10, fewer than k, θ = -inf,
    // and doc 4 — in no prefix — must still surface by full scoring.
    val base = Seq(
      (0L, "vector vector x"),
      (1L, "vector x"),
      (2L, "vector x x"),
      (3L, "spark x"),
      (4L, "vector x x x x x x"),
      (5L, "x x")
    ).toDF("doc_id", "text")
    val seg = Seq((10L, "spark y")).toDF("doc_id", "text")
    val deleted = Seq(0L, 1L, 2L)
    val basePath = graft.engine.TempDirs.create("graft_bmedge_base")
    val segPath = graft.engine.TempDirs.create("graft_bmedge_seg")
    Corpus.writeBm25ImpactIndex(base, "text", basePath, buckets = 4)
    Corpus.writeBm25Delta(spark, seg, "text", basePath, segPath, buckets = 4)
    Corpus.writeBm25Tombstones(deleted.toDF("doc_id"), basePath)
    val live = base.filter(!col("doc_id").isin(deleted: _*)).unionByName(seg)
    def deletedServe(k: Int) = scoredRows(Corpus.bm25ImpactTopKMultisegDeleted(
      spark, basePath, Seq(segPath), terms, k, buckets = 4))
    val under = deletedServe(3)
    assert(under === exactBm25(live, base, terms, 3))
    assert(under.map(_._1).toSet === Set(3L, 4L, 10L), under)
    // (c) k = 50 exceeds the 4 live docs (3 of them scoring): every
    // scoring live doc, nothing else.
    val past = deletedServe(50)
    assert(past === exactBm25(live, base, terms, 50))
    assert(past === under)

    // (b) Under the base's frozen stats spark and vector share df = 2, so
    // base doc 1 ('vector filler') and segment doc 10 ('spark aa') score
    // bit-identically, behind doc 3 which carries both terms. At k = 2 the
    // tie sits exactly at θ and doc_id breaks it for the base doc.
    val tBase = Seq(
      (0L, "spark filler filler"),
      (1L, "vector filler"),
      (2L, "filler filler filler filler"),
      (3L, "spark vector")
    ).toDF("doc_id", "text")
    val tSeg = Seq((10L, "spark aa")).toDF("doc_id", "text")
    val tBasePath = graft.engine.TempDirs.create("graft_bmtie_base")
    val tSegPath = graft.engine.TempDirs.create("graft_bmtie_seg")
    Corpus.writeBm25ImpactIndex(tBase, "text", tBasePath, buckets = 4)
    Corpus.writeBm25Delta(spark, tSeg, "text", tBasePath, tSegPath, buckets = 4)
    val tAll = tBase.unionByName(tSeg)
    val full = exactBm25(tAll, tBase, terms, 10)
    assert(full.map(_._1).take(3) === Seq(3L, 1L, 10L) &&
      full(1)._3 == full(2)._3, full)
    for (k <- Seq(1, 2, 3, 10)) {
      assert(scoredRows(Corpus.bm25ImpactTopKMultiseg(spark, tBasePath,
        Seq(tSegPath), terms, k, buckets = 4)) === exactBm25(tAll, tBase, terms, k),
        s"k=$k")
    }
  }
}
