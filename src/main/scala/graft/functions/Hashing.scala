package graft.functions

/** Portable hash arithmetic for dedup / fingerprinting, emitted as SQL text in
  * two dialects: Spark SQL (the engine) and DuckDB SQL (the conformance
  * oracle). Both engines evaluate the exact same 64-bit integer recurrences,
  * so MinHash/SimHash results are bit-identical and oracle-checkable — unlike
  * engine-native `hash()`/`xxhash64` whose algorithms differ across engines.
  *
  * All values stay far below 2^63: char codes < 2^16, accumulators < P ≈ 1e9,
  * and every multiply is ≤ 137 * P ≈ 1.4e11.
  *
  * The reference has no hashing surface at all (SURVEY.md §2.7 — its scalar
  * surface is comparisons + arithmetic); this module is north-star territory.
  */
object Hashing {

  /** Modulus for all polynomial hashes (large prime < 2^30·ish). */
  val P = 1000000007L

  /** MinHash family size and LSH banding: 32 hashes = 8 bands × 4 rows.
    * With Jaccard threshold t=0.5, P[candidate] = 1-(1-t^4)^8 ≈ 0.40 at t=0.5
    * and ≈ 0.99987 at t=0.9 — tuned to catch the near-identical pairs the
    * verify step then filters exactly. */
  val NumHashes = 32
  val Bands = 8
  val RowsPerBand = 4

  /** Per-hash linear map (a_i·h + b_i) mod P; a_i are the first 32 odd primes,
    * b_i = 17·i + 1. Fixed constants so both dialects agree forever. */
  val A: IndexedSeq[Long] = IndexedSeq(
    3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59,
    61, 67, 71, 73, 79, 83, 89, 97, 101, 103, 107, 109, 113, 127, 131, 137)
  val B: IndexedSeq[Long] = IndexedSeq.tabulate(NumHashes)(i => 17L * i + 1)

  // ------------------------------------------------------------ poly hash

  /** Char-code polynomial rolling hash of string expression `s`:
    * h = fold(codes(s), 0) { (a, c) => (a·31 + c) mod P }. */
  def polyHashSpark(s: String): String =
    s"aggregate(transform(sequence(1, length($s)), i -> CAST(ascii(substr($s, i, 1)) AS BIGINT)), " +
      s"CAST(0 AS BIGINT), (a, x) -> (a*31 + x) % $P)"

  def polyHashDuck(s: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, length($s)+1), " +
      s"i -> CAST(unicode(substr($s, CAST(i AS INT), 1)) AS BIGINT))), (a, x) -> (a*31 + x) % $P)"

  /** The same recurrence evaluated driver-side over a Scala string — for
    * computing the index BUCKET of a literal query term so the serving scan
    * can partition-prune before any job runs (the BM25 impact index). Must
    * stay in lock-step with [[polyHashSpark]]/[[polyHashDuck]] (chars are
    * ASCII in every emitted key; `ascii()`/`unicode()` both return the code
    * point of the first char). */
  def polyHashLocal(s: String): Long =
    s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)

  // ------------------------------------------- hashed shingles (two-level)
  // (The one-level string-shingle emitters that lived here — build the
  // window string, char-hash it — were retired in round 4: per-window cost
  // scaled with n·token_len, and an ANSI element_at inside them could be
  // evaluated on unfiltered rows by InferFiltersFromGenerate. The two-level
  // recurrence below has no such partiality and costs n integer ops per
  // window.)

  /** Hashed word-n-gram shingle sets via DOUBLE hashing: each token is
    * char-hashed once (the [[graft.expressions.PolyHash]] recurrence), then
    * each window folds its n token hashes with `h = (h·31 + tok) mod P` —
    * no window string is ever materialized. The Spark side runs this as the
    * compiled [[graft.expressions.WindowFold]] expression (one eval per
    * document; both interpreted formulations — window-string rebuild and
    * unrolled arithmetic lambda — lost 10-40 s at sf0.1 on the explode
    * path). This emitter is the DuckDB oracle dialect of the identical
    * recurrence; `th` is a token-hash LIST expression, callers guarantee
    * `len(th) >= n`. */
  def windowFoldDuck(th: String, n: Int): String = {
    val fold = (0 until n).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(($acc*31 + $th[CAST(i AS INT)+$j]) % $P)"
    }
    s"list_distinct(list_transform(range(1, len($th)-${n - 2}), i -> $fold))"
  }

  /** POSITIONAL window folds — [[windowFoldDuck]] without the distinct:
    * element i (1-based list) is the hash of the window starting at token
    * i. Oracle dialect of [[graft.expressions.WindowFoldPos]]. */
  def windowFoldPosDuck(th: String, n: Int): String = {
    val fold = (0 until n).foldLeft("CAST(0 AS BIGINT)") { (acc, j) =>
      s"(($acc*31 + $th[CAST(i AS INT)+$j]) % $P)"
    }
    s"list_transform(range(1, len($th)-${n - 2}), i -> $fold)"
  }

  // -------------------------------------------------------------- minhash

  /** i-th minhash of a hash-array expression `hArr`. */
  def minhashDuck(hArr: String, i: Int): String =
    s"list_min(list_transform($hArr, h -> (${A(i)}*h + ${B(i)}) % $P))"

  /** LSH band signature: polynomial combine of the band's 4 minhashes —
    * one BIGINT per band, equi-joinable. Public so callers holding the
    * minhashes as pre-aggregated COLUMNS (codegen path) can build the same
    * signature the array expressions produce. */
  def combine(ms: Seq[String]): String =
    ms.reduceLeft((acc, m) => s"(($acc)*31 + $m) % $P")

  def bandSigDuck(hArr: String, band: Int): String =
    combine((band * RowsPerBand until (band + 1) * RowsPerBand).map(minhashDuck(hArr, _)))

  // -------------------------------------------------------------- simhash

  /** 32-bit SimHash over a token-hash-array expression `hArr`: bit b is set
    * iff sum over tokens of ±1 (by bit b of the token hash) is positive. */
  def simhashDuck(hArr: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 32), b -> " +
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($hArr, h -> ((h >> b) & 1)*2 - 1)), " +
      s"(a, x) -> a + x) > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)), (a, x) -> a + x)"

  /** Hamming distance between two simhash expressions. */
  def hammingSpark(x: String, y: String): String = s"bit_count($x ^ $y)"
  def hammingDuck(x: String, y: String): String = s"bit_count(xor($x, $y))"
}
