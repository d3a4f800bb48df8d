package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for approximate nearest-neighbor search — the
  * memory-compression half of the production IVF-PQ layout (Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
  * reference engine has no vector surface — north-star territory).
  *
  * The embedding space is split into `m` contiguous subspaces of `dims/m`
  * coordinates; each subspace gets its own small codebook trained with the
  * engine-portable fixed-point Lloyd of [[KMeans]]. A vector is then stored
  * as `m` small codes (here ints; bytes at production scale) — a 64-dim
  * float32 vector compresses 32× with m=4, k=256. Search is asymmetric
  * distance computation (ADC): the query builds one `k`-entry lookup table
  * per subspace (exact subvector distances to every centroid), and each
  * corpus vector's approximate distance is `m` table lookups + a sum —
  * O(m) per candidate instead of O(dims).
  *
  * Scale shape:
  *   - TRAIN touches only a sample in production; codebooks are O(m·k·dims/m)
  *     = O(k·dims) scalars — the same legitimate driver-side budget as the
  *     [[KMeans]] centroid broadcast.
  *   - ENCODE is map-side only (codegen'd nearest-centroid expressions over
  *     literal codebooks) — one linear pass, no shuffle.
  *   - ADC SEARCH scans the ENCODED table (m ints per row, not dims floats):
  *     the scan that had to read 100 TB of float32 reads ~3 TB of codes.
  *     Combined with the IVF cell layout ([[Similarity.writeKmeansIvfIndex]])
  *     the scan is further restricted to probed cells; the composition is
  *     exactly the production IVF-PQ index. Lookup tables are per-query
  *     columns (maps keyed by code VALUE — see [[distTable]] for why not
  *     positional arrays), so the candidate join stays a codegen'd
  *     projection.
  *
  * Exactness discipline: centroids are bit-identical cross-engine (fixed
  * point, [[KMeans]]); distance folds are fixed-order IEEE sequences
  * ([[KMeans.distSpark]]/[[KMeans.distDuck]]); the ADC sum adds the `m`
  * lookups left-to-right. Every double the operator emits therefore
  * hash-matches the DuckDB oracle.
  */
object PQ {

  /** Spark SQL slice of subspace `j` (0-based): 1-based `slice(vec, lo, len)`. */
  def subSpark(vecCol: String, j: Int, sub: Int): String =
    s"slice($vecCol, ${j * sub + 1}, $sub)"

  /** DuckDB slice of subspace `j` (0-based): 1-based inclusive `vec[lo:hi]`. */
  def subDuck(vecCol: String, j: Int, sub: Int): String =
    s"$vecCol[${j * sub + 1}:${(j + 1) * sub}]"

  /** Per-subspace ADC distance table as a MAP keyed by the ACTUAL code value
    * (cluster id), `element_at(tab, code)`. Codebook cluster ids are NOT
    * guaranteed dense 0..k-1 — [[KMeans.lloyd]] drops clusters that go empty
    * — so a positional `array[code+1]` lookup would silently read the wrong
    * centroid's distance for every code above a gap (and null for the top
    * one). Keying by code value makes the lookup gap-proof; the DuckDB
    * oracle already joins its tables on the code VALUE, so this is also the
    * only Spark shape that matches it when a cluster empties. */
  def distTable(
      cents: Seq[(Int, Seq[Double])], qVecCol: String, j: Int, sub: Int): String = {
    val sorted = cents.sortBy(_._1)
    val keys = sorted.map(_._1).mkString(", ")
    val dists = sorted
      .map { case (_, arr) => KMeans.distSpark(subSpark(qVecCol, j, sub), arr) }
      .mkString(", ")
    s"map_from_arrays(array($keys), array($dists))"
  }

  /** Train one codebook per subspace with the exact fixed-point Lloyd.
    * Returns `m` codebooks, each `(code, centroid)` with `sub = dims/m`
    * coordinates. O(k · dims) driver scalars.
    *
    * All m subspace Lloyds share their data passes (round 17, guide §1.2
    * "remove unnecessary passes"): the per-subspace form ran m·iters
    * aggregate jobs plus m seed scans, every one a full pass over `vecs`;
    * this form runs ONE seed pass (the k seed ROWS are subspace-independent
    * — [[KMeans.seedHash]] reads only the id) and ONE aggregate job per
    * Lloyd round. Bit-identical to the per-subspace training the DuckDB
    * oracle replays: subspace assignments are independent map-side literal
    * expressions (identical expression text per subspace), and the
    * fixed-point BIGINT sums — grouped by (subspace, cluster) — are exact
    * integer arithmetic, so neither partitioning nor fold order can move
    * any centroid (PQSpec pins repartition-invariance and the merged ≡
    * sequential equality). */
  def train(
      vecs: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, dims: Int): Seq[Seq[(Int, Seq[Double])]] = {
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    require(iters >= 1, s"iters=$iters must be >= 1")
    val sub = dims / m
    val sv = vecs.select(col(idCol) +:
      (0 until m).map(j => expr(subSpark(vecCol, j, sub)).as(s"_sub$j")): _*)
    // One seed pass for every subspace: same k rows, same (hash, id) order
    // — subspace j's seed codebook is its slice of them (the exact rows
    // [[KMeans.seeds]] picks per subspace).
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_h"), col(idCol))
    val seedRows = sv
      .withColumn("_h", expr(KMeans.seedHash(idCol)))
      .orderBy(col("_h"), col(idCol)).limit(k)
      .withColumn("cluster", (row_number().over(w) - 1).cast("int"))
      .select(col("cluster") +: (0 until m).map(j =>
        expr(s"transform(_sub$j, x -> CAST(x AS DOUBLE))").as(s"_sub$j")): _*)
      .collect()
    var books: Seq[Seq[(Int, Seq[Double])]] = (0 until m).map { j =>
      seedRows.map(r => r.getInt(0) -> (r.getSeq[Double](j + 1): Seq[Double]))
        .sortBy(_._1).toSeq
    }
    // Nearest-centroid columns for ALL subspaces in one projection — each
    // is the identical codegen'd literal expression [[KMeans.assign]]
    // builds for its subspace.
    def assignAll(): DataFrame = (0 until m).foldLeft(sv) { case (d, j) =>
      val structs = books(j).sortBy(_._1).map { case (c, arr) =>
        s"named_struct('d', ${KMeans.distSpark(s"_sub$j", arr)}, 'c', $c)"
      }
      d.withColumn(s"_c$j",
        expr(s"array_min(array(${structs.mkString(", ")})).c"))
    }
    // One fixed-point centroid update for ALL subspaces: explode to
    // (subspace, cluster, subvec) — the generator rows collapse in the
    // map-side partial aggregate to ≤ m·k rows per partition before the
    // exchange (same per-coordinate floor·2^20 BIGINT sums + single
    // division as [[KMeans.centroidAgg]]).
    def aggAll(assigned: DataFrame): Seq[Seq[(Int, Seq[Double])]] = {
      val sums = (1 to sub).map(i => sum(expr(
        s"CAST(floor(CAST(element_at(_v, $i) AS DOUBLE) * ${KMeans.Scale}) AS BIGINT)"))
        .as(s"_s$i"))
      val rows = assigned
        .select(posexplode(array((0 until m).map(j =>
          struct(col(s"_c$j").as("c"), col(s"_sub$j").as("v"))): _*)))
        .select(col("pos").as("_j"), col("col.c").as("_cl"), col("col.v").as("_v"))
        .groupBy(col("_j"), col("_cl"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .select(col("_j") +: col("_cl") +: (1 to sub).map(i =>
          expr(s"CAST(_s$i AS DOUBLE) / (CAST(n AS DOUBLE) * " +
            s"CAST(${KMeans.Scale} AS DOUBLE))").as(s"_m$i")): _*)
        .collect()
      (0 until m).map { j =>
        rows.filter(_.getInt(0) == j)
          .map(r => r.getInt(1) ->
            ((2 until 2 + sub).map(r.getDouble): Seq[Double]))
          .sortBy(_._1).toSeq
      }
    }
    (2 to iters).foreach { _ => books = aggAll(assignAll()) }
    aggAll(assignAll())
  }

  /** Encode every vector as `m` codes (columns `code0..code{m-1}`): nearest
    * codebook centroid per subspace, squared L2, ties to the smaller code —
    * pure map-side codegen'd expressions over literal codebooks. */
  def encode(
      vecs: DataFrame, vecCol: String,
      books: Seq[Seq[(Int, Seq[Double])]], sub: Int): DataFrame =
    books.zipWithIndex.foldLeft(vecs) { case (d, (cents, j)) =>
      val structs = cents.sortBy(_._1).map { case (c, arr) =>
        s"named_struct('d', ${KMeans.distSpark(subSpark(vecCol, j, sub), arr)}, 'c', $c)"
      }
      d.withColumn(s"code$j",
        expr(s"array_min(array(${structs.mkString(", ")})).c"))
    }

  /** ADC top-k: per query, one exact `|codebook|`-entry distance table per
    * subspace (array column), then approximate distance to each encoded
    * corpus vector = sum of `m` table lookups; rank by (adist, neighbor).
    * `queries` must carry (idCol, vecCol); self-pairs are excluded.
    * Output: q_vec, rank, neighbor, adist. */
  def adcTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      books: Seq[Seq[(Int, Seq[Double])]], dims: Int, kTop: Int): DataFrame = {
    val m = books.size
    val sub = dims / m
    val enc = encode(corpus, vecCol, books, sub)
      .select(col(idCol).as("neighbor") +:
        (0 until m).map(j => col(s"code$j")): _*)
    val qt = books.zipWithIndex.foldLeft(
      queries.select(col(idCol).as("q_vec"), col(vecCol).as("_qv"))) {
      case (d, (cents, j)) =>
        d.withColumn(s"tab$j", expr(distTable(cents, "_qv", j, sub)))
    }
    // Queries-side tables are tiny (|Q| rows); broadcast them across the
    // encoded-corpus scan so ADC is one shuffle-free projection + the final
    // per-query top-k.
    val scored = enc.join(broadcast(qt), col("q_vec") =!= col("neighbor"))
      .withColumn("adist",
        (0 until m).map(j => expr(s"element_at(tab$j, code$j)"))
          .reduce(_ + _))
    Similarity.topKCut(scored, "adist", kTop, ascending = true)
      .select(col("q_vec"), col("rank"), col("neighbor"), col("adist"))
  }

  /** Encode an ALREADY-ASSIGNED batch with EXISTING codebooks and write it
    * as a cells table (id + m codes, partitioned by the coarse cell — the
    * exact layout [[writeIvfPqIndex]] uses). This is the append-only index
    * MAINTENANCE path: a daily ingest encodes only its own rows (map-side,
    * no shuffle beyond the one-file-per-cell write, [[Layout.writeCells]])
    * and lands as a delta cells directory beside the base index — no
    * retraining, nothing rewritten. */
  def writeCells(
      assigned: DataFrame, books: Seq[Seq[(Int, Seq[Double])]],
      idCol: String, vecCol: String, dims: Int, path: String): Unit = {
    val m = books.size
    Layout.writeCells(
      encode(assigned.select(col(idCol), col("cluster"), col(vecCol)),
          vecCol, books, dims / m)
        .select(col(idCol) +: (0 until m).map(j => col(s"code$j")) :+ col("cluster"): _*),
      "cluster", path, Seq(col(idCol)))
  }

  /** Persist an IVF-PQ index — the train-once / serve-many artifact:
    * encoded cells (id + m codes, PARTITIONED BY the coarse cell, one file
    * per cell, so a probe's cells are whole directories), the coarse
    * centroids, and the codebooks as scalar rows. The cells table stores
    * NO raw vectors — serving reads m small ints per candidate, the 16-32×
    * scan shrink that is PQ's whole point at 100 TB. */
  def writeIvfPqIndex(
      assigned: DataFrame, cents: DataFrame,
      books: Seq[Seq[(Int, Seq[Double])]], idCol: String, vecCol: String,
      dims: Int, path: String): Unit = {
    writeCells(assigned, books, idCol, vecCol, dims, s"$path/cells")
    cents.select(col("cluster"), col("cent"))
      .write.mode("overwrite").option("compression", "zstd").parquet(s"$path/cents")
    val spark = assigned.sparkSession
    import spark.implicits._
    books.zipWithIndex
      .flatMap { case (cs, j) => cs.map { case (c, arr) => (j, c, arr) } }
      .toDF("subspace", "code", "cent")
      .write.mode("overwrite").option("compression", "zstd").parquet(s"$path/books")
    // Epoch LAST — the stamp marks a complete layout ([[Layout.stampEpoch]]).
    Layout.stampEpoch(spark, path)
  }

  /** Load the codebooks of a [[writeIvfPqIndex]] index (O(m·k·sub) driver
    * scalars — the centroid budget). */
  def readBooks(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[Seq[(Int, Seq[Double])]] = {
    val rows = spark.read.parquet(s"$path/books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    rows.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, cs) => cs.map(t => (t._2, t._3: Seq[Double])).sortBy(_._1).toSeq }
  }

  /** Serve ADC top-k from a persisted [[writeIvfPqIndex]] index: coarse
    * centroids broadcast, each probe picks `nprobe` cells, and the
    * probed-cell union prunes the CODES scan to those partition
    * directories as a STATIC partition filter (probe selection runs as
    * query planning — [[Similarity.materializeProbes]]; the previous
    * runtime-DPP form silently degraded to
    * `dynamicpruningexpression(true)` and read every cell, r15 audit) —
    * the serving path never reads a raw vector. */
  def knnIvfPqPersisted(
      spark: org.apache.spark.sql.SparkSession, path: String,
      probes: DataFrame, idCol: String, vecCol: String,
      dims: Int, nprobe: Int, kTop: Int): DataFrame =
    knnIvfPqCells(spark.read.parquet(s"$path/cells"),
      spark.read.parquet(s"$path/cents"), readBooks(spark, path),
      probes, idCol, vecCol, dims, nprobe, kTop,
      guards = Layout.epochGuard(spark, path).toSeq)

  /** ADC top-k over an explicit cells relation — the serve core shared by
    * [[knnIvfPqPersisted]] (one cells dir) and the append-maintenance path
    * (base cells UNION delta cells from later ingests). */
  def knnIvfPqCells(
      enc: DataFrame, cents: DataFrame, books: Seq[Seq[(Int, Seq[Double])]],
      probes: DataFrame, idCol: String, vecCol: String,
      dims: Int, nprobe: Int, kTop: Int,
      guards: Seq[DataFrame] = Nil): DataFrame = {
    val m = books.size
    val sub = dims / m
    Similarity.requireIntegralId(cents, "cluster", "knnIvfPqCells")
    val q = probes.select(col(idCol).as("q_vec"), col(vecCol).as("_qv"))
    // nprobe cut as a bounded TopKAggregate — (d asc, p_cluster asc) ≡ the
    // heap order on (-d, id) — materialized at planning; the probed-cell
    // union statically prunes the codes scan (and pushes through the
    // base ∪ delta Union of the append/delete paths, which runtime DPP
    // never could — PartitionPruning does not traverse Union).
    val probePipeline = q.crossJoin(broadcast(
        cents.select(col("cluster").as("p_cluster"), col("cent"))))
      .withColumn("d", graft.expressions.SqDist.sqDist(col("_qv"), col("cent")))
      .groupBy(col("q_vec"), col("_qv"))
      .agg(graft.expressions.TopKAggregate
        .topK(-col("d"), col("p_cluster").cast("long"), nprobe).as("top"))
      .select(col("q_vec"), col("_qv"), explode(col("top.id")).as("p_cluster"))
    val (probeParts, probed) =
      Similarity.materializeProbes(probePipeline, "p_cluster")
    // The ADC distance tables are pure per-row functions of the probe
    // vector — added ABOVE the LocalRelation so the collect ships only
    // (q_vec, _qv, p_cluster), not m·|codebook| doubles per row.
    val qt0 = books.zipWithIndex.foldLeft(probeParts) { case (d, (cs, j)) =>
      d.withColumn(s"tab$j", expr(distTable(cs, "_qv", j, sub)))
    }
    // Frozen-selection staleness guard (round 18) — persisted callers pass
    // their layout's epoch assertion; in-session callers pass none.
    val qt = Layout.withEpochGuard(qt0, guards)
    val encPruned = Similarity.pruneCells(enc, "cluster", probed)
    val scored = encPruned.join(broadcast(qt),
        col("cluster") === col("p_cluster") && col(idCol) =!= col("q_vec"))
      .withColumn("adist",
        (0 until m).map(j => expr(s"element_at(tab$j, code$j)"))
          .reduce(_ + _))
    Similarity.topKCut(scored.withColumn("neighbor", col(idCol)),
        "adist", kTop, ascending = true)
      .select(col("q_vec"), col("rank"), col("neighbor"), col("adist"))
  }

  // ------------------------------------------------------- DuckDB oracle --

  /** Training + encoding CTEs for all `m` subspaces over `tbl(idCol, vecCol)`.
    * Defines per subspace j: `pq{j}v` (id, sub), the prefixed Lloyd CTEs
    * (final centroids `p{j}c{iters}`), and `e{j}` (id, code{j}); plus `enc`
    * joining all code columns. */
  def oracleCtes(
      tbl: String, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int, dims: Int): String = {
    val sub = dims / m
    val sb = new StringBuilder
    (0 until m).foreach { j =>
      sb ++= s"""pq${j}v AS (SELECT $idCol, ${subDuck(vecCol, j, sub)} AS sub FROM $tbl),
                |${KMeans.oracleCtes(s"pq${j}v", idCol, "sub", k, iters, sub, s"p$j")},
                |e$j AS (SELECT $idCol, cluster AS code$j FROM (
                |  SELECT v.$idCol, c.cluster,
                |         ROW_NUMBER() OVER (PARTITION BY v.$idCol
                |             ORDER BY ${KMeans.distDuck("v.sub", "c.cent", sub)} ASC, c.cluster ASC) AS rn
                |  FROM pq${j}v v, p${j}c$iters c) x WHERE rn = 1),
                |""".stripMargin
    }
    sb ++= s"""enc AS (SELECT e0.$idCol${(0 until m).map(j => s", code$j").mkString}
              |        FROM e0 ${(1 until m).map(j => s"JOIN e$j ON e$j.$idCol = e0.$idCol").mkString(" ")})""".stripMargin
    sb.result()
  }
}
