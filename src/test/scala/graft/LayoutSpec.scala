package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.TempDirs
import graft.ops.{Corpus, KMeans, Layout, PQ, Similarity}

/** The shared segment layer ([[Layout.writeCells]], [[Layout.writeTombstones]],
  * [[Layout.live]]) under each index writer: every cell directory holds
  * exactly one Parquet file, and the live read of base + one segment +
  * tombstones returns every live id and no tombstoned one. Inputs are
  * spread over several tasks, so a writer that wrote straight from its
  * input tasks would leave several files in a cell. */
class LayoutSpec extends SparkSpec {

  private val Dims = 8

  private lazy val docs = {
    import spark.implicits._
    val words = Seq("spark", "vector", "table", "scan", "query", "window",
      "batch", "stream", "merge", "filter", "group", "index")
    (0L until 400L).map { i =>
      (i, (0 until 8).map(j => words(((i * 7 + j * j * 3 + j) % 12).toInt)).mkString(" "))
    }.toDF("doc_id", "text").repartition(4)
  }

  private lazy val emb = {
    import spark.implicits._
    (0L until 400L).map { i =>
      (i, (0 until Dims).map(j => ((i * 31 + j * 17) % 97).toFloat / 97f), (i % 10).toInt)
    }.toDF("vec_id", "embedding", "label").repartition(4)
  }

  private def assertOneFilePerCell(table: String): Unit = {
    val cells = new java.io.File(table).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
    assert(cells.nonEmpty, s"no cell directory under $table")
    assert(cells.forall(_._2 == 1),
      s"cells with other than one file under $table: " +
        cells.filter(_._2 != 1).mkString(", "))
  }

  private def ids(df: DataFrame, idCol: String): Set[Long] =
    df.select(col(idCol).cast("long")).distinct().collect().map(_.getLong(0)).toSet

  /** Live ids = every id of the tables minus the tombstoned ones. */
  private def assertLive(tables: Seq[String], idCol: String, index: String,
      tombstoned: Set[Long], live: DataFrame): Unit = {
    val all = tables.map(t => ids(spark.read.parquet(t), idCol)).reduce(_ ++ _)
    assert(tombstoned.nonEmpty && tombstoned.subsetOf(all))
    assert(ids(Layout.tombstones(spark, index, idCol), idCol) == tombstoned)
    val got = ids(live, idCol)
    assert(got.intersect(tombstoned).isEmpty,
      s"tombstoned ids served: ${got.intersect(tombstoned).take(5)}")
    assert(got == all -- tombstoned)
  }

  test("BM25 postings: one file per bucket, live drops tombstones") {
    val base = TempDirs.create("graft_layout_bm25")
    val seg = TempDirs.create("graft_layout_bm25_seg")
    Corpus.writeBm25ImpactIndex(docs, "text", base, 16)
    Corpus.writeBm25Delta(spark,
      docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 1000000000000000L).as("doc_id"), col("text")),
      "text", base, seg, 16)
    val tables = Seq(s"$base/postings", s"$seg/postings")
    tables.foreach(assertOneFilePerCell)
    val tomb = tables.map(t => ids(spark.read.parquet(t), "doc_id")).reduce(_ ++ _)
      .filter(_ % 4 == 0)
    import spark.implicits._
    Corpus.writeBm25Tombstones(tomb.toSeq.toDF("doc_id"), base)
    assertLive(tables, "doc_id", base, tomb,
      Layout.live(spark, tables, "doc_id", Some(base),
        Some(Corpus.Bm25PostingsSchema)))
  }

  test("IVF cells (Similarity.writeIvfIndex): one file per cell, live drops " +
      "tombstones") {
    val base = TempDirs.create("graft_layout_ivf")
    val seg = TempDirs.create("graft_layout_ivf_seg")
    Similarity.writeIvfIndex(emb, "vec_id", "embedding", "label", base)
    Similarity.writeIvfIndex(
      emb.filter(col("vec_id") % 3 === 0).withColumn("vec_id", col("vec_id") + 100000L),
      "vec_id", "embedding", "label", seg)
    val tables = Seq(s"$base/cells", s"$seg/cells")
    tables.foreach(assertOneFilePerCell)
    val tomb = (ids(emb, "vec_id") ++ ids(emb, "vec_id").filter(_ % 3 == 0).map(_ + 100000L))
      .filter(_ % 4 == 0)
    import spark.implicits._
    Layout.writeTombstones(tomb.toSeq.toDF("vec_id"), "vec_id", base)
    assertLive(tables, "vec_id", base, tomb,
      Layout.live(spark, tables, "vec_id", Some(base)))
  }

  test("IVF-PQ cells (PQ.writeIvfPqIndex, PQ.writeCells): one file per cell, " +
      "live drops tombstones") {
    val base = TempDirs.create("graft_layout_pq")
    val seg = TempDirs.create("graft_layout_pq_seg") + "/cells"
    val (assigned, cents) = KMeans.lloyd(emb, "vec_id", "embedding",
      k = 4, iters = 1, dims = Dims)
    val books = PQ.train(emb, "vec_id", "embedding", m = 4, k = 8, iters = 1,
      dims = Dims)
    PQ.writeIvfPqIndex(assigned.repartition(4), cents, books, "vec_id",
      "embedding", Dims, base)
    val batch = emb.filter(col("vec_id") % 3 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .repartition(4)
    PQ.writeCells(KMeans.assign(batch, "vec_id", "embedding",
        KMeans.collectCents(cents.select(col("cluster"), col("cent")))),
      books, "vec_id", "embedding", Dims, seg)
    val tables = Seq(s"$base/cells", seg)
    tables.foreach(assertOneFilePerCell)
    val tomb = tables.map(t => ids(spark.read.parquet(t), "vec_id")).reduce(_ ++ _)
      .filter(_ % 4 == 1)
    import spark.implicits._
    Layout.writeTombstones(tomb.toSeq.toDF("vec_id"), "vec_id", base)
    assertLive(tables, "vec_id", base, tomb,
      Layout.live(spark, tables, "vec_id", Some(base)))
  }

  test("MaxSim token-IVF index pipeline: one file per cell, live drops " +
      "tombstones") {
    import spark.implicits._
    import graft.queries.SimilarityQ
    // A documents-only data dir: the MaxSim index touches nothing else.
    // Mod-3 docs seed the delta segment, mod-4 docs are tombstoned.
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val dir = TempDirs.create("graft_layout_ms_fixture")
    (0L until 40L).map { i =>
      (i, (0 until 6).map(j => words(((i * 7 + j * 3) % 10).toInt)).mkString(" "))
    }.toDF("doc_id", "text").repartition(4)
      .write.mode("overwrite").parquet(graft.engine.Catalog.path(dir, "documents"))
    val base = SimilarityQ.maxsimTombstoned(spark, dir)
    val seg = SimilarityQ.maxsimDeltaCells(spark, dir)
    val tables = Seq(s"${SimilarityQ.maxsimIndex(spark, dir)}/cells",
      s"$base/cells", s"$seg/cells")
    tables.foreach(assertOneFilePerCell)
    val tomb = (0L until 40L).filter(_ % 10 == 4).toSet
    assertLive(tables.tail, "doc_id", base, tomb,
      SimilarityQ.maxsimLiveCells(spark, dir, deleted = true))
  }
}
