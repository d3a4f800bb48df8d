package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Catalog
import graft.functions.Hashing.polyHashDuck
import graft.ops.{Pipeline, Quantiles, Relational}

/** Oracle-checked event-pipeline / feature-engineering queries: ordered
  * funnel conversion, SCD2 dimension snapshots, URL canonicalization dedup,
  * and hashing-trick vectorization. */
object PipelineQ {

  private val shared = new graft.ops.SharedBuilds

  /** Deterministic synthetic URL per doc (the corpus has no URL column):
    * mixed-case host, utm tracking params around a real `id` param, a
    * fragment, and a trailing-slash path — every mess the canonicalizer
    * must clean. doc_id mod-cycles make distinct raw URLs collide after
    * canonicalization (lcm(5,25,7) = 175 canonical keys). */
  private val urlSpark =
    concat(lit("https://WWW.Example"), (col("doc_id") % 5).cast("string"),
      lit(".COM/Path"), (col("doc_id") % 25).cast("string"),
      lit("/?utm_source=feed&id="), (col("doc_id") % 7).cast("string"),
      lit("&utm_campaign=c"), (col("doc_id") % 3).cast("string"),
      lit("#sec"), col("doc_id").cast("string"))

  private val urlDuck =
    "'https://WWW.Example' || CAST(doc_id % 5 AS VARCHAR) || " +
      "'.COM/Path' || CAST(doc_id % 25 AS VARCHAR) || " +
      "'/?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR) || " +
      "'&utm_campaign=c' || CAST(doc_id % 3 AS VARCHAR) || " +
      "'#sec' || CAST(doc_id AS VARCHAR)"

  /** Session-scoped user-bucketed events layout: every per-user window /
    * aggregate family member (rolling anomaly, funnel, user features) pays
    * exactly ONE exchange per query — the hash shuffle on user_id. For a
    * serve-many event store that shuffle amortizes to zero the same way the
    * custkey layout amortized the orders⋈customer exchange: bucket events by
    * user_id once, sorted by (ts, event_id) within each user, and the window
    * scan starts from the bucket distribution with NO Exchange. */
  private val userkeyLayout = shared("userkey_layout") { (s, dir) =>
    graft.ops.Bucketing.sessionLayout(s, dir, "userkey",
      Seq(("graft_bkt_events", "events", "user_id")),
      Map("graft_bkt_events" -> Seq("user_id", "ts", "event_id")))
  }

  /** Session-scoped ranked-cents table for lineitem.l_extendedprice — the
    * shared build of the exact-percentile family. Every family member
    * (binning, winsorization, percentile reporting) previously re-ran the
    * identical hash-aggregate + two-phase cumsum per query (r7 bench: three
    * rebuilds per pass, `feature_quantile_bin` carrying the worst of it);
    * the ranked table depends only on the data, so it is built ONCE per
    * (session, dir), persisted at |distinct cents| rows (~600 k at sf0.1 —
    * bounded by the key domain, not the corpus), and each query serves its
    * own probs from it with one bounded aggregate. */
  private val centsRanks = shared.persisted("cents_ranks") { (s, dir) =>
    val cents = Catalog.load(s, dir, "lineitem")
      .select(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("_cents"))
    val r = Quantiles.rankedCounts(cents, "_cents")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    r.count() // materialize eagerly so bench attribution is honest
    r
  }(Seq(_))

  /** Session-scoped GROUPED ranked-cents table (l_returnflag × cents) —
    * the per-group analog of [[centsRanks]], shared the same way: the
    * (group, value) aggregate + partitioned window cumsum + totals join
    * depends only on the data, so the grouped-percentile family (grouped
    * reporting, grouped winsorization) builds it ONCE per (session, dir)
    * and each member serves its own probs with one bounded hash aggregate
    * on the group key. Bounded at |groups| · |distinct cents| rows. */
  private val flagRanks = shared.persisted("cents_ranks_grouped") { (s, dir) =>
    val cents = Catalog.load(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
    val r = Quantiles.groupedRankedCounts(cents, "l_returnflag", "cents")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    r.count() // materialize eagerly so bench attribution is honest
    r
  }(Seq(_))

  /** Named builders for bench attribution (see SparkEntry.pipelines). */
  def pipelines: Seq[(String, (org.apache.spark.sql.SparkSession, String) => Unit)] =
    shared.pipelines

  /** Shared by `events_user_features` and its bucketed-layout variant. */
  private def userFeatures(
      events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    events
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
        Relational.sumExact(when(col("event_type") === "purchase", col("value")))
          .as("purchase_value"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))
      .withColumn("active_span_us", col("last_us") - col("first_us"))
      .orderBy("user_id")

  private val userFeaturesOracle =
    """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase'
      |           THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value,
      |  MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us,
      |  MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS active_span_us
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Shared by `funnel_conversion` and its bucketed-layout variant. */
  private val funnelOracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type AS t
      |           FROM events),
      |v AS (SELECT user_id,
      |        MIN(CASE WHEN t = 'view' THEN us END) AS t_view_us
      |      FROM e GROUP BY user_id),
      |c AS (SELECT e.user_id,
      |        MIN(CASE WHEN t = 'click' AND us > t_view_us THEN us END)
      |          AS t_click_us
      |      FROM e JOIN v ON e.user_id = v.user_id GROUP BY e.user_id),
      |p AS (SELECT e.user_id,
      |        MIN(CASE WHEN t = 'purchase' AND us > t_click_us THEN us END)
      |          AS t_purchase_us
      |      FROM e JOIN c ON e.user_id = c.user_id GROUP BY e.user_id)
      |SELECT v.user_id, t_view_us, t_click_us, t_purchase_us,
      |  CAST(CASE WHEN t_purchase_us IS NOT NULL THEN 3
      |            WHEN t_click_us IS NOT NULL THEN 2
      |            WHEN t_view_us IS NOT NULL THEN 1
      |            ELSE 0 END AS INT) AS stage_reached
      |FROM v JOIN c ON v.user_id = c.user_id
      |       JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  /** Shared by `anomaly_rolling_z` and its bucketed-layout variant — the
    * layout must be a pure reorganization, so one oracle checks both. */
  private val rollingZOracle =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
      |                  CAST(ROUND(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |w AS (SELECT event_id, user_id, cents,
      |        CAST(COUNT(cents) OVER fr AS BIGINT) AS n_prev,
      |        CAST(SUM(cents) OVER fr AS BIGINT) AS s_prev,
      |        CAST(SUM(cents * cents) OVER fr AS BIGINT) AS q_prev
      |      FROM e
      |      WINDOW fr AS (PARTITION BY user_id ORDER BY us, event_id
      |                    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
      |SELECT event_id, user_id, cents, n_prev,
      |  (cents * n_prev - s_prev) * (cents * n_prev - s_prev) AS dev_sq,
      |  9 * (n_prev * q_prev - s_prev * s_prev) AS bound
      |FROM w
      |WHERE n_prev >= 10
      |  AND (cents * n_prev - s_prev) * (cents * n_prev - s_prev)
      |      > 9 * (n_prev * q_prev - s_prev * s_prev)
      |ORDER BY event_id""".stripMargin

  val all: Seq[Q] = Seq(

    // Ordered view→click→purchase funnel: earliest stage-i time strictly
    // after the chosen stage-(i-1) time, one shuffle on user_id.
    Q("funnel_conversion",
      (s, dir) =>
        Pipeline.funnel(Catalog.load(s, dir, "events"),
            "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
          .orderBy("user_id"),
      Some(funnelOracle)),

    // Deadline (windowed) funnel — the "conversion window" of product
    // analytics: each stage must land within 48 h of the previous stage's
    // chosen time, greedy-from-earliest convention (see
    // Pipeline.funnelWindowed for why the existential any-anchor variant
    // is a different operator). Same one-exchange plan as the plain
    // funnel; the oracle extends each chained MIN with the deadline bound.
    Q("funnel_strict_window",
      (s, dir) =>
        Pipeline.funnelWindowed(Catalog.load(s, dir, "events"),
            "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
            maxGapUs = 48L * 3600 * 1000000)
          .orderBy("user_id"),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type AS t
             |           FROM events),
             |v AS (SELECT user_id,
             |        MIN(CASE WHEN t = 'view' THEN us END) AS t_view_us
             |      FROM e GROUP BY user_id),
             |c AS (SELECT e.user_id,
             |        MIN(CASE WHEN t = 'click' AND us > t_view_us
             |                  AND us <= t_view_us + 172800000000 THEN us END)
             |          AS t_click_us
             |      FROM e JOIN v ON e.user_id = v.user_id GROUP BY e.user_id),
             |p AS (SELECT e.user_id,
             |        MIN(CASE WHEN t = 'purchase' AND us > t_click_us
             |                  AND us <= t_click_us + 172800000000 THEN us END)
             |          AS t_purchase_us
             |      FROM e JOIN c ON e.user_id = c.user_id GROUP BY e.user_id)
             |SELECT v.user_id, t_view_us, t_click_us, t_purchase_us,
             |  CAST(CASE WHEN t_purchase_us IS NOT NULL THEN 3
             |            WHEN t_click_us IS NOT NULL THEN 2
             |            WHEN t_view_us IS NOT NULL THEN 1
             |            ELSE 0 END AS INT) AS stage_reached
             |FROM v JOIN c ON v.user_id = c.user_id
             |       JOIN p ON v.user_id = p.user_id
             |ORDER BY v.user_id""".stripMargin)),

    // Funnel served from the userkey layout: the stage windows take their
    // user_id distribution from the bucketed scan — zero hash exchange
    // (pinned in PlanShapeSpec alongside the rolling-z variant).
    Q("funnel_conversion_bucketed",
      (s, dir) => {
        userkeyLayout(s, dir)
        Pipeline.funnel(s.table("graft_bkt_events"),
            "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
          .orderBy("user_id")
      },
      Some(funnelOracle),
      servesLayout = Some("userkey")),

    // SCD2 snapshot from the event change log: per-user validity intervals
    // [ts, next ts), open-ended current row, event_id tiebreak.
    Q("scd2_user_state",
      (s, dir) =>
        Pipeline.scd2(Catalog.load(s, dir, "events"),
            "user_id", "ts", "event_id", "event_type")
          .orderBy("user_id", "valid_from_us", "event_id"),
      Some("""WITH e AS (SELECT user_id, event_id, event_type AS state,
             |                  epoch_us(ts) AS valid_from_us FROM events)
             |SELECT user_id, event_id, state, valid_from_us,
             |  LEAD(valid_from_us) OVER (PARTITION BY user_id
             |       ORDER BY valid_from_us, event_id) AS valid_to_us,
             |  LEAD(valid_from_us) OVER (PARTITION BY user_id
             |       ORDER BY valid_from_us, event_id) IS NULL AS is_current
             |FROM e ORDER BY user_id, valid_from_us, event_id""".stripMargin)),

    // URL canonicalization + keep-first dedup by canonical key.
    Q("dedup_url_canonical",
      (s, dir) =>
        Pipeline.dedupByCanonicalUrl(
            Catalog.load(s, dir, "documents")
              .select(col("doc_id"), urlSpark.as("url")),
            "doc_id", "url")
          .select("doc_id", "url_canon", "rn", "kept")
          .orderBy("doc_id"),
      Some(s"""WITH u AS (SELECT doc_id, $urlDuck AS url FROM documents),
              |c AS (SELECT doc_id,
              |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              |    regexp_replace(
              |      lower(regexp_extract(regexp_replace(url, '#.*$$', ''),
              |                           '^(https?://[^/?]+)', 1)) ||
              |      regexp_replace(regexp_replace(url, '#.*$$', ''),
              |                     '^https?://[^/?]+', ''),
              |    '&utm_[a-z_]+=[^&]*', '', 'g'),
              |    '\\?utm_[a-z_]+=[^&]*&', '?', 'g'),
              |    '\\?utm_[a-z_]+=[^&]*$$', '', 'g'),
              |    '/+\\?', '?', 'g'),
              |    '/+$$', '', 'g') AS url_canon
              |  FROM u),
              |r AS (SELECT doc_id, url_canon,
              |        CAST(ROW_NUMBER() OVER (PARTITION BY url_canon
              |             ORDER BY doc_id) AS INT) AS rn
              |      FROM c)
              |SELECT doc_id, url_canon, rn, rn = 1 AS kept
              |FROM r ORDER BY doc_id""".stripMargin)),

    // Hashing-trick bag-of-words: sparse (doc, bucket, tf) rows, 256-dim.
    Q("feature_hash_vectorize",
      (s, dir) =>
        Pipeline.hashVectorize(Catalog.load(s, dir, "documents"),
            "doc_id", "text", dim = 256)
          .orderBy("doc_id", "bucket"),
      Some(s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              |          FROM documents),
              |h AS (SELECT doc_id,
              |        CAST(${polyHashDuck("tok")} % 256 AS INT) AS bucket
              |      FROM t)
              |SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS tf
              |FROM h GROUP BY doc_id, bucket
              |ORDER BY doc_id, bucket""".stripMargin)),

    // Quantile discretization on the SCALABLE percentile path: cuts from
    // the distributed order statistics over integer cents (no
    // single-reducer value buffer), broadcast back, per-bin exact-DECIMAL
    // stats. The oracle derives the identical cents cuts from the same
    // rank arithmetic.
    Q("feature_quantile_bin",
      (s, dir) =>
        Pipeline.withQuantileBinCents(Catalog.load(s, dir, "lineitem"),
            "l_extendedprice", Seq(0.25, 0.5, 0.75),
            centsCuts = Some(Quantiles.percentilesFromRanked(
              centsRanks(s, dir), "_cents", Seq(0.25, 0.5, 0.75))))
          .groupBy("bin")
          .agg(count(lit(1)).as("n"),
            Relational.sumExact(col("l_extendedprice")).as("sum_price"),
            min(col("l_extendedprice")).as("min_price"),
            max(col("l_extendedprice")).as("max_price"))
          .orderBy("bin"),
      Some {
        val probs = Seq(0.25, 0.5, 0.75)
        val brackets = probs.zipWithIndex.flatMap { case (p, i) =>
          Seq(
            s"""MIN(CASE WHEN cum - cnt <= CAST(floor($p * (n - 1)) AS BIGINT)
               |      AND CAST(floor($p * (n - 1)) AS BIGINT) < cum
               |      THEN cents END) AS lo$i""".stripMargin,
            s"""MIN(CASE WHEN cum - cnt <= CAST(ceil($p * (n - 1)) AS BIGINT)
               |      AND CAST(ceil($p * (n - 1)) AS BIGINT) < cum
               |      THEN cents END) AS hi$i""".stripMargin)
        }.mkString(",\n")
        val finals = probs.zipWithIndex.map { case (p, i) =>
          s"CAST(lo$i AS DOUBLE) + (($p * (n - 1)) - floor($p * (n - 1))) * " +
            s"(CAST(hi$i AS DOUBLE) - CAST(lo$i AS DOUBLE)) AS c$i"
        }.mkString(",\n")
        s"""WITH src AS (SELECT l_extendedprice AS v,
           |               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
           |             FROM lineitem),
           |g AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt
           |      FROM src GROUP BY cents),
           |r AS (SELECT cents, cnt,
           |        CAST(SUM(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum FROM g),
           |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g),
           |bk AS (SELECT
           |$brackets
           |FROM r, t),
           |cuts AS (SELECT
           |$finals
           |FROM bk, t),
           |binned AS (SELECT src.v,
           |  CAST(1 + (CASE WHEN src.cents > c0 THEN 1 ELSE 0 END)
           |         + (CASE WHEN src.cents > c1 THEN 1 ELSE 0 END)
           |         + (CASE WHEN src.cents > c2 THEN 1 ELSE 0 END)
           |       AS INT) AS bin
           |  FROM src, cuts)
           |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           |  MIN(v) AS min_price, MAX(v) AS max_price
           |FROM binned GROUP BY bin ORDER BY bin""".stripMargin
      }),

    // Winsorization audit: clamp at p05/p95 with cuts from the distributed
    // cents order statistics (same scale reasoning as the binning above);
    // the winsorized sum is decomposed as exact-DECIMAL middle mass +
    // clamp counts × cut values (one fixed-order double expression), so no
    // float ever accumulates.
    Q("feature_winsorize",
      (s, dir) =>
        Pipeline.winsorizeCents(Catalog.load(s, dir, "lineitem"),
            "l_extendedprice", 0.05, 0.95,
            centsCuts = Some(Quantiles.percentilesFromRanked(
              centsRanks(s, dir), "_cents", Seq(0.05, 0.95))))
          .groupBy()
          .agg(count(lit(1)).as("n"),
            sum(col("clamped_low").cast("long")).as("n_lo"),
            sum(col("clamped_high").cast("long")).as("n_hi"),
            min(col("_lo")).as("lo_cut"), min(col("_hi")).as("hi_cut"),
            Relational.sumExact(when(!col("clamped_low") && !col("clamped_high"),
              col("l_extendedprice"))).as("sum_mid"))
          .withColumn("sum_winsorized",
            col("sum_mid") + col("n_lo") * col("lo_cut") +
              col("n_hi") * col("hi_cut")),
      Some {
        val probs = Seq(0.05, 0.95)
        val brackets = probs.zipWithIndex.flatMap { case (p, i) =>
          Seq(
            s"""MIN(CASE WHEN cum - cnt <= CAST(floor($p * (n - 1)) AS BIGINT)
               |      AND CAST(floor($p * (n - 1)) AS BIGINT) < cum
               |      THEN cents END) AS lo$i""".stripMargin,
            s"""MIN(CASE WHEN cum - cnt <= CAST(ceil($p * (n - 1)) AS BIGINT)
               |      AND CAST(ceil($p * (n - 1)) AS BIGINT) < cum
               |      THEN cents END) AS hi$i""".stripMargin)
        }.mkString(",\n")
        val finals = probs.zipWithIndex.map { case (p, i) =>
          s"CAST(lo$i AS DOUBLE) + (($p * (n - 1)) - floor($p * (n - 1))) * " +
            s"(CAST(hi$i AS DOUBLE) - CAST(lo$i AS DOUBLE)) AS c$i"
        }.mkString(",\n")
        s"""WITH src AS (SELECT l_extendedprice AS v,
           |               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
           |             FROM lineitem),
           |g AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt
           |      FROM src GROUP BY cents),
           |r AS (SELECT cents, cnt,
           |        CAST(SUM(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum FROM g),
           |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g),
           |bk AS (SELECT
           |$brackets
           |FROM r, t),
           |cuts AS (SELECT
           |$finals
           |FROM bk, t),
           |f AS (SELECT src.v, src.cents, c0, c1,
           |        c0 / 100.0 AS lo_cut, c1 / 100.0 AS hi_cut
           |      FROM src, cuts),
           |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN cents < c0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
           |  CAST(SUM(CASE WHEN cents > c1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
           |  MIN(lo_cut) AS lo_cut, MIN(hi_cut) AS hi_cut,
           |  CAST(SUM(CASE WHEN cents >= c0 AND cents <= c1
           |           THEN CAST(v AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_mid
           |  FROM f)
           |SELECT n, n_lo, n_hi, lo_cut, hi_cut, sum_mid,
           |  sum_mid + n_lo * lo_cut + n_hi * hi_cut AS sum_winsorized
           |FROM a""".stripMargin
      }),

    // PER-GROUP winsorization audit: p05/p95 clamps per l_returnflag, with
    // each group's cuts served from the SHARED grouped ranked table
    // (pipeline `cents_ranks_grouped` — the same build the grouped
    // percentile report reads; the expensive (group, value) aggregate +
    // partitioned cumsum runs once per session, not once per consumer).
    // Cuts broadcast back (|groups| rows); the winsorized sum decomposes as
    // exact-DECIMAL middle mass + clamp counts × cut values, fixed order.
    Q("feature_winsorize_grouped",
      (s, dir) => {
        val cuts = Quantiles.percentilesByGroupFromRanked(
            flagRanks(s, dir), "l_returnflag", "cents", Seq(0.05, 0.95))
          .select(col("l_returnflag"), col("p0").as("c0"), col("p1").as("c1"))
        Catalog.load(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"),
            expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
          .join(broadcast(cuts), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(when(col("cents") < col("c0"), 1L).otherwise(0L)).as("n_lo"),
            sum(when(col("cents") > col("c1"), 1L).otherwise(0L)).as("n_hi"),
            min(col("c0") / 100.0).as("lo_cut"),
            min(col("c1") / 100.0).as("hi_cut"),
            Relational.sumExact(when(
              col("cents") >= col("c0") && col("cents") <= col("c1"),
              col("l_extendedprice"))).as("sum_mid"))
          .withColumn("sum_winsorized",
            col("sum_mid") + col("n_lo") * col("lo_cut") +
              col("n_hi") * col("hi_cut"))
          .orderBy("l_returnflag")
      },
      Some {
        val probs = Seq(0.05, 0.95)
        val brackets = probs.zipWithIndex.flatMap { case (p, i) =>
          Seq(
            s"""MIN(CASE WHEN cum - cnt <= CAST(floor($p * (n - 1)) AS BIGINT)
               |      AND CAST(floor($p * (n - 1)) AS BIGINT) < cum
               |      THEN cents END) AS lo$i""".stripMargin,
            s"""MIN(CASE WHEN cum - cnt <= CAST(ceil($p * (n - 1)) AS BIGINT)
               |      AND CAST(ceil($p * (n - 1)) AS BIGINT) < cum
               |      THEN cents END) AS hi$i""".stripMargin)
        }.mkString(",\n")
        val finals = probs.zipWithIndex.map { case (p, i) =>
          s"CAST(lo$i AS DOUBLE) + (($p * (n - 1)) - floor($p * (n - 1))) * " +
            s"(CAST(hi$i AS DOUBLE) - CAST(lo$i AS DOUBLE)) AS c$i"
        }.mkString(",\n")
        s"""WITH src AS (SELECT l_returnflag, l_extendedprice AS v,
           |               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
           |             FROM lineitem),
           |g AS (SELECT l_returnflag, cents, CAST(COUNT(*) AS BIGINT) AS cnt
           |      FROM src GROUP BY l_returnflag, cents),
           |r AS (SELECT l_returnflag, cents, cnt,
           |        CAST(SUM(cnt) OVER (PARTITION BY l_returnflag
           |             ORDER BY cents) AS BIGINT) AS cum FROM g),
           |t AS (SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n
           |      FROM g GROUP BY l_returnflag),
           |bk AS (SELECT r.l_returnflag,
           |$brackets
           |FROM r JOIN t ON r.l_returnflag = t.l_returnflag
           |GROUP BY r.l_returnflag),
           |cuts AS (SELECT bk.l_returnflag,
           |$finals
           |FROM bk JOIN t ON bk.l_returnflag = t.l_returnflag),
           |f AS (SELECT src.l_returnflag, src.v, src.cents, c0, c1,
           |        c0 / 100.0 AS lo_cut, c1 / 100.0 AS hi_cut
           |      FROM src JOIN cuts ON src.l_returnflag = cuts.l_returnflag),
           |a AS (SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN cents < c0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
           |  CAST(SUM(CASE WHEN cents > c1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
           |  MIN(lo_cut) AS lo_cut, MIN(hi_cut) AS hi_cut,
           |  CAST(SUM(CASE WHEN cents >= c0 AND cents <= c1
           |           THEN CAST(v AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_mid
           |  FROM f GROUP BY l_returnflag)
           |SELECT l_returnflag, n, n_lo, n_hi, lo_cut, hi_cut, sum_mid,
           |  sum_mid + n_lo * lo_cut + n_hi * hi_cut AS sum_winsorized
           |FROM a ORDER BY l_returnflag""".stripMargin
      }),

    // Rolling z-score anomalies over the previous 20 events per user —
    // the flag is exact 64-bit integer-cents arithmetic (no sqrt, no float
    // accumulation): (x·n − S)² > 9·(n·Q − S²) with ≥10 events of history.
    Q("anomaly_rolling_z",
      (s, dir) =>
        Pipeline.rollingAnomaly(Catalog.load(s, dir, "events"),
            "user_id", "ts", "event_id", "value",
            lookback = 20, minPrev = 10, zSq = 9)
          .filter(col("is_anomaly"))
          .select("event_id", "user_id", "cents", "n_prev", "dev_sq", "bound")
          .orderBy("event_id"),
      Some(rollingZOracle)),

    // The same rolling-z anomaly served from the user-bucketed layout
    // (pipeline `userkey_layout`): the window's user_id distribution comes
    // from the bucketed scan, so the per-user Exchange — the whole exchange
    // budget of this family — disappears from the serve plan (pinned in
    // PlanShapeSpec). Identical results; the layout is a reorganization.
    Q("anomaly_rolling_z_bucketed",
      (s, dir) => {
        userkeyLayout(s, dir)
        Pipeline.rollingAnomaly(s.table("graft_bkt_events"),
            "user_id", "ts", "event_id", "value",
            lookback = 20, minPrev = 10, zSq = 9)
          .filter(col("is_anomaly"))
          .select("event_id", "user_id", "cents", "n_prev", "dev_sq", "bound")
          .orderBy("event_id")
      },
      Some(rollingZOracle),
      servesLayout = Some("userkey")),

    // Robust scaling — median/MAD outlier detection per event type: the
    // robust-statistics alternative to z-scores (one extreme value moves a
    // mean/stddev fence, but not the median/MAD one). Both statistics run
    // through the distributed exact-percentile machinery (ranked counts,
    // never a single-reducer exact aggregate): median over integer cents,
    // then MAD = median of |cents − med| — every intermediate is an
    // integer-valued (or half-integer) double ≤ 2^53, so the IEEE
    // subtraction, the 3.5·MAD fence and the comparison are exact in both
    // engines. Output is one bounded row per type. Serve-plan fp: hx=0
    // (everything after the cached ranked builds aggregates bounded
    // tables); the two cachedBroadcast hits are the med/mad tables — ONE
    // ROW PER EVENT TYPE, bounded by the type domain, a classified-safe
    // hit in the hazard inventory.
    Q("feature_robust_scale",
      (s, dir) => {
        val c = Catalog.load(s, dir, "events")
          .select(col("event_type"),
            expr("CAST(ROUND(value * 100) AS BIGINT)").as("cents"))
        // Both ranked tables are persisted (bounded: |types|·|distinct|)
        // because each has TWO consumers — without the persist the shared
        // subtree duplicates per consumer and the corpus re-scans
        // (measured: the un-persisted plan doubled its exchanges).
        val cRanked = graft.ops.CacheRegistry.track(
          Quantiles.groupedRankedCounts(c, "event_type", "cents")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val med = Quantiles.percentilesByGroupFromRanked(
            cRanked, "event_type", "cents", Seq(0.5))
          .select(col("event_type"), col("p0").as("med"))
        // The corpus's ranked form also yields the dev distribution: dev
        // depends only on (cents, med), so weighting |cents − med| by the
        // ranked counts is exact — no second corpus scan at all.
        val dev = cRanked.join(broadcast(med), "event_type")
          .withColumn("dev", abs(col("cents").cast("double") - col("med")))
        // The ranked (type, dev) table serves BOTH the MAD bracket pick
        // and the outlier count (Σ cnt over the fence); the dev ranking
        // re-ranks the bounded distinct-cents rows WEIGHTED by their
        // original multiplicity.
        val devRanked = graft.ops.CacheRegistry.track(
          Quantiles.groupedRankedCountsWeighted(
              dev.select(col("event_type"), col("dev"), col("_cnt")),
              "event_type", "dev", "_cnt")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val mad = Quantiles.percentilesByGroupFromRanked(
            devRanked, "event_type", "dev", Seq(0.5))
          .select(col("event_type"), col("p0").as("mad"))
        devRanked.join(broadcast(mad), "event_type")
          .join(broadcast(med), "event_type")
          .groupBy("event_type")
          .agg(
            min(col("med")).as("med_cents"),
            min(col("mad")).as("mad_cents"),
            sum(col("_cnt")).as("n"),
            sum(when(col("dev") > lit(3.5) * col("mad"), col("_cnt"))
              .otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      },
      Some {
        def medianCtes(src: String, key: String, out: String): String =
          s"""g_$out AS (SELECT event_type, $key AS k,
             |    CAST(COUNT(*) AS BIGINT) AS cnt FROM $src
             |  GROUP BY event_type, $key),
             |r_$out AS (SELECT event_type, k, cnt,
             |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY k)
             |      AS BIGINT) AS cum FROM g_$out),
             |t_$out AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n
             |  FROM g_$out GROUP BY event_type),
             |b_$out AS (SELECT r.event_type,
             |    MIN(CASE WHEN cum - cnt <= CAST(floor(0.5 * (n - 1)) AS BIGINT)
             |          AND CAST(floor(0.5 * (n - 1)) AS BIGINT) < cum
             |        THEN k END) AS lo,
             |    MIN(CASE WHEN cum - cnt <= CAST(ceil(0.5 * (n - 1)) AS BIGINT)
             |          AND CAST(ceil(0.5 * (n - 1)) AS BIGINT) < cum
             |        THEN k END) AS hi,
             |    MIN(n) AS n
             |  FROM r_$out r JOIN t_$out t ON r.event_type = t.event_type
             |  GROUP BY r.event_type),
             |$out AS (SELECT event_type,
             |    CAST(lo AS DOUBLE) + ((0.5 * (n - 1)) - floor(0.5 * (n - 1)))
             |      * (CAST(hi AS DOUBLE) - CAST(lo AS DOUBLE)) AS m
             |  FROM b_$out)""".stripMargin
        s"""WITH c AS (SELECT event_type,
           |    CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events),
           |${medianCtes("c", "cents", "medt")},
           |d AS (SELECT c.event_type, cents,
           |        abs(CAST(cents AS DOUBLE) - m) AS dev
           |      FROM c JOIN medt ON c.event_type = medt.event_type),
           |${medianCtes("d", "dev", "madt")}
           |SELECT d.event_type, MIN(medt.m) AS med_cents,
           |  MIN(madt.m) AS mad_cents,
           |  CAST(COUNT(*) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN dev > 3.5 * madt.m THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_outliers
           |FROM d JOIN medt ON d.event_type = medt.event_type
           |     JOIN madt ON d.event_type = madt.event_type
           |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin
      }),

    // Distribution-drift monitor: total-variation distance between the
    // value distributions of two event cohorts (even/odd event_id), per
    // event type, over fixed-width bins. The pipeline-monitoring op that
    // catches a feature's distribution shifting between training and
    // serving. Engine-exact by construction: the per-bin term is the
    // INTEGER cross product |n_a·N_b − n_b·N_a| (order-independent BIGINT
    // sum — no double is ever accumulated), and TVD divides the integer
    // numerator by 2·N_a·N_b in ONE double op. Two hash aggregates; the
    // bin table is bounded by |types| × |bins|, never the event count.
    Q("drift_tvd_bins",
      (s, dir) => {
        val e = Catalog.load(s, dir, "events")
          .select(col("event_type"),
            floor(col("value") / 5.0).cast("long").as("bin"),
            (col("event_id") % 2 === 0).as("in_a"))
        val bins = e.groupBy("event_type", "bin").agg(
          sum(when(col("in_a"), 1L).otherwise(0L)).as("n_a"),
          sum(when(!col("in_a"), 1L).otherwise(0L)).as("n_b"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type")
        bins
          .withColumn("big_n_a", sum(col("n_a")).over(w))
          .withColumn("big_n_b", sum(col("n_b")).over(w))
          .groupBy("event_type")
          .agg(
            max(col("big_n_a")).as("cohort_a"),
            max(col("big_n_b")).as("cohort_b"),
            sum(abs(col("n_a") * col("big_n_b") - col("n_b") * col("big_n_a")))
              .as("tvd_num"))
          .withColumn("tvd", expr(
            "CAST(tvd_num AS DOUBLE) / (2.0 * cohort_a * cohort_b)"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type,
             |         CAST(floor(value / 5.0) AS BIGINT) AS bin,
             |         event_id % 2 = 0 AS in_a
             |       FROM events),
             |bins AS (SELECT event_type, bin,
             |           SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS n_a,
             |           SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS n_b
             |         FROM e GROUP BY event_type, bin),
             |tot AS (SELECT event_type, bin, n_a, n_b,
             |          SUM(n_a) OVER (PARTITION BY event_type) AS big_n_a,
             |          SUM(n_b) OVER (PARTITION BY event_type) AS big_n_b
             |        FROM bins)
             |SELECT event_type,
             |  CAST(MAX(big_n_a) AS BIGINT) AS cohort_a,
             |  CAST(MAX(big_n_b) AS BIGINT) AS cohort_b,
             |  CAST(SUM(abs(n_a * big_n_b - n_b * big_n_a)) AS BIGINT) AS tvd_num,
             |  CAST(SUM(abs(n_a * big_n_b - n_b * big_n_a)) AS DOUBLE)
             |    / (2.0 * MAX(big_n_a) * MAX(big_n_b)) AS tvd
             |FROM tot GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Feature-store build: one wide per-user feature row from the event log
    // in a single hash aggregate (conditional aggs, not a pivot shuffle) —
    // per-type counts, exact purchase revenue, first/last activity span.
    Q("events_user_features",
      (s, dir) => userFeatures(Catalog.load(s, dir, "events")),
      Some(userFeaturesOracle)),

    // The feature build served from the userkey layout: the aggregate's
    // user_id distribution comes from the bucketed scan, so the wide
    // feature row is computed with zero hash exchange — the aggregate
    // analog of the rolling-z window case (pinned in PlanShapeSpec).
    Q("events_user_features_bucketed",
      (s, dir) => {
        userkeyLayout(s, dir)
        userFeatures(s.table("graft_bkt_events"))
      },
      Some(userFeaturesOracle),
      servesLayout = Some("userkey")),

    // Power-of-2 histogram of document lengths: floor(log2(n_chars)) via
    // the binary-string length (no libm log — transcendentals are not
    // cross-engine reproducible), one hash aggregate.
    Q("stats_histogram_pow2",
      (s, dir) =>
        Catalog.load(s, dir, "documents")
          .filter(col("n_chars") >= 1)
          .withColumn("bucket", (length(expr("bin(n_chars)")) - 1).cast("int"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min(col("n_chars")).as("min_len"), max(col("n_chars")).as("max_len"))
          .orderBy("bucket"),
      Some("""SELECT CAST(length(bin(n_chars)) - 1 AS INT) AS bucket,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  MIN(n_chars) AS min_len, MAX(n_chars) AS max_len
             |FROM documents WHERE n_chars >= 1
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // RFM customer segmentation: per-customer recency/frequency/monetary in
    // one hash aggregate, median cut points broadcast back (one scalar row),
    // 8 segments from the three above-median bits. Median interpolation over
    // int64 micros stays exact in doubles (< 2^53).
    Q("rfm_segmentation",
      (s, dir) => {
        val rfm = Catalog.load(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(max(expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))")).as("last_us"),
            count(lit(1)).as("freq"),
            Relational.sumExact(col("o_totalprice")).as("monetary"))
        val cuts = rfm.agg(
          expr("percentile(last_us, 0.5)").as("r50"),
          expr("percentile(freq, 0.5)").as("f50"),
          expr("percentile(monetary, 0.5)").as("m50"))
        rfm.crossJoin(broadcast(cuts))
          .withColumn("segment", concat(
            when(col("last_us") > col("r50"), "R").otherwise("r"),
            when(col("freq") > col("f50"), "F").otherwise("f"),
            when(col("monetary") > col("m50"), "M").otherwise("m")))
          .select("o_custkey", "last_us", "freq", "monetary", "segment")
          .orderBy("o_custkey")
      },
      Some("""WITH rfm AS (SELECT o_custkey, MAX(epoch_us(o_orderdate)) AS last_us,
             |  CAST(COUNT(*) AS BIGINT) AS freq,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
             |  FROM orders GROUP BY o_custkey),
             |c AS (SELECT quantile_cont(last_us, 0.5) AS r50,
             |             quantile_cont(freq, 0.5) AS f50,
             |             quantile_cont(monetary, 0.5) AS m50 FROM rfm)
             |SELECT o_custkey, last_us, freq, monetary,
             |  (CASE WHEN last_us > r50 THEN 'R' ELSE 'r' END) ||
             |  (CASE WHEN freq > f50 THEN 'F' ELSE 'f' END) ||
             |  (CASE WHEN monetary > m50 THEN 'M' ELSE 'm' END) AS segment
             |FROM rfm, c ORDER BY o_custkey""".stripMargin)),

    // Distributed exact percentiles over integer cents: (value, count) hash
    // aggregate → two-phase prefix-sum ranks → bracket pick. No task ever
    // holds the value distribution (Spark's built-in exact percentile
    // merges it all on one reducer). The oracle spells the identical
    // order-statistic arithmetic.
    Q("stats_percentiles_distributed",
      (s, dir) =>
        Quantiles.percentilesFromRanked(
            centsRanks(s, dir), "_cents", Seq(0.25, 0.5, 0.9))
          .select(col("p0").as("p25_cents"), col("p1").as("p50_cents"),
            col("p2").as("p90_cents")),
      Some {
        val probs = Seq(0.25 -> "p25_cents", 0.5 -> "p50_cents", 0.9 -> "p90_cents")
        val brackets = probs.zipWithIndex.flatMap { case ((p, _), i) =>
          Seq(
            s"""MIN(CASE WHEN cum - cnt <= CAST(floor($p * (n - 1)) AS BIGINT)
               |      AND CAST(floor($p * (n - 1)) AS BIGINT) < cum
               |      THEN cents END) AS lo$i""".stripMargin,
            s"""MIN(CASE WHEN cum - cnt <= CAST(ceil($p * (n - 1)) AS BIGINT)
               |      AND CAST(ceil($p * (n - 1)) AS BIGINT) < cum
               |      THEN cents END) AS hi$i""".stripMargin)
        }.mkString(",\n")
        val finals = probs.zipWithIndex.map { case ((p, name), i) =>
          s"CAST(lo$i AS DOUBLE) + (($p * (n - 1)) - floor($p * (n - 1))) * " +
            s"(CAST(hi$i AS DOUBLE) - CAST(lo$i AS DOUBLE)) AS $name"
        }.mkString(",\n")
        s"""WITH c AS (SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
           |           FROM lineitem),
           |g AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY cents),
           |r AS (SELECT cents, cnt,
           |        CAST(SUM(cnt) OVER (ORDER BY cents) AS BIGINT) AS cum FROM g),
           |t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM g),
           |b AS (SELECT
           |$brackets
           |FROM r, t)
           |SELECT
           |$finals
           |FROM b, t""".stripMargin
      }),

    // Per-group distributed exact percentiles: window-cumsum ranks
    // partitioned by the group key (the partitioned form needs no global
    // prefix-sum machinery; dropping the partition is what kills it).
    // Served from the session-cached grouped ranked table (pipeline
    // `cents_ranks_grouped`) shared with the grouped winsorize below.
    Q("stats_percentiles_grouped",
      (s, dir) =>
        Quantiles.percentilesByGroupFromRanked(
            flagRanks(s, dir), "l_returnflag", "cents", Seq(0.25, 0.5, 0.9))
          .select(col("l_returnflag"), col("p0").as("p25_cents"),
            col("p1").as("p50_cents"), col("p2").as("p90_cents"))
          .orderBy("l_returnflag"),
      Some {
        val probs = Seq(0.25 -> "p25_cents", 0.5 -> "p50_cents", 0.9 -> "p90_cents")
        val brackets = probs.zipWithIndex.flatMap { case ((p, _), i) =>
          Seq(
            s"""MIN(CASE WHEN cum - cnt <= CAST(floor($p * (n - 1)) AS BIGINT)
               |      AND CAST(floor($p * (n - 1)) AS BIGINT) < cum
               |      THEN cents END) AS lo$i""".stripMargin,
            s"""MIN(CASE WHEN cum - cnt <= CAST(ceil($p * (n - 1)) AS BIGINT)
               |      AND CAST(ceil($p * (n - 1)) AS BIGINT) < cum
               |      THEN cents END) AS hi$i""".stripMargin)
        }.mkString(",\n")
        val finals = probs.zipWithIndex.map { case ((p, name), i) =>
          s"CAST(lo$i AS DOUBLE) + (($p * (n - 1)) - floor($p * (n - 1))) * " +
            s"(CAST(hi$i AS DOUBLE) - CAST(lo$i AS DOUBLE)) AS $name"
        }.mkString(",\n")
        s"""WITH c AS (SELECT l_returnflag,
           |             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
           |           FROM lineitem),
           |g AS (SELECT l_returnflag, cents, CAST(COUNT(*) AS BIGINT) AS cnt
           |      FROM c GROUP BY l_returnflag, cents),
           |r AS (SELECT l_returnflag, cents, cnt,
           |        CAST(SUM(cnt) OVER (PARTITION BY l_returnflag
           |             ORDER BY cents) AS BIGINT) AS cum FROM g),
           |t AS (SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS n
           |      FROM g GROUP BY l_returnflag),
           |b AS (SELECT r.l_returnflag,
           |$brackets
           |FROM r JOIN t ON r.l_returnflag = t.l_returnflag
           |GROUP BY r.l_returnflag)
           |SELECT b.l_returnflag,
           |$finals
           |FROM b JOIN t ON b.l_returnflag = t.l_returnflag
           |ORDER BY b.l_returnflag""".stripMargin
      }),

    // Hourly OHLC bars per user: open/close via lexicographic struct
    // MIN/MAX on (us, event_id, value) — deterministic first/last without a
    // window sort; one hash aggregate.
    Q("ts_ohlc_hourly",
      (s, dir) =>
        Catalog.load(s, dir, "events")
          .select(col("user_id"), expr("date_trunc('hour', ts)").as("hour"),
            unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
          .groupBy("user_id", "hour")
          .agg(
            expr("min(named_struct('us', us, 'eid', event_id, 'v', value)).v")
              .as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            expr("max(named_struct('us', us, 'eid', event_id, 'v', value)).v")
              .as("close"),
            count(lit(1)).as("n"))
          .orderBy("user_id", "hour"),
      Some("""SELECT user_id, date_trunc('hour', ts) AS hour,
             |  min({'us': epoch_us(ts), 'eid': event_id, 'v': value}).v AS open,
             |  MAX(value) AS high, MIN(value) AS low,
             |  max({'us': epoch_us(ts), 'eid': event_id, 'v': value}).v AS close,
             |  CAST(COUNT(*) AS BIGINT) AS n
             |FROM events GROUP BY 1, 2 ORDER BY user_id, hour""".stripMargin))
  )
}
