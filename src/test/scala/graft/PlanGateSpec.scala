package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.PlanGate
import graft.engine.PlanGate.{Base, Fp}

/** The plan-fingerprint regression gate must actually FIRE — the round-8
  * workflow relied on a human diffing the artifact columns; these tests
  * inject each regression class and prove the mechanical gate catches it.
  * (Pure logic — no SparkSession.) */
class PlanGateSpec extends AnyFunSuite {

  private val baselineFp = Map(
    "dedup_containment" -> Fp(3, 2),
    "basket_part_pairs" -> Fp(2, 0),
    "tpch_q18_bucketed" -> Fp(0, 0),
    "plain_query" -> Fp(5, 0))
  private val baseline = baselineFp.map { case (k, fp) => k -> Base(fp, 1.0) }

  // The bucketed-serve declarations the bench passes (here: just q18; the
  // layout is registered). Tests that inject other bucketed rows extend it.
  private val q18Layout = Map("tpch_q18_bucketed" -> "orderkey")
  private val layouts = Set("orderkey")

  private def gate(
      current: Map[String, Fp], base: Map[String, Base] = baseline,
      design: Map[String, Int] = Map.empty,
      layoutRows: Map[String, String] = q18Layout,
      registered: Set[String] = layouts,
      times: Map[String, (Double, Double)] = Map.empty) =
    PlanGate.violations(current, base, design, layoutRows, registered, times,
      PlanGate.timeDivisor(base, times))

  // Every baseline row measured at its baseline median (ratio 1.0), low
  // spread: the calibration backdrop a single-row injection runs against.
  private val flat = baseline.map { case (k, b) => k -> (b.medianS, 0.1) }

  test("clean run (equal or improved fingerprints) passes") {
    assert(gate(baselineFp).isEmpty)
    val improved = baselineFp
      .updated("dedup_containment", Fp(2, 1)) // fewer exchanges, fewer cb
    assert(gate(improved).isEmpty)
  }

  test("injected cachedBroadcast rise is flagged (red test)") {
    // The basket_part_pairs class: a query acquires a broadcast of a
    // cached, corpus-sized relation that planner stats mis-sized.
    val regressed = baselineFp.updated("basket_part_pairs", Fp(2, 1))
    val v = gate(regressed)
    assert(v.size === 1 && v.head.startsWith("basket_part_pairs: cachedBroadcast 0 -> 1"), v)
  }

  test("bucketed row acquiring a hash exchange is flagged even if baseline had one") {
    // Rule is absolute for declared bucketed serves: the layout must supply
    // the distribution; a stale baseline must not grandfather an exchange in.
    val regressed = baselineFp.updated("tpch_q18_bucketed", Fp(1, 0))
    val v = gate(regressed)
    assert(v.size === 1 && v.head.startsWith("tpch_q18_bucketed:"), v)
    val staleBaseline = baseline.updated("tpch_q18_bucketed", Base(Fp(1, 0), 1.0))
    assert(gate(regressed, staleBaseline).size === 1)
  }

  test("declared design exchanges pass; exceeding the declaration fires") {
    // tpch_q21_bucketed's final suppkey aggregate genuinely re-keys — its
    // designed plan declares ONE exchange via Q.designHx at the row
    // definition; the gate consumes the assembled map.
    val design = Map("tpch_q21_bucketed" -> 1)
    val lr = q18Layout + ("tpch_q21_bucketed" -> "orderkey")
    val withQ21 = baselineFp.updated("tpch_q21_bucketed", Fp(1, 0))
    assert(gate(withQ21, design = design, layoutRows = lr).isEmpty)
    val regressed = baselineFp.updated("tpch_q21_bucketed", Fp(2, 0))
    val v = gate(regressed, design = design, layoutRows = lr)
    assert(v.size === 1 && v.head.startsWith("tpch_q21_bucketed:"), v)
    // The declaration lives in code, not the measured baseline: a stale
    // baseline row at 2 still cannot grandfather the second exchange in.
    val stale = baseline.updated("tpch_q21_bucketed", Base(Fp(2, 0), 1.0))
    assert(gate(regressed, stale, design, lr).size === 1)
    // Without the declaration, the single designed exchange itself fires —
    // the default for a bucketed serve row is and stays ZERO.
    assert(gate(withQ21, layoutRows = lr).size === 1)
  }

  test("gate keys on servesLayout declarations, not the name pattern") {
    // src_bucketed_join never matched the old *_bucketed name rule — with
    // the declaration map it is gated like any other layout serve.
    val lr = Map("src_bucketed_join" -> "custkey")
    val current = Map("src_bucketed_join" -> Fp(1, 0))
    val v = gate(current, layoutRows = lr, registered = Set("custkey"))
    assert(v.size === 1 && v.head.contains("bucketed row has 1 hash exchange"), v)
    assert(gate(Map("src_bucketed_join" -> Fp(0, 0)),
      layoutRows = lr, registered = Set("custkey")).isEmpty)
  }

  test("bucketed-looking name without a declaration is itself a violation") {
    val current = Map("new_thing_bucketed" -> Fp(0, 0))
    val v = gate(current, layoutRows = Map.empty)
    assert(v.size === 1 && v.head.contains("declares no servesLayout"), v)
  }

  test("declaration referencing an unregistered layout is a violation") {
    val lr = Map("tpch_q18_bucketed" -> "orderkye") // typo
    val v = gate(baselineFp, layoutRows = lr)
    assert(v.size === 1 && v.head.contains("no such layout registered"), v)
    // ...but with no registration info at all (dev subset), the check skips.
    assert(gate(baselineFp, layoutRows = lr, registered = Set.empty).isEmpty)
  }

  test("declarations assemble from the row definitions and name real layouts") {
    // The real maps the bench passes: built by Q.designHxMap /
    // Q.layoutRowsMap from SparkEntry.allQueries.
    val design = graft.queries.Q.designHxMap(SparkEntry.allQueries)
    assert(design === Map(
      "tpch_q21_bucketed" -> 1,   // final suppkey aggregate
      "src_bucketed_join" -> 1))  // final mktsegment aggregate
    val lr = graft.queries.Q.layoutRowsMap(SparkEntry.allQueries)
    assert(lr === Map(
      "tpch_q18_bucketed" -> "orderkey",
      "tpch_q21_bucketed" -> "orderkey",
      "src_bucketed_join" -> "custkey",
      "funnel_conversion_bucketed" -> "userkey",
      "anomaly_rolling_z_bucketed" -> "userkey",
      "events_user_features_bucketed" -> "userkey"))
    // Every row whose NAME says bucketed is declared (the bypass guard
    // can't fire on the real surface).
    val named = SparkEntry.allQueries.map(_.name).filter(_.contains("_bucketed"))
    assert(named.forall(lr.contains), named.filterNot(lr.contains))
  }

  test("time channel: >2x warm median at low spread fires; exemptions hold") {
    val times = flat.updated("plain_query", (2.5, 0.1)) // baseline med 1.0
    val v = gate(baselineFp, times = times)
    assert(v.size === 1 && v.head.contains("pure-time regression"), v)
    assert(v.head.contains("×2.50 raw") && v.head.contains("divisor 1.00"), v)
    // Same ratio at high warm spread = box contention, exempt.
    assert(gate(baselineFp, times = flat.updated("plain_query", (2.5, 0.8))).isEmpty)
    // Tiny-row exemption: baseline under the floor never fires.
    val tinyBase = baseline.updated("plain_query", Base(Fp(5, 0), 0.05))
    assert(gate(baselineFp, tinyBase,
      times = flat.updated("plain_query", (0.2, 0.0))).isEmpty)
    // Pre-round-10 baselines (no med field) have no time channel.
    val noMed = baseline.updated("plain_query", Base(Fp(5, 0), -1.0))
    assert(gate(baselineFp, noMed, times = times).isEmpty)
    // Within 2x passes.
    assert(gate(baselineFp, times = flat.updated("plain_query", (1.9, 0.1))).isEmpty)
  }

  test("hardened parse: sci-notation med degrades to no-time-channel; " +
      "dropped rows fail loudly; pipeline: names parse") {
    // A hand-edited med in scientific notation must not drop the ROW —
    // it parses with med = -1 (fingerprint rules intact, time rule off).
    val sci = """{"q":{"hx":1,"cb":0,"med":1.5e-2}}"""
    assert(PlanGate.parseBaseline(sci) === Map("q" -> Base(Fp(1, 0), 0.015)))
    // Garbage that still matches the widened med charclass -> med -1.
    val junk = """{"q":{"hx":1,"cb":0,"med":e+-}}"""
    assert(PlanGate.parseBaseline(junk) === Map("q" -> Base(Fp(1, 0), -1.0)))
    // A row mangled past the ROW regex (hx present but unparseable) must
    // throw, not silently vanish from both gate channels.
    val mangled = """{"q":{"hx":one,"cb":0},"r":{"hx":2,"cb":0}}"""
    assertThrows[IllegalArgumentException](PlanGate.parseBaseline(mangled))
    // A legacy row still carrying the retired clean-epoch field must throw
    // too, not parse with the field silently ignored.
    val legacy = """{"q":{"hx":1,"cb":0,"med":3.12,"cmed":0.95},"r":{"hx":2,"cb":0}}"""
    val e = intercept[IllegalArgumentException](PlanGate.parseBaseline(legacy))
    assert(e.getMessage.contains("matched 1 of 2"), e.getMessage)
    // Pipeline time-channel rows (round 11) carry a colon in the name.
    val pl = PlanGate.parseBaseline(
      PlanGate.render(Map("pipeline:lloyd_kmeans" -> Fp(0, 0)),
        Map("pipeline:lloyd_kmeans" -> 1.62)))
    assert(pl === Map("pipeline:lloyd_kmeans" -> Base(Fp(0, 0), 1.62)))
  }

  test("pipeline time-channel rows fire on a >2x build regression and " +
      "never touch fingerprint rules") {
    val base = baseline +
      ("pipeline:ivf_pq_promoted" -> Base(Fp(0, 0), 28.8))
    // Build doubled: fires via the shared time rule.
    val v = gate(baselineFp, base,
      times = flat.updated("pipeline:ivf_pq_promoted", (60.0, 0.0)))
    assert(v.size === 1 && v.head.startsWith("pipeline:ivf_pq_promoted:"), v)
    // Within 2x: clean. The zeroed fingerprint columns trigger nothing
    // (pipeline names never appear in `current`).
    assert(gate(baselineFp, base,
      times = flat.updated("pipeline:ivf_pq_promoted", (40.0, 0.0))).isEmpty)
  }

  test("calibrated time rule: the run's median ratio is the divisor, clamped at 1") {
    def scaled(f: Double) = flat.map { case (k, (m, sp)) => k -> (m * f, sp) }
    // A uniformly x3 slower box fires nothing: the divisor absorbs it.
    assert(PlanGate.timeDivisor(baseline, scaled(3.0)) === 3.0)
    assert(gate(baselineFp, times = scaled(3.0)).isEmpty)
    // One row at x2.1 among rows at x1.0 fires.
    val v = gate(baselineFp, times = flat.updated("plain_query", (2.1, 0.1)))
    assert(v.size === 1 && v.head.startsWith("plain_query:"), v)
    // One row at x6.3 in a x3 run fires (6.3 > 2 x 3).
    val v3 = gate(baselineFp, times = scaled(3.0).updated("plain_query", (6.3, 0.1)))
    assert(v3.size === 1 && v3.head.contains("divisor 3.00"), v3)
    // A uniformly x0.5 run (a faster box, or a small-scale smoke) never
    // tightens the gate: the divisor clamps at 1, so x1.9 stays quiet.
    assert(PlanGate.timeDivisor(baseline, scaled(0.5)) === 1.0)
    assert(gate(baselineFp, times = scaled(0.5).updated("plain_query", (1.9, 0.1))).isEmpty)
    // Rows the rule cannot read (warm spread over the ceiling) never move
    // the divisor.
    assert(PlanGate.timeDivisor(baseline, scaled(3.0).map { case (k, (m, _)) =>
      k -> (m, 0.8) }) === 1.0)
  }

  test("the COMMITTED baseline: a 2.05x slowdown fires at divisor 1, med is quiet") {
    // Reads the real PLAN_BASELINE.json: two heavy rows at their committed
    // med, from the sf0.1 baseline timed over each row's whole result.
    val base = PlanGate.parseBaseline(java.nio.file.Files.readString(
      java.nio.file.Paths.get("PLAN_BASELINE.json")))
    for ((row, med) <- Seq("dedup_ngram_jaccard_exact" -> 6.144,
                           "retrieval_maxsim_topk" -> 13.912)) {
      assert(base(row).medianS === med)
      val v = PlanGate.violations(Map.empty, base,
        times = Map(row -> (2.05 * med, 0.1)), divisor = 1.0)
      assert(v.size === 1 && v.head.startsWith(s"$row:"), v)
      assert(PlanGate.violations(Map.empty, base,
        times = Map(row -> (med, 0.1)), divisor = 1.0).isEmpty)
    }
  }

  test("replay of BENCH_LOCAL r08-r17 round over round fires only the pinned rows") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    // (baseline, times) of one artifact: every timed query row and every
    // pipeline build (single-shot, spread 0).
    def round(r: Int) = {
      val root = json.readTree(new java.io.File(f"BENCH_LOCAL_r$r%02d.json"))
      val qs = root.get("queries").properties.asScala.collect {
        case e if e.getValue.has("median_s") => e.getKey ->
          (e.getValue.get("median_s").asDouble, e.getValue.get("warm_spread").asDouble)
      }
      val pls = root.get("pipelines_s").properties.asScala
        .map(e => s"pipeline:${e.getKey}" -> (e.getValue.asDouble, 0.0))
      (qs ++ pls).toMap
    }
    val fired = (9 to 17).map { r =>
      val base = round(r - 1).map { case (k, (m, _)) => k -> Base(Fp(0, 0), m) }
      val times = round(r)
      val v = PlanGate.violations(Map.empty, base, times = times,
        divisor = PlanGate.timeDivisor(base, times))
      r -> v.map(_.split(": ").head).toSet
    }.toMap
    val ngram = Set("dedup_ngram_jaccard", "dedup_ngram_jaccard_exact")
    val expected = Map(
      9 -> ngram,
      11 -> (ngram ++ Set("retrieval_maxsim_topk",
        "tpch_q11_important_suppliers", "tpch_q12_priority_lines")),
      13 -> (ngram ++ Set("retrieval_maxsim_ivf",
        "retrieval_maxsim_ivf_persisted", "retrieval_maxsim_topk")),
      15 -> Set("s10_merge_sink")).withDefaultValue(Set.empty[String])
    for (r <- 9 to 17) assert(fired(r) === expected(r), s"r$r")
  }

  test("the COMMITTED baseline has one time-gate row per shared build, " +
      "and every shared build has a unique pipeline name") {
    // A renamed or duplicated build would silently drop its
    // `pipeline:<name>` time-gate row instead of failing here.
    val names = SparkEntry.pipelines.map(_._1)
    assert(names.distinct === names, names.diff(names.distinct))
    val base = PlanGate.parseBaseline(java.nio.file.Files.readString(
      java.nio.file.Paths.get("PLAN_BASELINE.json")))
    val rows = base.keySet
      .collect { case k if k.startsWith("pipeline:") => k.stripPrefix("pipeline:") }
    assert(rows.size === 41)
    assert(names.toSet === rows,
      s"no baseline row: ${names.toSet -- rows}; no build: ${rows -- names}")
    // ...and exactly one row, with a time baseline, per conformance query.
    val queryRows = base.filter { case (k, _) => !k.startsWith("pipeline:") }
    assert(SparkEntry.queries.size === 292)
    assert(queryRows.keySet === SparkEntry.queries.keySet,
      s"no baseline row: ${SparkEntry.queries.keySet -- queryRows.keySet}; " +
        s"no query: ${queryRows.keySet -- SparkEntry.queries.keySet}")
    assert(queryRows.forall(_._2.medianS >= 0), queryRows.filter(_._2.medianS < 0).keys)
  }

  test("serve pins: the 1.25x ratio and the 0.3 s gap are both strict; " +
      "every pin pair names a conformance row") {
    assert(!PlanGate.servePinFires(2.5, 2.0)) // exactly 1.25x
    assert(PlanGate.servePinFires(2.5001, 2.0))
    assert(0.5 - 0.2 == PlanGate.TimeFloorS) // exact in binary64
    assert(!PlanGate.servePinFires(0.5, 0.2)) // gap exactly 0.3 s
    assert(PlanGate.servePinFires(0.5001, 0.2))
    // A pair naming no row can never pin (the dead-letter class: a pair
    // whose in-session side was never measured).
    val rows = SparkEntry.queries.keySet
    val dead = PlanGate.ServePins.flatMap { case (p, i) => Seq(p, i) }
      .filterNot(rows)
    assert(dead.isEmpty, dead)
  }

  test("re-measure picker: noisy, time-fired and both serve-pin rows; not quiet rows") {
    val times = flat ++ Map(
      "plain_query" -> (1.0, 0.8), // noisy: warm spread over the ceiling
      "basket_part_pairs" -> (2.5, 0.1), // the time rule fires: x2.5 at divisor 1
      "retrieval_maxsim_ivf_fwd" -> (3.0, 0.1), // the pin fires: 1.5x
      "retrieval_maxsim_ivf" -> (2.0, 0.1),
      "tiny_noisy" -> (0.2, 0.9)) // noisy, but under the time floor
    val divisor = PlanGate.timeDivisor(baseline, times)
    assert(divisor === 1.0)
    assert(PlanGate.remeasure(times, baseline, divisor) === Seq("basket_part_pairs",
      "plain_query", "retrieval_maxsim_ivf", "retrieval_maxsim_ivf_fwd"))
    // Quiet rows (dedup_containment, tpch_q18_bucketed at ratio 1.0) alone
    // pick nothing, and with no baseline (a subset run) the time rule
    // picks nothing either.
    assert(PlanGate.remeasure(flat, baseline, 1.0).isEmpty)
    assert(PlanGate.remeasure(times, Map.empty, 1.0) === Seq("plain_query",
      "retrieval_maxsim_ivf", "retrieval_maxsim_ivf_fwd"))
    // Noisy rows: the 8 slowest only.
    val noisy = (1 to 10).map(i => s"noisy$i" -> (i.toDouble, 0.9)).toMap
    assert(PlanGate.remeasure(noisy, Map.empty, 1.0) ===
      (3 to 10).map(i => s"noisy$i").sorted)
    // The verdict reads the same pins on the final medians.
    assert(PlanGate.servePinViolations(times.map { case (k, (m, _)) => k -> m }) ===
      Seq("serve_pin: retrieval_maxsim_ivf_fwd 3.00s > 1.25x retrieval_maxsim_ivf 2.00s"))
  }

  test("baseline render/parse round-trips, with and without medians") {
    val meds = baselineFp.keys.map(_ -> 1.0).toMap
    val parsed = PlanGate.parseBaseline(PlanGate.render(baselineFp, meds))
    assert(parsed === baseline)
    // med-less render parses as med = -1 (no time channel).
    val parsedNoMed = PlanGate.parseBaseline(PlanGate.render(baselineFp))
    assert(parsedNoMed === baselineFp.map { case (k, fp) => k -> Base(fp, -1.0) })
  }
}
