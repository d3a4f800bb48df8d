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
    PlanGate.violations(current, base, design, layoutRows, registered, times)

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
    val times = Map("plain_query" -> (2.5, 0.1)) // baseline med 1.0
    val v = gate(baselineFp, times = times)
    assert(v.size === 1 && v.head.contains("pure-time regression"), v)
    // Same ratio at high warm spread = box contention, exempt.
    assert(gate(baselineFp, times = Map("plain_query" -> (2.5, 0.8))).isEmpty)
    // Tiny-row exemption: baseline under the floor never fires.
    val tinyBase = baseline.updated("plain_query", Base(Fp(5, 0), 0.05))
    assert(gate(baselineFp, tinyBase,
      times = Map("plain_query" -> (0.2, 0.0))).isEmpty)
    // Pre-round-10 baselines (no med field) have no time channel.
    val noMed = baseline.updated("plain_query", Base(Fp(5, 0), -1.0))
    assert(gate(baselineFp, noMed, times = times).isEmpty)
    // Within 2x passes.
    assert(gate(baselineFp, times = Map("plain_query" -> (1.9, 0.1))).isEmpty)
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
      times = Map("pipeline:ivf_pq_promoted" -> (60.0, 0.0)))
    assert(v.size === 1 && v.head.startsWith("pipeline:ivf_pq_promoted:"), v)
    // Within 2x: clean. The zeroed fingerprint columns trigger nothing
    // (pipeline names never appear in `current`).
    assert(gate(baselineFp, base,
      times = Map("pipeline:ivf_pq_promoted" -> (40.0, 0.0))).isEmpty)
  }

  test("episode re-base (round 16): the gate takes the re-authored median; " +
      "the clean floor stays visible as a NON-GATING info line") {
    // The fifth-consecutive-episode policy: baseline re-authored on the
    // interference plateau carries med 3.12 with the clean epoch 0.95
    // riding as cmed. A 2.1 s measurement (2.2x the clean floor, inside
    // the operative epoch) must NOT gate — for four rounds this class was
    // 100% known-noise — but MUST surface as an info observation.
    val b = baseline.updated("plain_query", Base(Fp(5, 0), 3.12, 0.95))
    assert(gate(baselineFp, b, times = Map("plain_query" -> (2.1, 0.1))).isEmpty)
    val info = PlanGate.infoLines(b, Map("plain_query" -> (2.1, 0.1)))
    assert(info.size === 1 && info.head.contains("clean floor 0.95"), info)
    // Below 2x of the clean floor: no gate, no info.
    assert(gate(baselineFp, b, times = Map("plain_query" -> (1.8, 0.1))).isEmpty)
    assert(PlanGate.infoLines(b, Map("plain_query" -> (1.8, 0.1))).isEmpty)
    // Beyond 2x of the OPERATIVE epoch (a regression even by episode
    // standards): gates, and the message names the carried floor.
    val v = gate(baselineFp, b, times = Map("plain_query" -> (7.0, 0.1)))
    assert(v.size === 1 && v.head.contains("clean floor 0.95"), v)
    assert(PlanGate.infoLines(b, Map("plain_query" -> (7.0, 0.1))).isEmpty)
    // A cmed LARGER than med (stale hand edit) still never loosens the
    // gate: med is the operative epoch.
    val b2 = baseline.updated("plain_query", Base(Fp(5, 0), 1.0, 5.0))
    assert(gate(baselineFp, b2, times = Map("plain_query" -> (2.5, 0.1))).size === 1)
  }

  test("episode allowance is CAPPED relative to the clean floor (round 17): " +
      "a re-base cannot widen the gate past EpisodeAllowanceCap x floor") {
    // r16 state: maxsim_topk re-based at med 8.243 with floor 1.689 fired
    // only above ~16.5 s (~10x clean). With the cap the operative gate is
    // min(med, 4 x floor): a measurement at ~9 s — inside the old unbounded
    // allowance, > 2x the capped gate — now FIRES.
    val b = baseline.updated("plain_query", Base(Fp(5, 0), 8.243, 1.689))
    assert(b("plain_query").gateMedianS === 4.0 * 1.689)
    val v = gate(baselineFp, b, times = Map("plain_query" -> (14.0, 0.1)))
    assert(v.size === 1 && v.head.contains("pure-time regression"), v)
    // Below 2x the capped gate: non-gating (still an info-line floor
    // exceedance, as before).
    assert(gate(baselineFp, b, times = Map("plain_query" -> (13.0, 0.1))).isEmpty)
    assert(PlanGate.infoLines(b,
      Map("plain_query" -> (13.0, 0.1))).size === 1)
    // A mild re-base (med within the cap) is unaffected: gate = med.
    val mild = baseline.updated("plain_query", Base(Fp(5, 0), 3.12, 0.95))
    assert(mild("plain_query").gateMedianS === 3.12)
    // No carried floor: gate = med (the cap needs a floor to bite).
    assert(baseline("plain_query").gateMedianS === 1.0)
  }

  test("the COMMITTED baseline: historical floors survive the episode " +
      "re-base, and a 2x-of-gate slowdown still fires") {
    // Reads the real PLAN_BASELINE.json. These rows spent rounds 11-15 on
    // recurring interference plateaus. Under the round-16 episode re-base
    // the GATE median is the re-authored (possibly in-episode) epoch, but
    // the committed file must never LOSE the clean floor: floorMedianS
    // stays within the epoch-carry family factor of the last known clean
    // cost, so one quiet round's re-author auto-restores the tight gate.
    val base = PlanGate.parseBaseline(java.nio.file.Files.readString(
      java.nio.file.Paths.get("PLAN_BASELINE.json")))
    for ((row, r10clean) <- Seq("dedup_ngram_jaccard_exact" -> 0.951,
                                "retrieval_maxsim_topk" -> 2.509)) {
      val floor = base(row).floorMedianS
      assert(floor >= PlanGate.TimeFloorS, s"$row: no time channel")
      assert(floor <= PlanGate.EpochFamilyFactor * r10clean,
        s"$row: historical floor $floor lost the clean epoch" +
          s" (r10 clean $r10clean)")
      val gateMed = base(row).gateMedianS
      val v = PlanGate.violations(Map.empty, base,
        times = Map(row -> (2.05 * gateMed, 0.1)))
      assert(v.size === 1 && v.head.startsWith(s"$row:"), v)
      // A measurement back at the clean floor is quiet on BOTH channels.
      assert(PlanGate.violations(Map.empty, base,
        times = Map(row -> (floor, 0.1))).isEmpty)
      assert(PlanGate.infoLines(base, Map(row -> (floor, 0.1))).isEmpty)
    }
  }

  test("the COMMITTED baseline has one time-gate row per shared build, " +
      "and every shared build has a unique pipeline name") {
    // A renamed or duplicated build would silently drop its
    // `pipeline:<name>` time-gate row instead of failing here.
    val names = SparkEntry.pipelines.map(_._1)
    assert(names.distinct === names, names.diff(names.distinct))
    val rows = PlanGate.parseBaseline(java.nio.file.Files.readString(
        java.nio.file.Paths.get("PLAN_BASELINE.json")))
      .keySet.collect { case k if k.startsWith("pipeline:") => k.stripPrefix("pipeline:") }
    assert(rows.size === 41)
    assert(names.toSet === rows,
      s"no baseline row: ${names.toSet -- rows}; no build: ${rows -- names}")
  }

  test("epoch carry on re-author: elevated rows keep the clean median, " +
      "in-family rows auto-restore, carried epochs propagate") {
    val prev = Map(
      "elevated" -> Base(Fp(1, 0), 0.95),        // clean epoch, about to inflate
      "carried"  -> Base(Fp(1, 0), 3.1, 0.95),   // already carrying
      "flat"     -> Base(Fp(1, 0), 1.0))
    val fresh = Map(
      "elevated" -> 3.0,  // > 1.3x of 0.95 -> carry 0.95
      "carried"  -> 2.8,  // still > 1.3x of min(3.1, 0.95) -> keep carrying 0.95
      "flat"     -> 1.1,  // in family -> no cmed
      "new_row"  -> 5.0)  // no prior epoch -> nothing to carry
    assert(PlanGate.carryCleanMedians(prev, fresh) ===
      Map("elevated" -> 0.95, "carried" -> 0.95))
    // Auto-restore: the carried row re-measures in family -> cmed dropped.
    assert(PlanGate.carryCleanMedians(prev, Map("carried" -> 1.0)) === Map.empty)
  }

  test("baseline render/parse round-trips cmed rows") {
    val fp = Map("q" -> Fp(2, 1))
    val rendered = PlanGate.render(fp, Map("q" -> 3.061), Map("q" -> 1.181))
    assert(PlanGate.parseBaseline(rendered) ===
      Map("q" -> Base(Fp(2, 1), 3.061, 1.181)))
    // cmed-less rows are unchanged by the widened regex.
    assert(PlanGate.parseBaseline(PlanGate.render(fp, Map("q" -> 3.061))) ===
      Map("q" -> Base(Fp(2, 1), 3.061)))
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

  test("baseline render/parse round-trips, with and without medians") {
    val meds = baselineFp.keys.map(_ -> 1.0).toMap
    val parsed = PlanGate.parseBaseline(PlanGate.render(baselineFp, meds))
    assert(parsed === baseline)
    // med-less render parses as med = -1 (no time channel).
    val parsedNoMed = PlanGate.parseBaseline(PlanGate.render(baselineFp))
    assert(parsedNoMed === baselineFp.map { case (k, fp) => k -> Base(fp, -1.0) })
  }
}
