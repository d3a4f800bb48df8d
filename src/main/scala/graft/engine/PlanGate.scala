package graft.engine

/** Automated plan-fingerprint regression gate (round 9): the round-8
  * fingerprint columns caught two fact-scale broadcast plans
  * (`basket_part_pairs`, `triangleCount`) — but only because a human
  * diffed the artifact. This gate makes the diff mechanical: the bench
  * compares every query's live fingerprint against the committed baseline
  * (`PLAN_BASELINE.json`, authored from a full bench run) and reports
  * violations in the artifact; PlanGateSpec proves the rules fire on an
  * injected regression.
  *
  * Rules — deliberately asymmetric, matching what each column means:
  *   - `cachedBroadcast` may only FALL. Every legitimate hit is an
  *     audited, measured-or-bounded broadcast (SURVEY §9 inventory); a
  *     rise means a new planning-time cached-stats broadcast nobody
  *     sized — the OOM-at-scale class.
  *   - Bucketed-layout serve rows must keep ZERO hash exchanges — their
  *     whole point is that the layout supplies the distribution; any
  *     exchange is a layout regression, baseline or not. Which rows are
  *     bucketed serves is DECLARED at the row definition
  *     (`Q.servesLayout`, round-10: keyed to the
  *     [[graft.ops.Bucketing.sessionLayout]] registration it serves, not
  *     to a `*_bucketed` name pattern — `src_bucketed_join` never matched
  *     the name rule). Two guards close the bypass directions: a declared
  *     row must reference a layout that actually REGISTERED this session,
  *     and a row whose name SAYS bucketed but carries no declaration is
  *     itself a violation. The designed-exchange escape hatch
  *     (`Q.designHx`) is unchanged: a row whose designed plan includes
  *     exchanges the layout cannot supply (a final aggregate keyed off
  *     the bucket key) declares that count in code — exceeding it still
  *     fires, and a stale measured baseline can never grandfather a
  *     regression in.
  *   - other `hashExchanges` changes are NOT violations (AQE may
  *     legitimately re-stage); they stay visible in the artifact diff.
  *   - TIME channel: a row whose warm median is more than
  *     [[TimeRegressionFactor]]× its committed baseline median, after the
  *     run's calibration, is a violation even when its plan fingerprint is
  *     bit-identical — the r9 `dedup_ngram_jaccard` ×2.3 regression class,
  *     which fingerprint diffs are structurally blind to. The calibration
  *     is one divisor per run ([[timeDivisor]]): the median of measured ÷
  *     baseline over the time-eligible rows, clamped at a minimum of 1. A
  *     slower box or a host-wide interference episode moves the divisor,
  *     not the verdict; the clamp keeps a faster box (or a small-scale
  *     smoke against the sf0.1 baseline) from tightening the gate.
  *     Whole-system slowdowns are the bench total's job, not this rule's.
  *     A row is time-eligible when its baseline median is at least
  *     [[TimeFloorS]] (relative time on a 50 ms row is scheduler noise) and
  *     its warm reps agreed within [[TimeSpreadCeiling]] (beyond it is box
  *     contention, which the bench re-measures, see [[remeasure]]). Build pipelines
  *     ride the same rule as `pipeline:<name>` rows — single-shot timings
  *     with spread 0.0 and zeroed fingerprint columns that no rule reads.
  *
  * New queries (no baseline row) pass — the gate guards regressions, not
  * coverage; the baseline is re-authored from a full bench run.
  */
object PlanGate {

  final case class Fp(hashExchanges: Int, cachedBroadcasts: Int)

  /** Committed baseline row: fingerprint + warm median seconds (med < 0 =
    * no time baseline, e.g. a hand-edited row). */
  final case class Base(fp: Fp, medianS: Double)

  val TimeRegressionFactor = 2.0
  val TimeSpreadCeiling = 0.5
  val TimeFloorS = 0.3

  /** SERVE-AMORTIZATION PINS: (persisted-index serve, the in-session path
    * it amortizes). A persisted index whose serve costs more than the path
    * it replaces is backwards — the state retrieval_maxsim_ivf_persisted
    * shipped in for one round (14.0 s vs 5.7 s: tiny-files layout). The
    * bench pins them at 1×, the scale sweep at the replica scale; every
    * name is a `SparkEntry.queries` row (a pair naming no row never pins,
    * which PlanGateSpec guards). */
  val ServePins: Seq[(String, String)] = Seq(
    ("retrieval_maxsim_ivf_persisted", "retrieval_maxsim_ivf"),
    ("retrieval_maxsim_ivf_fwd", "retrieval_maxsim_ivf"),
    // Each bucketed-segment lifecycle serve must not cost more than the
    // union-forward sibling it bounds.
    ("retrieval_maxsim_ivf_append_fwd", "retrieval_maxsim_ivf_append"),
    ("retrieval_maxsim_ivf_delete_fwd", "retrieval_maxsim_ivf_delete"),
    ("retrieval_maxsim_ivf_lifecycle_compacted_fwd",
      "retrieval_maxsim_ivf_lifecycle_compacted"),
    ("ann_ivf_kmeans_persisted", "ann_ivf_kmeans"),
    ("ann_ivf_pq_persisted", "ann_ivf_pq_topk"))
  val ServePinRatio = 1.25

  /** The pin fires when the persisted serve costs more than
    * [[ServePinRatio]]× its in-session sibling AND more than [[TimeFloorS]]
    * above it: the ratio margin absorbs median noise at the 2-3 s rows,
    * the absolute gap keeps sub-second pairs (0.4-0.9 s, where 1.25× is
    * inside box noise) from flapping. */
  def servePinFires(persistedS: Double, inSessionS: Double): Boolean =
    persistedS > inSessionS * ServePinRatio &&
      persistedS - inSessionS > TimeFloorS

  /** The serve pins that fire on `medians` (row -> warm median s). */
  def firingPins(medians: Map[String, Double]): Seq[(String, String)] =
    ServePins.filter { case (per, ins) =>
      medians.get(per).zip(medians.get(ins)).exists { case (p, i) => servePinFires(p, i) }
    }

  def servePinViolations(medians: Map[String, Double]): Seq[String] =
    firingPins(medians).map { case (per, ins) =>
      f"serve_pin: $per ${medians(per)}%.2fs > ${ServePinRatio}x $ins ${medians(ins)}%.2fs"
    }

  // Designed-exchange declarations live ON the row definitions
  // (`graft.queries.Q.designHx`, assembled by `Q.designHxMap`) — a
  // bucketed row whose designed plan genuinely re-keys (tpch_q21_bucketed's
  // final suppkey aggregate) declares its count where the query is
  // written, and the gate receives the assembled map. This module stays
  // free of query knowledge.

  private val Row =
    ("\"([A-Za-z0-9_:]+)\"\\s*:\\s*\\{\\s*\"hx\"\\s*:\\s*(\\d+)\\s*,\\s*" +
      "\"cb\"\\s*:\\s*(\\d+)\\s*(?:,\\s*\"med\"\\s*:\\s*([0-9.eE+-]+)\\s*)?\\}").r

  /** Parse a baseline JSON of shape {"query":{"hx":N,"cb":N,"med":X},...}
    * ("med" optional — pre-round-10 baselines parse with no time channel).
    * The format is this module's own (written by [[render]]); a regex scan
    * keeps the library free of any JSON dependency.
    *
    * Two hardenings (round-11 advice): the med pattern accepts scientific
    * notation (an unparseable med degrades to "no time baseline" for that
    * row instead of dropping the ROW from both channels), and the parsed
    * row count is asserted against a simple `"hx"` occurrence count — a
    * hand-edited row that stops matching the row regex — or a legacy row
    * carrying a field the format no longer has — fails LOUDLY here rather
    * than silently vanishing from the gate. */
  def parseBaseline(json: String): Map[String, Base] = {
    val rows = Row.findAllMatchIn(json).map { m =>
      m.group(1) -> Base(Fp(m.group(2).toInt, m.group(3).toInt),
        Option(m.group(4)).flatMap(_.toDoubleOption).getOrElse(-1.0))
    }.toMap
    val expected = "\"hx\"".r.findAllMatchIn(json).size
    require(rows.size == expected,
      s"plan baseline parse dropped rows: matched ${rows.size} of $expected" +
        " \"hx\" entries — a hand-edited row no longer fits the row format")
    rows
  }

  /** Render current fingerprints + warm medians as baseline JSON (sorted,
    * stable). Rows with no timing (e.g. failed) get no "med" field. */
  def render(current: Map[String, Fp],
      medians: Map[String, Double] = Map.empty): String =
    current.toSeq.sortBy(_._1).map { case (name, fp) =>
      val med = medians.get(name).filter(_ >= 0)
        .map(m => s""","med":${math.round(m * 1000.0) / 1000.0}""").getOrElse("")
      s""""$name":{"hx":${fp.hashExchanges},"cb":${fp.cachedBroadcasts}$med}"""
    }.mkString("{\n", ",\n", "\n}")

  /** A row the time rule reads: a baseline median at or above
    * [[TimeFloorS]], a measured median, and warm reps that agreed within
    * [[TimeSpreadCeiling]]. */
  private def timeEligible(b: Base, med: Double, spread: Double): Boolean =
    b.medianS >= TimeFloorS && med > 0 && spread <= TimeSpreadCeiling

  /** The run's time calibration: the median of measured ÷ baseline over
    * the time-eligible rows of `times` (`name -> (warm median s, warm
    * spread)`), clamped at a minimum of 1; 1 when no row is eligible.
    * Without the clamp a faster box, or a small-scale smoke against the
    * sf0.1 baseline, would tighten the gate: replaying the committed r11 →
    * r12 artifacts, the unclamped rule fired on `feature_robust_scale` and
    * `graph_common_neighbors` (raw ×1.80 and ×1.93 at a run-wide 0.83),
    * both back in family a round later. */
  def timeDivisor(baseline: Map[String, Base],
      times: Map[String, (Double, Double)]): Double = {
    val ratios = times.toSeq.flatMap { case (name, (med, spread)) =>
      baseline.get(name).collect {
        case b if timeEligible(b, med, spread) => med / b.medianS
      }
    }.sorted
    val n = ratios.size
    if (n == 0) 1.0 else math.max(1.0, (ratios((n - 1) / 2) + ratios(n / 2)) / 2)
  }

  /** The time rule: a time-eligible row fires when measured ÷ baseline is
    * more than [[TimeRegressionFactor]] × the run's [[timeDivisor]]. */
  def timeRegressionFires(b: Base, med: Double, spread: Double,
      divisor: Double): Boolean =
    timeEligible(b, med, spread) && med / b.medianS > TimeRegressionFactor * divisor

  /** The rows the bench re-measures, in one pass before the verdict, from
    * its main-loop query rows (`times`: name -> (warm median s, warm
    * spread)): the 8 slowest noisy rows (warm spread over
    * [[TimeSpreadCeiling]], median over [[TimeFloorS]]: contention hit
    * them mid-run), every row the time rule fires on at `divisor`, and
    * both rows of every firing serve pin. A main-loop median is measured
    * minutes from its baseline twin and from its pin sibling, so an
    * interference episode starting mid-run would otherwise ship as a
    * violation. Sorted, each row once. */
  def remeasure(times: Map[String, (Double, Double)],
      baseline: Map[String, Base], divisor: Double): Seq[String] = {
    val noisy = times.toSeq.collect {
      case (name, (med, spread)) if spread > TimeSpreadCeiling && med > TimeFloorS =>
        (name, med)
    }.sortBy(-_._2).take(8).map(_._1)
    val fired = times.collect { case (name, (med, spread))
      if baseline.get(name).exists(timeRegressionFires(_, med, spread, divisor)) => name
    }
    val pinned = firingPins(times.map { case (k, (med, _)) => k -> med })
      .flatMap { case (per, ins) => Seq(per, ins) }
    (noisy ++ fired ++ pinned).distinct.sorted
  }

  /** The gate: violation messages for `current` vs `baseline` (empty =
    * clean).
    *  - `designHx`: per-row designed-exchange declarations (`Q.designHxMap`)
    *  - `layoutRows`: row name → served layout name (`Q.layoutRowsMap`)
    *  - `registeredLayouts`: layout names actually registered this session
    *    ([[graft.ops.Bucketing.registeredLayouts]])
    *  - `times`: per-row (warm median s, warm spread) from this run
    *  - `divisor`: the run's [[timeDivisor]]
    */
  def violations(
      current: Map[String, Fp], baseline: Map[String, Base],
      designHx: Map[String, Int] = Map.empty,
      layoutRows: Map[String, String] = Map.empty,
      registeredLayouts: Set[String] = Set.empty,
      times: Map[String, (Double, Double)] = Map.empty,
      divisor: Double): Seq[String] = {
    val cbRises = current.toSeq.sortBy(_._1).flatMap { case (name, fp) =>
      baseline.get(name).collect {
        case b if fp.cachedBroadcasts > b.fp.cachedBroadcasts =>
          s"$name: cachedBroadcast ${b.fp.cachedBroadcasts} -> ${fp.cachedBroadcasts}" +
            " (new cached-stats broadcast nobody sized)"
      }
    }
    val undeclared = current.keys.toSeq.sorted.collect {
      case name if name.contains("_bucketed") && !layoutRows.contains(name) =>
        s"$name: name says bucketed but the row declares no servesLayout" +
          " (gate bypass — declare the layout it serves, or rename)"
    }
    val unregistered = layoutRows.toSeq.sortBy(_._1).collect {
      case (name, layout)
          if current.contains(name) && registeredLayouts.nonEmpty &&
            !registeredLayouts.contains(layout) =>
        s"$name: declares servesLayout '$layout' but no such layout" +
          " registered this session (stale or misspelled declaration)"
    }
    val bucketedHx = current.toSeq.sortBy(_._1).collect {
      case (name, fp) if layoutRows.contains(name) &&
          fp.hashExchanges > designHx.getOrElse(name, 0) =>
        s"$name: bucketed row has ${fp.hashExchanges} hash exchange(s)," +
          s" designed ${designHx.getOrElse(name, 0)}" +
          " (layout regression — the bucketed scan no longer supplies the distribution)"
    }
    val timeRegressions = times.toSeq.sortBy(_._1).flatMap {
      case (name, (med, spread)) =>
        baseline.get(name).collect {
          case b if timeRegressionFires(b, med, spread, divisor) =>
            f"$name: warm median ${med}%.2f s vs baseline ${b.medianS}%.2f s" +
              f" (×${med / b.medianS}%.2f raw, >${TimeRegressionFactor}%.1fx" +
              f" the run divisor ${divisor}%.2f at warm spread ${spread}%.2f" +
              " — a pure-time regression the fingerprint diff cannot see)"
        }
    }
    cbRises ++ undeclared ++ unregistered ++ bucketedHx ++ timeRegressions
  }
}
