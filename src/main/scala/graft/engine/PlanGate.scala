package graft.engine

/** Automated plan-fingerprint regression gate (round 9): the round-8
  * fingerprint columns caught two fact-scale broadcast plans
  * (`basket_part_pairs`, `triangleCount`) — but only because a human
  * diffed the artifact. This gate makes the diff mechanical: the bench
  * compares every query's live fingerprint against the committed baseline
  * (`PLAN_BASELINE.json`, authored from a clean-box run) and reports
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
  *   - TIME channel (round 10): a row whose warm median exceeds its
  *     committed clean-box baseline median by more than
  *     [[TimeRegressionFactor]] is a violation even when its plan
  *     fingerprint is bit-identical — the r9 `dedup_ngram_jaccard` ×2.3
  *     regression class, which fingerprint diffs are structurally blind
  *     to. Spread-aware: rows whose warm reps disagreed by more than
  *     [[TimeSpreadCeiling]] are exempt (that is box contention, and the
  *     bench self-heal already re-measures them), as are rows under
  *     [[TimeFloorS]] baseline seconds (relative time on a 50 ms row is
  *     scheduler noise). Build pipelines ride the same rule as
  *     `pipeline:<name>` rows (round 11) — single-shot timings with
  *     spread 0.0 and zeroed fingerprint columns that no rule reads.
  *
  * New queries (no baseline row) pass — the gate guards regressions, not
  * coverage; the baseline is re-authored each round from the clean box.
  */
object PlanGate {

  final case class Fp(hashExchanges: Int, cachedBroadcasts: Int)

  /** Committed clean-box baseline row: fingerprint + warm median seconds
    * (med < 0 = no time baseline, e.g. a hand-edited row).
    *
    * `cleanMedianS` (round 12, optional "cmed") is the DUAL-MEDIAN
    * interference defense: round 11 re-authored the baseline while two rows
    * sat on a host-interference plateau (×2-3 their clean cost), so the
    * committed `med` carried the inflated numbers and a real CODE
    * regression landing inside that allowance would have been invisible.
    * When a re-author measures a row >[[EpochFamilyFactor]]× its last
    * known clean cost, the clean value rides along as `cmed` and the time
    * rule originally gated on min(med, cmed) — the inflated epoch could
    * never widen the allowance.
    *
    * EPISODE RE-BASE (round 16): after a FIFTH consecutive multi-hour
    * host-interference episode (r11, r13, r14, r15, r16 — each canaried
    * on unmodified HEAD), gating on the clean floor produced a violations
    * list that was 100% known-noise every round (9 local + 3 driver in
    * r15, every one fingerprint-identical and episode-attributed) — a
    * gate nobody can act on trains people to ignore it. The time rule now
    * gates on the RE-AUTHORED median (`med` — the box's operative steady
    * state), while the clean epoch stays carried as a HISTORICAL FLOOR:
    * [[carryCleanMedians]] still propagates the tightest epoch across
    * re-authors (so one quiet round auto-restores the tight gate), and
    * [[infoLines]] keeps floor exceedances visible in the artifact as
    * non-gating observations. The cost accepted: a real code regression
    * that hides inside the episode allowance fires only as INFO until the
    * box quiets — the price of an actionable violations list. A
    * DELIBERATE slowdown (algorithm change) is the one case that must
    * hand-remove the row's cmed — the hardened parse makes a bad edit
    * loud. */
  final case class Base(fp: Fp, medianS: Double, cleanMedianS: Double = -1.0) {
    /** The median the time rule GATES on: the re-authored epoch (the
      * box's operative steady state; episode re-base, round 16), CAPPED at
      * [[EpisodeAllowanceCap]]× the historical clean floor (round 17, the
      * r16 advice): an unbounded re-base let rows like
      * retrieval_maxsim_topk (med 8.243, cmed 1.689) fire only above
      * ~16.5 s — ~10× the clean cost — so a real multi-× code regression
      * could ride the episode allowance indefinitely. The cap bounds how
      * far any episode can widen the allowance while keeping the gate
      * actionable on a noisy box. */
    def gateMedianS: Double =
      if (medianS < 0) cleanMedianS
      else math.min(medianS, EpisodeAllowanceCap * floorMedianS)
    /** The tightest epoch we know — the historical floor: what
      * [[carryCleanMedians]] preserves across re-authors and
      * [[infoLines]] reports exceedances against. */
    def floorMedianS: Double =
      if (cleanMedianS >= 0 && medianS >= 0) math.min(medianS, cleanMedianS)
      else if (medianS >= 0) medianS
      else cleanMedianS
  }

  val TimeRegressionFactor = 2.0
  val TimeSpreadCeiling = 0.5
  val TimeFloorS = 0.3
  /** A re-authored median beyond this factor of the last known clean epoch
    * is treated as environment-elevated: the clean median is carried as
    * "cmed" instead of being forgotten. Below it, the row is back in family
    * and the current measurement becomes the (only) epoch. */
  val EpochFamilyFactor = 1.3
  /** Episode re-bases may widen the operative time allowance only to this
    * factor of the historical clean floor (so the fire threshold is at most
    * [[TimeRegressionFactor]]·this × the clean cost). Chosen above every
    * observed episode plateau ratio that was genuinely environment (×2-3 in
    * r11-r15) and below the unbounded ~10× the r16 re-base allowed. */
  val EpisodeAllowanceCap = 4.0

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

  // Designed-exchange declarations live ON the row definitions
  // (`graft.queries.Q.designHx`, assembled by `Q.designHxMap`) — a
  // bucketed row whose designed plan genuinely re-keys (tpch_q21_bucketed's
  // final suppkey aggregate) declares its count where the query is
  // written, and the gate receives the assembled map. This module stays
  // free of query knowledge.

  private val Row =
    ("\"([A-Za-z0-9_:]+)\"\\s*:\\s*\\{\\s*\"hx\"\\s*:\\s*(\\d+)\\s*,\\s*" +
      "\"cb\"\\s*:\\s*(\\d+)\\s*(?:,\\s*\"med\"\\s*:\\s*([0-9.eE+-]+)\\s*)?" +
      "(?:,\\s*\"cmed\"\\s*:\\s*([0-9.eE+-]+)\\s*)?\\}").r

  /** Parse a baseline JSON of shape {"query":{"hx":N,"cb":N,"med":X},...}
    * ("med" optional — pre-round-10 baselines parse with no time channel).
    * The format is this module's own (written by [[render]]); a regex scan
    * keeps the library free of any JSON dependency.
    *
    * Two hardenings (round-11 advice): the med pattern accepts scientific
    * notation (an unparseable med degrades to "no time baseline" for that
    * row instead of dropping the ROW from both channels), and the parsed
    * row count is asserted against a simple `"hx"` occurrence count — a
    * hand-edited row that stops matching the row regex fails LOUDLY here
    * rather than silently vanishing from the gate. */
  def parseBaseline(json: String): Map[String, Base] = {
    val rows = Row.findAllMatchIn(json).map { m =>
      m.group(1) -> Base(Fp(m.group(2).toInt, m.group(3).toInt),
        Option(m.group(4)).flatMap(_.toDoubleOption).getOrElse(-1.0),
        Option(m.group(5)).flatMap(_.toDoubleOption).getOrElse(-1.0))
    }.toMap
    val expected = "\"hx\"".r.findAllMatchIn(json).size
    require(rows.size == expected,
      s"plan baseline parse dropped rows: matched ${rows.size} of $expected" +
        " \"hx\" entries — a hand-edited row no longer fits the row format")
    rows
  }

  /** Render current fingerprints + warm medians as baseline JSON (sorted,
    * stable). Rows with no timing (e.g. failed) get no "med" field; rows
    * with a carried clean epoch get a "cmed" field after it. */
  def render(current: Map[String, Fp],
      medians: Map[String, Double] = Map.empty,
      cleanMedians: Map[String, Double] = Map.empty): String =
    current.toSeq.sortBy(_._1).map { case (name, fp) =>
      val med = medians.get(name).filter(_ >= 0)
        .map(m => s""","med":${math.round(m * 1000.0) / 1000.0}""").getOrElse("")
      val cmed = cleanMedians.get(name).filter(_ >= 0)
        .map(m => s""","cmed":${math.round(m * 1000.0) / 1000.0}""").getOrElse("")
      s""""$name":{"hx":${fp.hashExchanges},"cb":${fp.cachedBroadcasts}$med$cmed}"""
    }.mkString("{\n", ",\n", "\n}")

  /** Epoch carry for baseline re-authoring: for each row whose fresh median
    * sits more than [[EpochFamilyFactor]]× above the previous baseline's
    * tightest known epoch (min of its med/cmed), keep that clean epoch as
    * the row's "cmed". A row measured back in family carries nothing — the
    * fresh median IS the epoch (the auto-restore the round-11 verdict
    * asked for). */
  def carryCleanMedians(prev: Map[String, Base],
      medians: Map[String, Double]): Map[String, Double] =
    medians.flatMap { case (name, m) =>
      prev.get(name).flatMap { b =>
        val clean = b.floorMedianS
        if (clean >= 0 && m >= 0 && m > EpochFamilyFactor * clean)
          Some(name -> clean)
        else None
      }
    }

  /** The time rule's firing predicate, exposed so the bench can identify
    * rows whose main-loop median WOULD fire and re-measure them
    * back-to-back before the gate renders its verdict (round 17 — the
    * serve-pin re-measure discipline ported to the time channel; a
    * main-loop median is measured minutes from its neighbors, so an
    * episode onset mid-run produced one-shot violations like r16's q18
    * 13.43 s that the same session later measured at 1.16 s). */
  def timeRegressionFires(b: Base, med: Double, spread: Double): Boolean =
    b.gateMedianS >= TimeFloorS && med > 0 && spread <= TimeSpreadCeiling &&
      med > TimeRegressionFactor * b.gateMedianS

  /** The gate: violation messages for `current` vs `baseline` (empty =
    * clean).
    *  - `designHx`: per-row designed-exchange declarations (`Q.designHxMap`)
    *  - `layoutRows`: row name → served layout name (`Q.layoutRowsMap`)
    *  - `registeredLayouts`: layout names actually registered this session
    *    ([[graft.ops.Bucketing.registeredLayouts]])
    *  - `times`: per-row (warm median s, warm spread) from this run
    */
  def violations(
      current: Map[String, Fp], baseline: Map[String, Base],
      designHx: Map[String, Int] = Map.empty,
      layoutRows: Map[String, String] = Map.empty,
      registeredLayouts: Set[String] = Set.empty,
      times: Map[String, (Double, Double)] = Map.empty): Seq[String] = {
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
          case b if timeRegressionFires(b, med, spread) =>
            val epoch = if (b.cleanMedianS >= 0 && b.cleanMedianS < b.medianS)
              f" (clean floor ${b.cleanMedianS}%.2f s rides as cmed)"
            else ""
            f"$name: warm median ${med}%.2f s vs baseline ${b.gateMedianS}%.2f s$epoch" +
              f" (>${TimeRegressionFactor}%.1fx at warm spread ${spread}%.2f" +
              " — a pure-time regression the fingerprint diff cannot see)"
        }
    }
    cbRises ++ undeclared ++ unregistered ++ bucketedHx ++ timeRegressions
  }

  /** NON-GATING floor observations (episode re-base, round 16): rows that
    * pass the operative-epoch gate but exceed [[TimeRegressionFactor]]× the
    * HISTORICAL FLOOR (the carried clean epoch). These keep the clean-box
    * cost visible in the artifact while the box sits on an interference
    * plateau — a regression hiding inside the episode allowance shows up
    * here, and the first quiet round's re-author (auto-restore) promotes
    * it back to a gating violation. Same spread/floor exemptions as the
    * gate. */
  def infoLines(baseline: Map[String, Base],
      times: Map[String, (Double, Double)] = Map.empty): Seq[String] =
    times.toSeq.sortBy(_._1).flatMap { case (name, (med, spread)) =>
      baseline.get(name).collect {
        case b if b.floorMedianS >= TimeFloorS && med > 0 &&
            spread <= TimeSpreadCeiling &&
            med <= TimeRegressionFactor * b.gateMedianS &&
            med > TimeRegressionFactor * b.floorMedianS =>
          f"$name: warm median ${med}%.2f s is >${TimeRegressionFactor}%.1fx" +
            f" the clean floor ${b.floorMedianS}%.2f s (inside the carried" +
            f" episode epoch ${b.gateMedianS}%.2f s — non-gating; a quiet" +
            " round's re-author restores the tight gate)"
      }
    }
}
