package graft.tools

/** Per-query bench regression gate (VERDICT r10 #1).
  *
  * Diffs a fresh quiet bench map (the full summary line graft.Bench
  * writes to SPARK_GRAFT_BENCH_OUT) against a committed artifact of
  * record (docs/bench_quiet_r10.json), and flags ONLY queries whose
  * delta exceeds the measured same-day A/B envelope — box-day
  * variance is the dominant noise term in cross-round comparisons
  * (r10 measured median 1.12x on UNTOUCHED code vs r9's day, and
  * same-tree dd11 A/B swings 4.75–5.8 s within an hour), so a raw
  * diff re-litigates noise every round; this tool encodes the
  * adjudication rule once.
  *
  * A query is a REGRESSION only when BOTH hold:
  *   - ratio new/old exceeds 1 + envelope (default 0.20, the ±20%
  *     A/B envelope VERDICT r10 measured on tail queries), AND
  *   - the absolute delta is ≥ minAbsSec (default 0.40 s): the r10
  *     evidence shows sub-half-second swings on sub-second queries
  *     (q62 0.45→0.74, tx39 0.31→0.50) are indistinguishable from
  *     box noise even at 1.6x ratio.
  * Improvements are reported symmetrically but never fail the gate.
  *
  * Usage: runMain graft.tools.BenchCompare <committed.json> <fresh.json>
  *          [envelope=0.20|auto] [minAbsSec=0.40] [recheckSfDir]
  * SPARK_GRAFT_BENCH_CHANGED=q13,... declares queries whose
  * computation intentionally changed this round: excluded from
  * pass/fail (no like-for-like baseline exists) but reported with
  * both numbers under `changed` — undeclared changes still fail.
  * Prints one JSON verdict line; exits 1 if any regression survives
  * the envelope (so a gated sbt invocation fails loudly).
  *
  * With a 5th arg (the sf dir the fresh lap ran on), adjudication is
  * MECHANICAL (VERDICT r12 #1): every query the lap flags is re-run
  * focused — SAMPLES=7 in a fresh warmed bench-contract JVM, the
  * exact recheck the runbook previously prescribed as a manual step —
  * and the CONVERGED min decides. Both numbers land in the artifact
  * (`recheck.checks[*].lap_ratio` / `converged_ratio`), so a
  * dissolved flag is auditable and a confirmed one is already
  * re-measured. r11→r12 evidence: all 12 lap flags (worst dd32
  * 1.77×) converged to 1.06–1.17× under this exact procedure — a
  * full round of hand adjudication this mode replaces.
  */
object BenchCompare {

  final case class Delta(q: String, oldSec: Double, newSec: Double) {
    def ratio: Double = if (oldSec > 0) newSec / oldSec else Double.NaN
  }

  /** Extract the `"queries":{"id":sec,...}` map from a bench summary
    * line. Hand-rolled (the build has no JSON dependency) but total
    * for the shape Bench itself emits: flat string→number pairs.
    */
  def parseQueries(json: String): Map[String, Double] = {
    val start = json.indexOf("\"queries\":{")
    require(start >= 0, "no \"queries\" map in bench json")
    val body = json.substring(start + "\"queries\":{".length)
    val end = body.indexOf('}')
    require(end >= 0, "unterminated queries map")
    val pair = """"([^"]+)":(-?[0-9.]+)""".r
    pair.findAllMatchIn(body.substring(0, end))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** The measured same-day envelope a bench lap ran with
    * SPARK_GRAFT_ENVELOPE_PROBE=1 embeds in its summary line
    * (worst max/min sample spread of the designated tail probes).
    */
  def parseEnvelopeProbe(json: String): Option[Double] = {
    val probe = """"envelope_probe":(-?[0-9.]+)""".r
    probe.findFirstMatchIn(json).map(_.group(1).toDouble)
  }

  /** The floor under any derived envelope: the hand-measured r10 A/B
    * bound — a measured value NARROWER than this is a lucky probe
    * run, not a quieter box.
    */
  val EnvelopeFloor = 0.20

  /** The `auto` rule (VERDICT r11 #5): use the fresh lap's measured
    * probe when present, floored at [[EnvelopeFloor]] — so a noisy
    * box WIDENS the gate instead of flagging phantom regressions,
    * and a quiet one never tightens below the measured bound.
    */
  def deriveEnvelope(freshJson: String): Double =
    parseEnvelopeProbe(freshJson)
      .map(m => math.max(m, EnvelopeFloor)).getOrElse(EnvelopeFloor)

  /** One flagged query's focused re-measurement (VERDICT r12 #1):
    * `lapSec` is the full-lap sample that tripped the envelope,
    * `convergedSec` the min of a SAMPLES=7 focused re-run in a fresh
    * warmed JVM — the same contract as the runbook's manual recheck,
    * now executed by the gate itself.
    */
  final case class Recheck(q: String, oldSec: Double, lapSec: Double,
      convergedSec: Double) {
    def lapRatio: Double = if (oldSec > 0) lapSec / oldSec else Double.NaN
    def convergedRatio: Double =
      if (oldSec > 0) convergedSec / oldSec else Double.NaN
  }

  /** The mechanical adjudication rule: a lap flag survives ONLY if
    * the CONVERGED measurement also exceeds the envelope (ratio and
    * absolute-delta arms both re-applied). Returns
    * (confirmed regressions, dissolved-as-noise).
    */
  def adjudicate(rechecks: Seq[Recheck], envelope: Double,
      minAbs: Double): (Seq[Recheck], Seq[Recheck]) =
    rechecks.partition(r =>
      r.convergedRatio > 1.0 + envelope &&
        r.convergedSec - r.oldSec >= minAbs)

  /** Focused converged re-measurement of the flagged queries: fresh
    * bench-contract session (graft.Bench.buildSession), full warmup
    * floor, `samples` runs per query, min wins. Keys in and out are
    * the bench summary's SHORT ids (prefix before '_'). A query whose
    * every sample fails is absent from the result (the caller keeps
    * its lap flag — loud, never silently dissolved).
    */
  def runFocused(sfDir: String, shortIds: Seq[String], samples: Int,
      warmupMs: Long): Map[String, Double] = {
    val spark = graft.Bench.buildSession(graft.Bench.cpus)
    graft.Bench.warmupLoop(spark, sfDir, warmupMs)
    shortIds.flatMap { id =>
      graft.SparkEntry.queries
        .find(_._1.takeWhile(_ != '_') == id).flatMap { case (n, f) =>
          val ts = (1 to samples).flatMap(_ =>
            graft.Bench.sampleQuery(spark, sfDir, n, f).toOption)
          graft.streaming.StreamJobs.cleanupFileSnapshots()
          if (ts.nonEmpty) Some(id -> ts.min) else None
        }
    }.toMap
  }

  /** (regressions, improvements) among common keys with valid times.
    * -1 entries (failed samples) never adjudicate — they surface in
    * the `invalid` bucket instead so a silently-failing query cannot
    * read as a perf win.
    */
  def compare(old: Map[String, Double], fresh: Map[String, Double],
      envelope: Double, minAbsSec: Double)
      : (Seq[Delta], Seq[Delta], Seq[String]) = {
    val common = old.keySet.intersect(fresh.keySet).toSeq.sorted
    val (valid, invalid) = common.partition(q => old(q) > 0 && fresh(q) > 0)
    val deltas = valid.map(q => Delta(q, old(q), fresh(q)))
    val reg = deltas.filter(d =>
      d.ratio > 1.0 + envelope && d.newSec - d.oldSec >= minAbsSec)
      .sortBy(-_.ratio)
    val imp = deltas.filter(d =>
      d.ratio < 1.0 - envelope && d.oldSec - d.newSec >= minAbsSec)
      .sortBy(_.ratio)
    (reg, imp, invalid)
  }

  /** Partition flags into (adjudicable, declared-changed): a query
    * in the declared semantic-change set has no like-for-like
    * baseline, so its delta never adjudicates — in either direction.
    */
  def splitChanged(deltas: Seq[Delta],
      changed: Set[String]): (Seq[Delta], Seq[Delta]) =
    deltas.partition(d => !changed.contains(d.q))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BenchCompare <committed.json> <fresh.json> [envelope|auto] " +
        "[minAbsSec] [recheckSfDir]")
    val minAbs = args.lift(3).map(_.toDouble).getOrElse(0.40)
    val oldJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(args(0)))
    val newJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(args(1)))
    // `auto`: derive the envelope from the fresh lap's own probe
    // (max(measured, 0.20)) instead of trusting a prior-day constant
    val envelope = args.lift(2) match {
      case Some("auto") => deriveEnvelope(newJson)
      case Some(v) => v.toDouble
      case None => EnvelopeFloor
    }
    val oldQ = parseQueries(oldJson)
    val newQ = parseQueries(newJson)
    // Declared semantic changes (SPARK_GRAFT_BENCH_CHANGED=q13,dd03):
    // a query whose COMPUTATION was intentionally changed this round
    // has no like-for-like baseline, so its delta is not a
    // regression signal. Declared ids are excluded from pass/fail
    // but always land in the artifact with both numbers (`changed`)
    // — an undeclared change still fails the gate, and a declared
    // one is auditable, never silently dropped.
    val changedIds = sys.env.get("SPARK_GRAFT_BENCH_CHANGED")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val changed = changedIds.toSeq.sorted
      .filter(q => oldQ.contains(q) && newQ.contains(q))
      .map(q => Delta(q, oldQ(q), newQ(q)))
    val (lapFlagsAll, impAll, invalid) = compare(oldQ, newQ, envelope, minAbs)
    val (lapFlags, _) = splitChanged(lapFlagsAll, changedIds)
    // a declared change is not an improvement claim either
    val (imp, _) = splitChanged(impAll, changedIds)
    // Mechanical adjudication (VERDICT r12 #1): with a recheck dir,
    // every lap flag is re-measured focused (SAMPLES=7, fresh warmed
    // bench-contract JVM — the runbook's manual recheck, executed by
    // the gate) and the CONVERGED ratio decides. Without one, the lap
    // flags decide directly (the pre-r13 behavior).
    val recheckDir = args.lift(4).filter(d => d.nonEmpty && d != "-")
    val samples = sys.env.get("SPARK_GRAFT_RECHECK_SAMPLES")
      .flatMap(v => scala.util.Try(v.toInt).toOption).getOrElse(7)
    val rechecks: Seq[Recheck] = recheckDir match {
      case Some(dir) if lapFlags.nonEmpty =>
        val converged = runFocused(dir, lapFlags.map(_.q), samples,
          graft.Bench.warmupFloorMsFromEnv)
        // a query whose every recheck sample failed keeps its lap
        // value as the converged one — it stays confirmed, loudly
        lapFlags.map(d =>
          Recheck(d.q, d.oldSec, d.newSec, converged.getOrElse(d.q, d.newSec)))
      case _ => Seq.empty
    }
    val (reg, dissolved) = recheckDir match {
      case Some(_) if lapFlags.nonEmpty =>
        val (conf, noise) = adjudicate(rechecks, envelope, minAbs)
        (conf.map(r => Delta(r.q, r.oldSec, r.convergedSec)), noise)
      case _ => (lapFlags, Seq.empty[Recheck])
    }
    def fmt(ds: Seq[Delta]): String = ds.map(d =>
      s"""{"q":"${d.q}","old":${d.oldSec},"new":${d.newSec},""" +
        s""""ratio":${math.round(d.ratio * 100) / 100.0}}""")
      .mkString("[", ",", "]")
    def r2(v: Double): Double = math.round(v * 100) / 100.0
    def fmtRechecks(rs: Seq[Recheck]): String = rs.map(r =>
      s"""{"q":"${r.q}","old":${r.oldSec},"lap":${r.lapSec},""" +
        s""""converged":${r2(r.convergedSec)},""" +
        s""""lap_ratio":${r2(r.lapRatio)},""" +
        s""""converged_ratio":${r2(r.convergedRatio)}}""")
      .mkString("[", ",", "]")
    val recheckJson = recheckDir.map(dir =>
      s""""recheck":{"sf":"${dir.split('/').last}","samples":$samples,""" +
        s""""lap_flags":${lapFlags.size},"confirmed":${reg.size},""" +
        s""""dissolved":${fmtRechecks(dissolved)},""" +
        s""""checks":${fmtRechecks(rechecks)}},""").getOrElse("")
    val nCommon = oldQ.keySet.intersect(newQ.keySet).size
    val totOld = oldQ.filter(_._2 > 0).values.sum
    val totNew = newQ.filter(_._2 > 0).values.sum
    println(
      s"""{"verdict":"${if (reg.isEmpty) "PASS" else "FAIL"}",""" +
        s""""n_common":$nCommon,"envelope":$envelope,"min_abs_sec":$minAbs,""" +
        s""""total_old":${math.round(totOld * 10) / 10.0},""" +
        s""""total_new":${math.round(totNew * 10) / 10.0},""" +
        recheckJson +
        s""""changed":${fmt(changed)},""" +
        s""""regressions":${fmt(reg)},"improvements":${fmt(imp)},""" +
        s""""invalid":${invalid.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    if (reg.nonEmpty) sys.exit(1)
  }
}
