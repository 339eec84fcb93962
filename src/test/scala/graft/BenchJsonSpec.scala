package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench honesty + driver-tail fit: a broken query must surface under
  * "errors" with its exception text — never as a (fast) timing in
  * "queries" — and the PRINTED line must fit the driver's 2000-char
  * output-tail capture (rounds 1-6 printed a ~4 KB line and every
  * BENCH_r{N}.json came back `parsed: null`). */
class BenchJsonSpec extends AnyFunSuite {

  test("failed query lands in errors, not in queries/rows") {
    val (line, full) = Bench.renderJson(Seq(
      ("good_query", 1.25, Right(42L)),
      ("broken_query", 0.01, Left("AnalysisException: column \"nope\" missing"))),
      "/tmp/sf")
    assert(line.contains(""""queries":{"good_query":1.250}"""))
    assert(full.contains(""""queries":{"good_query":1.25}"""))
    assert(full.contains(""""rows":{"good_query":42}"""))
    for (json <- Seq(line, full)) {
      assert(json.contains(""""errors":{"broken_query":"AnalysisException"""))
      assert(!json.contains(""""broken_query":0.01"""),
        "a broken query must never be reported as a timing")
      // quotes in the exception text are escaped -> the line stays valid JSON
      assert(json.contains("""column \"nope\" missing"""))
    }
  }

  test("control characters in exception text are flattened to spaces") {
    // \b, \f, NUL would pass a naive \n\r\t-only filter and break the
    // driver's JSON parse of the errors map
    val (line, _) = Bench.renderJson(Seq(
      ("q", 0.5, Left("bad\b\f\u0000\u001ftext\nline2"))), "/tmp/sf")
    assert(line.contains(""""errors":{"q":"bad    text line2"}"""))
    assert(!line.exists(c => c < ' '), "emitted line must contain no raw control chars")
  }

  test("total sums only successful queries") {
    val (line, full) = Bench.renderJson(Seq(
      ("a", 2.0, Right(1L)), ("b", 100.0, Left("boom")), ("c", 3.0, Right(2L))),
      "/tmp/sf")
    assert(line.contains(""""value":5.000"""))
    assert(full.contains(""""value":5.0"""))
  }

  test("printed line stays under the tail cap even at 200 queries; largest kept") {
    val many = (1 to 200).map(i =>
      (f"some_quite_long_query_name_$i%03d", i * 0.017, Right(i.toLong): Either[String, Long]))
    val (line, full) = Bench.renderJson(many, "/root/testdata/sf0.1")
    assert(line.length <= Bench.MaxLineChars,
      s"line is ${line.length} chars — would be truncated by the driver tail")
    // the biggest timings must survive the cut; the omitted rest is summarized
    assert(line.contains("some_quite_long_query_name_200"))
    assert(line.contains(""""queries_omitted":"""))
    assert(line.contains(""""omitted_sec":"""))
    // full file keeps everything
    assert(full.contains("some_quite_long_query_name_001"))
    // the line's total is the TRUE total (omitted entries included)
    val total = many.map(_._2).sum
    assert(line.contains(f""""value":$total%.3f"""))
  }

  test("no omission marker when everything fits") {
    val (line, _) = Bench.renderJson(Seq(("a", 1.0, Right(1L))), "/tmp/sf")
    assert(!line.contains("queries_omitted"))
    assert(line.length <= Bench.MaxLineChars)
  }

  // --- contention stamp (r12): a contended snapshot must announce itself ---

  private val quietRun: Map[String, Double] = Map(
    "q1_pricing_summary" -> 0.33, "b2_point_lookup" -> 0.17,
    "g2_ranged_read" -> 0.21, "x3_ngram_jaccard" -> 2.0)
  private val history: Seq[Map[String, Double]] = Seq.fill(8)(quietRun)

  test("contended flag fires on a synthetically inflated run (2-of-3 majority)") {
    // the observed contended signature: scan-bound sentinels inflate while
    // the CPU-bound control (q1) stays flat — exactly the 326.7 s r11 run
    val inflated = quietRun ++ Map(
      "b2_point_lookup" -> 0.17 * 1.8, "g2_ranged_read" -> 0.21 * 1.6)
    assert(Bench.contendedFlag(inflated, history) === Some(true))
    // uniform inflation (all three) flags too
    val uniform = quietRun.view.mapValues(_ * 2.0).toMap
    assert(Bench.contendedFlag(uniform, history) === Some(true))
  }

  test("quiet runs and single-sentinel noise do not flag") {
    assert(Bench.contendedFlag(quietRun, history) === Some(false))
    // one sentinel spiking alone (GC pause on one query) is not contention
    val oneSpike = quietRun + ("g2_ranged_read" -> 0.21 * 3.0)
    assert(Bench.contendedFlag(oneSpike, history) === Some(false))
  }

  test("flag is unknown with a thin history and rides into the JSON when known") {
    assert(Bench.contendedFlag(quietRun, history.take(4)) === None)
    val res = Seq(("a", 1.0, Right(1L): Either[String, Long]))
    val (line, full) = Bench.renderJson(res, "/tmp/sf", Some(true))
    assert(line.contains(""""contended":true"""))
    assert(full.contains(""""contended":true"""))
    val (line2, full2) = Bench.renderJson(res, "/tmp/sf", None)
    assert(!line2.contains("contended") && !full2.contains("contended"))
  }

  // --- burst audit (r13): replay the two adjudicating historical runs ---

  private def historyPath = Seq("BENCH_HISTORY.jsonl", "/root/repo/BENCH_HISTORY.jsonl")
    .map(java.nio.file.Paths.get(_))
    .find(java.nio.file.Files.exists(_))
    .getOrElse(fail("committed BENCH_HISTORY.jsonl not found"))

  /** Replay a committed run through the burst audit exactly as Bench saw
    * it live: priors are every clean same-sf run that PRECEDED it. */
  private def replay(tsPrefix: String): Seq[(String, Double)] = {
    val runs = Bench.readHistoryRuns(historyPath, "/root/testdata/sf0.1")
    val cur = runs.find(_._1.startsWith(tsPrefix))
      .getOrElse(fail(s"no history run at $tsPrefix — the committed history was rewritten?"))
    val priors = runs.filter(_._1 < cur._1).map(r => (r._2, r._3, r._4))
    Bench.burstOutliers(cur._2, priors, cur._3)
  }

  test("replay: the 18:01Z r12 burst run shows >= K outliers (the old sentinel rule stamped it clean)") {
    val burst = replay("2026-08-15T18:01")
    assert(burst.lengthCompare(Bench.BurstMinQueries) >= 0,
      s"18:01Z must flag — got ${burst.length} outliers: $burst")
    // the calibration anchors: n5 worst at ~4.4x, t3 ~4.2x
    assert(burst.head._1 === "n5_triangles" && burst.head._2 > 4.0)
    assert(burst.exists { case (n, r) => n == "t3_cohort_retention" && r > 4.0 })
  }

  test("replay: the 17:30Z r12 quiet close stays under the flag") {
    val quiet = replay("2026-08-15T17:30")
    assert(quiet.lengthCompare(Bench.BurstMinQueries) < 0,
      s"17:30Z must stay quiet — got $quiet")
    assert(quiet.length <= 1, s"calibration said 1 marginal outlier, got $quiet")
  }

  private val noSteal = Map.empty[String, Long]

  test("burst medians are like-with-like on memo_built status") {
    // six old-protocol runs where stX's memo was never cleared: its rows
    // timed a 1.0 s cache lookup, unstamped
    val old = Seq.fill(6)((Map("stX" -> 1.0), Set.empty[String], noSteal))
    // under the uniform clear stX pays its build (3.0 s), stamped — it must
    // NOT be judged against the 1.0 s lookup medians (it sits out instead)
    assert(Bench.burstOutliers(Map("stX" -> 3.0), old, Set("stX")).isEmpty)
    // the same 3.0 s UNSTAMPED is a genuine 3x burst vs its own kind
    assert(Bench.burstOutliers(Map("stX" -> 3.0), old, Set.empty).nonEmpty)
    // once enough stamped runs accumulate, stamped timings are judged
    // against stamped medians: 3.1 s is quiet, 7.0 s flags
    val mixed = old ++ Seq.fill(5)((Map("stX" -> 3.0), Set("stX"), noSteal))
    assert(Bench.burstOutliers(Map("stX" -> 3.1), mixed, Set("stX")).isEmpty)
    assert(Bench.burstOutliers(Map("stX" -> 7.0), mixed, Set("stX")).map(_._1) === Seq("stX"))
  }

  test("steal-stormed history samples are non-comparable; current rows still flag") {
    val none = Set.empty[String]
    // the judge's n5 case in miniature: five quiet 20 s samples plus one
    // 109 s row self-documented as steal-stormed (28,667 jiffies >> one
    // core-equivalent of its window). With the veto the median stays
    // 20 s and a 45 s current row flags at 2.25x; WITHOUT it the
    // stormed sample would drag the median up and hide the outlier.
    val runs = Seq.fill(5)((Map("n5" -> 20.0), none, noSteal)) :+
      ((Map("n5" -> 109.0), none, Map("n5" -> 28667L)))
    assert(Bench.burstOutliers(Map("n5" -> 45.0), runs).map(_._1) === Seq("n5"))
    // the vetoed sample does not count toward BurstMinSamples either:
    // four quiet + one stormed = four comparable -> the audit sits out
    val thin = Seq.fill(4)((Map("n5" -> 20.0), none, noSteal)) :+
      ((Map("n5" -> 109.0), none, Map("n5" -> 28667L)))
    assert(Bench.burstOutliers(Map("n5" -> 45.0), thin).isEmpty)
    // sub-second rows never veto (floor): 40 jiffies on a 0.3 s row is
    // scheduler noise, the sample stays comparable
    assert(!Bench.stealVetoed(0.3, Some(40L)))
    assert(!Bench.stealVetoed(0.3, Some(Bench.StealVetoFloor)))
    assert(Bench.stealVetoed(0.3, Some(Bench.StealVetoFloor + 1)))
    // long rows veto at one core-equivalent of their own window
    assert(!Bench.stealVetoed(100.0, Some(9000L)))
    assert(Bench.stealVetoed(100.0, Some(10001L)))
    // unstamped (pre-r14 lines): never vetoed
    assert(!Bench.stealVetoed(100.0, None))
  }

  test("history contention maps sum steal and busy_foreign per row") {
    // a co-tenant-stormed row (the r14 39x-with-474-steal shape) carries
    // its jiffies in busy_foreign, not steal_jiffies — the veto must see
    // the SUM or the original blind spot survives at the median layer
    val dir = java.nio.file.Files.createTempDirectory("bench-hist")
    val p = dir.resolve("h.jsonl")
    java.nio.file.Files.write(p,
      ("""{"ts":"2026-08-16T00:00:00Z","metric":"total","value":1.0,"protocol":2,""" +
       """"steal_jiffies":{"a":474},"busy_foreign":{"a":9000,"b":50},""" +
       """"queries":{"a":30.0,"b":1.0},"rows":{"a":1,"b":1},"errors":{},"sf":"/tmp/sf"}""" +
       "\n").getBytes("UTF-8"))
    val runs = Bench.readHistoryRuns(p, "/tmp/sf")
    assert(runs.length === 1)
    val contention = runs.head._4
    assert(contention === Map("a" -> 9474L, "b" -> 50L))
    // and that sum vetoes the sample where steal alone would not:
    // 9,474 jiffies on a 30 s row > 100/s core-equivalent (3,000)
    assert(Bench.stealVetoed(30.0, contention.get("a")))
    assert(!Bench.stealVetoed(30.0, Some(474L)), "steal alone would have missed it")
  }

  test("burst outliers, memo provenance and protocol ride in the JSON") {
    val res = Seq(("a", 1.0, Right(1L): Either[String, Long]))
    val (line, full) = Bench.renderJson(res, "/tmp/sf", Some(true),
      Seq("n5" -> 4.42, "t3" -> 4.17), Map("a" -> Seq("GraphOps", "LayoutOps")))
    assert(full.contains(""""burst_outliers":{"n5":4.42,"t3":4.17}"""))
    assert(full.contains(""""memo_built":{"a":["GraphOps","LayoutOps"]}"""))
    assert(full.contains(s""""protocol":${Bench.Protocol}"""))
    // the compact line carries the COUNT so a driver-tail reader sees why
    assert(line.contains(""""burst":2"""))
    assert(!line.contains("burst_outliers"), "per-query ratios live in the full file only")
  }

  test("parseSteal reads field 8 of the aggregate cpu line; rejects junk") {
    // the recorded r14 adjudication host's line, verbatim
    assert(Bench.parseSteal("cpu  1025578 0 723031 6614395 27277 0 3419 350323 0 0")
      === Some(350323L))
    assert(Bench.parseSteal("cpu0 7559 0 4681 204364 894 0 1994 11841 0 0") === None,
      "per-core lines must not match — only the aggregate")
    assert(Bench.parseSteal("intr 37538283 0 9") === None)
    assert(Bench.parseSteal("cpu 1 2 3") === None, "truncated line")
    assert(Bench.parseSteal("cpu a b c d e f g h i j") === None, "non-numeric")
    // live read: on this Linux host it yields a value; the contract
    // elsewhere is None-not-crash, which the junk cases above pin
    assert(Bench.readSteal().forall(_ >= 0L))
  }

  test("parseCpuLine: busy excludes idle/iowait/guest, steal separate; junk -> None") {
    // the recorded r14 adjudication host's line, verbatim:
    // user nice system idle iowait irq softirq steal guest guest_nice
    val line = "cpu  1025578 0 723031 6614395 27277 0 3419 350323 0 0"
    // busy = 1025578 + 0 + 723031 + 0 + 3419 (idle 6614395 and iowait
    // 27277 excluded; steal is its own column; guest fields excluded —
    // the kernel folds guest into user)
    assert(Bench.parseCpuLine(line) === Some((1752028L, 350323L)))
    assert(Bench.parseCpuLine("cpu0 7559 0 4681 204364 894 0 1994 11841 0 0") === None)
    assert(Bench.parseCpuLine("cpu 1 2 3") === None, "truncated line")
    assert(Bench.parseCpuLine("cpu a b c d e f g h i j") === None, "non-numeric")
  }

  test("parseSelfStat: utime+stime located from the LAST ')' (hostile comm safe)") {
    // a realistic /proc/self/stat prefix: pid (comm) state ppid pgrp
    // session tty tpgid flags minflt cminflt majflt cmajflt utime stime
    val tail = "S 1 42 42 0 -1 4194304 9000 0 12 0 700 300 0 0 20 0 33 0 99999 0 0"
    assert(Bench.parseSelfStat(s"1234 (java) $tail") === Some(1000L))
    // comm containing spaces AND a ')' must not shift the fields
    assert(Bench.parseSelfStat(s"1234 (tricky) proc) $tail") === Some(1000L))
    assert(Bench.parseSelfStat("no-parens-here") === None)
    assert(Bench.parseSelfStat("1234 (x) S 1") === None, "truncated")
    // live read on this Linux host: measured, non-negative, and the
    // delta helpers hold their floor contract
    assert(Bench.cpuSample().forall(s => s.busy >= 0 && s.self >= 0))
  }

  test("cpuDelta: foreign = hostBusy - self, floored at 0 on sampling skew") {
    val a = Bench.CpuSample(busy = 1000, steal = 10, self = 400)
    val b = Bench.CpuSample(busy = 1900, steal = 17, self = 700)
    // foreign = (1900-1000) - (700-400) = 600 — the co-tenant signature
    assert(Bench.cpuDelta(a, b) === ((7L, 600L)))
    // non-atomic reads can make own cputime lead host busy by a jiffy:
    // the floor keeps the stamp non-negative instead of nonsense
    val c = Bench.CpuSample(busy = 1001, steal = 10, self = 403)
    assert(Bench.cpuDelta(a, c) === ((0L, 0L)))
  }

  test("foreign/run-level/preflight stamps placement in the JSON") {
    val res = Seq(("a", 1.0, Right(1L): Either[String, Long]),
      ("b", 9.9, Right(2L): Either[String, Long]))
    val (line, full) = Bench.renderJson(res, "/tmp/sf",
      steal = Map("b" -> 7442L), foreign = Map("a" -> 55L, "b" -> 600L),
      runCpu = Some((7500L, 700L)), preflight = Some((12.3, 3L, 9L)))
    // per-row sparse maps + totals live in the full file only
    assert(full.contains(""""busy_foreign":{"a":55,"b":600},"foreign_total":655"""))
    assert(full.contains(""""steal_jiffies":{"b":7442},"steal_total":7442"""))
    // run-level pair is the affirmative measurement (covers between-row
    // gaps: steal_run 7500 > summed rows 7442) and rides on BOTH
    assert(full.contains(""""steal_run":7500,"foreign_run":700"""))
    assert(line.contains(""""steal_run":7500,"foreign_run":700"""))
    assert(!line.contains("busy_foreign") && !line.contains("steal_jiffies"),
      "per-row maps live in the full file only")
    // preflight self-documents the launch window
    assert(full.contains(""""preflight":{"sec":12.300,"steal":3,"busy_foreign":9}"""))
    // measured-ZERO run-level stamps still emit — zero is affirmative
    // (the r14 advisor: a zero row was indistinguishable from unmeasured)
    val (l3, f3) = Bench.renderJson(res, "/tmp/sf", runCpu = Some((0L, 0L)))
    assert(l3.contains(""""steal_run":0,"foreign_run":0"""))
    assert(f3.contains(""""steal_run":0,"foreign_run":0"""))
    // nothing measured at all: no stamp text anywhere
    val (l2, f2) = Bench.renderJson(res, "/tmp/sf")
    assert(!l2.contains("steal") && !f2.contains("steal") &&
      !l2.contains("foreign") && !f2.contains("foreign"))
  }

  test("armed preflight guard: aborts over-cap AND when it cannot measure; quiet passes") {
    // quiet launch window under the cap: run proceeds
    assert(Bench.guardAbortReason(2000L, Some((80.0, 100L, 200L))) === None)
    // exactly at the cap: proceeds (the guard fires strictly above)
    assert(Bench.guardAbortReason(2000L, Some((80.0, 1500L, 500L))) === None)
    // the cap compares steal PLUS foreign — a co-tenant storm with zero
    // steal must trip it (the r14 blind spot, closed in 6b22578)
    val storm = Bench.guardAbortReason(2000L, Some((80.0, 0L, 50000L)))
    assert(storm.exists(_.contains("steal 0 + foreign 50000 > cap 2000")))
    // armed but unmeasurable (preflight None): abort, never run unguarded
    // (r15 advisor finding — the operator armed it on purpose)
    val blind = Bench.guardAbortReason(2000L, None)
    assert(blind.exists(_.contains("unavailable")), s"got $blind")
  }

  test("compact line keeps steal_total ALONGSIDE the run-level pair (r15 advisor transition)") {
    // the r15 rewrite dropped steal_total from the compact line whenever
    // runCpu measured (always, on Linux) — a tail reader keyed on the
    // r14-era field silently lost the stamp; both now ride together
    val res = Seq(("a", 1.0, Right(1L): Either[String, Long]))
    val (line, _) = Bench.renderJson(res, "/tmp/sf",
      steal = Map("a" -> 42L), runCpu = Some((7L, 9L)))
    assert(line.contains(""""steal_run":7,"foreign_run":9"""))
    assert(line.contains(""""steal_total":42"""))
  }

  test("veto-thinned stamp: audit disabled BY storms is distinguishable from thin history") {
    val none = Set.empty[String]
    val quiet = (Map("n5" -> 20.0), none, Map.empty[String, Long])
    val stormed = (Map("n5" -> 109.0), none, Map("n5" -> 28667L))
    // five matching samples, two storm-vetoed -> three comparable
    // (< BurstMinSamples): the veto is what disabled the audit — stamped
    val runs = Seq.fill(3)(quiet) ++ Seq.fill(2)(stormed)
    assert(Bench.vetoThinned(Map("n5" -> 45.0), runs) === Seq("n5"))
    // thin by NEWNESS (three samples, zero vetoes): not stamped
    assert(Bench.vetoThinned(Map("n5" -> 45.0), Seq.fill(3)(quiet)) === Nil)
    // enough samples SURVIVE the veto: not stamped (audit runs normally)
    assert(Bench.vetoThinned(Map("n5" -> 45.0), Seq.fill(5)(quiet) :+ stormed) === Nil)
    // built-status-mismatched rows were never comparable — their vetoes
    // don't count as thinning
    val builtRows = Seq.fill(5)((Map("n5" -> 20.0), Set("n5"), Map("n5" -> 28667L)))
    assert(Bench.vetoThinned(Map("n5" -> 45.0), builtRows) === Nil)
    // placement: full file only
    val res = Seq(("a", 1.0, Right(1L): Either[String, Long]))
    val (line, full) = Bench.renderJson(res, "/tmp/sf", vetoThinned = Seq("n5", "p3"))
    assert(full.contains(""""veto_thinned":["n5","p3"]"""))
    assert(!line.contains("veto_thinned"), "compact line stays lean")
  }

  test("steal provenance rides in both renderings; absent when unmeasured") {
    val res = Seq(("a", 1.0, Right(1L): Either[String, Long]),
      ("b", 9.9, Right(2L): Either[String, Long]))
    val (line, full) = Bench.renderJson(res, "/tmp/sf",
      steal = Map("b" -> 7442L, "a" -> 12L))
    // per-row map (sorted) + run total in the full file
    assert(full.contains(""""steal_jiffies":{"a":12,"b":7442},"steal_total":7454"""))
    // compact line: total only — the one-glance adjudicator next to "burst"
    assert(line.contains(""""steal_total":7454"""))
    assert(!line.contains("steal_jiffies"), "per-row steal lives in the full file only")
    // no steal measured (off-Linux): both renderings omit the fields
    val (l2, f2) = Bench.renderJson(res, "/tmp/sf")
    assert(!l2.contains("steal") && !f2.contains("steal"))
  }

  test("CountedMemo counts builds, not lookups; an equal-size rebuild is detected") {
    val m = new BenchMemos.CountedMemo("LayoutOps")
    val key = ("app", "dir", "k")
    val s0 = BenchMemos.buildSnapshot()
    assert(m.get(key, None)(_ => "v1") === "v1")
    assert(m.get(key, None)(_ => "SHOULD NOT BUILD") === "v1")
    val s1 = BenchMemos.buildSnapshot()
    assert(s1("LayoutOps") === s0("LayoutOps") + 1,
      "two lookups of one key = exactly one build")
    assert(BenchMemos.builtSince(s0).contains("LayoutOps"))
    // the r13 advisor scenario: clear then rebuild the SAME key — the memo
    // SIZE is unchanged (the old size-delta inference saw nothing), the
    // build counter moves
    val sizeBefore = m.size
    m.clear()
    m.get(key, None)(_ => "v2")
    assert(m.size === sizeBefore)
    assert(BenchMemos.builtSince(s1).contains("LayoutOps"),
      "a same-size rebuild must still stamp the family")
  }
}
