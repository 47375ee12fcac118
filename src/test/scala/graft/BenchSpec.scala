package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's cross-round regression diffing (r3 verdict #2; r5
  * verdict #1): the prior-round BENCH json must parse into per-query
  * seconds even though the driver wraps the stdout line in an escaped,
  * BOUNDED "tail" string — including when the bound cuts the line's head
  * (BENCH_r05.json lost everything up to mid-queries).
  */
class BenchSpec extends AnyFunSuite {

  test("priorTimes resolves a bench record in cwd with a full-width baseline") {
    assume(new java.io.File("BENCH_r03.json").exists())
    val Some((file, times)) = Bench.priorTimes()
    assert(file.matches("BENCH_SELF(_r\\d+)?\\.json|BENCH_r\\d+\\.json"))
    // r12 verdict #1: a driver tail parses to as few as 34 cold timings
    // once graph_served eats the bounded capture; the committed full
    // record must win so the regression baseline stays all-queries wide
    assert(times.size > 50, s"expected 50+ query timings, got ${times.size}")
    assert(times.contains("w6_range_rolling") && times("w6_range_rolling") > 0)
    assert(times.contains("a1_groupby_sum_top5") && times("a1_groupby_sum_top5") > 0)
  }

  test("priorTimes prefers the committed full record over a truncated driver tail (r12 verdict #1)") {
    assume(sys.env.get("SPARK_GRAFT_PREV_BENCH").isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("benchspec_full").toFile
    def write(name: String, body: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        body.getBytes("UTF-8"))
    // newest driver tail: head-truncated, only one surviving cold pair
    write("BENCH_r12.json",
      """{"n":12,"rc":0,"tail":"93,\"q2\":1.0},\"graph_persist_sec\":3.2,\"errors\":[]}\n","parsed":null}""")
    // full record from the same round's own run: complete queries map
    write("BENCH_SELF.json",
      """{"metric":"total","value":3.0,"unit":"sec","queries":{"q1":0.5,"q2":1.25,"q3":1.25},"errors":[],"sf":"/root/testdata/sf0.1"}""")
    assert(Bench.priorTimes(dir) ==
      Some(("BENCH_SELF.json", Map("q1" -> 0.5, "q2" -> 1.25, "q3" -> 1.25))))
  }

  test("priorTimes skips a full record from a different sf when expectSf is set") {
    assume(sys.env.get("SPARK_GRAFT_PREV_BENCH").isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("benchspec_sf").toFile
    def write(name: String, body: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        body.getBytes("UTF-8"))
    // an iteration run at sf0.01 left behind — must NOT become the
    // sf0.1 baseline (every query would read as a 10x regression)
    write("BENCH_SELF.json",
      """{"metric":"total","value":0.3,"unit":"sec","queries":{"q1":0.05},"errors":[],"sf":"/root/testdata/sf0.01"}""")
    write("BENCH_SELF_r11.json",
      """{"metric":"total","value":3.0,"unit":"sec","queries":{"q1":0.5},"errors":[],"sf":"/root/testdata/sf0.1"}""")
    assert(Bench.priorTimes(dir, expectSf = Some("/root/testdata/sf0.1")) ==
      Some(("BENCH_SELF_r11.json", Map("q1" -> 0.5))))
    // without the filter the newest full record wins as before
    assert(Bench.priorTimes(dir) ==
      Some(("BENCH_SELF.json", Map("q1" -> 0.05))))
  }

  test("priorTimes: the current round's own stamp never becomes its baseline (ADVICE r13 #2 ratchet)") {
    assume(sys.env.get("SPARK_GRAFT_PREV_BENCH").isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("benchspec_ratchet").toFile
    def write(name: String, body: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        body.getBytes("UTF-8"))
    // round 13 closed (driver tail exists); round 14 is IN PROGRESS —
    // its stamped record and the mutable BENCH_SELF.json are this
    // round's own earlier runs, and preferring either bakes an early
    // regression into the baseline. The committed r13 record must win.
    write("BENCH_r13.json", """{"tail": "..."}""")
    write("BENCH_SELF_r13.json",
      """{"metric":"total","queries":{"q1":0.5},"errors":[],"sf":"/s"}""")
    write("BENCH_SELF_r14.json",
      """{"metric":"total","queries":{"q1":0.9},"errors":[],"sf":"/s"}""")
    write("BENCH_SELF.json",
      """{"metric":"total","queries":{"q1":0.9},"errors":[],"sf":"/s"}""")
    assert(Bench.priorTimes(dir) ==
      Some(("BENCH_SELF_r13.json", Map("q1" -> 0.5))))
  }

  test("priorTimes survives the head-truncated BENCH_r05.json (r5 verdict #1)") {
    assume(new java.io.File("BENCH_r05.json").exists())
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_r05.json")), "UTF-8")
    assume(!txt.replace("\\\"", "\"").contains("\"queries\""),
      "r05 regained its queries key; truncated-path exercised by fixture test below")
    val times = Bench.parseTimes(txt)
    assert(times.size > 50, s"r05 flat pairs should parse, got ${times.size}")
    assert(!times.contains("cpus") && !times.contains("value"),
      "wrapper keys must not masquerade as query timings")
    assert(times.contains("j2_semi_join") && times("j2_semi_join") > 0)
  }

  test("parseTimes: intact wrapped line takes the queries object") {
    val wrapped = """{"n":5,"rc":0,"tail":"[info] {\"metric\":\"total\",\"value\":45.4,\"unit\":\"sec\",\"queries\":{\"q1\":0.5,\"q2\":1.25},\"errors\":[],\"regressions\":{\"q2\":2.10,\"prior\":\"BENCH_r04.json\"},\"sf\":\"/x\"}\n","parsed":null}"""
    val times = Bench.parseTimes(wrapped)
    assert(times == Map("q1" -> 0.5, "q2" -> 1.25),
      s"regression ratios / wrapper keys leaked in: $times")
  }

  test("parseTimes: head-truncated tail falls back to flat pairs before errors") {
    // models BENCH_r05.json: bound cut the line before the "queries" key,
    // first pair lost its name, regressions (same key names, ratio values)
    // sit after "errors" and must NOT override the real timings
    val truncated = """{"n":5,"rc":0,"cpus":32,"sf":0.1,"tail":"614601,\"q1\":0.5,\"q2\":1.25},\"errors\":[],\"regressions\":{\"q2\":2.10,\"prior\":\"BENCH_r04.json\"},\"sf\":\"/x\"}\n","parsed":null}"""
    val times = Bench.parseTimes(truncated)
    assert(times == Map("q1" -> 0.5, "q2" -> 1.25),
      s"expected the surviving flat pairs only, got $times")
  }

  test("parseTimes: the served-graph column never overrides the cold timings") {
    // intact: the queries object wins; graph_served (same key names,
    // faster served values) sits after it and must not leak
    val intact = """{"n":12,"rc":0,"tail":"{\"metric\":\"total\",\"value\":9.0,\"unit\":\"sec\",\"queries\":{\"g1_pagerank\":5.0,\"g4_cheapest_path\":4.0},\"graph_persist_sec\":3.2,\"graph_served\":{\"g1_pagerank\":1.0,\"g4_cheapest_path\":0.8},\"errors\":[],\"regressions\":{},\"sf\":\"/x\"}\n","parsed":null}"""
    assert(Bench.parseTimes(intact) ==
      Map("g1_pagerank" -> 5.0, "g4_cheapest_path" -> 4.0))
    // head-truncated before the "queries" key: the flat-pair fallback
    // must stop at graph_persist_sec, not swallow the served pairs
    val truncated = """{"n":12,"rc":0,"cpus":32,"sf":0.1,"tail":"3,\"g1_pagerank\":5.0,\"g4_cheapest_path\":4.0},\"graph_persist_sec\":3.2,\"graph_served\":{\"g1_pagerank\":1.0},\"errors\":[],\"sf\":\"/x\"}\n","parsed":null}"""
    assert(Bench.parseTimes(truncated) ==
      Map("g1_pagerank" -> 5.0, "g4_cheapest_path" -> 4.0))
  }

  test("priorTimes falls through an unparseable newest candidate to an older one") {
    assume(sys.env.get("SPARK_GRAFT_PREV_BENCH").isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("benchspec").toFile
    def write(name: String, body: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        body.getBytes("UTF-8"))
    write("BENCH_r09.json", """{"n":9,"rc":1,"tail":"","parsed":null}""")
    write("BENCH_r08.json",
      """{"n":8,"tail":"{\"metric\":\"total\",\"value\":1.0,\"unit\":\"sec\",\"queries\":{\"q1\":0.5},\"errors\":[]}","parsed":null}""")
    assert(Bench.priorTimes(dir) == Some(("BENCH_r08.json", Map("q1" -> 0.5))))
  }

  test("SPARK_GRAFT_PREV_BENCH pointing at a missing file degrades to None, not a crash") {
    assert(Bench.priorTimes() != null) // no throw in any environment
  }

  test("loadFlagged: pre-warmup external load or in-run excess over own workers flags the run") {
    // clean: idle start, in-run samples bounded by own 32 workers
    assert(!Bench.loadFlagged(Seq(0.5, 30.0, 31.5, 28.0), 32))
    // a busy machine BEFORE the bench ran anything is external
    assert(Bench.loadFlagged(Seq(12.0, 30.0), 32))
    // mid-run load exceeding own worker count by > 4 is a co-tenant wave
    assert(Bench.loadFlagged(Seq(0.5, 30.0, 45.0), 32))
    // no samples (non-Linux): never flags
    assert(!Bench.loadFlagged(Seq.empty, 32))
  }

  test("loadFlagged: the r17 tail wave flags through the windowed criterion; the same run without it stays clean (r17 verdict #5)") {
    // BENCH_SELF_r17's exact sample series: own load 0.9-5.1 all run,
    // then the tail wave 11.12/9.72 that produced three spurious 2x
    // flags — above the pre-warmup bar, under the old cpus+4 in-run
    // bar, invisible to the mean (3.25)
    val r17 = Seq(2.52, 0.92, 4.34, 2.98, 3.38, 5.11, 2.69, 2.22, 2.55,
      2.39, 2.39, 2.0, 2.31, 3.68, 2.46, 1.87, 2.92, 1.28, 1.98, 1.98,
      1.98, 11.12, 9.72)
    assert(Bench.loadFlagged(r17, 32),
      "the r17 tail wave must flag the run")
    assert(!Bench.loadFlagged(r17.dropRight(2), 32),
      "the same run minus the wave must stay clean")
    // ONE isolated spike is a boundary artifact, not a wave
    assert(!Bench.loadFlagged(r17.dropRight(1), 32),
      "a single above-bar sample must not flag")
    // a legitimately saturated bench (load ~ cpus throughout) is its
    // own level — the 3x-median leg keeps it unflagged
    assert(!Bench.loadFlagged(Seq(0.5, 30.0, 31.5, 28.0, 29.0), 32))
  }

  test("loadFlagged: an uncorroborated tail wave is the bench's own gear change (r18)") {
    // the r18 final-record profile: quiet timed passes (median ~3.7)
    // lower the 3x-median bar under the served epoch's own burst
    // (13.1/12.0 tail) while the CPU witness reads max_ext = 0.1 s —
    // with no external CPU to corroborate, the wave leg must not flag
    val r18 = Seq(2.6, 5.14, 4.34, 3.83, 4.25, 3.6, 3.36, 2.92, 3.49,
      3.88, 3.24, 3.05, 2.81, 3.72, 3.72, 13.1, 11.99, 10.19)
    assert(Bench.loadFlagged(r18, 32),
      "a corroborated wave (external CPU seen) must still flag")
    assert(!Bench.loadFlagged(r18, 32, waveCorroborated = false),
      "an uncorroborated wave is own load and must not flag")
    // the stand-alone legs keep their bite without corroboration:
    // pre-warmup external load...
    assert(Bench.loadFlagged(Seq(12.0, 3.0, 3.0), 32,
      waveCorroborated = false))
    // ...and in-run load beyond the bench's own worker count
    assert(Bench.loadFlagged(Seq(0.5, 3.0, 45.0), 32,
      waveCorroborated = false))
  }

  test("tripwire re-samples adjudicate the r17 l4/s3/t22 profile: cleared flags annotate, persisting flags fire (r17 verdict #2)") {
    // the r17 driver record's profile: 2-pass minima read 2.08x/2.61x/
    // 2.60x on code untouched since r16, because a tail load wave owned
    // both samples and the re-samples never ran
    val prior = Some(("BENCH_r16.json",
      Map("l4" -> 0.5, "s3" -> 0.73, "t22" -> 0.5, "ok" -> 1.0)))
    val atPass = Map("l4" -> 1.04, "s3" -> 1.91, "t22" -> 1.30, "ok" -> 1.1)
    assert(Bench.trippedNames(atPass, prior) == Seq("l4", "s3", "t22"))
    val flaggedAt = Seq("l4", "s3", "t22").map(n => n -> atPass(n)).toMap
    // idle re-samples fall back to ~prior for l4/t22; s3 stays slow
    // (a REAL regression must keep firing)
    val after = atPass ++ Map("l4" -> 0.49, "t22" -> 0.53)
    assert(Bench.trippedNames(after, prior) == Seq("s3"))
    val (reg, _) = Bench.regressionFields(after, prior, flagged = false)
    assert(reg.contains("\"s3\":2.62") && !reg.contains("l4") &&
      !reg.contains("t22"), reg)
    val cleared = Bench.clearedJson(flaggedAt, after, prior)
    assert(cleared.contains("\"l4\":{\"flagged\":1.040,\"resampled\":0.490}"),
      cleared)
    assert(cleared.contains("\"t22\":{\"flagged\":1.300,\"resampled\":0.530}"),
      cleared)
    assert(!cleared.contains("s3"),
      s"a persisting regression must not read as cleared: $cleared")
    // fully-cleared round: regressions empty, every flag annotated
    val allClear = atPass ++ Map("l4" -> 0.49, "s3" -> 0.70, "t22" -> 0.53)
    assert(Bench.trippedNames(allClear, prior).isEmpty)
    // regressionFields keeps the prior pointer even when empty
    assert(Bench.regressionFields(allClear, prior, flagged = false)._1
      == "{\"prior\":\"BENCH_r16.json\"}")
    assert(Bench.clearedJson(flaggedAt, allClear, prior).contains("s3"))
  }

  test("regressionFields: regressions fire idle, annotate under load; floors unchanged") {
    val prior = Some(("BENCH_r15.json", Map("slow" -> 1.0, "micro" -> 0.1)))
    // slow: 2x AND >0.3s absolute — a real regression candidate;
    // micro: 2.5x but only +0.15s — under the absolute floor
    val results = Map("slow" -> 2.5, "micro" -> 0.25)
    val (idleReg, idleAnn) = Bench.regressionFields(results, prior, flagged = false)
    assert(idleReg.contains("\"slow\":2.50") && !idleReg.contains("micro"))
    assert(idleAnn == "{}")
    // same readings under flagged load: ANNOTATED, not fired — the
    // driver-read "regressions" field stays empty
    val (loadReg, loadAnn) = Bench.regressionFields(results, prior, flagged = true)
    assert(loadReg == "{}")
    assert(loadAnn.contains("\"slow\":2.50") && loadAnn.contains("BENCH_r15.json"))
    // no prior record: both empty either way
    assert(Bench.regressionFields(results, None, flagged = true) == (("{}", "{}")))
  }

  test("regressionFields: retired queries never trip the cross-round tripwire") {
    // retired queries are timed ONCE (pass 1 only) — a single sample vs
    // a min-of-3 prior is noise, not evidence (r16 stretch #10)
    val retired = Bench.Retired.head
    val prior = Some(("BENCH_r16.json", Map(retired -> 1.0, "live" -> 1.0)))
    val results = Map(retired -> 2.6, "live" -> 2.6)
    val (reg, _) = Bench.regressionFields(results, prior, flagged = false)
    assert(reg.contains("\"live\":2.60"), reg)
    assert(!reg.contains(retired), s"retired query fired the tripwire: $reg")
  }

  test("budget ladder replays r16's kill profile to a completed, degraded run (r16 verdict #1)") {
    // r16's driver box: warmup ~130s, passes ~280-310s each, served
    // epoch ~250-300s. Under the old fixed protocol (3 passes + 2
    // epochs) the run needed ~1900s and was killed mid epoch-persist.
    // Replay through the ladder at a 1500 s budget (the box size the
    // r16 evidence brackets from below): it must keep 3 passes +
    // exactly ONE served epoch and skip the second — a complete
    // record instead of rc=124.
    val l = Bench.Ladder(1500.0)
    var t = 130.0 // warmup done
    val pass = 300.0
    t += pass // pass 1 always runs
    assert(l.runPass2(t, pass), "pass 2 must fit r16's profile")
    t += pass
    // pass 3 reserves one epoch (served column outranks the 3rd sample)
    assert(l.runPass3(t, pass, pass), "pass 3 + one epoch must fit")
    t += pass
    val epoch = 280.0
    assert(l.runEpoch(t, pass), "epoch 1 must fit after 3 passes")
    t += epoch
    assert(!l.runEpoch(t, epoch), "epoch 2 must be skipped — the r16 kill")
    // a tighter box sacrifices in order: pass 3 first, then the served
    // column, never past the budget
    val tight = Bench.Ladder(1100.0)
    var t2 = 130.0 + 300.0
    assert(tight.runPass2(t2, pass), "pass 2 fits an 1100s box")
    t2 += pass
    assert(!tight.runPass3(t2, pass, pass), "pass 3 must be sacrificed first")
    assert(!tight.runEpoch(t2, pass), "served column skipped last")
    // and a genuinely tiny box degrades to a single flushed pass
    val tiny = Bench.Ladder(700.0)
    assert(!tiny.runPass2(130.0 + pass, pass),
      "a 700s box holds one pass + the flush, nothing more")
  }

  test("epoch estimate derives from the served subset, not the whole-pass wall (r17 idle-run lesson)") {
    // the r17 idle run: pass 1 wall 507s (JIT-inflated, 177 queries)
    // used as the epoch reserve skipped pass 3 AND both served epochs
    // with 470s of budget unused. The estimate must track the served
    // family's own times: 2.5 x served-sum + 30.
    val pass = Map("g1_pagerank" -> 40.0, "t44_bpe_span_cut" -> 20.0,
      "a1_groupby_sum_top5" -> 300.0, "failed_q" -> -1.0)
    val est = Bench.epochEstimate(pass,
      served = Set("g1_pagerank", "t44_bpe_span_cut", "failed_q"))
    assert(est == 2.5 * 60.0 + 30.0, s"got $est")
    // replay the r17 idle profile: warmup 214 + pass1 507 + pass2 227
    // + extras 80; served-sum ~75 => estimate ~218 — pass 3 and epoch 1
    // must now FIT where the old whole-pass estimate (507) refused both
    val l = Bench.Ladder(Bench.DefaultBudgetSec)
    val estReal = 2.5 * 75.0 + 30.0
    assert(l.runPass3(948.0, 227.0, estReal),
      "pass 3 must fit the r17 idle profile under the served-sum estimate")
    assert(l.runEpoch(948.0 + 250.0 + 80.0, estReal),
      "epoch 1 must fit after 3 passes + extras")
    assert(!l.runPass3(948.0, 227.0, 507.0),
      "sanity: the old whole-pass estimate indeed refused pass 3")
  }

  test("cpu witness: same-envelope contention flags where loadavg is blind (r16 verdict #3)") {
    // r16's measured blind spot: a same-code re-run read 1.384x under a
    // loadavg profile nearly identical to the clean run's — co-tenants
    // competing INSIDE the 32-worker envelope never raise loadavg above
    // it. Replay both profiles through the CPU witness. USER_HZ=100,
    // 32 cpus => machine-total delta = wall * 3200 ticks.
    def snaps(profile: Seq[(Double, Double, Double)]): Seq[Bench.CpuSnap] = {
      // profile: (wallSec, ownCores, externalCores) per interval
      var wall = 0L; var own = 0L; var busy = 0L; var tot = 0L
      Bench.CpuSnap(0, 0, 0, 0) +: profile.map { case (w, o, e) =>
        wall += (w * 1e9).toLong
        own += (o * w * 100).toLong
        busy += ((o + e) * w * 100).toLong
        tot += (w * 32 * 100).toLong
        Bench.CpuSnap(wall, own, busy, tot)
      }
    }
    // clean morning run: bench owns ~20 cores, external ~1
    val clean = snaps(Seq((70.0, 20.0, 1.0), (70.0, 22.0, 0.5), (70.0, 21.0, 1.5)))
    assert(!Bench.cpuFlagged(clean, 32), "clean profile must not flag")
    // the 1.384x re-run: wall stretched, own concurrency squeezed to
    // ~14 cores while SOMEONE ELSE burned ~15 — loadavg identical
    // (own+ext ~ 29 both times), the witness must flag it
    val contended = snaps(Seq((97.0, 14.0, 15.0), (97.0, 15.0, 14.0), (97.0, 14.5, 15.5)))
    assert(Bench.cpuFlagged(contended, 32),
      "same-envelope contention must flag through CPU accounting")
    // the intervals themselves carry the adjudication data
    val iv = Bench.cpuIntervals(contended, 32)
    assert(iv.size == 3 && iv.forall { case (w, own, ext, _, _) =>
      w > 90 && own < 16 && ext > Bench.ExternalCoresFlag }, iv.toString)
    // degenerate: no samples / one sample / frozen counters never flag
    assert(!Bench.cpuFlagged(Seq.empty, 32))
    assert(!Bench.cpuFlagged(clean.take(1), 32))
    assert(!Bench.cpuFlagged(Seq(Bench.CpuSnap(0, 0, 0, 0),
      Bench.CpuSnap(1000000000L, 0, 0, 0)), 32))
  }

  test("cpu witness: an I/O-stalled run flags through iowait (the r17 disaster mode)") {
    // the third r17 idle run: one 25-query stretch at 623s wall, own
    // ~3 cores, external ~0.4 — BOTH cpu-based witnesses silent while
    // a storage-throttling stall produced 56 bogus 2-68x regressions.
    // Threads blocked on disk land in machine iowait; replay the
    // profile with the stall's idle time accounted there and the flag
    // must fire.
    def snaps(profile: Seq[(Double, Double, Double, Double)]): Seq[Bench.CpuSnap] = {
      var wall = 0L; var own = 0L; var busy = 0L; var tot = 0L; var iow = 0L
      Bench.CpuSnap(0, 0, 0, 0, 0) +: profile.map { case (w, o, e, i) =>
        wall += (w * 1e9).toLong
        own += (o * w * 100).toLong
        busy += ((o + e) * w * 100).toLong
        iow += (i * w * 100).toLong
        tot += (w * 32 * 100).toLong
        Bench.CpuSnap(wall, own, busy, tot, iow)
      }
    }
    val stalled = snaps(Seq((40.0, 3.5, 0.2, 0.5), (623.5, 3.0, 0.4, 9.0),
      (96.7, 2.5, 1.3, 4.0)))
    assert(Bench.cpuFlagged(stalled, 32),
      "an I/O stall must flag the run via iowait")
    val iv = Bench.cpuIntervals(stalled, 32)
    assert(iv.exists { case (w, _, _, iow, _) =>
      w > 600 && iow > Bench.IowaitCoresFlag }, iv.toString)
    // ordinary background I/O (sub-threshold iowait) stays unflagged
    val normal = snaps(Seq((70.0, 20.0, 1.0, 0.8), (70.0, 22.0, 0.5, 1.2)))
    assert(!Bench.cpuFlagged(normal, 32))
  }

  test("cpu witness: a host-side pause flags through unaccounted wall (the 4th r17 stall mode)") {
    // run 4's 1110s interval: own 2.0 / ext 0.1 / iowait 0.0 — the
    // guest clock ran while jiffy counters barely moved (host pause /
    // unaccounted steal). Build snaps where only ~100s of machine time
    // is accounted across 1110s of wall.
    val paused = Seq(
      Bench.CpuSnap(0, 0, 0, 0, 0),
      // healthy 40s: full accounting (40 x 32 x 100 total ticks)
      Bench.CpuSnap(40L * 1000000000L, 40 * 350, 40 * 380, 40 * 3200, 0),
      // 1110s wall, but only ~100s of machine time accounted
      Bench.CpuSnap(1150L * 1000000000L, 40 * 350 + 100 * 200,
        40 * 380 + 100 * 210, 40 * 3200 + 100 * 3200, 0))
    assert(Bench.cpuFlagged(paused, 32),
      "a host pause must flag via wall >> accounted machine-seconds")
    val iv = Bench.cpuIntervals(paused, 32)
    assert(iv.exists { case (w, _, _, _, acct) =>
      w > 1000 && acct < w / Bench.UnaccountedWallRatio }, iv.toString)
    // a healthy interval accounts ~= wall and stays unflagged
    val healthy = Seq(Bench.CpuSnap(0, 0, 0, 0, 0),
      Bench.CpuSnap(70L * 1000000000L, 70 * 300, 70 * 320, 70 * 3200, 30))
    assert(!Bench.cpuFlagged(healthy, 32))
  }

  test("cpu witness: readCpuSnap reads monotone counters on Linux") {
    val a = Bench.readCpuSnap()
    assume(a.isDefined, "not Linux — witness degrades to None")
    // burn a little CPU so own ticks move
    var x = 0L; var i = 0; while (i < 50000000) { x += i; i += 1 }
    val b = Bench.readCpuSnap().get
    assert(x != 42) // keep the loop alive
    assert(b.wallNs > a.get.wallNs)
    assert(b.ownTicks >= a.get.ownTicks)
    assert(b.totalTicks > a.get.totalTicks)
    assert(b.busyTicks >= a.get.busyTicks)
  }

  test("early-flush record shape: the main-phase line (no served column yet) parses like r16's committed record") {
    // the crash-durability contract: a kill during served work leaves
    // the main-phase file — parseTimes must read its full queries map
    // and never confuse the new budget/cpu/retired fields for timings
    val mainPhase = """{"metric":"total","value":3.0,"unit":"sec","passes":3,"queries":{"q1":0.5,"q2":1.25,"q3":1.25},"graph_persist_sec":-1.0,"graph_served":{},"graph_served_samples":{},"errors":[],"retired":["d9_substring_dedup"],"regressions":{},"regressions_under_load":{},"load":{"samples":[0.5],"min":0.50,"max":0.50,"mean":0.50,"cpus":32,"flagged":false},"cpu":{"iv":[[70.0,20.0,1.0]],"flagged":false},"budget":{"sec":1500,"elapsed":900.0,"passes_run":3,"epochs_run":0},"sf":"/root/testdata/sf0.1"}"""
    assert(Bench.parseTimes(mainPhase) ==
      Map("q1" -> 0.5, "q2" -> 1.25, "q3" -> 1.25))
  }

  test("codegen_compiles: per-query compile counts per pass; a repeat compiles nothing; parseTimes ignores it") {
    val json = Bench.codegenJson(Seq(Map("q1" -> 11L, "q2" -> 3L),
      Map("q1" -> 11L, "q2" -> 0L)))
    assert(json == """{"q1":[11,11],"q2":[3,0]}""")
    val line = s"""{"metric":"total","value":1.75,"unit":"sec","passes":2,"queries":{"q1":0.5,"q2":1.25},"graph_persist_sec":-1.0,"graph_served":{},"graph_served_samples":{},"errors":[],"codegen_compiles":$json,"retired":[],"sf":"testdata/sf0.1"}"""
    assert(Bench.parseTimes(line) == Map("q1" -> 0.5, "q2" -> 1.25))
    // the counter the field reads: a new plan compiles, its repeat hits
    val spark = TestSpark.spark
    val q = spark.range(4).selectExpr(s"id + ${System.nanoTime()}L AS x")
    val c0 = Bench.compileCount()
    q.collect()
    val c1 = Bench.compileCount()
    q.collect()
    assert(c1 > c0, "a never-seen plan must compile")
    assert(Bench.compileCount() == c1, "its repeat must hit the cache")
  }
}
