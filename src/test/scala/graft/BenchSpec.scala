package graft

/** The bench's host-load sentinel verdict — pure logic; the shared
  * session stays unstarted. */
class BenchSpec extends SparkTestBase {

  test("sentinel verdict: quiet / loaded / noisy / unknown boundaries") {
    val v = Bench.sentinelVerdict _
    // identical triples → quiet
    assert(v(Seq(1.0, 1.1, 1.2), Seq(1.0, 1.1, 1.2)) == "quiet")
    // ±15% host swing (the measured same-code spread) stays quiet
    assert(v(Seq(1.0, 1.0, 1.1), Seq(1.1, 1.15, 1.2)) == "quiet")
    // medians drift 2x with >0.3s swing → loaded (either direction)
    assert(v(Seq(1.0, 1.0, 1.1), Seq(1.9, 2.0, 2.1)) == "loaded")
    assert(v(Seq(1.9, 2.0, 2.1), Seq(1.0, 1.0, 1.1)) == "loaded")
    // sub-noise-floor drift on a fast query is NOT loaded
    assert(v(Seq(0.1, 0.1, 0.1), Seq(0.2, 0.25, 0.3)) == "quiet")
    // stable medians but one triple spreads >2x with >0.5s swing → noisy
    assert(v(Seq(1.0, 1.05, 3.5), Seq(1.0, 1.1, 1.2)) == "noisy")
    // crashed sentinel → unknown
    assert(v(Seq(-1.0, -1.0, -1.0), Seq(1.0, 1.0, 1.0)) == "unknown")
  }

  test("regression gate: names >2x-with-swing keys worst-first, " +
       "ignores small absolutes, crashes, and missing priors") {
    def g(r: Map[String, Seq[Double]],
          p: Option[(String, Map[String, Double])]) = Bench.regressionGate(r, p)
    def runs(m: Double) = Seq(m, m, m)
    // no prior round → n=0 (shape is unconditional — r15 ADVICE: the
    // old array-under-cap form changed JSON type on the worst rounds)
    assert(g(Map("a" -> runs(5.0)), None)
      == """{"n":0,"n_raw":0,"host_factor":1.000,"worst":[]}""")
    val prev = Some(("r13", Map(
      "slow" -> 1.0, "fine" -> 1.0, "tiny" -> 0.05, "dead" -> 1.0)))
    val res = Map(
      "slow" -> runs(2.5),   // 2.5x, +1.5s  → named
      "fine" -> runs(1.9),   // under 2x     → not named
      "tiny" -> runs(0.15),  // 3x but +0.1s → under the swing floor
      "dead" -> runs(-1.0),  // crashed      → failed[], not a regression
      "new"  -> runs(9.0))   // no prior     → not comparable
    assert(g(res, prev)
      == """{"n":1,"n_raw":1,"host_factor":1.000,"worst":[{"slow":2.50}]}""")
    // worst-first ordering when several trip
    val two = Map("a" -> runs(3.0), "b" -> runs(5.0))
    assert(g(two, Some(("r13", Map("a" -> 1.0, "b" -> 1.0))))
      == """{"n":2,"n_raw":2,"host_factor":1.000,"worst":[{"b":5.00},{"a":3.00}]}""")
    // compact cap bounds `worst` but `n` keeps the true count, and the
    // shape never changes with the count (r15 ADVICE item 3)
    assert(Bench.regressionGate(two,
        Some(("r13", Map("a" -> 1.0, "b" -> 1.0))), cap = 1)
      == """{"n":2,"n_raw":2,"host_factor":1.000,"worst":[{"b":5.00}]}""")
    assert(Bench.regressionGate(two,
        Some(("r13", Map("a" -> 1.0, "b" -> 1.0))), cap = 2)
      == """{"n":2,"n_raw":2,"host_factor":1.000,"worst":[{"b":5.00},{"a":3.00}]}""")
  }

  test("host-normalized gate: a throttled host's uniform inflation is " +
       "divided out, and a quiet leg vs an inflated baseline exposes " +
       "the regression deflation would have hidden") {
    def runs(m: Double) = Seq(m, m, m)
    val prev = Some(("r16", Map("a" -> 1.0, "b" -> 2.0, "c" -> 3.0)))
    // whole suite ×1.4 (throttled host, no code change): raw ratios all
    // 1.4 < 2.0 — but even at hostFactor 1.4 nothing is flagged, and
    // with normalization a genuinely-2.2×-adjusted key still trips
    val throttled = Map("a" -> runs(1.4), "b" -> runs(2.8), "c" -> runs(3.0 * 1.4 * 2.2))
    assert(Bench.regressionGate(throttled, prev, hostFactor = 1.4)
      == """{"n":1,"n_raw":1,"host_factor":1.400,"worst":[{"c":3.08}]}""")
    // quiet leg (×0.7) vs the throttled r16 baseline: a real 2.5×
    // plan regression reads raw 1.75 — BELOW the unnormalized bar —
    // but 1.75/0.7 = 2.5 trips the normalized gate
    val quiet = Map("a" -> runs(0.7), "b" -> runs(1.4), "c" -> runs(3.0 * 0.7 * 2.5))
    assert(Bench.regressionGate(quiet, prev)  // unnormalized: hidden
      == """{"n":0,"n_raw":0,"host_factor":1.000,"worst":[]}""")
    assert(Bench.regressionGate(quiet, prev, hostFactor = 0.7)
      == """{"n":1,"n_raw":0,"host_factor":0.700,"worst":[{"c":1.75}]}""")
    // non-positive host factor degrades to 1.0, never divides by zero
    assert(Bench.regressionGate(quiet, prev, hostFactor = 0.0)
      == """{"n":0,"n_raw":0,"host_factor":1.000,"worst":[]}""")
  }

  test("hostFactorOf: median per-key ratio; under 20 comparable keys " +
       "falls back to 1.0 (no normalization from a tiny overlap)") {
    val many = (1 to 25).map(i => s"k$i" -> 1.4) :+ ("changed" -> 5.0)
    assert(Bench.hostFactorOf(many) == 1.4)
    // a handful of keys (subset bench) can't estimate the host
    assert(Bench.hostFactorOf(Seq("a" -> 3.0, "b" -> 3.0)) == 1.0)
    // crashed (-1) and NaN ratios are ignored
    val noisy = (1 to 30).map(i => s"k$i" -> 0.9) ++
      Seq("x" -> -1.0, "y" -> Double.NaN)
    assert(Bench.hostFactorOf(noisy) == 0.9)
  }

  test("hostFactorOf clamps to [0.5, 2.0]: a suite-wide REAL slowdown " +
       "(shared-operator regression, protocol change) shifts the " +
       "median itself and must not be normalized away (r17 ADVICE)") {
    // every key ×3 — a broad real regression, not a plausible host:
    // unclamped normalization would read n=0; clamped at 2.0 the gate
    // still sees 3.0/2.0 = 1.5-adjusted ratios and n_raw names it all
    val broad = (1 to 25).map(i => s"k$i" -> 3.0)
    assert(Bench.hostFactorOf(broad) == 2.0)
    val fast = (1 to 25).map(i => s"k$i" -> 0.2)
    assert(Bench.hostFactorOf(fast) == 0.5)
    // inside the plausible host band the median passes through
    assert(Bench.hostFactorOf((1 to 25).map(i => s"k$i" -> 0.7)) == 0.7)
  }

  test("fmt is locale-fixed: JSON numerics keep the dot under a " +
       "comma-decimal default locale (r17 ADVICE)") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.FRANCE)
      assert(Bench.fmt(1.005, 3) == "1.005")
      // the gate's emitted object must stay parseable JSON end-to-end
      val g = Bench.regressionGate(Map("a" -> Seq(3.0, 3.0, 3.0)),
        Some(("r17", Map("a" -> 1.0))))
      assert(g == """{"n":1,"n_raw":1,"host_factor":1.000,"worst":[{"a":3.00}]}""")
    } finally java.util.Locale.setDefault(saved)
  }

  test("loadavg1 reads /proc/loadavg (pre-flight gate input)") {
    // on this host procfs exists: a finite non-negative read
    assert(Bench.loadavg1() >= 0.0)
  }

  test("hostRead: rich contention read separates self-load from " +
       "co-tenancy (r18 verdict item 4 — raw loadavg alone cannot, " +
       "once local[32] saturates the box)") {
    // first read: no tick baseline → steal -1; jvm/sys shares and the
    // other-runnable count present; JSON fields all emitted
    val (j1, t1, steal1, other1) = Bench.hostRead(None)
    assert(steal1 == -1.0)
    assert(other1 >= 0) // own pid excluded; /proc readable here
    for (f <- Seq("load1", "jvm_cpu", "sys_cpu", "steal_pct",
        "runnable_other"))
      assert(j1.contains(s""""$f":"""), s"missing $f in $j1")
    assert(t1.isDefined) // /proc/stat readable here
    // second read over a real window: steal becomes a finite pct
    Thread.sleep(300)
    var spin = 0L
    val until = System.nanoTime() + 100000000L
    while (System.nanoTime() < until) spin += 1 // burn ticks so Δtotal>0
    val (j2, _, steal2, _) = Bench.hostRead(t1)
    assert(steal2 >= 0.0 && steal2 <= 100.0, s"steal=$steal2 in $j2")
  }

  test("cpuTicks parses /proc/stat aggregate line; runnableOther " +
       "never counts this process") {
    val t = Bench.cpuTicks()
    assert(t.isDefined)
    val (total, steal) = t.get
    assert(total > 0 && steal >= 0 && steal <= total)
    assert(Bench.runnableOther() >= 0)
  }

  test("nonClobbering: an existing round-versioned artifact is never " +
       "overwritten — reruns land at _rerunK and stay OUT of the " +
       "qv_vs_prev baseline scan") {
    withTempDir { path =>
      val dir = new java.io.File(path)
      def touch(name: String): java.io.File = {
        val f = new java.io.File(dir, name)
        java.nio.file.Files.write(f.toPath, "{}".getBytes("UTF-8")); f
      }
      val target = new java.io.File(dir, "BENCH_FULL_r15.json").getPath
      // free path → used as-is
      assert(Bench.nonClobbering(target) == target)
      // taken → first rerun slot
      touch("BENCH_FULL_r15.json")
      assert(Bench.nonClobbering(target)
        == new java.io.File(dir, "BENCH_FULL_r15_rerun1.json").getPath)
      touch("BENCH_FULL_r15_rerun1.json")
      assert(Bench.nonClobbering(target)
        == new java.io.File(dir, "BENCH_FULL_r15_rerun2.json").getPath)
      // rerun artifacts must NOT be picked up as a round baseline: the
      // throttled r15 bench leg is exactly what qv_vs_prev must not
      // compare against
      touch("BENCH_FULL_r15_rerun2.json")
      val out = new java.io.File(dir, "BENCH_FULL.json").getPath
      java.nio.file.Files.write(new java.io.File(dir, "BENCH_FULL_r15.json").toPath,
        """{"metric":"total","value":2.0,"unit":"sec","queries":{"q1_agg":1.5},"sf":"x"}"""
          .getBytes("UTF-8"))
      assert(Bench.previousRoundMedians(out)
        .contains(("r15", Map("q1_agg" -> 1.5))))
    }
  }

  test("previousRoundMedians reads the highest committed round's queries table") {
    withTempDir { path =>
      val dir = new java.io.File(path)
      def write(name: String, body: String): Unit =
        java.nio.file.Files.write(new java.io.File(dir, name).toPath,
          body.getBytes("UTF-8"))
      val out = new java.io.File(dir, "BENCH_FULL.json").getPath
      // no prior artifact → None (round 1)
      assert(Bench.previousRoundMedians(out).isEmpty)
      write("BENCH_FULL_r05.json",
        """{"metric":"total","value":2.0,"unit":"sec","queries":{"q1_agg":1.5,"zz":0.25},"sf":"x"}""")
      write("BENCH_FULL_r04.json",
        """{"metric":"total","value":9.0,"unit":"sec","queries":{"q1_agg":9.0},"sf":"x"}""")
      val got = Bench.previousRoundMedians(out)
      assert(got.contains(("r05", Map("q1_agg" -> 1.5, "zz" -> 0.25))))
      // a qv_vs_prev block BEFORE the queries table must not confuse the
      // parse (the shape this round's own artifact will have next round)
      write("BENCH_FULL_r06.json",
        """{"metric":"total","value":2.0,"unit":"sec","qv_vs_prev":{"vs":"r05","ratios":{"q1_agg":1.333}},"queries":{"q1_agg":2.0},"sf":"x"}""")
      assert(Bench.previousRoundMedians(out)
        .contains(("r06", Map("q1_agg" -> 2.0))))
      // the r16 sentinel_timeline block (key:value pairs BEFORE the
      // queries table) must not confuse the flat parse either
      write("BENCH_FULL_r07.json",
        """{"metric":"total","value":2.0,"unit":"sec","sentinel_timeline":{"ab_lift":0.151,"dedup_exact":0.162},"queries":{"q1_agg":3.0},"sf":"x"}""")
      assert(Bench.previousRoundMedians(out)
        .contains(("r07", Map("q1_agg" -> 3.0))))
    }
  }
}
