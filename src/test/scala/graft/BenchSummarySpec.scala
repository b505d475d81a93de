package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench driver keeps only the last 2000 chars of stdout and
  * parses that tail as JSON. [[Bench.summaryLine]] exists solely to fit
  * that window — this spec pins the bound so a future field addition
  * can't silently push the line back over it, and checks the line is
  * actually JSON-shaped (balanced braces, quoted keys).
  */
class BenchSummarySpec extends AnyFunSuite {

  // Worst-case inventory: 150 queries (the suite is at 138 — headroom)
  // with names as long as the longest real ones
  // (c60_minhash_calibration = 23 chars; allow 28).
  private val medians: Seq[(String, Double)] =
    (1 to 150).map(i => (f"c$i%03d_worst_case_query_name_x", 123.456789))

  private val exec =
    ""","exec":{"files":10000,"failed":0,"bytes":10240000,"sec":14.148,"files_per_sec":706.8}""" +
    ""","exec_bytes":{"files":32,"failed":0,"bytes":2147483648,"sec":3.711,"mb_per_sec":551.8}"""

  test("summary line fits the driver's 2000-char tail with margin") {
    val line = Bench.summaryLine(medians, 12345.678, "/root/testdata/sf0.1",
      3, loadWarning = true, "12.34 12.34 12.34", "12.34 12.34 12.34",
      "12.34 12.34 12.34", 0.123, 0.123, 99999.9, exec, "bench_out.json")
    info(s"summary line length: ${line.length}")
    // ≤ 1900: the tail must hold the whole line plus a trailing newline
    // even if a stray short log line lands after it.
    assert(line.length <= 1900, s"summary line ${line.length} chars")
  }

  test("summary line is minimally JSON-shaped and keeps headline fields") {
    val line = Bench.summaryLine(medians, 1.5, "/x", 3, loadWarning = false,
      "0 0 0", "0 0 0", "0 0 0", 0.0, 0.0, 2.0, "", "out.json")
    assert(line.startsWith("""{"metric":"total","value":1.500,"unit":"sec""""))
    assert(line.count(_ == '{') == line.count(_ == '}'))
    assert(line.contains(""""queries_total":150"""))
    // the I/O-contention stamp rides the summary (ADVICE r12: D-state
    // neighbors raise loadavg but burn no busy jiffies, so graders need
    // iowait alongside external_cpu_frac)
    assert(line.contains(""""iowait_frac":0.000"""))
    assert(line.endsWith("}"))
  }

  test("a failed query invalidates the total instead of shrinking it") {
    assert(Bench.headlineTotal(Seq(1.0, 2.5)) == 3.5)
    assert(Bench.headlineTotal(Seq(1.0, -1.0, 2.5)) == -1.0)
    def line(ms: Seq[(String, Double)]) =
      Bench.summaryLine(ms, Bench.headlineTotal(ms.map(_._2)), "/x", 3,
        loadWarning = false, "0 0 0", "0 0 0", "0 0 0", 0.0, 0.0, 2.0, "", "out.json")
    val failed = line(Seq("a" -> 1.0, "b" -> -1.0))
    assert(failed.contains(""""value":-1.000"""), failed)
    assert(failed.contains(""""n_failed":1,"total_valid":false"""), failed)
    val clean = line(Seq("a" -> 1.0, "b" -> 2.0))
    assert(clean.contains(""""value":3.000"""), clean)
    assert(clean.contains(""""n_failed":0,"total_valid":true"""), clean)
  }

  test("summary line is locale-proof (comma-decimal default locale)") {
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY) // decimal comma
      val line = Bench.summaryLine(medians.take(3), 12.5, "/x", 3,
        loadWarning = false, "0 0 0", "0 0 0", "0 0 0", 0.0, 0.0, 99.9, "", "out.json")
      assert(line.contains(""""value":12.500"""),
        s"decimal point lost to the default locale: $line")
      assert(!line.contains("12,5"), s"comma decimal leaked into JSON: $line")
    } finally java.util.Locale.setDefault(prev)
  }

  test("summary line carries the at-launch loadavg stamp") {
    val line = Bench.summaryLine(medians.take(3), 12.5, "/x", 3,
      loadWarning = false, "3.52 2.1 1.7", "0.9 1.1 1.5", "6.37 4.2 2.8",
      0.042, 0.013, 99.9, "", "out.json")
    assert(line.contains(""""loadavg_at_launch":"3.52 2.1 1.7""""),
      s"at-launch stamp missing: $line")
  }

  test("a contended run self-reports: finalLoadWarning trips on the r11 shape") {
    // r11's shape: the wait loop's final check passed on a 1-min dip but
    // the stamped launch load was back above the limit — must flag even
    // with both launch arms false.
    assert(Bench.finalLoadWarning(warn1min = false, warn5min = false, 1.0,
      "3.52 2.79 2.20", 0.0), "launch-above-limit must flag")
    // contention RETURNING mid-run: >10% of the box's cycles went to
    // other processes during the query phase
    assert(Bench.finalLoadWarning(warn1min = false, warn5min = false, 1.0,
      "0.60 0.50 0.40", 0.31), "external CPU burn must flag")
    // a raised 1-MIN launch warning is never un-raised (real activity
    // at launch, not a ghost)
    assert(Bench.finalLoadWarning(warn1min = true, warn5min = false, 1.0,
      "0.10 0.10 0.10", 0.0))
    // a 5-MIN-only launch warning is a ghost PREDICTOR: a valid clean
    // external-CPU measurement supersedes it (this session's full-suite
    // run: 1-min 0.10, 5-min 3.60 stale from the previous leg, measured
    // external 0.000 — clean by every real signal)
    assert(!Bench.finalLoadWarning(warn1min = false, warn5min = true, 1.0,
      "0.10 3.60 5.78", 0.0), "clean measurement must clear the ghost")
    // ... but WITHOUT a measurement (-1 = /proc/stat or the platform
    // bean unavailable) the ghost keeps the conservative flag
    assert(Bench.finalLoadWarning(warn1min = false, warn5min = true, 1.0,
      "0.10 3.60 5.78", -1.0), "no measurement: ghost must still flag")
    // the bench's OWN load never flags: loadavg_end is always multiples
    // of the start (r8 0.21->6.13 ... r11 0.16->6.37, all self-load) and
    // is deliberately NOT an input; a clean run with a few percent of
    // neighbor CPU stays clean
    assert(!Bench.finalLoadWarning(warn1min = false, warn5min = false, 1.0,
      "0.80 0.60 0.50", 0.03))
    // unreadable /proc/loadavg parses as 0.0 and never flags spuriously
    assert(!Bench.finalLoadWarning(warn1min = false, warn5min = false, 1.0,
      "", 0.0))
  }

  test("externalCpuFrac isolates neighbor CPU from our own") {
    // 32-core box, 100 s window: 320,000 total jiffies; we burned
    // 200,000, the box was busy 210,000 -> neighbors took
    // 10,000/320,000 = 3.125%
    assert(math.abs(Bench.externalCpuFrac(
      1000, 10000, 500, 211000, 330000, 200500) - 0.03125) < 1e-9)
    // unavailable samples (non-Linux, no platform bean) -> -1.0, which
    // callers read as "no measurement" (keeps the conservative flag),
    // never as "measured clean"
    assert(Bench.externalCpuFrac(-1, -1, 100, 200, 300, 150) == -1.0)
    assert(Bench.externalCpuFrac(1, 2, -1, 200, 300, -1) == -1.0)
    // busy can tick below our own proc delta (USER_HZ rounding): clamp 0
    assert(Bench.externalCpuFrac(100, 200, 100, 150, 400, 160) == 0.0)
    // empty window -> no measurement
    assert(Bench.externalCpuFrac(100, 200, 100, 100, 200, 100) == -1.0)
  }

  test("failed queries (-1) are excluded from the slowest list") {
    val line = Bench.summaryLine(
      Seq(("q_ok", 0.5), ("q_bad", -1.0)), 0.5, "/x", 1,
      loadWarning = false, "0 0 0", "0 0 0", "0 0 0", 0.0, 0.0, 1.0, "", "out.json")
    assert(line.contains(""""q_ok":0.500"""))
    assert(!line.contains("q_bad"))
  }
}
