package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Pins the Bench driver-line truncation ladder (BenchFormat). The r9
  * whole-second fallback tier fired in production UNTESTED and silently
  * cost per-query precision; this suite forces every ladder tier and
  * asserts the two invariants the driver contract needs: the line always
  * fits the parse window, and whatever per-query values survive are
  * centisecond-precision.
  */
class BenchFormatSuite extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def mkResults(n: Int, nameLen: Int = 18): Seq[(String, (Double, Double))] =
    (1 to n).map { i =>
      val name = s"q_${"x" * (nameLen - 6)}%04d".format(i).take(nameLen)
      // deterministic spread: a slow head and a sub-0.05s fast tail
      val warm = if (i <= 10) 5.0 - i * 0.25 else 0.04 - (i % 7) * 0.002
      val cold = warm * 2.5
      name -> (cold, warm)
    }

  test("full map fits at centisecond precision when under budget") {
    val line = BenchFormat.line(mkResults(20), "/sf", budget = 1950)
    assert(line.length <= 1950)
    val node = mapper.readTree(line) // throws on invalid JSON
    assert(node.get("queries").size() == 20)
    assert(!node.has("rest"))
    // centisecond precision: the 4.75s query prints as 4.75, not 5
    assert(line.contains(":4.75"))
    assert(node.get("metric").asText() == "total_warm")
    assert(node.get("value").asDouble() > 0)
    assert(node.get("total").asDouble() > node.get("value").asDouble())
  }

  test("forced >1950-char case truncates to slowest K, stays valid JSON, never loses precision") {
    // 120 queries x ~26 chars/entry ≈ 3.1 KB at full width — must truncate
    val results = mkResults(120)
    val line = BenchFormat.line(results, "/sf", budget = 1950)
    assert(line.length <= 1950, s"line overflowed: ${line.length}")
    val node = mapper.readTree(line)
    val qs = node.get("queries")
    assert(qs.size() > 0 && qs.size() < 120)
    // the slowest queries must all be present (top of the bySlow order)
    val slowNames = results.sortBy(-_._2._2).take(10).map(_._1)
    slowNames.foreach(n => assert(qs.has(n), s"slow query $n truncated away"))
    // shown values keep centisecond precision — the r9 dec=0 regression
    assert(line.contains(":4.75"))
    // the fast tail is summarized, and counts reconcile
    val rest = node.get("rest")
    assert(rest != null && rest.get("n").asInt() == 120 - qs.size())
    // total_warm ≈ shown sum + rest sum (rounding slack: 0.005 per entry)
    var shownSum = 0.0
    val it = qs.fieldNames()
    while (it.hasNext) { val v = qs.get(it.next()).asDouble(); if (v >= 0) shownSum += v }
    val recon = shownSum + rest.get("sum").asDouble()
    assert(math.abs(recon - node.get("value").asDouble()) < 0.005 * 120)
  }

  test("failed queries (-1) are always shown, never summarized away") {
    val results = mkResults(120).updated(110, "q_failed_one" -> (-1.0, -1.0))
    val line = BenchFormat.line(results, "/sf", budget = 1950)
    val node = mapper.readTree(line)
    assert(node.get("queries").has("q_failed_one"))
    assert(node.get("queries").get("q_failed_one").asInt() == -1)
  }

  test("failures past maxShown stay counted in an explicit failed field") {
    // 45 failed of 120: at most 40 entries are shown inline, so at least
    // five failures fall into "rest" — the count must still report all 45
    val results = mkResults(120).zipWithIndex.map { case ((n, t), i) =>
      if (i % 2 == 1 && i < 90) n -> (-1.0, -1.0) else n -> t }
    assert(results.count(_._2._2 < 0) == 45)
    val node = mapper.readTree(BenchFormat.line(results, "/sf"))
    assert(node.get("failed").asInt() == 45)
    val qs = node.get("queries")
    assert(qs.size() <= 40)
    var shownFailed = 0
    val it = qs.fieldNames()
    while (it.hasNext) if (qs.get(it.next()).asDouble() < 0) shownFailed += 1
    assert(shownFailed == qs.size(), "failed entries sort to the front")
    assert(node.get("rest").get("n").asInt() == 120 - qs.size())
    // a clean run reports zero
    assert(mapper.readTree(BenchFormat.line(mkResults(20), "/sf")).get("failed").asInt() == 0)
  }

  test("pathological budget still terminates, keeping only what fits") {
    val line = BenchFormat.line(mkResults(120), "/sf", budget = 300)
    assert(line.length <= 300)
    val node = mapper.readTree(line)
    val shown = node.get("queries").size()
    assert(shown < 10) // only the slowest few fit a 300-char line
    assert(node.get("rest").get("n").asInt() == 120 - shown)
    // even at this budget the survivors keep centisecond precision
    assert(line.contains(":4.75"))
  }

  test("maxShown caps inline entries even under a generous budget (clip-proof line)") {
    // VERDICT r21 #1: a 77-entry line left no slack for sbt's trailer in
    // the driver's 2000-char tail window and r20's line was front-clipped
    // out of the parse. The default cap bounds the line at the slowest 40
    // + rest, independent of how slow the fleet runs.
    val line = BenchFormat.line(mkResults(188), "/sf")
    assert(line.length <= 1600, s"line overflowed the default budget: ${line.length}")
    val node = mapper.readTree(line)
    assert(node.get("queries").size() <= 40)
    assert(node.get("rest").get("n").asInt() == 188 - node.get("queries").size())
    // a huge explicit budget still respects the cap
    val capped = BenchFormat.line(mkResults(188), "/sf", budget = 100000)
    assert(mapper.readTree(capped).get("queries").size() == 40)
  }

  test("extra fields (bench-anchor control factor) survive every ladder tier") {
    val extra = ""","control_factor":1.171,"norm_sec_per_query":0.618"""
    // full-map tier
    val full = BenchFormat.line(mkResults(20), "/sf", budget = 1950, extra = extra)
    val fn = mapper.readTree(full)
    assert(fn.get("control_factor").asDouble() == 1.171)
    assert(fn.get("norm_sec_per_query").asDouble() == 0.618)
    // truncated tier — the protocol fields must not be what gets cut
    val trunc = BenchFormat.line(mkResults(120), "/sf", budget = 1950, extra = extra)
    assert(trunc.length <= 1950)
    val tn = mapper.readTree(trunc)
    assert(tn.get("control_factor").asDouble() == 1.171)
    assert(tn.has("rest"))
  }
}
