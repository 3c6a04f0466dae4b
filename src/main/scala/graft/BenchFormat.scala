package graft

/** Pure formatting layer for [[Bench]]'s one-line driver contract, split
  * out so the truncation ladder is unit-testable (BenchSuite). In r9 the
  * whole-second fallback tier fired untested in production and per-query
  * precision silently degraded to integers — the committed bench series
  * could no longer distinguish a 2x regression on a sub-second query.
  *
  * New ladder: per-query values are ALWAYS centisecond precision. When
  * the full map does not fit the line budget, keep the SLOWEST K queries
  * that do fit and summarize the remainder as `"rest":{"n":…,"sum":…}` —
  * individually the fast tail carries no regression signal, but its count
  * and aggregate keep the total reconcilable. Full precision for every
  * query still lands in bench_detail.json.
  */
object BenchFormat {

  def fmt(v: Double, dec: Int): String =
    if (v < 0) "-1" else s"%.${dec}f".formatLocal(java.util.Locale.ROOT, v)

  /** Build the single driver-contract JSON line.
    *
    * @param results (name, (cold, warm)) per query; warm is already the
    *                min-of-N steady-state pick; -1 marks a failed query
    * @param budget  the driver captures only the LAST ~2000 stdout chars
    *                and parses the JSON found there — the line must stay
    *                under this MINUS everything printed after it (sbt's
    *                "[success] Total time…" trailer is ~80 chars), or the
    *                line's FRONT gets clipped out of the capture window.
    *                r21 lost the round-over-round comparison exactly this
    *                way (VERDICT r21 #1: r20's line parsed as null), so
    *                the default keeps ~400 chars of slack
    * @param maxShown hard cap on inline per-query entries regardless of
    *                budget — the slowest K carry the regression signal;
    *                the full map always lands in bench_detail.json
    * @param extra   pre-rendered JSON fields (", \"k\":v" form) appended
    *                after "sf" on every ladder tier — the bench-anchor
    *                protocol's control_factor rides here (BASELINE.md)
    */
  def line(results: Seq[(String, (Double, Double))], sfDir: String,
           budget: Int = 1600, maxShown: Int = 40,
           extra: String = ""): String = {
    val warmTotal = results.map(_._2._2).filter(_ >= 0).sum
    val coldTotal = results.map(_._2._1).filter(_ >= 0).sum
    // counted explicitly: past maxShown failed entries would otherwise
    // hide inside "rest", whose sum leaves them out
    val failed = results.count(_._2._2 < 0)
    // failed queries (-1) sort to the very front so they are always shown
    val bySlow = results.sortBy { case (_, (_, w)) => if (w < 0) Double.MinValue else -w }
    def mk(k: Int): String = {
      val (shown, rest) = bySlow.splitAt(k)
      val qs = shown.map { case (n, (_, w)) => "\"" + n + "\":" + fmt(w, 2) }
        .mkString("{", ",", "}")
      val restPart =
        if (rest.isEmpty) ""
        else {
          val restSum = rest.map(_._2._2).filter(_ >= 0).sum
          s""","rest":{"n":${rest.size},"sum":${fmt(restSum, 2)}}"""
        }
      val note =
        if (rest.isEmpty) "warm=min3; total=cold run1 (r1-r4 series)"
        else s"warm=min3; slowest $k of ${results.size} shown; total=cold run1 (r1-r4 series)"
      s"""{"metric":"total_warm","value":${fmt(warmTotal, 3)},"unit":"sec","queries":$qs$restPart,"total":${fmt(coldTotal, 3)},"failed":$failed,"sf":"$sfDir"$extra,"note":"$note"}"""
    }
    // k=0 is a ~170-char floor; if the budget is below even that, emit
    // the k=0 line anyway (an over-budget line beats an exception)
    (math.min(results.size, maxShown) to 0 by -1).iterator.map(mk)
      .find(_.length <= budget)
      .getOrElse(mk(0))
  }
}
