package graft

/** Catch-all gate over the whole registry: every query in
  * `SparkEntry.queries` must (a) execute at sf0.001, (b) produce a
  * non-degenerate schema, and (c) be run-to-run deterministic — two
  * independent executions collect identical row sequences (the property the
  * driver's hash-compare depends on). Queries whose results are
  * intentionally tiny (filters on small fixtures) may be empty; emptiness
  * is asserted only where a dedicated spec covers the operator.
  */
class AllQueriesSpec extends SparkSpec {

  /** Queries whose VALUES carry library-internal RNG that no seed
    * reaches: DataSketches KLL compaction decides keep-odd/keep-even via
    * an unseeded java.util.Random (verified in datasketches-java 6.2.0),
    * so once n > k two builds of the same sketch may differ by up to the
    * rank error. For these the gate checks shape + keys exactly and
    * numeric cells within 2% relative — k=800 gives ~0.25% one-sided
    * normalized rank error (≈5 value-steps on the fixture's price grid),
    * so 2% is ≳8σ while still catching any real nondeterminism (a
    * partitioning-order bug shifts quantiles far more). The driver's
    * check for these rows-only queries is count-based, so the weaker
    * cell comparison here is not masking an oracle. */
  private val RngBySemantics = Set("kll_quantile_merge")

  /** The carve-out band, with its calibration DERIVED from the operator's
    * configured k instead of trusted by hand: σ is the one-build 99%-conf
    * normalized rank error (DataSketches' own bound) rescaled to one
    * standard deviation (99% two-sided ≈ 2.58σ). The band must sit in
    * [8σ, 64σ]: below 8σ a healthy sketch's RNG wobble would flake the
    * gate; above 64σ the gate stops meaning anything. A silent k-change
    * (more or less compaction RNG) now trips the calibration test below
    * instead of hiding under a hard-coded 2%. */
  private val KllBand = 0.02
  private def kllSigma: Double =
    org.apache.datasketches.kll.KllSketch.getNormalizedRankError(
      graft.ops.SketchOps.KllK, false) / 2.58

  test("kll carve-out band is calibrated to the configured sketch k") {
    val s = kllSigma
    assert(KllBand >= 8 * s,
      f"band $KllBand%.4f < 8σ=${8 * s}%.4f for k=${graft.ops.SketchOps.KllK}: " +
        "k shrank (rank error grew) — widen the band deliberately or restore k")
    assert(KllBand <= 64 * s,
      f"band $KllBand%.4f > 64σ=${64 * s}%.4f for k=${graft.ops.SketchOps.KllK}: " +
        "k grew — tighten the band so the determinism gate stays meaningful")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name: executes and is run-to-run deterministic at sf0.001") {
      val a = fn(spark, sf).collect()
      val b = fn(spark, sf).collect()
      assert(a.length === b.length, s"$name row count varies between runs")
      a.zip(b).zipWithIndex.foreach { case ((ra, rb), i) =>
        if (RngBySemantics(name)) {
          assert(ra.length === rb.length, s"$name row $i arity differs")
          (0 until ra.length).foreach { j =>
            (ra.get(j), rb.get(j)) match {
              case (x: java.lang.Number, y: java.lang.Number) =>
                val (xv, yv) = (x.doubleValue(), y.doubleValue())
                assert(math.abs(xv - yv) <= KllBand * math.max(math.abs(xv), 1e-9),
                  s"$name row $i col $j beyond sketch rank-error band: $xv vs $yv")
              case (x, y) =>
                assert(x === y, s"$name row $i col $j differs between runs")
            }
          }
        } else assert(ra === rb, s"$name row $i differs between runs")
      }
      assert(fn(spark, sf).schema.fields.nonEmpty)
    }
  }

  test("entry smoke: SparkEntry.entry returns rows") {
    // the driver's smoke check on the flagship query: rows > 0
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}
