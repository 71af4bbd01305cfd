package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit tests of the weather gate's PURE demotion math (VERDICT r14
  * #1): the 27-minute BENCH_weatherproof.json experiment pins the
  * end-to-end behavior once; these pin the logic itself — basis
  * selection, clean-pass ranking, min() choice, bar predicates, the
  * end-of-pass weather max, and the boot-keyed ref-cache round trip —
  * so a Bench refactor cannot silently change the gate.
  *
  * Fixture convention: canary refs are 1.0, so a canary timing IS its
  * measured/ref ratio; query `q` is the single headline entry.
  */
class BenchSpec extends AnyFunSuite {
  private val cs = Seq("canary:cpu", "canary:shuffle", "canary:sort")
  private val refs = cs.map(_ -> 1.0).toMap

  /** One pass: all canaries (start and end) at `w`, the headline query
    * at `q`.
    */
  private def pass(w: Double, q: Double, wEnd: Double = Double.NaN): Map[String, Double] = {
    val end = if (wEnd.isNaN) w else wEnd
    cs.map(_ -> w).toMap ++ cs.map(n => Bench.endKey(n) -> end).toMap + ("q" -> q)
  }

  test("median: true median, even sizes average the middle pair") {
    assert(Bench.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.median(Seq(1.0, 2.0, 3.0, 10.0)) == 2.5)
    assert(Bench.median(Seq(5.0)) == 5.0)
  }

  test("stat: trimmed mean at >=4 passes, median below") {
    // 5 samples: drop 1.0 and 100.0, mean(2,3,4) = 3
    assert(Bench.stat(Seq(100.0, 2.0, 3.0, 4.0, 1.0)) == 3.0)
    // 3 samples: median — two noisy of three CAN move it (why 5 passes)
    assert(Bench.stat(Seq(1.0, 8.0, 9.0)) == 8.0)
  }

  test("clean run: basis trimmed_mean, value == trimmed total, all passes kept") {
    val t = Seq.fill(5)(pass(1.0, 2.0))
    val g = Bench.gateOf(t, refs, cs, Seq("q"))
    assert(g.basis == "trimmed_mean")
    assert(g.value == g.total && g.total == 2.0)
    assert(g.canaryScale == 1.0 && g.canaryAgreement == 1.0)
    assert(g.keptIdx == Seq(0, 1, 2, 3, 4))
  }

  test("scale bar: uniform load on 3 of 5 passes blows the bar (agreement stays 1)") {
    val t = Seq(pass(1.0, 2.0), pass(1.0, 2.0),
      pass(3.0, 6.0), pass(3.0, 6.0), pass(3.0, 6.0))
    assert(Bench.agreementOf(t, refs, cs) == 1.0)
    // per-canary across-pass trimmed mean: mean(1,3,3) = 7/3 > 1.5
    assert(Bench.scaleOf(t, refs, cs) > Bench.ScaleBar)
    assert(Bench.barBlown(t, refs, cs))
    // 2 mildly-loaded passes of 5: trimmed stat sheds one and averages
    // the other in — mean(1, 1, 2) stays inside the bar
    val t2 = Seq(pass(1.0, 2.0), pass(1.0, 2.0), pass(1.0, 2.0),
      pass(2.0, 4.0), pass(2.0, 4.0))
    assert(Bench.scaleOf(t2, refs, cs) < Bench.ScaleBar)
    assert(!Bench.barBlown(t2, refs, cs))
  }

  test("agreement bar: one canary regime re-clocked blows agreement, not scale") {
    val t = Seq.fill(5)(cs.map(_ -> 1.0).toMap ++
      Map("canary:sort" -> 2.0, "q" -> 2.0))
    assert(Bench.scaleOf(t, refs, cs) == 1.0) // median of (1, 1, 2)
    assert(Bench.agreementOf(t, refs, cs) == 2.0)
    assert(Bench.barBlown(t, refs, cs))
  }

  test("value_normalized: published only while the canary regimes agree") {
    // agreement 1, uniform 2x load: the diagnostic divides it out
    val calm = Bench.gateOf(Seq.fill(5)(pass(2.0, 4.0)), refs, cs, Seq("q"))
    assert(calm.canaryAgreement <= Bench.AgreementBar)
    assert(calm.normalized.contains(2.0))
    // one regime re-clocked 2x: agreement 2.0 > bar, so no number
    val split = Bench.gateOf(Seq.fill(5)(cs.map(_ -> 1.0).toMap ++
      Map("canary:sort" -> 2.0, "q" -> 2.0)), refs, cs, Seq("q"))
    assert(split.canaryAgreement > Bench.AgreementBar)
    assert(split.normalized.isEmpty)
    assert(split.value == 2.0, "the gate value itself is still reported")
  }

  test("demotion to clean_pass_median: loaded passes excluded, value = calm median") {
    // 3 of 5 passes loaded 3x (canaries AND the query): bar blows,
    // calm passes {0,1} kept, median over them = the clean 2.0
    val t = Seq(pass(1.0, 2.0), pass(1.0, 2.0),
      pass(3.0, 6.0), pass(3.0, 6.0), pass(3.0, 6.0))
    val g = Bench.gateOf(t, refs, cs, Seq("q"))
    assert(g.basis == "clean_pass_median")
    assert(g.keptIdx == Seq(0, 1))
    assert(g.totalClean == 2.0)
    assert(g.value == 2.0)
    assert(g.total > 2.0) // the inflated trimmed mean it demoted from
  }

  test("min() basis choice: when the calm-pass median is the larger, keep the trimmed mean") {
    // bar blown by canary weather, but the QUERY ran slower in the calm
    // passes (pulsed intra-pass weather the canaries missed): the
    // trimmed mean is the smaller upward-biased candidate
    val t = Seq(pass(1.0, 9.0), pass(1.0, 9.0),
      pass(3.0, 2.0), pass(3.0, 2.0), pass(3.0, 2.0))
    val g = Bench.gateOf(t, refs, cs, Seq("q"))
    assert(Bench.barBlown(t, refs, cs))
    assert(g.totalClean == 9.0) // median over calm passes {0,1}
    assert(g.total < 9.0)       // trimmed mean sheds one 9.0
    assert(g.basis == "trimmed_mean_weathered_min")
    assert(g.value == g.total)
  }

  test("keptIndices: tolerance band around the calmest pass, floor of 2") {
    // within 1.25x of the calmest (1.0): weights 1.0, 1.2 kept; 1.3+ not
    assert(Bench.keptIndices(Seq(1.0, 1.2, 1.3, 2.0)) == Seq(0, 1))
    // only one calm pass: the floor keeps the 2 calmest anyway
    assert(Bench.keptIndices(Seq(1.0, 2.0, 3.0)).toSet == Set(0, 1))
    // all equal: everything kept
    assert(Bench.keptIndices(Seq(1.0, 1.0, 1.0)) == Seq(0, 1, 2))
  }

  test("end-of-pass weather: mid-pass load invisible at pass start still marks the pass (ADVICE r14)") {
    // pass 2's START canaries are calm but its END canaries read 3x:
    // its weather index must be 3.0 and the demotion must exclude it
    val t = Seq(pass(1.0, 2.0), pass(1.0, 2.0),
      pass(1.0, 6.0, wEnd = 3.0), pass(1.0, 2.0), pass(1.0, 2.0))
    assert(Bench.passWeather(t(2), refs, cs) == 3.0)
    assert(Bench.keptIndices(t.map(p => Bench.passWeather(p, refs, cs))) ==
      Seq(0, 1, 3, 4))
    // and without end samples the same pass would have read calm —
    // the blind spot the end reps close
    val blind = cs.map(_ -> 1.0).toMap + ("q" -> 6.0)
    assert(Bench.passWeather(blind, refs, cs) == 1.0)
  }

  test("extra-pass recovery: recovery passes feed the calm subset the gate demotes to") {
    val loaded = Seq(pass(1.0, 2.0), pass(1.0, 2.0),
      pass(4.0, 8.0), pass(4.0, 8.0), pass(4.0, 8.0))
    assert(Bench.barBlown(loaded, refs, cs))
    // two recovery passes (the MaxExtraPasses budget) taken after the
    // load passed: 3 loaded of 7 still blows the trimmed-stat bar, but
    // the calm subset now has 4 members and the demoted value is the
    // clean cost exactly
    val recovered = loaded ++ Seq(pass(1.0, 2.0), pass(1.0, 2.0))
    assert(Bench.barBlown(recovered, refs, cs))
    val g = Bench.gateOf(recovered, refs, cs, Seq("q"))
    assert(g.keptIdx == Seq(0, 1, 5, 6))
    assert(g.basis == "clean_pass_median")
    assert(g.value == 2.0)
  }

  test("ref cache: (boot, cpus)-keyed round trip; wrong boot, wrong cpus, garbage rejected") {
    val p = java.nio.file.Files.createTempFile("graft_canary_ref", ".json").toString
    val fresh = Map("canary:cpu" -> 0.123, "canary:shuffle" -> 0.456,
      "canary:sort" -> 0.789)
    Bench.writeRefCache(p, "boot-a", 32, fresh)
    assert(Bench.readRefCache(p, "boot-a", 32).contains(fresh))
    assert(Bench.readRefCache(p, "boot-b", 32).isEmpty)
    // same boot, different core count: a local[4] dev run must NOT
    // reuse local[32] calibration (the canaries are ~3x slower there)
    assert(Bench.readRefCache(p, "boot-a", 4).isEmpty)
    assert(Bench.readRefCache("/nonexistent/x.json", "boot-a", 32).isEmpty)
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      "not json".getBytes("UTF-8"))
    assert(Bench.readRefCache(p, "boot-a", 32).isEmpty)
    java.nio.file.Files.delete(java.nio.file.Paths.get(p))
  }

  test("endKey maps canary names onto the non-timed namespace") {
    assert(Bench.endKey("canary:cpu") == "canaryend:cpu")
    // never collides with the timed canary prefix partitioning
    assert(!Bench.endKey("canary:cpu").startsWith("canary:"))
  }
}
