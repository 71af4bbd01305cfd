package graftbench

import graft.expressions.TokenCount

/** Tests of the seeded generators; exits non-zero on the first failure.
  *
  *   python3 perfbench/run.py --selftest
  */
object GenCheck {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val tokens = 200L * 2000

    val a = Gen.corpusBytes(Gen.corpus(7, tokens))
    val b = Gen.corpusBytes(Gen.corpus(7, tokens))
    val c = Gen.corpusBytes(Gen.corpus(8, tokens))
    check("same seed gives a byte-identical corpus", java.util.Arrays.equals(a, b))
    check("another seed gives another corpus", !java.util.Arrays.equals(a, c))
    val lines = Gen.corpus(7, tokens)
    check("corpus reaches its token size",
      lines.map(l => TokenCount.count(l).toLong).sum >= tokens)
    check("every word is a word of the text model",
      lines.forall(_.split(" ").forall(TextModel.default.isWord)))
    check("about 7% of the lines carry the keyword", {
      val share = lines.count(_.contains(Gen.Keyword)).toDouble / lines.length
      share > 0.05 && share < 0.09
    })
    check("lines average 8.7 words, as in the text model's source", {
      val mean = lines.map(_.split(" ").length).sum.toDouble / lines.length
      mean > 8.4 && mean < 9.0
    })

    val ids = Main.chunkIds(lines)
    val starts = ids.indices.filter(i => i == 0 || ids(i) != ids(i - 1)).toArray
    val edits = Gen.edits(7, lines, starts, 0.02)
    check("edits touch 2% of the chunks, one line each",
      edits.size == math.round(starts.length * 0.02) &&
        edits.map(e => ids(e.line)).distinct.size == edits.size)
    check("every edit changes its line",
      edits.forall(e => e.edited != lines(e.line)))
    check("every edit swaps one word for a word of the text model", edits.forall { e =>
      val (a, b) = (lines(e.line).split(" "), e.edited.split(" "))
      a.length == b.length && a.zip(b).count { case (x, y) => x != y } == 1 &&
        b.forall(TextModel.default.isWord)
    })
    check("every edit keeps its line's TokenCount",
      edits.forall(e => TokenCount.count(e.edited) == TokenCount.count(lines(e.line))))
    val edited = lines.clone()
    edits.foreach(e => edited(e.line) = e.edited)
    check("edits keep every chunk boundary", Main.chunkIds(edited).sameElements(ids))
    check("edits are seeded", Gen.edits(7, lines, starts, 0.02) == edits)

    val texts = (0 until 20000).map(i => s"chunk text $i")
    val draws = texts.map(Gen.latencyMs(3, _, 50, 300))
    check("latency draw is deterministic", texts.map(Gen.latencyMs(3, _, 50, 300)) == draws)
    check("latency draw depends on the seed", texts.map(Gen.latencyMs(4, _, 50, 300)) != draws)
    val capped = texts.map(Gen.latencyMs(3, _, 50, 100))
    check("latency draw is capped", capped.forall(d => d > 0 && d <= 100) && capped.max == 100)
    check("latency median is the configured median",
      math.abs(Main.median(draws) - 50) < 2.5)
    check("latency has a long tail", Main.percentile(draws, 0.99) > 2 * 50)
    check("zero median means no wait", Gen.latencyMs(3, "x", 0, 0) == 0.0)

    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
    println("all generator checks passed")
  }
}
