package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import graft.expressions.TokenCount

/** Words-per-line and word frequencies of a prose document, as written by
  * `perfbench/textmodel.py` (`L <words> <lines>` and `W <word> <count>`
  * rows). [[line]] draws a line from them: its length from the document's
  * line lengths, each word independently by the document's frequencies.
  */
final class TextModel(rows: Seq[Array[String]]) {
  private def table(kind: String): (Array[String], Array[Long]) = {
    val rs = rows.filter(_(0) == kind)
    require(rs.nonEmpty, s"text model has no $kind rows")
    (rs.map(_(1)).toArray, rs.map(_(2).toLong).scanLeft(0L)(_ + _).tail.toArray)
  }
  private val (lengths, lengthCum) = table("L")
  private val (words, wordCum) = table("W")
  private val lineWords = lengths.map(_.toInt)

  /** The distinct words of each length, for token-preserving edits. */
  val byLength: Map[Int, Array[String]] = words.groupBy(_.length)

  def isWord(w: String): Boolean = wordSet(w)
  private lazy val wordSet = words.toSet

  private def draw(rnd: SplittableRandom, cum: Array[Long]): Int = {
    val i = java.util.Arrays.binarySearch(cum, rnd.nextLong(cum.last) + 1)
    if (i >= 0) i else -i - 1
  }

  def line(rnd: SplittableRandom): String = {
    val n = lineWords(draw(rnd, lengthCum))
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(words(draw(rnd, wordCum)))
      i += 1
    }
    sb.toString
  }
}

object TextModel {
  /** The benchmark's text model, read from the checkout the benchmark
    * runs in. It was derived from the prose of the repository's
    * `SURVEY.md` (1,414 lines, 12,295 words, 4,962 distinct).
    */
  val Path = "perfbench/data/text_model.tsv"

  lazy val default: TextModel = new TextModel(
    Files.readAllLines(Paths.get(Path), UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1)))
}

/** Seeded input generators. Everything a workload feeds graft is derived
  * from the run's seed here, so the same seed gives byte-identical inputs.
  */
object Gen {

  /** The word the model stand-in filters on. A line carries it when one of
    * its words contains it, which in the text model's words happens on
    * about 7% of lines.
    */
  val Keyword = "line"

  /** The line corpus: lines drawn from the text model until their
    * `TokenCount` total reaches `tokens`. Returns the lines (no trailing
    * empty line).
    */
  def corpus(seed: Long, tokens: Long): Array[String] = {
    val model = TextModel.default
    val rnd = new SplittableRandom(seed)
    val out = Array.newBuilder[String]
    var total = 0L
    while (total < tokens) {
      val l = model.line(rnd)
      total += TokenCount.count(l)
      out += l
    }
    out.result()
  }

  /** The file form of a corpus: lines joined by '\n', newline-terminated. */
  def corpusBytes(lines: Array[String]): Array[Byte] =
    lines.mkString("", "\n", "\n").getBytes(UTF_8)

  /** An edit of one line: `line` is replaced by `edited`. */
  final case class Edit(line: Int, edited: String)

  /** Token-preserving edits for the warm-resume workload: one line in
    * each of `share` of the chunks (at least one chunk) gets one word
    * replaced by a different word of the text model of the same length.
    * `TokenCount` charges a word by its length only, so every edited line
    * keeps its count, the chunk boundaries stay where they were, and
    * exactly the edited chunks miss the memo.
    *
    * `chunkStarts(i)` is the first line of chunk i (ascending).
    */
  def edits(seed: Long, lines: Array[String], chunkStarts: Array[Int],
            share: Double): Seq[Edit] = {
    val byLength = TextModel.default.byLength
    val rnd = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    val nChunks = chunkStarts.length
    val want = math.max(1, math.round(nChunks * share).toInt)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < want) picked += rnd.nextInt(nChunks)
    def alternatives(w: String) = byLength.getOrElse(w.length, Array.empty[String])
      .filter(_ != w)
    picked.toSeq.sorted.map { c =>
      val from = chunkStarts(c)
      val until = if (c + 1 < nChunks) chunkStarts(c + 1) else lines.length
      // A line with a word that has a same-length alternative; nearly
      // every line has one, so this rarely draws twice.
      var words = Array.empty[String]
      var li = -1
      while (!words.exists(alternatives(_).nonEmpty)) {
        li = from + rnd.nextInt(until - from)
        words = lines(li).split(" ")
      }
      var wi = rnd.nextInt(words.length)
      while (alternatives(words(wi)).isEmpty) wi = rnd.nextInt(words.length)
      val alt = alternatives(words(wi))
      words(wi) = alt(rnd.nextInt(alt.length))
      Edit(li, words.mkString(" "))
    }
  }

  /** Spread of the simulated model latency: the sigma of its log-normal.
    * 0.4 puts p99 at about 2.5x the median. This and [[Main.CapFactor]]
    * are assumptions of the benchmark, not taken from a measurement of a
    * model service.
    */
  val Sigma = 0.4

  /** Simulated model latency in milliseconds for one call: log-normal
    * around `medianMs` with sigma [[Sigma]], capped at `capMs`. Drawn from
    * hash(seed, chunk text), so a chunk waits the same time on every run
    * with that seed, whichever task serves it.
    */
  def latencyMs(seed: Long, text: String, medianMs: Double, capMs: Double): Double = {
    if (medianMs <= 0) return 0.0
    val h1 = MurmurHash3.stringHash(text, seed.toInt ^ 0x5bd1e995)
    val h2 = MurmurHash3.stringHash(text, (seed >>> 32).toInt ^ h1 ^ 0x1b873593)
    val u1 = ((h1 >>> 8) + 0.5) / (1 << 24)
    val u2 = ((h2 >>> 8) + 0.5) / (1 << 24)
    val z = math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
    math.min(capMs, medianMs * math.exp(Sigma * z))
  }
}
