package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

import graft.expressions.TokenCount
import graft.pipeline.{Chunker, Combine, MemoCache, ModelClient, ProgressTracker}
import graft.sources.TextCorpus

/** One benchmark run of the paper's pipeline (text file -> token estimate
  * -> chunk -> memoized model map -> ordered combine), driven through the
  * same public calls `graft.Cli` makes.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *
  * Set-up (session start, input generation, a warm-up pass that also
  * primes the memo) runs [[SetupReps]] times, and [[WarmPasses]] untimed
  * passes follow. Then passes run back to back, one at a time, until
  * `--seconds` have gone by. Every pass is
  * checked against an answer computed here on the driver without graft's
  * Spark code. With `--trace 1` the pre-flight estimate is first measured
  * alone [[EstimateReps]] times, and the passes alternate untraced and
  * traced; the traced ones give the per-layer numbers. The result, with
  * the raw samples, goes to `DIR/result.json`, spans to `DIR/trace.json`.
  */
object Main {

  /** @param tokens    corpus size in `TokenCount` tokens
    * @param medianMs  median simulated model latency (0: answers at once)
    * @param editShare share of chunks edited after the memo is primed
    *                  (0: every pass starts from an empty memo)
    */
  final case class Workload(tokens: Long, medianMs: Double, editShare: Double)

  private val Budget = Chunker.DefaultBudget

  val Workloads: Map[String, Workload] = Map(
    "cold_latency" -> Workload(600L * Budget, 50, 0),
    "warm_edit" -> Workload(1500L * Budget, 50, 0.02))

  val Prompt = s"Keep the lines that mention ${Gen.Keyword}."
  /** The memo's model id, built the way `graft.Cli` builds it. */
  val ModelId = s"local:${Gen.Keyword}"
  val SetupReps = 3
  /** Untimed passes with an instant model between set-up and measurement.
    * Pass times keep falling for several full-size passes in a fresh JVM
    * (JIT); set-up runs three, so measurement starts at the seventh.
    */
  val WarmPasses = 3
  /** A traced run measures `estimate_s` alone this many times (a pass
    * gives one sample, and a long pass may be the only one in a run).
    */
  val EstimateReps = 9
  /** Simulated latency is capped at this multiple of the median: an
    * assumption, like [[Gen.Sigma]], not a measured property of a model
    * service.
    */
  val CapFactor = 6.0

  final case class Expected(md5: String, chunks: Int, misses: Int)
  /** `base` is the corpus the memo was primed from, `lines` the corpus a
    * pass reads (`base` with the edits applied, if any). `primeS` is the
    * priming pass: a cold pass over `base` with an instant model.
    */
  final case class Inputs(corpus: Path, base: Array[String], lines: Array[String],
                          memoBase: Option[Path], primeS: Double)
  final case class PassResult(traced: Boolean, pipelineS: Double, estimateS: Double,
                              calls: Long, appended: Long, failed: Long,
                              layers: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val w = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    var spark: SparkSession = null
    val prepared = ArrayBuffer.empty[Inputs]
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      prepared += prepare(spark, work, w, seed)
      (System.nanoTime() - t0) / 1e9
    }
    val inputs = prepared.last
    val expected = expect(inputs)

    val tracer = new Tracer(spark)
    val warm = (1 to WarmPasses).map(_ =>
      pass(spark, work, inputs, expected, SimulatedModel(Gen.Keyword, seed, 0, 0), tracer,
        traced = false, cores))
    val client = SimulatedModel(Gen.Keyword, seed, w.medianMs, w.medianMs * CapFactor)
    val passes = ArrayBuffer.empty[PassResult]
    def needMore = passes.isEmpty ||
      (trace && !(passes.exists(_.traced) && passes.exists(!_.traced)))
    val start = System.nanoTime()
    System.gc()
    val estimates = (1 to (if (trace) EstimateReps else 0)).map { _ =>
      clearAll(spark)
      val t0 = System.nanoTime()
      estimateTokens(TextCorpus.lines(spark, inputs.corpus.toString))
      (System.nanoTime() - t0) / 1e9
    }
    while (needMore || System.nanoTime() - start < seconds * 1e9)
      passes += pass(spark, work, inputs, expected, client, tracer,
        traced = trace && passes.size % 2 == 1, cores)
    spark.stop()

    val plain = passes.toSeq.filterNot(_.traced)
    val attempted = (warm ++ passes).map(_.calls).sum
    val failed = (warm ++ passes).map(_.failed).sum
    val metrics: Seq[(String, Double)] =
      if (!trace) {
        val pipelineS = median(plain.map(_.pipelineS))
        Seq(
          "setup_s" -> median(setups),
          "pipeline_s" -> pipelineS,
          "chunks_per_s" -> expected.chunks / pipelineS,
          "calls_per_miss" -> plain.map(_.calls).sum.toDouble / plain.map(_.appended).sum,
          "peak_rss_mb" -> peakRssMb())
      } else {
        val traced = passes.toSeq.filter(_.traced)
        traced.head.layers.keys.toSeq.sorted.map(k => k -> median(traced.map(_.layers(k)))) ++
          Seq("estimate_s" -> median(estimates),
            "setup.first_s" -> setups.head,
            "trace.overhead_s" ->
              (median(traced.map(_.pipelineS)) - median(plain.map(_.pipelineS))))
      }
    if (trace) writeTrace(work.resolve("trace.json"), name, seed, tracer, passes.toSeq)
    Files.write(work.resolve("result.json"), Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "passes" -> passes.size,
      "samples" -> Json.Obj(Seq(
        "setup_s" -> Json.Arr(setups),
        "prime_s" -> Json.Arr(prepared.map(_.primeS).toSeq),
        "estimate_s" -> Json.Arr(estimates),
        "pipeline_s" -> Json.Arr(passes.map(_.pipelineS).toSeq),
        "pass_estimate_s" -> Json.Arr(passes.map(_.estimateS).toSeq))),
      "metrics" -> Json.Obj(metrics)).getBytes(UTF_8))
  }

  /** A session configured as `graft.Cli` configures it (AQE stays at its
    * default, on), plus `extra` settings, with its scratch space in `work`.
    */
  def session(cores: Int, work: Path, extra: (String, String)*): SparkSession = {
    val s = extra.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .appName("graftbench")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The `graft.Cli` call sequence, each call in its own span. Returns the
    * time to the pre-flight token total (ns from start) and that total.
    */
  def runPipeline(spark: SparkSession, corpus: Path, client: ModelClient,
                  memo: Path, out: Path, t: Tracer): (Long, Long) = {
    val t0 = System.nanoTime()
    val progress = ProgressTracker.attach(spark, "map")
    try {
      val lines = t.span("sources.lines")(TextCorpus.lines(spark, corpus.toString))
      val total = t.span("expressions.estimate")(estimateTokens(lines))
      val estimated = System.nanoTime() - t0
      val chunks = t.span("chunker.chunk_table")(Chunker.chunkTable(lines, "line_id", "text"))
      if (t.on) t.cachedMb = cachedMb(spark)
      val mapped = t.span("memo.map_with_memo") {
        MemoCache.mapChunksWithMemo(chunks, client, Prompt, ModelId, memo.toString)
      }
      t.span("combine.write_combined")(Combine.writeCombined(mapped, out.toString))
      (estimated, total)
    } finally ProgressTracker.detach(spark, progress)
  }

  /** The pre-flight token total, computed as `graft.Cli` computes it. */
  def estimateTokens(lines: org.apache.spark.sql.DataFrame): Long =
    lines.agg(sum(graft.functions.token_count_cl100k(col("text")).cast("long")))
      .collect()(0).getLong(0)

  private def clearAll(spark: SparkSession): Unit = {
    Chunker.clearCaches()
    spark.catalog.clearCache()
  }

  /** Writes the workload's corpus, then runs the whole pipeline once over
    * the unedited corpus with an instant model: that warms JIT, codegen
    * and class loading on inputs of the measured size, and leaves the memo
    * an edit workload resumes from. Then applies the edits, if any.
    */
  def prepare(spark: SparkSession, work: Path, w: Workload, seed: Long): Inputs = {
    val base = Gen.corpus(seed, w.tokens)
    val baseFile = work.resolve("base.txt")
    Files.write(baseFile, Gen.corpusBytes(base))
    val memoBase = work.resolve("memo.base")
    deleteTree(memoBase)
    val t0 = System.nanoTime()
    runPipeline(spark, baseFile, SimulatedModel(Gen.Keyword, seed, 0, 0), memoBase,
      work.resolve("prime_out"), new Tracer(spark))
    val primeS = (System.nanoTime() - t0) / 1e9
    clearAll(spark)
    if (w.editShare <= 0) Inputs(baseFile, base, base, None, primeS)
    else {
      val ids = chunkIds(base)
      val starts = ids.indices.filter(i => i == 0 || ids(i) != ids(i - 1)).toArray
      val edited = base.clone()
      Gen.edits(seed, base, starts, w.editShare).foreach(e => edited(e.line) = e.edited)
      val corpus = work.resolve("corpus.txt")
      Files.write(corpus, Gen.corpusBytes(edited))
      Inputs(corpus, base, edited, Some(memoBase), primeS)
    }
  }

  /** The expected answer of a pass over `in`, computed on the driver
    * without graft's Spark code. Every chunk misses on a cold workload;
    * on an edit workload the chunks whose text the primed memo lacks do.
    */
  def expect(in: Inputs): Expected = {
    val baseIds = chunkIds(in.base)
    val ids = chunkIds(in.lines)
    require(ids.sameElements(baseIds), "edits moved a chunk boundary")
    val texts = chunkTexts(in.lines, ids)
    val misses =
      if (in.memoBase.isEmpty) texts.length
      else { val known = chunkTexts(in.base, baseIds).toSet; texts.count(t => !known(t)) }
    Expected(md5(expectedOutput(texts)), texts.length, misses)
  }

  def pass(spark: SparkSession, work: Path, in: Inputs, expected: Expected,
           client: ModelClient, t: Tracer, traced: Boolean, cores: Int): PassResult = {
    val memo = work.resolve("memo")
    val out = work.resolve("out")
    deleteTree(out)
    deleteTree(memo)
    in.memoBase.foreach(copyTree(_, memo))
    clearAll(spark)
    System.gc()
    val rowsBefore = memoRows(spark, memo)
    val (bytesBefore, _) = memoFiles(memo)

    Calls.reset(traced)
    if (traced) t.begin()
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val cgN0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val (estimateNs, estimate) =
      t.span("pipeline")(runPipeline(spark, in.corpus, client, memo, out, t))
    val pipelineS = (System.nanoTime() - t0) / 1e9
    val codegenS =
      (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0) / 1e9
    val compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgN0
    if (traced) t.end()

    // Checks, outside the timed region.
    val calls = Calls.count.get
    val appended = memoRows(spark, memo) - rowsBefore
    val (bytesAfter, files) = memoFiles(memo)
    val outBytes = partFiles(out).map(Files.readAllBytes)
    val outMd5 = md5(outBytes.foldLeft(Array.emptyByteArray)(_ ++ _))
    var failed = 0L
    if (outMd5 != expected.md5) {
      System.err.println(s"graftbench: combined output md5 $outMd5 != expected ${expected.md5}")
      failed += 1
    }
    if (calls != appended || appended != expected.misses) {
      System.err.println(s"graftbench: calls $calls, memo misses $appended, " +
        s"expected misses ${expected.misses}")
      failed += math.abs(calls - appended) + math.abs(appended - expected.misses)
    }

    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val log = Calls.log.asScala.toSeq
        t.addCalls(log)
        Layers.of(t, log, pipelineS, estimate, expected.chunks, appended, cores,
          (bytesAfter - bytesBefore) / 1e6, files, outBytes.map(_.length.toLong).sum / 1e6,
          codegenS, compiles)
      }
    PassResult(traced, pipelineS, estimateNs / 1e9, calls, appended, failed, layers)
  }

  // ---- the expected answer, computed without graft's Spark code ----

  /** Chunk id of every line: floor((inclusive token cumsum - 1) / budget),
    * at least 0.
    */
  def chunkIds(lines: Array[String]): Array[Int] = {
    var cum = 0L
    lines.map { l =>
      cum += TokenCount.count(l)
      math.max(0L, Math.floorDiv(cum - 1, Budget.toLong)).toInt
    }
  }

  /** Chunk texts in chunk order: each chunk's lines joined by '\n'. */
  def chunkTexts(lines: Array[String], ids: Array[Int]): Array[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    while (i < lines.length) {
      var j = i
      while (j < lines.length && ids(j) == ids(i)) j += 1
      out += lines.slice(i, j).mkString("\n")
      i = j
    }
    out.toArray
  }

  /** The combined output file: each chunk's keyword lines, chunks
    * concatenated in order with no separator, then the text sink's newline.
    */
  def expectedOutput(texts: Array[String]): Array[Byte] =
    (texts.iterator.map(_.split("\n", -1).filter(_.contains(Gen.Keyword)).mkString("\n"))
      .mkString + "\n").getBytes(UTF_8)

  // ---- files ----

  def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map("%02x".format(_)).mkString

  private def partFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator.asScala
      .filter { p => val n = p.getFileName.toString; n.startsWith("part-") && !n.endsWith(".crc") }
      .toSeq.sortBy(_.getFileName.toString)

  private def memoRows(spark: SparkSession, memo: Path): Long =
    if (partFiles(memo).isEmpty) 0L else spark.read.parquet(memo.toString).count()

  /** Bytes and number of the memo's data files. */
  private def memoFiles(memo: Path): (Long, Int) = {
    val fs = partFiles(memo)
    (fs.map(Files.size).sum, fs.size)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator.asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  private def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6

  /** Peak resident set of this process (Linux `VmHWM`), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, as numpy's default. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def writeTrace(path: Path, workload: String, seed: Long, t: Tracer,
                         passes: Seq[PassResult]): Unit = {
    val self = Tracer.selfTimes(t.spans.toSeq)
    val t0 = t.spans.map(_.startNs).minOption.getOrElse(0L)
    val spans = t.spans.toSeq.sortBy(s => (s.run, s.startNs)).map(s => Json.Obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
      "self_s" -> self(s.id))))
    val runs = passes.zipWithIndex.map { case (p, i) => Json.Obj(Seq(
      "run" -> i, "traced" -> p.traced, "pipeline_s" -> p.pipelineS,
      "estimate_s" -> p.estimateS, "layers" -> Json.Obj(p.layers.toSeq.sortBy(_._1)))) }
    Files.write(path, Json.obj("workload" -> workload, "seed" -> seed,
      "passes" -> Json.Arr(runs), "spans" -> Json.Arr(spans)).getBytes(UTF_8))
  }
}
