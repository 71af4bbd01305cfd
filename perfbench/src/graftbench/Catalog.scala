package graftbench

import java.nio.file.Paths

import graft.{Bench, SparkEntry}
import graft.pipeline.Chunker

/** One traced pass over graft's query catalog on a fixture directory:
  * where the catalog's time goes, by module and by phase.
  *
  *   python3 perfbench/run.py --catalog FIXTURE_DIR [--warmup WARMUP_DIR]
  *
  * Set up as `graft.Bench` sets up: the same session settings, one untimed
  * warm-up pass over the warm-up fixture, caches cleared before the pass,
  * shared builds first, `Bench.SideEffectQueries` left out, every query
  * materialized through the `noop` sink in name order. Not one of the
  * benchmark's workloads: it reads a fixture from outside the checkout and
  * one pass takes minutes. Writes `catalog.json` to the work directory.
  */
object Catalog {
  def main(args: Array[String]): Unit = {
    val Array(dir, warmDir, work) = args
    val cores = Runtime.getRuntime.availableProcessors
    // graft.Bench's settings on top of graft.Cli's.
    val spark = Main.session(cores, Paths.get(work),
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "10000")
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val names = SparkEntry.queries.keys.toSeq.sorted.filterNot(Bench.SideEffectQueries)
    val builds = SparkEntry.sharedBuilds
    (builds ++ names.map(n => n -> SparkEntry.queries(n))).foreach { case (_, q) =>
      try materialize(q(spark, warmDir)) catch { case scala.util.control.NonFatal(_) => () }
    }
    Chunker.clearCaches()
    spark.catalog.clearCache()

    val t = new Tracer(spark)
    t.begin()
    val cg0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val walls = (builds ++ names.map(n => n -> SparkEntry.queries(n))).map { case (n, q) =>
      t.span(n)(materialize(q(spark, dir)))
      n -> t.spans.last
    }
    val codegenS =
      (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - cg0) / 1e9
    t.end()
    spark.stop()

    // Wall-clock offset between the spans' nanoTime and the tasks' epoch ms.
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    val tasks = t.listener.tasks.toSeq
    val busyS = walls.map { case (n, s) =>
      Tracer.union(tasks.filter(_.span == n).map(k =>
        (math.max(k.launchMs * 1000000L + offsetNs, s.startNs),
          math.min(k.finishMs * 1000000L + offsetNs, s.endNs)))) / 1e9
    }.sum
    val queryS = walls.filterNot(_._1.startsWith("shared:")).map(_._2.seconds)
    val catalogS = walls.map(_._2.seconds).sum
    val modules = walls.groupBy { case (n, _) =>
      if (n.startsWith("shared:")) "shared_builds" else SparkEntry.moduleOf(n) }
    val ph = t.phases.ms.toMap.withDefaultValue(0L)
    val planS = (ph("analysis") + ph("optimization") + ph("planning")) / 1e3
    val metrics = Seq(
      "catalog_s" -> catalogS,
      "queries" -> queryS.size.toDouble,
      "query_p50_s" -> Main.percentile(queryS, 0.5),
      "query_p95_s" -> Main.percentile(queryS, 0.95),
      "driver.analysis_s" -> ph("analysis") / 1e3,
      "driver.optimization_s" -> ph("optimization") / 1e3,
      "driver.planning_s" -> ph("planning") / 1e3,
      "driver.codegen_s" -> codegenS,
      "catalog.plan_share" -> (planS + codegenS) / catalogS,
      "catalog.task_busy_share" -> busyS / catalogS,
      "catalog.no_task_share" -> (1 - busyS / catalogS),
      "spark.jobs" -> t.listener.jobs.size.toDouble,
      "spark.stages" -> t.listener.stages.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_s" -> tasks.map(_.runS).sum) ++
      modules.toSeq.sortBy(_._1).map { case (m, ws) =>
        s"queries.${m}_s" -> ws.map(_._2.seconds).sum
      }
    java.nio.file.Files.write(Paths.get(work, "catalog.json"), Json.obj(
      "fixture" -> dir, "cores" -> cores, "metrics" -> Json.Obj(metrics))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
