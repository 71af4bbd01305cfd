package graft.pipeline

import java.util.concurrent.{Callable, ExecutorCompletionService, Executors, Future,
  LinkedBlockingQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.control.NonFatal

import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.StringType

/** The reference's map stage: every chunk goes to a chat model with the
  * user prompt as the system message and the chunk text as the user
  * message (`/root/reference/internal/cli/mapreduce.go:151-197`). The
  * client is an interface so tests can inject a mock — the direct analog
  * of `ChatGenerator` (`internal/openai/chat.go:13-16`).
  *
  * This engine is zero-egress by contract, so the production
  * implementation is pluggable and the shipped clients are deterministic
  * stand-ins. The Spark-side plumbing (distribution, ordering, caching,
  * fail-fast) is identical whichever client is plugged in.
  *
  * `complete` may be called from several threads at once (see
  * [[LlmMap.MaxInFlight]]), so an implementation must be thread-safe.
  */
trait ModelClient extends Serializable {
  def complete(systemPrompt: String, userText: String): String
}

/** Deterministic stand-in for the reference's flagship semantics: the
  * engine appends "Return the lines that you want to keep"
  * (`mapreduce.go:91`), i.e. the canonical query is a line-level filter.
  * This client keeps the lines containing `keyword` — a local,
  * reproducible model of the semantic filter in
  * `examples/product-ratings/prompt.txt`.
  */
final case class KeywordFilterClient(keyword: String) extends ModelClient {
  override def complete(systemPrompt: String, userText: String): String =
    userText.split("\n", -1).iterator.filter(_.contains(keyword)).mkString("\n")
}

/** Identity client: echoes the chunk (useful for plumbing tests). */
final case class EchoClient() extends ModelClient {
  override def complete(systemPrompt: String, userText: String): String = userText
}

object LlmMap {
  /** Suffix the reference injects into every prompt (mapreduce.go:91). */
  val FilterSuffix = "\nReturn the lines that you want to keep."

  /** Model calls in flight per executor JVM: the size of the call pool,
    * and the window each task keeps filled. A task that owns the whole
    * stage (AQE may coalesce it to one) still keeps this many calls in
    * flight; several tasks share the pool, so the JVM never exceeds it.
    */
  val MaxInFlight = 64

  /** One pool per JVM, started on first use. Model calls wait on the
    * network, not the CPU, so the pool is sized by [[MaxInFlight]], not
    * by cores. Idle threads time out; the threads are daemons.
    */
  private lazy val pool: ThreadPoolExecutor = {
    val ids = new AtomicInteger
    val threads: ThreadFactory = r => {
      val t = Executors.defaultThreadFactory().newThread(r)
      t.setName(s"graft-llmmap-${ids.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
    val p = new ThreadPoolExecutor(MaxInFlight, MaxInFlight, 30L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), threads)
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** Map stage: chunks(chunk_id, text, ...) -> + result column.
    *
    * A `mapPartitions` stage, not a UDF: each task keeps up to
    * [[MaxInFlight]] `complete` calls in flight on the JVM's call pool
    * and yields each row as its call finishes, so rows leave a task in
    * completion order. The reference's one-goroutine-per-chunk errgroup
    * (mapreduce.go:93-122) is unbounded; this window bounds it per JVM.
    * The optimizer cannot push a filter on `result` below the stage or
    * duplicate it into two projections, so one evaluation of the plan
    * makes exactly one call per chunk.
    *
    * Fail-fast like the reference: the first call that throws fails the
    * task with the client's own exception, and the task's outstanding
    * calls are cancelled — as they are when the task is killed or its
    * consumer stops early.
    */
  def mapChunks(chunks: DataFrame, client: ModelClient, prompt: String,
                textCol: String = "text",
                resultCol: String = "result"): DataFrame =
    stage(chunks, client, prompt, textCol, resultCol, keepErrors = false)

  /** Column of [[mapChunksOrErrors]]: the failed call's exception, or null. */
  val ErrorCol = "error"

  /** [[mapChunks]] (over `text`, into `result`) that keeps going past a
    * failed call: a chunk whose call threw gets a null result and the
    * exception in [[ErrorCol]], so the other chunks' paid work survives.
    */
  private[pipeline] def mapChunksOrErrors(chunks: DataFrame, client: ModelClient,
                                          prompt: String): DataFrame =
    stage(chunks, client, prompt, "text", "result", keepErrors = true)

  private def stage(chunks: DataFrame, client: ModelClient, prompt: String,
                    textCol: String, resultCol: String, keepErrors: Boolean): DataFrame = {
    val sys = prompt + FilterSuffix
    val added = if (keepErrors) Seq(resultCol, ErrorCol) else Seq(resultCol)
    val in = chunks.drop(added: _*)
    val textIdx = in.schema.fieldIndex(textCol)
    val out = added.foldLeft(in.schema)(_.add(_, StringType))
    in.mapPartitions { rows =>
      new InFlight(rows, r => client.complete(sys, r.getString(textIdx))).map {
        case (r, Right(res)) =>
          Row.fromSeq(if (keepErrors) r.toSeq :+ res :+ null else r.toSeq :+ res)
        case (r, Left(e)) if keepErrors && NonFatal(e) =>
          Row.fromSeq(r.toSeq :+ null :+ s"${e.getClass.getName}: ${e.getMessage}")
        case (_, Left(e)) => throw e
      }
    }(Encoders.row(out))
  }

  private type Outcome = (Row, Either[Throwable, String])

  /** One task's window of calls: submits up to [[MaxInFlight]] calls of
    * `f` over `rows` and yields (row, outcome) pairs as they finish,
    * topping the window up after each. A task completion listener
    * cancels whatever is still outstanding when the task ends for any
    * reason; a killed task is noticed while waiting.
    */
  private final class InFlight(rows: Iterator[Row], f: Row => String) extends Iterator[Outcome] {
    private val done = new ExecutorCompletionService[Outcome](pool)
    private val pending = java.util.concurrent.ConcurrentHashMap.newKeySet[Future[_]]()
    private val ctx = TaskContext.get()
    if (ctx != null) ctx.addTaskCompletionListener[Unit] { _ =>
      pending.forEach(_.cancel(true))
    }
    fill()

    private def fill(): Unit =
      while (pending.size < MaxInFlight && rows.hasNext) {
        val row = rows.next()
        val call: Callable[Outcome] = () =>
          try (row, Right(f(row))) catch { case e: Throwable => (row, Left(e)) }
        pending.add(done.submit(call))
      }

    override def hasNext: Boolean = !pending.isEmpty

    override def next(): Outcome = {
      if (pending.isEmpty) throw new NoSuchElementException("no calls in flight")
      var fut = done.poll(100, TimeUnit.MILLISECONDS)
      while (fut == null) {
        if (ctx != null && ctx.isInterrupted())
          throw new TaskKilledException("killed with model calls in flight")
        fut = done.poll(100, TimeUnit.MILLISECONDS)
      }
      pending.remove(fut)
      val got = fut.get()
      fill()
      got
    }
  }
}
