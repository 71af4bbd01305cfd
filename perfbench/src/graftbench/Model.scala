package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import graft.pipeline.{KeywordFilterClient, ModelClient}

/** One model call as seen at the `ModelClient` boundary. Times are
  * `System.nanoTime`; `task` is the Spark task attempt that made the call.
  */
final case class Call(startNs: Long, endNs: Long, task: Long, textHash: Long,
                      tokens: Int)

/** Process-wide call log. Spark runs `local[n]`, so the executor threads
  * that call the model share this JVM with the benchmark driver.
  */
object Calls {
  val count = new AtomicLong
  @volatile var detailed = false
  val log = new ConcurrentLinkedQueue[Call]()

  def reset(detail: Boolean): Unit = {
    count.set(0); log.clear(); detailed = detail
  }
}

/** The model stand-in: answers exactly like [[KeywordFilterClient]] and
  * first sleeps for a latency drawn by [[Gen.latencyMs]]. The sleep blocks
  * the calling task thread, as a synchronous HTTP call would, so the load
  * adds no threads.
  */
final case class SimulatedModel(keyword: String, seed: Long, medianMs: Double,
                                capMs: Double) extends ModelClient {
  private val answer = KeywordFilterClient(keyword)

  override def complete(systemPrompt: String, userText: String): String = {
    val t0 = System.nanoTime()
    val ms = Gen.latencyMs(seed, userText, medianMs, capMs)
    if (ms > 0) {
      val whole = ms.toLong
      Thread.sleep(whole, ((ms - whole) * 1e6).toInt)
    }
    val out = answer.complete(systemPrompt, userText)
    val t1 = System.nanoTime()
    Calls.count.incrementAndGet()
    if (Calls.detailed) {
      val ctx = org.apache.spark.TaskContext.get()
      Calls.log.add(Call(t0, t1, if (ctx == null) -1L else ctx.taskAttemptId(),
        (userText.hashCode.toLong << 32) |
          (scala.util.hashing.MurmurHash3.stringHash(userText) & 0xffffffffL),
        graft.expressions.TokenCountCl100k.count(userText)))
    }
    out
  }
}
