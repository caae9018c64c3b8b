package graft.llm

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, Future}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/** Per-row LLM call surface (operator X6 in SURVEY.md §2.8) — the
  * north-star "DataFrame + UDF for OpenAI calls" directive, implemented
  * as `mapPartitions` so the transport client is constructed ONCE per
  * partition (per task), not per row.
  *
  * Each task keeps a sliding window of at most [[InFlightPerTask]] chat
  * calls outstanding on a shared pool of daemon threads (`graft-llm-*`):
  * the calls are latency-bound, so one task overlaps them instead of
  * blocking on one round trip per row. Rows come out in input order,
  * and at most the window's rows are buffered at any partition size.
  * Every row runs its own `Retry.withRetry` (3 attempts); a row that
  * exhausts them fails the task with the client's last exception. When
  * the task ends — success, failure, kill, or a downstream `limit` that
  * stops reading early — its outstanding calls are cancelled with
  * interruption, so no paid call outlives its task.
  *
  * The client factory is a plain serializable function so production
  * injects an HTTP-backed client while tests/offline inject
  * [[StubBatchClient]] (this environment is zero-egress).
  */
object LlmUdf {

  /** Chat calls one task keeps in flight. A constant, not an option:
    * rate limiting belongs inside the client (see [[BatchClient.chat]]).
    */
  val InFlightPerTask = 16

  /** Shared by every task of the JVM; threads are created on demand and
    * retire when idle, so the pool costs nothing while no call runs.
    */
  private lazy val pool: ExecutorService = {
    val n = new AtomicInteger
    Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"graft-llm-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** df + `outCol` string column = model response for (system, user)
    * prompt built from `textCol`. Schema-preserving append.
    */
  def withCompletions(df: DataFrame, textCol: String, outCol: String,
                      model: String, systemPrompt: String,
                      clientFactory: () => BatchClient): DataFrame = {
    val schema = df.schema.add(StructField(outCol, StringType, nullable = true))
    val enc = Encoders.row(schema)
    val textIdx = df.schema.fieldIndex(textCol)
    df.mapPartitions { rows =>
      val client = clientFactory() // one client per task
      val window = new Window(rows, (r: Row) => {
        val text = if (r.isNullAt(textIdx)) null else r.getString(textIdx)
        val resp =
          if (text == null) null
          else Retry.withRetry(attempts = 3, baseDelayMs = 0, sleep = _ => ())(
            client.chat(model, systemPrompt, text))
        Row.fromSeq(r.toSeq :+ resp)
      })
      TaskContext.get().addTaskCompletionListener[Unit](_ => window.cancel())
      window
    }(enc)
  }

  /** `in.map(f)` with up to [[InFlightPerTask]] applications of `f`
    * running ahead on the pool, results in input order. Used from the
    * task thread only (Spark runs completion listeners there too).
    */
  private final class Window(in: Iterator[Row], f: Row => Row) extends Iterator[Row] {
    private val pending = new java.util.ArrayDeque[Future[Row]](InFlightPerTask)

    private def fill(): Unit =
      while (pending.size < InFlightPerTask && in.hasNext) {
        val r = in.next()
        pending.add(pool.submit(new Callable[Row] { def call(): Row = f(r) }))
      }

    def hasNext: Boolean = { fill(); !pending.isEmpty }

    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException("next on empty iterator")
      try pending.poll().get()
      catch { case e: ExecutionException => throw e.getCause }
    }

    /** Cancel every outstanding call, interrupting those running. */
    def cancel(): Unit = while (!pending.isEmpty) pending.poll().cancel(true)
  }
}
