package graft.streaming

/** Exponential-backoff-with-jitter retry for THROTTLED external calls —
  * the ST6 semantics (`handlers/indexing/assetIndexer.py:147-178`: retry
  * 429s up to `maxAttempts` with `2^attempt + uniform(0,1)` seconds,
  * re-raise anything else and the final failure), generalized to the
  * boundaries where this engine actually calls out: a rate-limited
  * model-inference endpoint inside `mapPartitions`
  * ([[graft.llmops.Inference]]) or a throttled sink in a `foreachBatch`
  * handler ([[ChangeFeed.follow]] / [[DocMaintenance.streamMaintainTx]]).
  *
  * Scale note: backoff sleeps on the EXECUTOR task (or the driver's
  * foreachBatch thread) — it never blocks other partitions, and jitter
  * decorrelates a thousand executors hammering the same endpoint (the
  * thundering-herd fix the reference's uniform jitter exists for).
  * Retrying inside the task beats failing it: a task retry would redo
  * the partition's full compute for one throttled call.
  *
  * Determinism for tests: `sleep` and `jitter` inject (a recording fake
  * and a seeded source); production uses `Thread.sleep` and
  * `ThreadLocalRandom`.
  */
object Retry {

  /** Mirrors the reference's shape: attempt `maxAttempts` times;
    * between attempt k (0-based) and the next, wait
    * `min(base * 2^k + jitter() * base, maxDelayMs)` ms. Only
    * throwables `isRetryable` accepts are retried; the last attempt's
    * failure propagates. */
  def withBackoff[A](
      maxAttempts: Int = 5,
      baseDelayMs: Long = 1000,
      maxDelayMs: Long = 30000,
      isRetryable: Throwable => Boolean = defaultRetryable,
      sleep: Long => Unit = Thread.sleep,
      jitter: () => Double = () =>
        java.util.concurrent.ThreadLocalRandom.current().nextDouble())
      (f: => A): A = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1: $maxAttempts")
    var attempt = 0
    while (true) {
      try return f
      catch {
        case t: Throwable if isRetryable(t) && attempt < maxAttempts - 1 =>
          val wait = math.min(
            (baseDelayMs << attempt) + (jitter() * baseDelayMs).toLong,
            maxDelayMs)
          sleep(wait)
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A throttled-call marker for boundaries without typed exceptions —
    * the engine-side stand-in for HTTP 429 / SDK throttling types. */
  final class ThrottledException(msg: String) extends RuntimeException(msg)

  /** Retryable = explicitly-throttled or commonly-transient IO; an
    * analysis error or data corruption must fail immediately (retrying
    * a deterministic failure only hides it for maxAttempts × delay). */
  def defaultRetryable(t: Throwable): Boolean = t match {
    case _: ThrottledException => true
    case _: java.net.SocketTimeoutException => true
    case _: java.io.InterruptedIOException => false
    case _: java.io.IOException => true
    case _ => false
  }
}
