package graft.ingest

import scala.concurrent.duration._
import scala.util.control.NonFatal

/** Retry with exponential backoff — SURVEY §2 E2.
  *
  * Mirrors the reference's retry shell
  * (`databricks/talkdesk_databricks_etl.py:285-327`,
  * `local/async_utils.py:18-52`): base 1 s, delay = base × 2^(attempt−1),
  * retry on retriable failures only, give up after `maxRetries` attempts.
  * HTTP-status classification (5xx and 429 retriable, other 4xx terminal —
  * `local/async_utils.py:91-95,118-122`) is modeled by [[RetriableFailure]] /
  * [[TerminalFailure]]; unknown exceptions are treated as retriable, matching
  * the reference's broad `except Exception` retry arm.
  */
object Retry {

  final case class RetriableFailure(message: String, cause: Throwable = null)
      extends RuntimeException(message, cause)
  final case class TerminalFailure(message: String, cause: Throwable = null)
      extends RuntimeException(message, cause)

  final case class RetryExhausted(attempts: Int, last: Throwable)
      extends RuntimeException(
        s"retry exhausted after $attempts attempts: ${Option(last).map(_.getMessage).getOrElse("?")}",
        last)

  def backoffDelay(base: FiniteDuration, attempt: Int): FiniteDuration =
    base * math.pow(2.0, (attempt - 1).toDouble).toLong

  /** Run `op` up to `maxRetries` times. `sleep` is injectable for tests.
    * The default backoff sleep is marked `blocking`, so a fork-join pool
    * such as `ExecutionContext.global` adds a thread while it sleeps
    * instead of losing one of its workers to the wait.
    */
  def retry[T](
      maxRetries: Int,
      base: FiniteDuration = 1.second,
      sleep: FiniteDuration => Unit = d => scala.concurrent.blocking(Thread.sleep(d.toMillis)))(
      op: Int => T): T = {
    var attempt = 1
    var last: Throwable = null
    while (attempt <= maxRetries) {
      try {
        return op(attempt)
      } catch {
        case t: TerminalFailure => throw t
        case NonFatal(t) =>
          last = t
          if (attempt < maxRetries) sleep(backoffDelay(base, attempt))
          attempt += 1
      }
    }
    throw RetryExhausted(maxRetries, last)
  }

  /** Classify an HTTP status the way the reference does
    * (`local/async_utils.py:91-95`): 5xx and 429 retriable; other 4xx not.
    */
  def isRetriableStatus(status: Int): Boolean =
    status >= 500 || status == 429

  /** Fail a call that got the non-2xx `status`: a [[RetriableFailure]]
    * when [[isRetriableStatus]], else a [[TerminalFailure]], carrying
    * `message`.
    */
  def failStatus(status: Int, message: String): Nothing =
    if (isRetriableStatus(status)) throw RetriableFailure(message)
    else throw TerminalFailure(message)
}
