package graft.core

/** Typed refusal of corrupt, unsupported or over-budget input — `kind` is
  * the stable aggregation vocabulary (`truncated`, `bad_magic`,
  * `too_large`, …) that fault-tolerant scans count per file, and the
  * message is the human detail. Every container, codec and document
  * decoder throws this one type from its strict entry point.
  *
  * A `RuntimeException`, deliberately not an `IllegalArgumentException`:
  * the media decoders signal malformation with the latter and their
  * callers catch it by type, so a refusal never lands in their handlers.
  */
final class Refusal(val kind: String, msg: String) extends RuntimeException(msg)

object Refusal {

  /** Strict → safe for decoders whose only expected failure is a refusal:
    * `Left(kind)` for a [[Refusal]]; any other exception propagates.
    */
  def attempt[A](body: => A): Either[String, A] =
    try Right(body) catch { case e: Refusal => Left(e.kind) }

  /** Strict → safe with a catch-all: `Left(kind)` for a [[Refusal]], and
    * `Left(fallback)` for any other `Exception`, so one rotten file never
    * fails a scan. An `Error` (stack overflow, out of memory) propagates.
    */
  def attempt[A](body: => A, fallback: String): Either[String, A] =
    try Right(body)
    catch {
      case e: Refusal   => Left(e.kind)
      case _: Exception => Left(fallback)
    }
}
