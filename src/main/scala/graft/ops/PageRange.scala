package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** S3/S4/F9 driver utilities (reference `utils.py:82-110`):
  * page-range grammar, chunking, duration formatting. These
  * parameterize the scan (partition pruning analog), they are not
  * per-row operators.
  */
object PageRange {

  /** `validate_page_range` (`utils.py:87-89`): `1,3,5-7,10` grammar. */
  def validate(pageRange: String): Boolean =
    pageRange.matches("^(\\d+(-\\d+)?)(,(\\d+(-\\d+)?))*$")

  /** The grammar's parts as inclusive `(start, end)` bounds, in
    * order; a single page `n` is `(n, n)`. Throws
    * NumberFormatException on a malformed part.
    */
  def ranges(pageRange: String): Seq[(Int, Int)] =
    pageRange.split(",").toSeq.map { part =>
      part.split("-", 2).map(_.toInt) match {
        case Array(start, end) => (start, end)
        case Array(page) => (page, page)
      }
    }

  /** `parse_page_range` (`utils.py:92-100`): expand + sort + clip to
    * [1, totalPages]; out-of-range pages silently dropped.
    */
  def parse(pageRange: String, totalPages: Int): Seq[Int] =
    ranges(pageRange).flatMap { case (s, e) =>
      math.max(s, 1) to math.min(e, totalPages)
    }.distinct.sorted

  /** The rows of the pages [[parse]] would select, as one predicate
    * over `page` that pushes down to the scan: `(page >= max(s, 1) AND
    * page <= e) OR ...`. No page count is needed — a page past the last
    * one matches no row anyway — and nothing is expanded.
    */
  def predicate(pageRange: String, page: Column): Column =
    ranges(pageRange).map { case (s, e) =>
      page >= math.max(s, 1) && page <= e
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** `chunked` (`utils.py:82-84`): micro-batch split. Size 0 raises
    * (Python `range` step-0 ValueError); negative yields nothing.
    */
  def chunked[T](xs: Seq[T], size: Int): Iterator[Seq[T]] = {
    if (size == 0)
      throw new IllegalArgumentException("chunk size must not be zero")
    if (size < 0) Iterator.empty
    else xs.grouped(size)
  }

  /** `format_duration` (`utils.py:103-110`): seconds ->
    * "1h 2m 3s" / "2m 5s" / "3.50s".
    */
  def formatDuration(duration: Double): String = {
    val hours = (duration / 3600).toInt
    val remainder = duration - hours * 3600
    val minutes = (remainder / 60).toInt
    val seconds = remainder - minutes * 60
    if (hours != 0) s"${hours}h ${minutes}m ${seconds.toInt}s"
    else if (minutes != 0) s"${minutes}m ${seconds.toInt}s"
    else f"$seconds%.2fs"
  }
}
