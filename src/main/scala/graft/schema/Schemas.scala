package graft.schema

/** Engine ingest schema — the post-camelot cell-table boundary
  * (FIXTURES.md §1). One row per extracted table cell-row; all cells
  * strings; `seq` is load-bearing global document order
  * (reference golden files are order-sensitive, byte-compared —
  * `tests/test_e2e.py:17-21`).
  *
  * @param table_id one id per detected table grid
  * @param page     source page number
  * @param row_idx  0-based ordinal of the row within its table
  * @param seq      global document order
  * @param cells    the raw cell strings, positional
  */
case class RawTableRow(
    table_id: Long,
    page: Int,
    row_idx: Int,
    seq: Long,
    cells: Seq[String])
