package graft.ops

import org.apache.spark.sql.functions.col
import graft.SparkSpec

/** Mirrors `tests/test_utils.py:166-230` (chunked, page range,
  * format_duration), and pins [[PageRange.predicate]] to [[PageRange.parse]].
  */
class PageRangeSpec extends SparkSpec {
  import PageRange._

  test("validate_page_range") {
    assert(validate("1,3,5-7,10"))
    assert(validate("2-2"))
    assert(!validate("1,,3"))
    assert(!validate("a-b"))
    assert(!validate(""))
  }

  test("parse_page_range expand/sort/clip") {
    assert(parse("1", 10) == Seq(1))
    assert(parse("1,3,5", 10) == Seq(1, 3, 5))
    assert(parse("1-3", 10) == Seq(1, 2, 3))
    assert(parse("1-15", 10) == (1 to 10))
    assert(parse("1-3,2,5-6,100", 10) == Seq(1, 2, 3, 5, 6))
  }

  test("parse_page_range invalid raises") {
    intercept[NumberFormatException](parse("a-b", 10))
  }

  test("predicate selects the pages isin(parse(spec, lastPage)) selects") {
    import graft.SparkTestSession.spark.implicits._
    val rnd = new scala.util.Random(7)
    def part(): String = {
      val s = rnd.nextInt(14)
      if (rnd.nextBoolean()) s.toString else s"$s-${rnd.nextInt(14)}"
    }
    val specs = Seq("1", "0", "0-0", "5-3", "1-2000000000") ++
      Seq.fill(120)(Seq.fill(1 + rnd.nextInt(4))(part()).mkString(","))
    assert(specs.forall(validate))
    // page sets: with page 0, gaps, repeats, a last page inside or
    // below the specs' ranges, and empty input
    val pageSets = Seq(Seq.empty[Int], Seq(0), Seq(0, 1, 2), (0 to 13),
      Seq(1, 1, 3, 3, 9)) ++
      Seq.fill(10)(Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(14)))
    for (pages <- pageSets) {
      val lastPage = if (pages.isEmpty) 0 else pages.max
      val df = pages.toDF("page")
      val rows = df.select(specs.flatMap { spec =>
        Seq(predicate(spec, col("page")),
          col("page").isin(parse(spec, lastPage): _*))
      }: _*).collect()
      assert(rows.length == pages.length)
      for (row <- rows; (spec, i) <- specs.zipWithIndex) {
        val byPredicate = !row.isNullAt(2 * i) && row.getBoolean(2 * i)
        val byParse = !row.isNullAt(2 * i + 1) && row.getBoolean(2 * i + 1)
        assert(byPredicate == byParse,
          s"spec '$spec' over pages $pages: row $row")
      }
    }
  }

  test("predicate for a huge range is built without expanding it") {
    val t0 = System.nanoTime()
    val p = predicate("1-2000000000", col("page"))
    assert((System.nanoTime() - t0) / 1e9 < 1.0)
    assert(ranges("1-2000000000,7") == Seq((1, 2000000000), (7, 7)))
    import graft.SparkTestSession.spark.implicits._
    val kept = Seq(0, 1, 5, 2000000000, Int.MaxValue).toDF("page")
      .filter(p).as[Int].collect().toSeq
    assert(kept == Seq(1, 5, 2000000000))
  }

  test("chunked") {
    assert(chunked((1 to 9).toList, 4).toList ==
      List(List(1, 2, 3, 4), List(5, 6, 7, 8), List(9)))
    assert(chunked(List.empty[Int], 3).toList == Nil)
    assert(chunked(List(1), 3).toList == List(List(1)))
    assert(chunked(List(1, 2), 5).toList == List(List(1, 2)))
    assert(chunked(List(1, 2, 3), 1).toList ==
      List(List(1), List(2), List(3)))
    intercept[IllegalArgumentException](chunked(List(1, 2, 3), 0))
    assert(chunked(List(1, 2, 3), -2).toList == Nil)
  }

  test("format_duration") {
    assert(formatDuration(3723.4) == "1h 2m 3s")
    assert(formatDuration(125.0) == "2m 5s")
    assert(formatDuration(3.5) == "3.50s")
  }
}
