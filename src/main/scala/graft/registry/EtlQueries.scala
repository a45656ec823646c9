package graft
package registry

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Cleanse
import graft.ops._
import Shared.{T, spread}

/** The paper's ETL primitives (cleanse, parent codes, flags, first-
  * occurrence dedup, page pruning) over synthesized messy columns, and
  * the whole-pipeline `pipeline_*_e2e` runs.
  */
object EtlQueries {

  /** DuckDB rendition of [[Cleanse.cleanName]] — same 9 ordered regex
    * passes (trim, CR, TAB, leading digits+NL, trailing NL+digits,
    * NL-collapse, leading digits+space, multispace, trim).
    */
  private def duckCleanName(inner: String): String = {
    val steps = Seq(
      ("^\\s+|\\s+$", "", true), ("\\r", "", true), ("\\t", " ", true),
      ("^\\d+\\n", "", false), ("\\n\\d+$", "", false), ("\\n+", " ", true),
      ("^\\d+\\s+", "", false), ("\\s{2,}", " ", true),
      ("^\\s+|\\s+$", "", true))
    steps.foldLeft(inner) { case (acc, (pat, rep, g)) =>
      s"regexp_replace($acc, '$pat', '$rep'${if (g) ", 'g'" else ""})"
    }
  }

  private def messyName: Column =
    concat(lit("  "), pmod(col("p_partkey"), lit(1000)).cast("string"),
      lit("  "), col("p_name"), lit("\t"))
  private val messyNameSql =
    "('  ' || CAST(p_partkey % 1000 AS VARCHAR) || '  ' || p_name || chr(9))"

  private def islandishCode: Column =
    when(pmod(col("l_linenumber"), lit(3)) === 0,
      concat(pmod(col("l_suppkey"), lit(100)).cast("string"), lit("."),
        pmod(col("l_partkey"), lit(100)).cast("string")))
      .otherwise(concat(
        lpad(pmod(col("l_suppkey"), lit(100)).cast("string"), 2, "0"), lit("."),
        lpad(pmod(col("l_partkey"), lit(100)).cast("string"), 2, "0"), lit("."),
        lpad(pmod(col("l_orderkey"), lit(100000)).cast("string"), 5, "0")))
  private val islandishCodeSql =
    """(CASE WHEN l_linenumber % 3 = 0
      | THEN CAST(l_suppkey % 100 AS VARCHAR) || '.' || CAST(l_partkey % 100 AS VARCHAR)
      | ELSE lpad(CAST(l_suppkey % 100 AS VARCHAR), 2, '0') || '.' ||
      |      lpad(CAST(l_partkey % 100 AS VARCHAR), 2, '0') || '.' ||
      |      lpad(CAST(l_orderkey % 100000 AS VARCHAR), 5, '0') END)"""
      .stripMargin.replaceAll("\\s+", " ").trim

  val defs: Seq[QueryDef] = Seq(
    // F1: clean_name regexp chain over a synthesized messy column.
    QueryDef("f1_clean_name", (s, dir) =>
      T(s, dir, "part").select(col("p_partkey"),
        Cleanse.cleanName(messyName).as("cleaned")),
      s"SELECT p_partkey, ${duckCleanName(messyNameSql)} AS cleaned FROM part"),

    // P5: variant-dependent projection (width-keyed column pick).
    QueryDef("p5_variant_projection", (s, dir) =>
      T(s, dir, "events").select(col("event_id"),
        when(pmod(length(col("props")), lit(2)) === 0, col("event_type"))
          .otherwise(col("user_id").cast("string")).as("picked")),
      ("SELECT event_id, CASE WHEN length(props) % 2 = 0 THEN event_type " +
        "ELSE CAST(user_id AS VARCHAR) END AS picked FROM events")),

    // P6: first-non-empty coalesce across candidate columns.
    QueryDef("p6_coalesce", (s, dir) => {
      val cand1 = when(pmod(col("c_custkey"), lit(3)) === 0, lit("   "))
        .otherwise(col("c_name"))
      def nonEmpty(c: Column) =
        when(trim(c) === "", lit(null)).otherwise(trim(c))
      T(s, dir, "customer").select(col("c_custkey"),
        coalesce(nonEmpty(cand1), nonEmpty(col("c_mktsegment")),
          lit("unknown")).as("picked_name"))
    },
      ("SELECT c_custkey, coalesce(" +
        "nullif(trim(CASE WHEN c_custkey % 3 = 0 THEN '   ' ELSE c_name END), ''), " +
        "nullif(trim(c_mktsegment), ''), 'unknown') AS picked_name FROM customer")),

    // P7: non-empty row filter (code AND name non-blank after trim).
    QueryDef("p7_nonempty_filter", (s, dir) => {
      val name2 = when(pmod(col("p_partkey"), lit(7)) === 0, lit(" "))
        .otherwise(col("p_name"))
      T(s, dir, "part")
        .select(col("p_partkey"), name2.as("name"), col("p_brand").as("brand"))
        .filter(length(trim(col("name"))) > 0 && length(trim(col("brand"))) > 0)
    },
      ("SELECT p_partkey, CASE WHEN p_partkey % 7 = 0 THEN ' ' ELSE p_name END AS name, " +
        "p_brand AS brand FROM part " +
        "WHERE length(trim(CASE WHEN p_partkey % 7 = 0 THEN ' ' ELSE p_name END)) > 0 " +
        "AND length(trim(p_brand)) > 0")),

    // P8: island code-format rlike filter over synthesized codes.
    QueryDef("p8_code_filter", (s, dir) =>
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          islandishCode.as("code"))
        .filter(col("code").rlike(Cleanse.IslandCodeRegex)),
      (s"SELECT l_orderkey, l_linenumber, $islandishCodeSql AS code FROM lineitem " +
        s"WHERE regexp_matches($islandishCodeSql, '^\\d{2}\\.\\d{2}\\.\\d{5}$$')")),

    // F5: is_populated / is_outermost_small flag derivation.
    QueryDef("f5_flags", (s, dir) => {
      val status = when(pmod(col("o_orderkey"), lit(3)) === 0, lit(" BP"))
        .when(pmod(col("o_orderkey"), lit(3)) === 1, lit("TBP"))
        .otherwise(lit("BP/TBP"))
      val info = when(pmod(col("o_orderkey"), lit(5)) === 0,
        lit("pulau PPKT kecil")).otherwise(col("o_orderstatus"))
      T(s, dir, "orders").select(col("o_orderkey"),
        Cleanse.isPopulated(status).as("is_populated"),
        Cleanse.isOutermostSmall(info).as("is_outermost_small"))
    },
      ("SELECT o_orderkey, " +
        "CASE WHEN regexp_matches(upper(CASE WHEN o_orderkey % 3 = 0 THEN ' BP' " +
        "WHEN o_orderkey % 3 = 1 THEN 'TBP' ELSE 'BP/TBP' END), '^\\s*BP\\b') " +
        "THEN 1 ELSE 0 END AS is_populated, " +
        "CASE WHEN contains(upper(CASE WHEN o_orderkey % 5 = 0 THEN 'pulau PPKT kecil' " +
        "ELSE o_orderstatus END), 'PPKT') THEN 1 ELSE 0 END AS is_outermost_small " +
        "FROM orders")),

    // F6: island parent code with the "00" -> empty sentinel.
    QueryDef("f6_island_parent", (s, dir) =>
      T(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        islandishCode.as("code"))
        .select(col("l_orderkey"), col("l_linenumber"), col("code"),
          Cleanse.islandParentCode(col("code")).as("regency_code")),
      (s"SELECT l_orderkey, l_linenumber, $islandishCodeSql AS code, " +
        s"CASE WHEN substr($islandishCodeSql, 4, 2) = '00' THEN '' " +
        s"ELSE substr($islandishCodeSql, 1, 5) END AS regency_code FROM lineitem")),

    // F7: area parent prefixes (province/regency/district from village).
    QueryDef("f7_parent_prefix", (s, dir) => {
      val vcode = lpad(col("o_orderkey").cast("string"), 13, "0")
      T(s, dir, "orders").select(col("o_orderkey"), vcode.as("vcode"),
        Cleanse.parentPrefix(vcode, Cleanse.ProvinceCodeLength).as("province_code"),
        Cleanse.parentPrefix(vcode, Cleanse.RegencyCodeLength).as("regency_code"),
        Cleanse.parentPrefix(vcode, Cleanse.DistrictCodeLength).as("district_code"))
    },
      ("SELECT o_orderkey, lpad(CAST(o_orderkey AS VARCHAR), 13, '0') AS vcode, " +
        "substr(lpad(CAST(o_orderkey AS VARCHAR), 13, '0'), 1, 2) AS province_code, " +
        "substr(lpad(CAST(o_orderkey AS VARCHAR), 13, '0'), 1, 5) AS regency_code, " +
        "substr(lpad(CAST(o_orderkey AS VARCHAR), 13, '0'), 1, 8) AS district_code " +
        "FROM orders")),

    // A1: first-occurrence dedup (window by key, ordered, rn=1).
    QueryDef("a1_first_dedup", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey").as("first_orderkey"),
          col("o_orderstatus"))
    },
      ("SELECT o_custkey, o_orderkey AS first_orderkey, o_orderstatus FROM orders " +
        "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1")),

    // O1: sort + top-k with deterministic tie-break.
    QueryDef("o1_topk", (s, dir) =>
      T(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice")),
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100")),

    // J1: broadcast left-anti RI check (orphan children).
    QueryDef("j1_ri_antijoin", (s, dir) => {
      val parents = T(s, dir, "customer")
        .filter(pmod(col("c_custkey"), lit(7)) =!= 0)
      RefIntegrity.orphans(T(s, dir, "orders"), parents,
        "o_custkey", "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"))
    },
      ("SELECT o_orderkey, o_custkey FROM orders WHERE NOT EXISTS " +
        "(SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_custkey % 7 <> 0)")),

    // S3: page-range pruning pushed to the scan as an isin filter.
    QueryDef("s3_page_prune", (s, dir) => {
      val pages = PageRange.parse("1-4,6", 20)
      T(s, dir, "events")
        .withColumn("page", (pmod(col("event_id"), lit(20)) + 1).cast("int"))
        .filter(col("page").isin(pages: _*))
        .select(col("event_id"), col("page"), col("event_type"))
    },
      ("SELECT event_id, CAST(event_id % 20 + 1 AS INTEGER) AS page, event_type " +
        "FROM events WHERE event_id % 20 + 1 IN (1, 2, 3, 4, 6)")),

    // S1: metadata scan analog — per-page row stats, the file-listing/
    // page-count step that bounds the reference's page range
    // (`cli.py:146-150`).
    QueryDef("s1_page_stats", (s, dir) =>
      T(s, dir, "events")
        .withColumn("page", (pmod(col("event_id"), lit(20)) + 1).cast("int"))
        .groupBy("page")
        .agg(count(lit(1)).as("n_rows"), max(col("event_id")).as("max_id")),
      ("SELECT CAST(event_id % 20 + 1 AS INTEGER) AS page, " +
        "count(*) AS n_rows, max(event_id) AS max_id FROM events " +
        "GROUP BY 1")),

    // W1: document-order discipline (ordered projection + bound).
    QueryDef("w1_ordered_projection", (s, dir) =>
      T(s, dir, "events")
        .orderBy(col("event_id"))
        .limit(500)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value")),
      ("SELECT event_id, user_id, event_type, value FROM events " +
        "ORDER BY event_id LIMIT 500")),

    // Whole-pipeline E2E, area family: cell tables are SYNTHESIZED from
    // the customer table (header + subheader literals unioned with one
    // data row per customer, code length cycling 2/5/8/13), then run
    // through the REAL dispatch + area pipeline — header sniff and
    // province candidates in the table meta (collected while the query
    // is built), variant projection, cleanse chain, length
    // classification, parent prefixes, ordered province dedup. The
    // oracle replays the data-row semantics in SQL.
    QueryDef("pipeline_area_e2e", (s, dir) => {
      val k = col("c_custkey")
      val code = when(pmod(k, lit(4)) === 0,
        lpad(pmod(k, lit(100)).cast("string"), 2, "0"))
        .when(pmod(k, lit(4)) === 1, lpad(k.cast("string"), 5, "0"))
        .when(pmod(k, lit(4)) === 2, lpad(k.cast("string"), 8, "0"))
        .otherwise(lpad(k.cast("string"), 13, "0"))
      val pad5 = Seq.fill(5)(lit(""))
      // the extract is one pass over the spread's one exchange
      val data = spread(T(s, dir, "customer")).select(
        lit(0L).as("table_id"), lit(1).as("page"),
        (k + 2).cast("int").as("row_idx"), (k + 2).as("seq"),
        array(code +: col("c_name") +: pad5: _*).as("cells"))
      val headRows = Seq(
        (0, Seq("K o d e", "NAMA PROVINSI / KABUPATEN / KOTA",
          "", "", "", "", "")),
        (1, Seq("1", "2", "3", "4", "5", "6", "7")))
      val header = headRows.foldLeft(Option.empty[DataFrame]) {
        case (acc, (idx, cs)) =>
          val row = s.range(1).select(
            lit(0L).as("table_id"), lit(1).as("page"),
            lit(idx).as("row_idx"), lit(idx.toLong).as("seq"),
            typedLit(cs).as("cells"))
          Some(acc.fold(row)(_.unionByName(row)))
      }.get
      val cells = header.unionByName(data)
      val (areaRows, _) = Dispatch.extractAll(cells)
      areaRows.select(col("entity"), col("code"),
        coalesce(col("parent_code"), lit("")).as("parent"), col("name"))
    },
      ("WITH d AS (SELECT c_custkey AS k, trim(c_name) AS name, " +
        "CASE c_custkey % 4 " +
        "WHEN 0 THEN lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') " +
        "WHEN 1 THEN lpad(CAST(c_custkey AS VARCHAR), 5, '0') " +
        "WHEN 2 THEN lpad(CAST(c_custkey AS VARCHAR), 8, '0') " +
        "ELSE lpad(CAST(c_custkey AS VARCHAR), 13, '0') END AS code " +
        "FROM customer) " +
        "SELECT CASE k % 4 WHEN 1 THEN 'regency' WHEN 2 THEN 'district' " +
        "ELSE 'village' END AS entity, code, " +
        "CASE k % 4 WHEN 1 THEN substr(code, 1, 2) " +
        "WHEN 2 THEN substr(code, 1, 5) ELSE substr(code, 1, 8) END AS parent, " +
        "name FROM d WHERE k % 4 <> 0 " +
        "UNION ALL " +
        "SELECT 'province', code, '', name FROM " +
        "(SELECT code, name, row_number() OVER " +
        "(PARTITION BY code ORDER BY k) AS rn FROM d WHERE k % 4 = 0) " +
        "WHERE rn = 1")),

    // Whole-pipeline E2E, island family: same construction over orders
    // — canonical coordinates (format_coordinate is idempotent on its
    // own output, pinned by ScalaCheck), status/info flags by key
    // parity, an invalid short code every 5th row that the code-format
    // filter must drop.
    QueryDef("pipeline_island_e2e", (s, dir) => {
      val k = col("o_orderkey")
      val code = when(pmod(k, lit(5)) === 0, lit("bad"))
        .otherwise(concat(
          lpad(pmod(k, lit(90)).cast("string"), 2, "0"), lit("."),
          lpad(pmod(k, lit(97)).cast("string"), 2, "0"), lit("."),
          lpad(pmod(k, lit(99999)).cast("string"), 5, "0")))
      val coord = concat(
        lpad(pmod(k, lit(10)).cast("string"), 2, "0"), lit("°"),
        lpad(pmod(k, lit(60)).cast("string"), 2, "0"), lit("'"),
        lpad(pmod(k, lit(60)).cast("string"), 2, "0"), lit(".00\" N "),
        lpad(pmod(k, lit(140)).cast("string"), 3, "0"), lit("°"),
        lpad(pmod(k, lit(59)).cast("string"), 2, "0"), lit("'"),
        lpad(pmod(k, lit(59)).cast("string"), 2, "0"), lit(".00\" E"))
      val status = when(pmod(k, lit(2)) === 0, lit("BP")).otherwise(lit("TBP"))
      val info = when(pmod(k, lit(3)) === 0, lit("PPKT")).otherwise(lit(""))
      val name = concat(lit("Pulau "), k.cast("string"))
      val data = spread(T(s, dir, "orders"))
        .select(
        lit(0L).as("table_id"), lit(1).as("page"),
        (k + 1).cast("int").as("row_idx"), (k + 1).as("seq"),
        array(k.cast("string"), code, name, coord, status, info).as("cells"))
      val header = s.range(1).select(
        lit(0L).as("table_id"), lit(1).as("page"),
        lit(0).as("row_idx"), lit(0L).as("seq"),
        typedLit(Seq("No", "Kode Pulau", "Nama Pulau", "Koordinat",
          "BP/TBP", "Keterangan")).as("cells"))
      val (_, islandRows) = Dispatch.extractAll(header.unionByName(data))
      islandRows.select(col("code"), col("regency_code"), col("coordinate"),
        col("is_populated"), col("is_outermost_small"), col("name"))
    },
      ("WITH d AS (SELECT o_orderkey AS k, " +
        "CASE WHEN o_orderkey % 5 = 0 THEN 'bad' ELSE " +
        "lpad(CAST(o_orderkey % 90 AS VARCHAR), 2, '0') || '.' || " +
        "lpad(CAST(o_orderkey % 97 AS VARCHAR), 2, '0') || '.' || " +
        "lpad(CAST(o_orderkey % 99999 AS VARCHAR), 5, '0') END AS code, " +
        "lpad(CAST(o_orderkey % 10 AS VARCHAR), 2, '0') || '°' || " +
        "lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') || '''' || " +
        "lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') || '.00\" N ' || " +
        "lpad(CAST(o_orderkey % 140 AS VARCHAR), 3, '0') || '°' || " +
        "lpad(CAST(o_orderkey % 59 AS VARCHAR), 2, '0') || '''' || " +
        "lpad(CAST(o_orderkey % 59 AS VARCHAR), 2, '0') || '.00\" E' " +
        "AS coord, " +
        "'Pulau ' || CAST(o_orderkey AS VARCHAR) AS name FROM orders) " +
        "SELECT code, CASE WHEN substr(code, 4, 2) = '00' THEN '' " +
        "ELSE substr(code, 1, 5) END AS regency_code, " +
        "coord AS coordinate, " +
        "CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END AS is_populated, " +
        "CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS is_outermost_small, " +
        "name FROM d " +
        "WHERE regexp_matches(code, '^\\d{2}\\.\\d{2}\\.\\d{5}$')")))
}
