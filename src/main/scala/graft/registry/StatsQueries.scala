package graft
package registry

import org.apache.spark.sql.functions._
import graft.ops._
import Shared.T

/** Statistics and data-quality audits: DQ suites, privacy, covariance
  * and trends, robust outliers, dependencies and quantiles.
  */
object StatsQueries {

  val defs: Seq[QueryDef] = Seq(
    // Snapshot-drift data contract: documents vs a mutated "today"
    // snapshot (planted NULLs in source/lang by id modulus). Integer
    // cross-multiplied rate verdict; 2 scans total for any number of
    // tracked columns (one multi-null-count aggregate per side).
    QueryDef("dq_drift", (s, dir) => {
      val prev = T(s, dir, "documents")
      val cur = prev.select(col("doc_id"),
        when(col("doc_id") % 200 === 0, lit(null)).otherwise(col("lang"))
          .as("lang"),
        when(col("doc_id") % 25 === 0, lit(null)).otherwise(col("source"))
          .as("source"),
        col("text"))
      DataQuality.drift(prev, cur, Seq("lang", "source", "text"),
        tolerancePct = 5)
    },
      // replay both sides' null counts and the cross-multiplied verdict
      ("""WITH cur AS (SELECT doc_id,
         |  CASE WHEN doc_id % 200 = 0 THEN NULL ELSE lang END AS lang,
         |  CASE WHEN doc_id % 25 = 0 THEN NULL ELSE source END AS source,
         |  text FROM documents),
         |p AS (SELECT count(*) AS prev_rows,
         |  count(CASE WHEN lang IS NULL THEN 1 END) AS n_lang,
         |  count(CASE WHEN source IS NULL THEN 1 END) AS n_source,
         |  count(CASE WHEN text IS NULL THEN 1 END) AS n_text
         |  FROM documents),
         |c AS (SELECT count(*) AS cur_rows,
         |  count(CASE WHEN lang IS NULL THEN 1 END) AS n_lang,
         |  count(CASE WHEN source IS NULL THEN 1 END) AS n_source,
         |  count(CASE WHEN text IS NULL THEN 1 END) AS n_text FROM cur),
         |u AS (
         |  SELECT 'lang' AS col_name, p.prev_rows, p.n_lang AS prev_nulls,
         |    c.cur_rows, c.n_lang AS cur_nulls FROM p, c
         |  UNION ALL
         |  SELECT 'source', p.prev_rows, p.n_source, c.cur_rows,
         |    c.n_source FROM p, c
         |  UNION ALL
         |  SELECT 'text', p.prev_rows, p.n_text, c.cur_rows, c.n_text
         |    FROM p, c)
         |SELECT col_name, prev_rows, prev_nulls, cur_rows, cur_nulls,
         |  CAST(abs(cur_nulls * prev_rows - prev_nulls * cur_rows) * 100
         |    <= 5 * prev_rows * cur_rows AS INTEGER) AS within_pct
         |FROM u"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Declarative data-quality suite — the pre-flight gate over the
    // star schema: key uniqueness, completeness, value invariants and
    // the lineitem→orders referential containment (all hold on this
    // fixture — the suite proves a CLEAN bill exactly, and any
    // violation would land in `observed` with passed = 0).
    QueryDef("dq_checks", (s, dir) => DataQuality.suite(Seq(
      DataQuality.uniqueness(T(s, dir, "orders"),
        "orders_pk_unique", col("o_orderkey")),
      DataQuality.uniqueness(T(s, dir, "customer"),
        "customer_pk_unique", col("c_custkey")),
      DataQuality.completeness(T(s, dir, "orders"),
        "orders_custkey_complete", col("o_custkey")),
      DataQuality.constraint(T(s, dir, "lineitem"),
        "lineitem_qty_positive", col("l_quantity") > 0),
      DataQuality.constraint(T(s, dir, "events"),
        "events_value_nonneg", col("value") >= 0),
      DataQuality.containment(
        T(s, dir, "lineitem"), col("l_orderkey"),
        T(s, dir, "orders"), col("o_orderkey"),
        "lineitem_orderkey_contained"))),
      // every observation an exact count; the RI check's orphan count
      // replays as the NOT EXISTS the anti-join implements
      ("SELECT 'orders_pk_unique' AS check, " +
        "count(*) - count(DISTINCT o_orderkey) AS observed, " +
        "CAST(count(*) = count(DISTINCT o_orderkey) AS INTEGER) " +
        "AS passed FROM orders " +
        "UNION ALL SELECT 'customer_pk_unique', " +
        "count(*) - count(DISTINCT c_custkey), " +
        "CAST(count(*) = count(DISTINCT c_custkey) AS INTEGER) " +
        "FROM customer " +
        "UNION ALL SELECT 'orders_custkey_complete', " +
        "count(CASE WHEN o_custkey IS NULL THEN 1 END), " +
        "CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) = 0 " +
        "AS INTEGER) FROM orders " +
        "UNION ALL SELECT 'lineitem_qty_positive', " +
        "count(CASE WHEN NOT coalesce(l_quantity > 0, FALSE) " +
        "THEN 1 END), " +
        "CAST(count(CASE WHEN NOT coalesce(l_quantity > 0, FALSE) " +
        "THEN 1 END) = 0 AS INTEGER) FROM lineitem " +
        "UNION ALL SELECT 'events_value_nonneg', " +
        "count(CASE WHEN NOT coalesce(value >= 0, FALSE) THEN 1 END), " +
        "CAST(count(CASE WHEN NOT coalesce(value >= 0, FALSE) " +
        "THEN 1 END) = 0 AS INTEGER) FROM events " +
        "UNION ALL SELECT 'lineitem_orderkey_contained', " +
        "(SELECT count(*) FROM lineitem l WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)), " +
        "CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) " +
        "= 0 AS INTEGER)")),

    // Join-blowup pre-flight audit: what would events ⨝ purchases on
    // user_id produce — per-key multiplicities for the 10 hottest
    // keys, total output rows, matched keys and the hottest key's
    // share, computed from the two key-count aggregates alone (the
    // skew audit you run BEFORE committing the shuffle; output-bound
    // work never happens).
    QueryDef("join_blowup_audit", (s, dir) => {
      val ev = T(s, dir, "events")
      Profiling.joinBlowupAudit(
        ev.select(col("user_id").as("jk")),
        ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("jk")),
        "jk", topK = 10)
    },
      // the audit replayed from the same two key-count aggregates;
      // the desc/key tie-break makes the top-10 SET deterministic
      ("WITH l AS (SELECT user_id AS key FROM events " +
        "WHERE user_id IS NOT NULL), " +
        "r AS (SELECT user_id AS key FROM events " +
        "WHERE user_id IS NOT NULL AND event_type = 'purchase'), " +
        "lc AS (SELECT key, count(*) AS l_cnt FROM l GROUP BY 1), " +
        "rc AS (SELECT key, count(*) AS r_cnt FROM r GROUP BY 1), " +
        "per AS (SELECT key, l_cnt, r_cnt, " +
        "l_cnt * r_cnt AS out_rows FROM lc JOIN rc USING (key)), " +
        "t AS (SELECT CAST(sum(out_rows) AS BIGINT) " +
        "AS total_out_rows, count(*) AS matched_keys, " +
        "CAST(max(out_rows) AS BIGINT) AS mx FROM per) " +
        "SELECT key, l_cnt, r_cnt, out_rows, total_out_rows, " +
        "matched_keys, CAST(mx * 100 // total_out_rows AS BIGINT) " +
        "AS top_share_pct FROM per CROSS JOIN t " +
        "ORDER BY out_rows DESC, key LIMIT 10")),

    // k-anonymity / l-diversity privacy audit: every (nation, market
    // segment) quasi-identifier combination with its group size,
    // distinct count of the sensitive balance-bucket, and both
    // violation flags — one aggregate, all exact integers.
    QueryDef("k_anonymity", (s, dir) =>
      DataQuality.kAnonymity(T(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("long"), k = 10L, l = 3L),
      // floor-then-cast keeps the bucket integral before the cast, so
      // DuckDB's round-on-cast and Spark's truncate agree by
      // construction; the division itself is the same IEEE double op
      // on both engines
      ("SELECT c_nationkey, c_mktsegment, count(*) AS grp_n, " +
        "count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) " +
        "AS n_sensitive, " +
        "CAST(count(*) < 10 AS INTEGER) AS at_risk, " +
        "CAST(count(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) " +
        "< 3 AS INTEGER) AS low_diversity " +
        "FROM customer GROUP BY 1, 2")),

    // Per-group OLS trend: slope of extended price on quantity per
    // return flag, carried as exact DECIMAL(38,0) numerator and
    // denominator plus their single IEEE division; zero-variance
    // groups flag degenerate instead of emitting NULL. The exact
    // num/den leave as canonical digit STRINGS (beyond int64 range —
    // wide decimals in a final schema are hash-unstable across
    // engines, the r15 gate lesson).
    QueryDef("ols_trend", (s, dir) =>
      Profiling.olsTrend(T(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", "l_extendedprice")
        .withColumn("slope_num", col("slope_num").cast("string"))
        .withColumn("slope_den", col("slope_den").cast("string"))
        .orderBy("l_returnflag"),
      // the same fixed-point sums in HUGEINT; slope one division;
      // num/den as canonical digit strings (beyond int64 — wide
      // decimals hash engine-dependently, r15)
      ("""WITH s AS (SELECT l_returnflag,
         |  CAST(round(l_quantity * 10000.0) AS HUGEINT) AS x,
         |  CAST(round(l_extendedprice * 10000.0) AS HUGEINT) AS y
         |  FROM lineitem),
         |a AS (SELECT l_returnflag, CAST(count(*) AS HUGEINT) AS n,
         |  sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
         |  sum(x * y) AS sxy FROM s GROUP BY 1)
         |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
         |  CAST(n * sxy - sx * sy AS VARCHAR) AS slope_num,
         |  CAST(n * sxx - sx * sx AS VARCHAR) AS slope_den,
         |  (n * sxx - sx * sx) = 0 AS degenerate,
         |  CASE WHEN (n * sxx - sx * sx) = 0 THEN 0.0
         |    ELSE CAST(n * sxy - sx * sy AS DOUBLE) /
         |      CAST(n * sxx - sx * sx AS DOUBLE) END AS slope
         |FROM a ORDER BY l_returnflag"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Exact pairwise covariance (scaled fixed-point, DECIMAL(38,0)
    // throughout): the feature-correlation screen before training a
    // quality classifier — one map-side-combined pass computes every
    // Σx/Σxy; a double sum would never replay across engines. cov_num
    // (up to ~e27) leaves as a canonical digit STRING — wide decimals
    // in a final schema are hash-unstable across engines (r15 gate).
    QueryDef("cov_matrix", (s, dir) =>
      // NOT spread: Catalyst eliminates a round-robin repartition
      // directly below the global moment aggregate (verified in the
      // r21 plan capture — the exchange never appears), so a spread
      // here is a dead no-op; the apparent probe win was noise
      Profiling.covMatrix(T(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .withColumn("cov_num", col("cov_num").cast("string"))
        .orderBy("x_col", "y_col"),
      // fixed-point sums replayed in HUGEINT (DuckDB's 128-bit exact
      // lane; Spark's is DECIMAL(38,0)); cov_num leaves as a canonical
      // digit string (up to ~e27 — wide decimals hash
      // engine-dependently, r15)
      {
        val cs = Seq("l_quantity", "l_extendedprice", "l_discount",
          "l_tax")
        val fx = cs.map(c =>
          s"CAST(round($c * 10000.0) AS HUGEINT) AS $c").mkString(", ")
        val sums = cs.map(c => s"sum($c) AS s_$c") ++
          (for { (x, i) <- cs.zipWithIndex; (y, j) <- cs.zipWithIndex
                 if i <= j } yield s"sum($x * $y) AS sxy_${x}__$y")
        val rows = for { (x, i) <- cs.zipWithIndex
                         (y, j) <- cs.zipWithIndex if i <= j } yield
          s"SELECT '$x' AS x_col, '$y' AS y_col, " +
            "CAST(n AS BIGINT) AS n, " +
            s"CAST(n * sxy_${x}__$y - s_$x * s_$y AS VARCHAR) " +
            "AS cov_num FROM a"
        s"WITH s AS (SELECT $fx FROM lineitem), " +
          s"a AS (SELECT CAST(count(*) AS HUGEINT) AS n, " +
          s"${sums.mkString(", ")} FROM s) " +
          rows.mkString(" UNION ALL ") +
          " ORDER BY x_col, y_col"
      }),

    // Robust per-group outlier census: median/MAD flags with both
    // medians under the explicit integer nearest-rank rule — every
    // reported number replays exactly (no percentile-convention
    // dependence, no mean dragged by the tail it hunts).
    QueryDef("mad_outliers", (s, dir) =>
      DataQuality.madOutliers(T(s, dir, "events"), "event_type", "value"),
      // median and MAD via the explicit nearest-rank rule (2·rank>=n,
      // smallest value), deviations and the k·MAD comparison exact —
      // counts, median and MAD all hash across engines
      ("""WITH v AS (SELECT event_type, value FROM events
         |  WHERE value IS NOT NULL),
         |r AS (SELECT event_type, value, row_number() OVER (
         |    PARTITION BY event_type ORDER BY value) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM v),
         |med AS (SELECT event_type, min(value) AS med FROM r
         |  WHERE rn * 2 >= n GROUP BY event_type),
         |dev AS (SELECT v.event_type, v.value, m.med,
         |  abs(v.value - m.med) AS d FROM v JOIN med m
         |  USING (event_type)),
         |r2 AS (SELECT event_type, d, row_number() OVER (
         |    PARTITION BY event_type ORDER BY d) AS rn,
         |  count(*) OVER (PARTITION BY event_type) AS n FROM dev),
         |mad AS (SELECT event_type, min(d) AS mad FROM r2
         |  WHERE rn * 2 >= n GROUP BY event_type)
         |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN d.d > 3 * mad.mad THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_outliers,
         |  any_value(d.med) AS med, any_value(mad.mad) AS mad
         |FROM dev d JOIN mad USING (event_type)
         |GROUP BY d.event_type"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Functional-dependency audit over declared candidates: exact
    // distinct counts both sides, the holds verdict and the violation
    // magnitude, all candidate pairs riding ONE aggregate pass —
    // o_orderkey determines custkey/totalprice (it's the key);
    // o_custkey does not determine o_orderstatus.
    QueryDef("fd_audit", (s, dir) =>
      DataQuality.fdAudit(T(s, dir, "orders"), Seq(
        "o_orderkey" -> "o_custkey",
        "o_orderkey" -> "o_totalprice",
        "o_custkey" -> "o_orderstatus"))
        .orderBy("determinant", "dependent"),
      // per-group form of the explicit nearest-rank replay (see
      // quantile_filter): p ∈ {1/2, 9/10, 99/100} as integer
      // cross-multiplications against the group rank/size
      // per-pair distinct counts replayed directly (pair structs
      // nulled when the determinant is NULL, matching the Spark
      // side's NULL-determinant discipline — ADVICE r17); same shape
      ("""WITH g AS (SELECT
         |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d0,
         |  CAST(count(DISTINCT CASE WHEN o_orderkey IS NOT NULL
         |    THEN (o_orderkey, o_custkey) END) AS BIGINT) AS p0,
         |  CAST(count(DISTINCT CASE WHEN o_orderkey IS NOT NULL
         |    THEN (o_orderkey, o_totalprice) END) AS BIGINT) AS p1,
         |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS d2,
         |  CAST(count(DISTINCT CASE WHEN o_custkey IS NOT NULL
         |    THEN (o_custkey, o_orderstatus) END) AS BIGINT) AS p2
         |  FROM orders)
         |SELECT 'o_orderkey' AS determinant, 'o_custkey' AS dependent,
         |  d0 AS n_det, p0 AS n_pairs,
         |  CAST(p0 = d0 AS INTEGER) AS holds, p0 - d0 AS violations
         |  FROM g
         |UNION ALL SELECT 'o_orderkey', 'o_totalprice', d0, p1,
         |  CAST(p1 = d0 AS INTEGER), p1 - d0 FROM g
         |UNION ALL SELECT 'o_custkey', 'o_orderstatus', d2, p2,
         |  CAST(p2 = d2 AS INTEGER), p2 - d2 FROM g
         |ORDER BY determinant, dependent"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Per-group winsorized summary: nearest-rank [p5, p95] bounds
    // (actual data values), clamp counts per side, and the exact
    // winsorized sum over the integer-valued quantity column — the
    // robust-mean companion to mad_outliers.
    QueryDef("winsorized_stats", (s, dir) =>
      DataQuality.winsorizedStats(
        T(s, dir, "lineitem"), "l_returnflag", "l_quantity"),
      // same nearest-rank replay as group_quantiles, then the clamp
      // census; quantities are integer-valued so the winsorized sum
      // is exact in BIGINT on both engines
      ("""WITH v AS (SELECT l_returnflag,
         |    CAST(l_quantity AS BIGINT) AS v FROM lineitem
         |  WHERE l_quantity IS NOT NULL),
         |r AS (SELECT l_returnflag, v,
         |    row_number() OVER (PARTITION BY l_returnflag ORDER BY v)
         |      AS rn,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n FROM v),
         |b AS (SELECT l_returnflag,
         |    min(v) FILTER (WHERE rn * 100 >= n * 5) AS lo,
         |    min(v) FILTER (WHERE rn * 100 >= n * 95) AS hi
         |  FROM r GROUP BY 1)
         |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(max(b.lo) AS BIGINT) AS lo,
         |  CAST(max(b.hi) AS BIGINT) AS hi,
         |  CAST(sum(CASE WHEN v.v < b.lo THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_clamped_lo,
         |  CAST(sum(CASE WHEN v.v > b.hi THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_clamped_hi,
         |  CAST(sum(greatest(least(v.v, b.hi), b.lo)) AS BIGINT)
         |    AS winsorized_sum
         |FROM v JOIN b USING (l_returnflag) GROUP BY l_returnflag"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Per-group discrete percentiles: the selected values are ACTUAL
    // data values (no interpolation), so doubles pass through exact
    // and both engines pick the identical element.
    QueryDef("group_quantiles", (s, dir) =>
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").as("p90"),
          expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").as("p99"),
          count(lit(1)).as("cnt")),
      ("WITH r AS (SELECT event_type, value, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY value) " +
        "AS rn, count(*) OVER (PARTITION BY event_type) AS n " +
        "FROM events) " +
        "SELECT event_type, " +
        "min(value) FILTER (WHERE rn * 2 >= n) AS p50, " +
        "min(value) FILTER (WHERE rn * 10 >= n * 9) AS p90, " +
        "min(value) FILTER (WHERE rn * 100 >= n * 99) AS p99, " +
        "CAST(max(n) AS BIGINT) AS cnt FROM r GROUP BY event_type")),

    // Benford first-digit audit over order totals: per digit 1-9 the
    // observed count, floored per-mille share (cross-multiplied
    // integer division, no float ratio), the log10(1+1/d) expectation
    // and absolute deviation — the fabricated-data screen, all exact.
    QueryDef("benford_audit", (s, dir) =>
      DataQuality.benfordAudit(T(s, dir, "orders"), col("o_totalprice")),
      // floor-then-cast leading digit (the one double→int path both
      // engines agree on); per-mille by integer cross-multiplication;
      // the Benford table as a 1-based list lookup, floored per-mille
      ("""WITH g AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice)
         |    AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         |  count(*) AS n FROM orders WHERE o_totalprice >= 1
         |  GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g)
         |SELECT digit, CAST(n AS BIGINT) AS n,
         |  n * 1000 // total AS obs_milli,
         |  CAST([301, 176, 124, 96, 79, 66, 57, 51, 45][digit]
         |    AS BIGINT) AS benford_milli,
         |  abs(n * 1000 // total -
         |    [301, 176, 124, 96, 79, 66, 57, 51, 45][digit])
         |    AS dev_milli
         |FROM g CROSS JOIN t"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Exact Spearman moments between document char length and word
    // count: histogram-decomposed doubled tie ranks (no global rank
    // sort), one row of DECIMAL-exact Pearson-on-ranks numerators
    // emitted as digit strings (r15 wide-decimal rule).
    QueryDef("rank_correlation", (s, dir) =>
      Profiling.spearmanMoments(T(s, dir, "documents"),
        col("n_chars"), TextAnalysis.wordCount(col("text"))),
      // the histogram-rank decomposition replayed: doubled average tie
      // ranks off each value histogram's exclusive prefix, moments in
      // HUGEINT (int128 ≈ the Spark side's DECIMAL(38,0)), the wide
      // numerators leaving as digit strings on both sides
      ("""WITH d AS (SELECT CAST(n_chars AS BIGINT) AS x,
         |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
         |    AS y FROM documents),
         |hx AS (SELECT x, count(*) AS c FROM d GROUP BY x),
         |px AS (SELECT x, 2 * coalesce(sum(c) OVER (ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    + c + 1 AS rx FROM hx),
         |hy AS (SELECT y, count(*) AS c FROM d GROUP BY y),
         |py AS (SELECT y, 2 * coalesce(sum(c) OVER (ORDER BY y
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    + c + 1 AS ry FROM hy),
         |j AS (SELECT rx, ry FROM d JOIN px USING (x)
         |      JOIN py USING (y)),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |  CAST(sum(rx) AS HUGEINT) AS sx,
         |  CAST(sum(ry) AS HUGEINT) AS sy,
         |  CAST(sum(CAST(rx AS HUGEINT) * ry) AS HUGEINT) AS sxy,
         |  CAST(sum(CAST(rx AS HUGEINT) * rx) AS HUGEINT) AS sx2,
         |  CAST(sum(CAST(ry AS HUGEINT) * ry) AS HUGEINT) AS sy2
         |  FROM j)
         |SELECT CAST(n AS BIGINT) AS n,
         |  CAST(n * sxy - sx * sy AS VARCHAR) AS num_str,
         |  CAST(n * sx2 - sx * sx AS VARCHAR) AS denx_str,
         |  CAST(n * sy2 - sy * sy AS VARCHAR) AS deny_str
         |FROM m"""
        .stripMargin.replaceAll("\\s+", " ").trim)))
}
