package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ZOrder
import graft.ops._
import Shared.{NormTextSql, T}

/** Relational operators and mergeable sketches: aggregation shapes,
  * skew defenses, joins, change application and record linkage.
  */
object RelationalQueries {

  /** Synthetic change set over the 4-column customer snapshot: delete
    * wins over update so every key carries exactly one op.
    */
  private def upsertChanges(base: DataFrame): DataFrame = {
    val upd = base
      .filter(col("c_custkey") % 5 === 0 && col("c_custkey") % 7 =!= 0)
      .withColumn("c_acctbal", col("c_acctbal") + lit(1000.0))
      .withColumn("op", lit("U"))
    val del = base.filter(col("c_custkey") % 7 === 0)
      .withColumn("op", lit("D"))
    val ins = base.filter(col("c_custkey") % 11 === 0)
      .withColumn("c_custkey", col("c_custkey") + lit(200000L))
      .withColumn("op", lit("I"))
    upd.unionByName(del).unionByName(ins)
  }

  // fuzzy-join blocking recall on planted 1-substitution typos:
  // measured 100% at sf0.01 AND sf0.1 (the substitution kills <= q
  // grams; the rarest-2 prefix re-selects from the untouched ones)
  private val FuzzyJoinRecallFloorPct = 90

  /** The fuzzy-join fixture: left = part names keyed by partkey;
    * probes = every 50th part's name with one character substituted
    * (position 3 → '#', a deterministic distance-1 typo the oracle
    * renders identically), offset into a disjoint id space.
    */
  private def fuzzyLeft(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part")
      .select(col("p_partkey").as("l_id"), col("p_name").as("l_name"))

  private def fuzzyProbes(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "part").filter(col("p_partkey") % 50 === 0)
      .select((col("p_partkey") + 9000000L).as("r_id"),
        concat(substring(col("p_name"), 1, 2), lit("#"),
          expr("substring(p_name, 4)")).as("r_name"))

  /** Fuzzy-join oracle CTEs: the fixture (part names + planted typo
    * probes) and the ENTIRE blocking pipeline replayed — distinct
    * 4-grams with the same sub-q truncation rule, left gram dfs, the
    * rarest-(maxDist+1) prefix per probe ranked by (df, gram), the
    * ±1 length band — ending in candidate set `c(l_id, l_name, r_id,
    * r_name)`.
    */
  private lazy val FuzzyJoinCtes: String =
    """WITH lf AS (SELECT p_partkey AS l_id, p_name AS l_name FROM part),
      |rt AS (SELECT p_partkey + 9000000 AS r_id,
      |  l_part[1:2] || '#' || l_part[4:] AS r_name FROM
      |  (SELECT p_partkey, p_name AS l_part FROM part
      |   WHERE p_partkey % 50 = 0)),
      |lg AS (SELECT l_id, l_name, unnest(list_distinct(list_transform(
      |  range(1, greatest(len(l_name) - 3, 1) + 1),
      |  i -> l_name[i:i+3]))) AS g FROM lf),
      |gdf AS (SELECT g, count(*) AS gdf FROM lg GROUP BY g),
      |rg AS (SELECT r_id, r_name, g FROM (
      |  SELECT r0.r_id, r0.r_name, r0.g, row_number() OVER (
      |    PARTITION BY r0.r_id ORDER BY gdf.gdf, r0.g) AS rn
      |  FROM (SELECT r_id, r_name, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(r_name) - 3, 1) + 1),
      |    i -> r_name[i:i+3]))) AS g FROM rt) r0
      |  JOIN gdf ON gdf.g = r0.g) WHERE rn <= 2),
      |c AS (SELECT DISTINCT l.l_id, l.l_name, r.r_id, r.r_name
      |  FROM lg l JOIN rg r ON l.g = r.g
      |  WHERE abs(len(l.l_name) - len(r.r_name)) <= 1)"""
      .stripMargin.replaceAll("\\s+", " ").trim

  val defs: Seq[QueryDef] = Seq(
    // Hash-agg with partial (map-side) aggregation — the Catalyst
    // counterpart of the reference's count accumulation, at scale.
    QueryDef("agg_groupby", (s, dir) =>
      T(s, dir, "lineitem")
        .filter(col("l_quantity") <= 25)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price")),
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "count(*) AS cnt, min(l_extendedprice) AS min_price, " +
        "max(l_extendedprice) AS max_price FROM lineitem " +
        "WHERE l_quantity <= 25 GROUP BY l_returnflag, l_linestatus")),

    // Salted two-stage aggregation (skew defense); result identical to
    // the plain groupBy, which is exactly what the oracle checks.
    QueryDef("skew_salted_agg", (s, dir) =>
      SkewAgg.sumCountSalted(
        T(s, dir, "lineitem"),
        key = col("l_returnflag"),
        value = col("l_quantity"),
        salt = pmod(col("l_orderkey"), lit(8)),
        keyName = "l_returnflag"),
      ("SELECT l_returnflag, sum(l_quantity) AS sum_value, " +
        "count(*) AS cnt FROM lineitem GROUP BY l_returnflag")),

    // Salted shuffle JOIN (SkewAgg's sibling for joins): events on the
    // 5-value event_type key — maximal skew — against a derived type
    // dim, salted into 16 sub-keys; aggregated after the join so the
    // oracle compares exact integers. Row-identical to the plain join.
    QueryDef("skew_salted_join", (s, dir) => {
      val ev = T(s, dir, "events")
      val dim = ev.select(col("event_type")).distinct()
        .withColumn("type_weight", length(col("event_type")).cast("long"))
      SkewJoin.saltedInnerJoin(ev, dim, "event_type",
        salt = xxhash64(col("event_id")), buckets = 16)
        .groupBy("event_type", "type_weight")
        .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("sum_event_id"))
    },
      ("SELECT e.event_type, d.type_weight, count(*) AS cnt, " +
        "CAST(sum(e.event_id) AS BIGINT) AS sum_event_id " +
        "FROM events e JOIN (SELECT DISTINCT event_type, " +
        "CAST(length(event_type) AS BIGINT) AS type_weight " +
        "FROM events) d USING (event_type) " +
        "GROUP BY e.event_type, d.type_weight")),

    // Two-pass exact heavy hitters: freqItems sketch (no false
    // negatives above support) prunes to candidates, then an exact
    // recount keyed only on candidates — GROUP BY HAVING semantics
    // without the full-cardinality shuffle. support derives from the
    // ACTUAL row count (minCount/N with 2× margin), so the no-miss
    // guarantee holds at any SF rather than only where a pinned
    // constant happens to sit below minCount/N.
    QueryDef("heavy_hitters", (s, dir) =>
      HeavyHitters.exactHeavyHittersAuto(T(s, dir, "events"),
        key = "user_id", minCount = 80L),
      ("SELECT user_id, count(*) AS cnt FROM events " +
        "GROUP BY user_id HAVING count(*) >= 80")),

    // Same exact result through the engine's own TypedImperativeAggregate
    // (mergeable Misra-Gries sketch) + broadcast semi-join — no driver
    // collect. k likewise derives from the actual row count to keep
    // the N/(k+1) < minCount no-miss bound at any SF.
    QueryDef("heavy_hitters_mg", (s, dir) =>
      HeavyHitters.exactHeavyHittersMGAuto(T(s, dir, "events"),
        key = "user_id", minCount = 80L),
      ("SELECT user_id, count(*) AS cnt FROM events " +
        "GROUP BY user_id HAVING count(*) >= 80")),

    // Distinct aggregates (absent in the reference; Catalyst built-in
    // — expand + two-phase agg, SURVEY §2.4).
    QueryDef("count_distinct_agg", (s, dir) =>
      T(s, dir, "orders").agg(
        count_distinct(col("o_custkey")).as("distinct_custs"),
        count_distinct(col("o_orderpriority")).as("distinct_prios"),
        count(lit(1)).as("total")),
      ("SELECT count(DISTINCT o_custkey) AS distinct_custs, " +
        "count(DISTINCT o_orderpriority) AS distinct_prios, " +
        "count(*) AS total FROM orders")),

    // ROLLUP hierarchy totals (Catalyst Expand; SURVEY §2.4 freebie).
    // Sums are of integer-valued doubles — exact, oracle-safe. The
    // NULL grouping keys are coalesced to a sentinel on BOTH sides:
    // null-sort placement differs across engines and would misalign
    // the row-sorted hash compare.
    QueryDef("rollup_agg", (s, dir) =>
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("sum_qty"), col("cnt")),
      ("SELECT coalesce(l_returnflag, '(all)') AS returnflag, " +
        "coalesce(l_linestatus, '(all)') AS linestatus, " +
        "sum(l_quantity) AS sum_qty, count(*) AS cnt FROM lineitem " +
        "GROUP BY ROLLUP (l_returnflag, l_linestatus)")),

    // Set operation (§2.7 — absent in the reference; Catalyst built-in
    // shown here as except/anti semantics over projections): customers
    // in the two largest market segments minus those holding the top
    // account balances.
    QueryDef("set_except", (s, dir) => {
      val c = T(s, dir, "customer")
      c.filter(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(col("c_custkey"))
        .except(c.filter(col("c_acctbal") > 9000.0).select(col("c_custkey")))
    },
      ("SELECT c_custkey FROM customer " +
        "WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING') " +
        "EXCEPT " +
        "SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0")),

    // Window frame beyond row_number: running totals per customer in
    // order-key order (ROWS UNBOUNDED PRECEDING). o_orderkey is unique,
    // so the frame order is total and the integer accumulation exact —
    // (lineitem's (orderkey, linenumber) is NOT unique in this data,
    // which makes running sums over it engine-nondeterministic).
    QueryDef("window_running_sum", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(pmod(col("o_orderkey"), lit(100))).over(w).as("running_mod"),
        count(lit(1)).over(w).as("running_orders"))
    },
      ("SELECT o_custkey, o_orderkey, " +
        // CAST: DuckDB integer SUM widens to HUGEINT; Spark stays BIGINT
        "CAST(sum(o_orderkey % 100) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_mod, " +
        "count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_orders " +
        "FROM orders")),

    // Edit distance (dedup-adjacent fuzzy matching): exact integer on
    // both engines (same DP algorithm).
    QueryDef("edit_distance", (s, dir) =>
      T(s, dir, "customer").select(col("c_custkey"),
        levenshtein(col("c_name"), lit("Customer#000000000"))
          .as("dist_from_ref")),
      // CAST: DuckDB levenshtein returns BIGINT, Spark's INT
      ("SELECT c_custkey, CAST(levenshtein(c_name, 'Customer#000000000') " +
        "AS INTEGER) AS dist_from_ref FROM customer")),

    // Semi-structured JSON extraction + aggregation over the events
    // props column (get_json_object stays inside codegen; the cast to
    // BIGINT keeps the sum integer-exact).
    QueryDef("json_extract_agg", (s, dir) =>
      T(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(sum(get_json_object(col("props"), "$.k").cast("long"))
          .as("sum_k"),
          count(lit(1)).as("cnt")),
      ("SELECT event_type, " +
        "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) " +
        "AS sum_k, count(*) AS cnt FROM events GROUP BY event_type")),

    // HLL++ distinct sketch in its benchable production shape: the
    // audit side is a value-keyed 1-in-4 sampled exact count (cheap —
    // the distinct stream shrinks 4× before the shuffle) feeding a
    // generous in-band sanity flag. Engine-independent output only.
    QueryDef("sketch_approx_distinct", (s, dir) =>
      Sketches.approxDistinctSampled(
        T(s, dir, "lineitem"), "l_returnflag", "l_partkey"),
      // the sketch estimate never reaches the comparator — the flag is
      // asserted TRUE (Spark must have computed it true for the hash to
      // match); rows is the only other output and is exact
      ("SELECT l_returnflag, count(*) AS \"rows\", " +
        "TRUE AS approx_ok FROM lineitem GROUP BY l_returnflag")),

    // The TIGHT audit, registered separately so its full
    // exact-distinct shuffle (the very thing the sketch avoids) is not
    // charged to the production operator's bench line: exact count +
    // within-5·rsd flag, verified against the oracle's exact recount.
    QueryDef("sketch_audit", (s, dir) =>
      Sketches.approxDistinctChecked(
        T(s, dir, "lineitem"), "l_returnflag", "l_partkey"),
      // the tight audit: oracle recomputes the exact side and asserts
      // the within-5·rsd flag held
      ("SELECT l_returnflag, count(*) AS \"rows\", " +
        "count(DISTINCT l_partkey) AS exact_distinct, " +
        "TRUE AS within_5rsd FROM lineitem GROUP BY l_returnflag")),

    // Approximate quantiles under their own Greenwald-Khanna rank
    // bound, audited in-band (sketch values never cross the engine
    // boundary; the flag does).
    QueryDef("sketch_quantiles", (s, dir) =>
      Sketches.approxQuantilesChecked(
        T(s, dir, "lineitem"), "l_returnflag", "l_quantity"),
      // the quantile audit: group sizes replayed exactly, the GK rank
      // flag asserted TRUE (Spark must have measured the bound held)
      ("SELECT l_returnflag, pct, \"rows\", TRUE AS rank_ok FROM " +
        "(SELECT l_returnflag, count(l_quantity) AS \"rows\" " +
        "FROM lineitem GROUP BY l_returnflag) " +
        "CROSS JOIN (SELECT unnest([50, 90]) AS pct)")),

    // Cross-shard HLL merge: two shard "jobs" (l_orderkey parity)
    // each build DataSketches binary states; the merge unions STATES,
    // never rows — the way distinct-count accounting composes across
    // a 100-shard corpus build. Estimate audited in-band vs exact.
    QueryDef("sketch_hll_merge", (s, dir) => {
      val li = T(s, dir, "lineitem")
      Sketches.hllMergeChecked(
        Sketches.hllShardStates(li, pmod(col("l_orderkey"), lit(2)),
          "l_returnflag", "l_partkey"),
        li, "l_returnflag", "l_partkey")
    },
      // cross-shard HLL state merge: the oracle recomputes the exact
      // side (rows and distincts are shard-sum-invariant) and asserts
      // the merged estimate held its bound
      ("SELECT l_returnflag, count(*) AS \"rows\", " +
        "count(DISTINCT l_partkey) AS exact_distinct, " +
        "TRUE AS within_bound FROM lineitem GROUP BY l_returnflag")),

    // Mergeable HISTOGRAM quantiles: per-shard (group, bucket, cnt)
    // states (doc_id parity simulates two ingest jobs) merge by
    // per-bucket SUM, and every derived percentile replays
    // value-exactly — integer counts in, integer bucket edges out,
    // no in-band flag needed (unlike GK, whose states never leave
    // the engine).
    QueryDef("sketch_hist_quantiles_merged", (s, dir) => {
      val docs = T(s, dir, "documents")
      val shards = Seq(0, 1).map(p =>
        Sketches.histogramState(
          docs.filter(pmod(col("doc_id"), lit(2)) === p),
          "lang", "n_chars", width = 64L))
      Sketches.histogramMergeQuantiles(shards, "lang",
        Seq(50, 90), width = 64L)
    },
      // mergeable histogram quantiles replay EXACTLY: per-bucket sums
      // over shards equal global bucket counts, so the oracle skips
      // the sharding and derives the same integer bucket edges
      ("""WITH st AS (
         |  SELECT lang, greatest(CAST(floor(CAST(n_chars AS DOUBLE)
         |    / 64) AS BIGINT), 0) AS bucket, count(*) AS cnt
         |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
         |cum AS (
         |  SELECT lang, bucket,
         |    CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY bucket
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS "rows"
         |  FROM st),
         |px AS (SELECT unnest([50, 90]) AS pct)
         |SELECT lang, pct, "rows", min(bucket) * 64 AS q_lo
         |FROM cum CROSS JOIN px
         |WHERE cum * 100 >= pct * "rows"
         |GROUP BY lang, pct, "rows""""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Mergeable COUNT-MIN token-frequency states: four doc-parity
    // shards each build a <= depth×width sparse counter state, merge
    // by per-cell sum (CMS linearity, audited cell-identical against
    // the unsharded build), and the top-10 tokens' estimates carry the
    // in-band flags — never-undercount (deterministic CMS guarantee)
    // and the 4N/width overcount bound. Probe selection is a
    // TakeOrdered top-10 (per-partition heads + merge), never a global
    // vocab sort.
    QueryDef("sketch_cms_merge", (s, dir) => {
      val docs = T(s, dir, "documents")
      val keyed = docs
        .select(pmod(col("doc_id"), lit(4)).as("shard"),
          explode(split(TextDedup.normText(col("text")), " ")).as("key"))
        .filter(length(col("key")) > 0)
        .groupBy(col("shard"), col("key"))
        .agg(count(lit(1)).as("cnt"))
      val probes = keyed.groupBy(col("key"))
        .agg(sum(col("cnt")).as("tot"))
        .orderBy(col("tot").desc, col("key").asc)
        .limit(10)
        .select(col("key"))
      Sketches.cmsMergeChecked(keyed, probes)
    },
      // exact token counts replay; the CMS estimates stay
      // engine-internal behind the three in-band flags (one-sided
      // guarantee, 4N/width bound, merge-linearity cell equality)
      (s"""WITH toks AS (
         |  SELECT unnest(string_split($NormTextSql, ' ')) AS key
         |  FROM documents),
         |k AS (SELECT key, count(*) AS exact_cnt FROM toks
         |      WHERE len(key) > 0 GROUP BY key)
         |SELECT key, exact_cnt, 1 AS est_ge_exact,
         |  1 AS est_within_bound, 1 AS merge_exact
         |FROM k ORDER BY exact_cnt DESC, key ASC LIMIT 10"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Edit-distance record linkage (EDJoin rarest-gram blocking +
    // exact Levenshtein verify): part names probed by planted
    // 1-substitution typos. The BLOCKING is part of the contract and
    // the oracle replays it verbatim — grams, left-df prefix ranking,
    // length band, verification — so the pair set hashes exactly.
    QueryDef("fuzzy_join_typos", (s, dir) =>
      FuzzyJoin.editBlockedJoin(
        fuzzyLeft(s, dir), fuzzyProbes(s, dir), maxDist = 1),
      // the full blocking + verification replay: 4-grams, left-side
      // gram dfs, the (df, gram) rarest-2 prefix per probe, the
      // length band, and exact levenshtein — pair set hashes exactly
      (FuzzyJoinCtes +
        " SELECT l_id, r_id, CAST(levenshtein(l_name, r_name) " +
        "AS INTEGER) AS dist FROM c " +
        "WHERE levenshtein(l_name, r_name) <= 1")),

    // Blocking recall on the planted typos — every probe should link
    // back to its original (quantifies what the rarest-gram prefix
    // gives up; measured 100%, floored at 90).
    QueryDef("fuzzy_join_recall", (s, dir) => {
      val hits = FuzzyJoin.editBlockedJoin(
          fuzzyLeft(s, dir), fuzzyProbes(s, dir), maxDist = 1)
        .filter(col("r_id") === col("l_id") + 9000000L)
        .select(col("l_id"), lit(1L).as("hit"))
      fuzzyLeft(s, dir).filter(col("l_id") % 50 === 0)
        .select("l_id")
        .join(hits, Seq("l_id"), "left")
        .agg(count(lit(1)).as("planted_total"),
          (sum(coalesce(col("hit"), lit(0L))) * 100 >=
            count(lit(1)) * FuzzyJoinRecallFloorPct).as("recall_ok"))
    },
      // planted-typo linkage recall: count replay + flag TRUE
      ("SELECT count(*) AS planted_total, TRUE AS recall_ok " +
        "FROM part WHERE p_partkey % 50 = 0")),

    // GROUPING SETS with an explicit grouping_id — the general form
    // cube/rollup specialize; pinned because the Expand-based plan is
    // what a reporting layer generates.
    QueryDef("grouping_sets_agg", (s, dir) => {
      T(s, dir, "orders").createOrReplaceTempView("__orders_gs")
      // grouped-out cells coalesce to a sentinel: the driver comparator
      // cannot row-align NULL sort keys across engines (same fix as
      // rollup_agg); gid keeps the sets distinguishable regardless
      s.sql(
        """SELECT coalesce(o_orderstatus, '(all)') AS status,
          |  coalesce(o_orderpriority, '(all)') AS priority,
          |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
          |    AS gid,
          |  count(*) AS cnt
          |FROM __orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |  (o_orderstatus), ())""".stripMargin)
    },
      // same sets, same standard leftmost-is-MSB grouping id
      ("SELECT coalesce(o_orderstatus, '(all)') AS status, " +
        "coalesce(o_orderpriority, '(all)') AS priority, " +
        "CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) " +
        "AS gid, count(*) AS cnt FROM orders " +
        "GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), " +
        "(o_orderstatus), ())")),

    // Bloom-pruned join (the runtime-filter pattern as a first-class
    // operator): fact rows that can't match the filtered dim die at
    // the scan, BEFORE the join shuffle; the exact join over survivors
    // makes the result row-identical to the plain join — which is
    // exactly what the oracle replays.
    QueryDef("bloom_prune_join", (s, dir) => {
      val build = T(s, dir, "customer")
        .filter(col("c_acctbal") > 9000.0)
        .select(col("c_custkey"), col("c_acctbal"))
      BloomPrune.prunedEquiJoin(
        T(s, dir, "orders").select("o_orderkey", "o_custkey"),
        build, "o_custkey", "c_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("c_acctbal"))
    },
      // The bloom pass is a pure shuffle-thinner (no false negatives +
      // exact residual join), so the oracle is simply the plain join.
      ("SELECT o_orderkey, o_custkey, c_acctbal FROM orders " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_acctbal > 9000.0")),

    // Binned range join: lineitems shipped within 14 days of each
    // big-ticket order's date — an interval×point join executed as an
    // EQUI-join on a quantized day bin (+ exact BETWEEN residual),
    // never the BNLJ/cartesian Spark would plan for a bare inequality
    // condition.
    QueryDef("range_join_binned", (s, dir) => {
      val epoch = lit(java.sql.Date.valueOf("1970-01-01"))
      val intervals = T(s, dir, "orders")
        .filter(col("o_totalprice") > 495000.0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).cast("long").as("start_day"))
        .withColumn("end_day", col("start_day") + 13)
      val points = T(s, dir, "lineitem")
        .select(col("l_quantity"),
          datediff(col("l_shipdate"), epoch).cast("long").as("ship_day"))
      RangeJoin.pointInInterval(points, intervals,
        col("ship_day"), col("start_day"), col("end_day"), binWidth = 14L)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_shipped"), sum(col("l_quantity")).as("sum_qty"))
    },
      // The binning is row-preserving (each point has one bin, bin-equal
      // is necessary for BETWEEN), so the oracle replays the naive
      // interval join. Dates are timestamp[ms] in the data — CAST to
      // DATE reproduces Spark datediff()'s day arithmetic exactly.
      ("SELECT o_orderkey, count(*) AS n_shipped, " +
        "sum(l_quantity) AS sum_qty FROM orders JOIN lineitem " +
        "ON CAST(l_shipdate AS DATE) BETWEEN CAST(o_orderdate AS DATE) " +
        "AND CAST(o_orderdate AS DATE) + 13 " +
        "WHERE o_totalprice > 495000.0 GROUP BY o_orderkey")),

    // The same interval join written NAIVELY — no explicit binning.
    // The RewriteRangeJoin optimizer rule (GraftExtensions) turns the
    // inequality-only join into the binned equi-join plan on its own;
    // PlanInvariantsSpec pins that no BNLJ/cartesian survives here.
    QueryDef("range_join_auto", (s, dir) => {
      val epoch = lit(java.sql.Date.valueOf("1970-01-01"))
      val intervals = T(s, dir, "orders")
        .filter(col("o_totalprice") > 495000.0)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), epoch).cast("long").as("start_day"))
        .withColumn("end_day", col("start_day") + 13)
      val points = T(s, dir, "lineitem")
        .select(col("l_quantity"),
          datediff(col("l_shipdate"), epoch).cast("long").as("ship_day"))
      points.join(intervals,
        col("ship_day") >= col("start_day") &&
          col("ship_day") <= col("end_day"))
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_shipped"), sum(col("l_quantity")).as("sum_qty"))
    },
      // identical semantics to range_join_binned — the Spark side
      // differs only in WHO does the binning (the optimizer rule)
      ("SELECT o_orderkey, count(*) AS n_shipped, " +
        "sum(l_quantity) AS sum_qty FROM orders JOIN lineitem " +
        "ON CAST(l_shipdate AS DATE) BETWEEN CAST(o_orderdate AS DATE) " +
        "AND CAST(o_orderdate AS DATE) + 13 " +
        "WHERE o_totalprice > 495000.0 GROUP BY o_orderkey")),

    // CUBE over the same keys rollup_agg rolls up — all four grouping
    // sets in one Expand + hash aggregate pass.
    QueryDef("cube_agg", (s, dir) =>
      T(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
          col("sum_qty"), col("cnt")),
      ("SELECT coalesce(l_returnflag, '(all)') AS returnflag, " +
        "coalesce(l_linestatus, '(all)') AS linestatus, " +
        "sum(l_quantity) AS sum_qty, count(*) AS cnt FROM lineitem " +
        "GROUP BY CUBE (l_returnflag, l_linestatus)")),

    // Pivot (wide conditional aggregation): order counts per status ×
    // priority. Values enumerated so the output schema is static; the
    // absent-combination NULLs are coalesced to 0 to match the
    // conditional-sum oracle.
    QueryDef("pivot_agg", (s, dir) => {
      val prios = Seq("1-URGENT" -> "urgent", "2-HIGH" -> "high",
        "3-MEDIUM" -> "medium", "4-NOT SPECIFIED" -> "not_specified",
        "5-LOW" -> "low")
      T(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", prios.map(_._1))
        .agg(count(lit(1)))
        .select(col("o_orderstatus") +: prios.map { case (v, a) =>
          coalesce(col(s"`$v`"), lit(0L)).as(a)
        }: _*)
    },
      ("SELECT o_orderstatus, " +
        "count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent, " +
        "count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high, " +
        "count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium, " +
        "count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') " +
        "AS not_specified, " +
        "count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low " +
        "FROM orders GROUP BY o_orderstatus")),

    // MERGE-style change application: one anti-join + union pass turns
    // (snapshot, change set) into the next snapshot. The synthetic
    // change set updates %5 keys, deletes %7 keys, inserts shifted %11
    // keys — each key at most one op (delete wins over update).
    QueryDef("upsert_apply", (s, dir) => {
      val base = T(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      Merge.applyChanges(base, upsertChanges(base), "c_custkey")
    },
      (s"""WITH base AS (SELECT c_custkey, c_name, c_acctbal,
         |    c_mktsegment FROM customer),
         |changes AS (
         |  SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal,
         |    c_mktsegment, 'U' AS op FROM base
         |  WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
         |  UNION ALL SELECT c_custkey, c_name, c_acctbal,
         |    c_mktsegment, 'D' FROM base WHERE c_custkey % 7 = 0
         |  UNION ALL SELECT c_custkey + 200000, c_name, c_acctbal,
         |    c_mktsegment, 'I' FROM base WHERE c_custkey % 11 = 0)
         |SELECT b.* FROM base b WHERE NOT EXISTS
         |  (SELECT 1 FROM changes c WHERE c.c_custkey = b.c_custkey)
         |UNION ALL
         |SELECT c_custkey, c_name, c_acctbal, c_mktsegment
         |FROM changes WHERE op <> 'D'"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Snapshot diff: FULL OUTER join + payload comparison classifies
    // every key as I/U/D; unchanged keys emit nothing. Diffing the
    // upsert result against its base must recover exactly the change
    // set's ops — which is what the oracle independently derives.
    QueryDef("snapshot_diff", (s, dir) => {
      val base = T(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      Merge.diff(base, Merge.applyChanges(base, upsertChanges(base),
        "c_custkey"), "c_custkey")
    },
      // after-snapshot replayed, then classified against the base by a
      // FULL OUTER join — the op set must equal the change set's
      (s"""WITH base AS (SELECT c_custkey, c_name, c_acctbal,
         |    c_mktsegment FROM customer),
         |changes AS (
         |  SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal,
         |    c_mktsegment, 'U' AS op FROM base
         |  WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
         |  UNION ALL SELECT c_custkey, c_name, c_acctbal,
         |    c_mktsegment, 'D' FROM base WHERE c_custkey % 7 = 0
         |  UNION ALL SELECT c_custkey + 200000, c_name, c_acctbal,
         |    c_mktsegment, 'I' FROM base WHERE c_custkey % 11 = 0),
         |after AS (
         |  SELECT b.* FROM base b WHERE NOT EXISTS
         |    (SELECT 1 FROM changes c WHERE c.c_custkey = b.c_custkey)
         |  UNION ALL
         |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment
         |  FROM changes WHERE op <> 'D')
         |SELECT COALESCE(b.c_custkey, a.c_custkey) AS c_custkey,
         |  CASE WHEN b.c_custkey IS NULL THEN 'I'
         |       WHEN a.c_custkey IS NULL THEN 'D' ELSE 'U' END AS op
         |FROM base b FULL OUTER JOIN after a
         |  ON b.c_custkey = a.c_custkey
         |WHERE b.c_custkey IS NULL OR a.c_custkey IS NULL
         |  OR b.c_name <> a.c_name OR b.c_acctbal <> a.c_acctbal
         |  OR b.c_mktsegment <> a.c_mktsegment"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Type-2 SCD history: fold the mutated "today" snapshot (same
    // deterministic change set as upsert_apply/snapshot_diff) into the
    // seeded history — changed/deleted keys close at version 2,
    // changed/new keys open at version 2, unchanged rows stay open
    // from version 1. One full-outer equi-join of the open slice; the
    // oracle re-derives the intervals from the replayed snapshots.
    QueryDef("scd2_history", (s, dir) => {
      val base = T(s, dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      val v2 = Merge.applyChanges(base, upsertChanges(base), "c_custkey")
      Merge.scd2Apply(Merge.scd2Init(base, 1L), v2, "c_custkey", 2L)
        // open rows carry valid_to NULL in the operator; the dump uses
        // a 0 sentinel because a NULL numeric reads as NaN on both
        // sides of the driver compare and NaN != NaN fails it
        .withColumn("valid_to", coalesce(col("valid_to"), lit(0L)))
    },
      // the SCD2 intervals re-derived from the replayed snapshots:
      // U/D keys close (1→2), U/I keys open at 2, untouched keys stay
      // open from 1
      (s"""WITH base AS (SELECT c_custkey, c_name, c_acctbal,
         |    c_mktsegment FROM customer),
         |changes AS (
         |  SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal,
         |    c_mktsegment, 'U' AS op FROM base
         |  WHERE c_custkey % 5 = 0 AND c_custkey % 7 <> 0
         |  UNION ALL SELECT c_custkey, c_name, c_acctbal,
         |    c_mktsegment, 'D' FROM base WHERE c_custkey % 7 = 0
         |  UNION ALL SELECT c_custkey + 200000, c_name, c_acctbal,
         |    c_mktsegment, 'I' FROM base WHERE c_custkey % 11 = 0),
         |after AS (
         |  SELECT b.* FROM base b WHERE NOT EXISTS
         |    (SELECT 1 FROM changes c WHERE c.c_custkey = b.c_custkey)
         |  UNION ALL
         |  SELECT c_custkey, c_name, c_acctbal, c_mktsegment
         |  FROM changes WHERE op <> 'D'),
         |d AS (SELECT COALESCE(b.c_custkey, a.c_custkey) AS k,
         |  CASE WHEN b.c_custkey IS NULL THEN 'I'
         |       WHEN a.c_custkey IS NULL THEN 'D'
         |       WHEN b.c_name <> a.c_name
         |         OR b.c_acctbal <> a.c_acctbal
         |         OR b.c_mktsegment <> a.c_mktsegment THEN 'U'
         |  END AS op
         |  FROM base b FULL OUTER JOIN after a
         |    ON b.c_custkey = a.c_custkey),
         |ops AS (SELECT k, op FROM d WHERE op IS NOT NULL)
         |SELECT b.c_custkey, b.c_name, b.c_acctbal, b.c_mktsegment,
         |  CAST(1 AS BIGINT) AS valid_from, CAST(2 AS BIGINT) AS valid_to
         |FROM base b JOIN ops ON ops.k = b.c_custkey
         |  AND ops.op IN ('U', 'D')
         |UNION ALL
         |SELECT b.c_custkey, b.c_name, b.c_acctbal, b.c_mktsegment,
         |  CAST(1 AS BIGINT), CAST(0 AS BIGINT)
         |FROM base b WHERE NOT EXISTS
         |  (SELECT 1 FROM ops WHERE ops.k = b.c_custkey)
         |UNION ALL
         |SELECT a.c_custkey, a.c_name, a.c_acctbal, a.c_mktsegment,
         |  CAST(2 AS BIGINT), CAST(0 AS BIGINT)
         |FROM after a JOIN ops ON ops.k = a.c_custkey
         |  AND ops.op IN ('U', 'I')"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Mutual top-match alignment (the bitext-mining shape): even-id
    // vectors vs odd-id vectors, integer-dot scores, keep (a, b) only
    // when each is the other's argmax — both argmaxes map-side-
    // combinable aggregates, hub vectors die by construction.
    // (vec_id < 2000 caps the brute demo at a fixed pair budget —
    // the triangle_count/ann_matryoshka fixed-size precedent; the
    // production path is Similarity.mutualArgmax over an ANN stage's
    // candidates, linear in the candidate list)
    QueryDef("mutual_top_match", (s, dir) => {
      val emb = T(s, dir, "embeddings").filter(col("vec_id") < 2000)
      Similarity.mutualTopMatch(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1))
        .orderBy("a_id")
    },
      // int8 dot replay; both argmaxes as row_number over
      // (score desc, id) — the deterministic tie order
      ("""WITH q AS (SELECT vec_id, list_transform(embedding,
         |  v -> CAST(greatest(least(floor(CAST(v AS DOUBLE) * 64),
         |    127), -128) AS BIGINT)) AS qv FROM embeddings),
         |a AS (SELECT vec_id AS a_id, qv AS qa FROM q
         |  WHERE vec_id % 2 = 0 AND vec_id < 2000),
         |b AS (SELECT vec_id AS b_id, qv AS qb FROM q
         |  WHERE vec_id % 2 = 1 AND vec_id < 2000),
         |p AS (SELECT a_id, b_id,
         |  CAST(list_dot_product(qa, qb) AS BIGINT) AS score
         |  FROM a, b),
         |ab AS (SELECT a_id, b_id, score FROM (SELECT *,
         |  row_number() OVER (PARTITION BY a_id
         |    ORDER BY score DESC, b_id) AS rn FROM p) WHERE rn = 1),
         |ba AS (SELECT a_id, b_id FROM (SELECT *,
         |  row_number() OVER (PARTITION BY b_id
         |    ORDER BY score DESC, a_id) AS rn FROM p) WHERE rn = 1)
         |SELECT ab.a_id, ab.b_id, ab.score FROM ab
         |JOIN ba USING (a_id, b_id) ORDER BY a_id"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Star-schema revenue rollup (the TPC-H Q5 shape): lineitem ⋈
    // orders ⋈ customer ⋈ nation ⋈ region, revenue in fixed-point
    // DECIMAL(38,0) (price·(10⁴−disc) scaled units — a double sum
    // would never replay). The fact-fact join shuffles; the dims ride
    // broadcasts (nation/region pinned, customer via AQE).
    // revenue_num leaves the query as a canonical digit STRING: its
    // exact value exceeds int64/exact-float64 range, and wide decimals
    // in a final schema hash differently across engines (r15 gate
    // fail) — the digit string is representation-free.
    QueryDef("star_revenue", (s, dir) => {
      val li = T(s, dir, "lineitem").select(col("l_orderkey"),
        round(col("l_extendedprice") * 10000).cast("decimal(38,0)")
          .as("__p"),
        round(col("l_discount") * 10000).cast("decimal(38,0)")
          .as("__d"))
      li.join(T(s, dir, "orders").select(col("o_orderkey"),
            col("o_custkey"), year(col("o_orderdate")).as("o_year")),
          col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "customer").select(col("c_custkey"),
          col("c_nationkey")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation").select(col("n_nationkey"),
          col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("o_year"))
        .agg(sum((col("__p") * (lit(10000) - col("__d")))
            .cast("decimal(38,0)")).cast("decimal(38,0)")
            .cast("string").as("revenue_num"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "o_year")
    },
      // the same fixed-point revenue in HUGEINT; year cast to INT on
      // both sides; revenue_num as a canonical digit string (beyond
      // int64 — wide decimals hash engine-dependently, r15)
      ("""WITH li AS (SELECT l_orderkey,
         |  CAST(round(l_extendedprice * 10000.0) AS HUGEINT) AS p,
         |  CAST(round(l_discount * 10000.0) AS HUGEINT) AS d
         |  FROM lineitem)
         |SELECT r_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  CAST(sum(p * (10000 - d)) AS VARCHAR)
         |    AS revenue_num,
         |  CAST(count(*) AS BIGINT) AS n_items
         |FROM li JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1, 2 ORDER BY 1, 2"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Market-basket pair rules: exact support, directional
    // confidence and lift for item pairs co-occurring in orders —
    // pair work bounded by C(basket, 2) via the order-key self-join,
    // every score one IEEE division of exact BIGINTs.
    QueryDef("basket_pairs", (s, dir) =>
      Association.pairRules(T(s, dir, "lineitem"),
        minSupport = 3, k = 100),
      // distinct (order, item) counts, pair self-join, the three
      // single-division scores; full tie order at the top-k boundary
      ("""WITH items AS (SELECT DISTINCT l_orderkey AS ok,
         |  l_partkey AS item FROM lineitem),
         |ic AS (SELECT item, CAST(count(*) AS BIGINT) AS c
         |  FROM items GROUP BY item),
         |no AS (SELECT CAST(count(DISTINCT ok) AS BIGINT)
         |  AS n_orders FROM items),
         |p AS (SELECT x.item AS item_a, y.item AS item_b,
         |  CAST(count(*) AS BIGINT) AS pair_cnt
         |  FROM items x JOIN items y
         |    ON x.ok = y.ok AND x.item < y.item
         |  GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT p.item_a, p.item_b, p.pair_cnt, a.c AS cnt_a,
         |  b.c AS cnt_b, no.n_orders,
         |  CAST(CAST(p.pair_cnt AS HUGEINT) * no.n_orders AS DOUBLE) /
         |    CAST(CAST(a.c AS HUGEINT) * b.c AS DOUBLE) AS lift,
         |  CAST(p.pair_cnt AS DOUBLE) / CAST(a.c AS DOUBLE)
         |    AS conf_a_to_b,
         |  CAST(p.pair_cnt AS DOUBLE) / CAST(b.c AS DOUBLE)
         |    AS conf_b_to_a
         |FROM p JOIN ic a ON a.item = p.item_a
         |JOIN ic b ON b.item = p.item_b CROSS JOIN no
         |ORDER BY lift DESC, p.item_a, p.item_b LIMIT 100"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // Entity-resolution golden records: the EDJoin-blocked fuzzy
    // match pairs connect into clusters by transitive closure
    // (pointer-jumping components), each cluster collapsing to one
    // record under the explicit survivorship rule (longest name, ties
    // to the smallest id). Unmatched records stay singletons.
    QueryDef("er_golden_record", (s, dir) => {
      val records = fuzzyLeft(s, dir)
        .select(col("l_id").as("id"), col("l_name").as("name"))
        .unionByName(fuzzyProbes(s, dir)
          .select(col("r_id").as("id"), col("r_name").as("name")))
      val pairs = FuzzyJoin.editBlockedJoin(
        fuzzyLeft(s, dir), fuzzyProbes(s, dir), maxDist = 1)
        .select(col("l_id"), col("r_id"))
      EntityResolution.goldenRecords(records, pairs)
        .orderBy("cluster_id")
    },
      // the full blocking replay feeding a recursive reach closure;
      // survivorship replayed as row_number over (len desc, id)
      (FuzzyJoinCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ", pairs AS (SELECT l_id, r_id FROM c " +
        "WHERE levenshtein(l_name, r_name) <= 1), " +
        "recs AS (SELECT l_id AS id, l_name AS name FROM lf " +
        "UNION ALL SELECT r_id, r_name FROM rt), " +
        "edges AS (SELECT l_id AS src, r_id AS dst FROM pairs " +
        "UNION SELECT r_id, l_id FROM pairs), " +
        "reach(node, lbl) AS (SELECT id, id FROM recs " +
        "UNION SELECT e.dst, r.lbl FROM reach r " +
        "JOIN edges e ON e.src = r.node), " +
        "comp AS (SELECT node, min(lbl) AS component FROM reach " +
        "GROUP BY node), " +
        "m AS (SELECT comp.component, recs.id, recs.name FROM recs " +
        "JOIN comp ON comp.node = recs.id), " +
        "g AS (SELECT component, CAST(count(*) AS BIGINT) " +
        "AS n_members FROM m GROUP BY component), " +
        "rk AS (SELECT component, name, row_number() OVER (" +
        "PARTITION BY component " +
        "ORDER BY length(name) DESC, id) AS rn FROM m) " +
        "SELECT g.component AS cluster_id, g.n_members, " +
        "rk.name AS canonical_name FROM g " +
        "JOIN rk ON rk.component = g.component AND rk.rn = 1 " +
        "ORDER BY cluster_id")),

    // 2-D Pareto frontier (skyline) of parts under (min price, max
    // size): the "best tradeoff" rows via group + tiny running-max
    // window — strict dominance without a self-join.
    QueryDef("pareto_frontier", (s, dir) =>
      Profiling.paretoFrontier(T(s, dir, "part"),
        "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy("p_retailprice", "p_size", "p_partkey"),
      // grouped best-y + running max in x-order — the same
      // no-self-join strict-dominance algebra as the Spark side
      ("""WITH b AS (SELECT p_retailprice, max(p_size) AS best
         |  FROM part GROUP BY 1),
         |r AS (SELECT p_retailprice, best, max(best) OVER (
         |  ORDER BY p_retailprice
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
         |  FROM b),
         |f AS (SELECT p_retailprice, best FROM r
         |  WHERE prev IS NULL OR best > prev)
         |SELECT p.p_partkey, p.p_retailprice, p.p_size
         |FROM part p JOIN f ON p.p_retailprice = f.p_retailprice
         |  AND p.p_size = f.best
         |ORDER BY p.p_retailprice, p.p_size, p.p_partkey"""
        .stripMargin.replaceAll("\\s+", " ").trim)),

    // HLL inclusion–exclusion set intersection: how many users did
    // BOTH click and view, estimated from three one-pass sketches and
    // audited in-band against the exact distinct-join count — the
    // cross-segment overlap question answered sketch-side.
    QueryDef("sketch_hll_intersect", (s, dir) =>
      Sketches.hllIntersectChecked(T(s, dir, "events"),
        "event_type", "user_id", "click", "view"),
      // exact distinct-join intersection replay + the audit flag TRUE
      ("SELECT CAST(count(*) AS BIGINT) AS exact_intersection, " +
        "TRUE AS within_bound FROM " +
        "(SELECT DISTINCT user_id FROM events " +
        "WHERE event_type = 'click') a JOIN " +
        "(SELECT DISTINCT user_id FROM events " +
        "WHERE event_type = 'view') b USING (user_id)")),

    // KMV set-DIFFERENCE estimate with the exact anti-join count and
    // the in-band bound audit — the question HLL inclusion-exclusion
    // can't answer without stacking its error twice; sketches are
    // k-row and mergeable. The fixture overlaps two event_id ranges
    // (60%/60%, 20% shared) so BOTH sides exceed k — the
    // (k−1)·H/m_k path, the union-membership Jaccard and a genuine
    // nonzero difference all get exercised (the user_id universe at
    // this SF is 150 ids dense in every type — any type pair
    // degenerates to 0).
    QueryDef("sketch_kmv_diff", (s, dir) => {
      val e = T(s, dir, "events")
      val facts = e.filter(col("event_id") % 10 < 6)
        .select(lit("a").as("part"), col("event_id").as("k"))
        .unionByName(e.filter(col("event_id") % 10 >= 4)
          .select(lit("b").as("part"), col("event_id").as("k")))
      Sketches.kmvDiffChecked(facts, "part", "k", "a", "b")
    },
      // exact replay of the difference; the KMV estimate is
      // hash-derived, so the oracle asserts the in-band bound flag
      ("SELECT CAST(count(*) AS BIGINT) AS exact_diff, " +
        "TRUE AS within_bound FROM " +
        "(SELECT DISTINCT event_id FROM events " +
        "WHERE event_id % 10 < 6) a " +
        "ANTI JOIN (SELECT DISTINCT event_id FROM events " +
        "WHERE event_id % 10 >= 4) b " +
        "USING (event_id)")),

    // Z-order (Morton) layout key: the clustering column a 100 TB sink
    // range-partitions + sorts by for two-dimensional scan pruning.
    // Values are integer-exact; the oracle replays the interleave in
    // SQL bit arithmetic.
    QueryDef("zorder_key", (s, dir) =>
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          ZOrder.zorder(col("event_id"), col("user_id")).as("zval")),
      // bit-exact Morton replay: disjoint power-of-two terms, so the
      // list_sum IS the bitwise OR of the interleaved bits. y's bit 31
      // lands on bit 63, where DuckDB's checked `<<` overflows — that
      // one term is added as the signed value -2^63 instead (HUGEINT
      // sum, exact BIGINT cast), keeping the oracle valid over the
      // operator's full 32-bit-per-axis domain, not just small ids.
      ("SELECT event_id, user_id, CAST(" +
        "list_sum(list_transform(range(0, 32), i -> " +
        "((event_id >> i) & 1) << (2*i))) + " +
        "list_sum(list_transform(range(0, 31), i -> " +
        "((user_id >> i) & 1) << (2*i + 1))) + " +
        "CASE WHEN ((user_id >> 31) & 1) = 1 " +
        "THEN -9223372036854775808 ELSE 0 END " +
        "AS BIGINT) AS zval FROM events")),

    // Aggregate-based argmax (max_by on a struct ordering key): each
    // customer's highest-value order in ONE hash aggregate — no
    // per-group sort, no window shuffle; ties broken by orderkey so
    // the result is deterministic.
    QueryDef("argmax_per_group", (s, dir) =>
      T(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("top_orderkey"),
          max(col("o_totalprice")).as("top_price")),
      // max_by over struct(price, orderkey) ≡ highest price, ties to the
      // highest orderkey — exactly rn=1 under (price DESC, key DESC).
      ("SELECT o_custkey, o_orderkey AS top_orderkey, " +
        "o_totalprice AS top_price FROM orders " +
        "QUALIFY row_number() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey DESC) = 1")))
}
