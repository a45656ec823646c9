package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association mining at the pair level: for every pair
  * of items co-occurring in an order, exact support, directional
  * confidence, and lift — the classic "customers who bought A also
  * bought B" screen, and (with lift ≡ the PMI ratio on a different
  * universe) the transactional sibling of the text collocation miner.
  *
  * Scale shape: the pair generation is a self-equi-join on the order
  * key, so per-order work is C(order size, 2) — bounded by the
  * basket, never by the catalog — and everything else is map-side-
  * combinable counting plus two item-count joins on the (small,
  * support-pruned) pair frame. `lift` and both confidences are single
  * IEEE divisions of exact BIGINT counts, so ranking replays
  * bit-identically.
  */
object Association {

  /** Top-`k` item pairs by lift with `pair_cnt >= minSupport`:
    * `(item_a, item_b, pair_cnt, cnt_a, cnt_b, n_orders, lift,
    * conf_a_to_b, conf_b_to_a)`, item_a < item_b, counted over
    * DISTINCT (order, item) — quantity does not inflate support.
    */
  def pairRules(
      lineitem: DataFrame,
      minSupport: Int = 5,
      k: Int = 100): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(k >= 1, s"k must be >= 1, got $k")
    // `items` feeds four consumers (itemCnt, nOrders, both sides of
    // the pair self-join) under three distinct partitionings — only
    // the self-join's two sides share an exchange, so the distinct
    // over the fact table would otherwise run three times. One lazy
    // barrier on the (orderkey, item) long-pair frame.
    val items = CheckpointUtil.ckpt(lineitem
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("item"))
      .distinct(), eager = false)
    val itemCnt = items.groupBy(col("item"))
      .agg(count(lit(1)).as("c"))
    val nOrders = items.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val pairs = items.as("x")
      .join(items.as("y"),
        col("x.ok") === col("y.ok") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("item_a"), col("y.item").as("item_b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minSupport)
    pairs
      .join(itemCnt.select(col("item").as("item_a"),
        col("c").as("cnt_a")), "item_a")
      .join(itemCnt.select(col("item").as("item_b"),
        col("c").as("cnt_b")), "item_b")
      .crossJoin(broadcast(nOrders))
      .select(col("item_a"), col("item_b"), col("pair_cnt"),
        col("cnt_a"), col("cnt_b"), col("n_orders"),
        // the lift products ride DECIMAL(38,0) internally (emitted as
        // one double): at ~10¹³ orders `pair_cnt·n_orders` passes both
        // 2^53 exact-double and 2^63 BIGINT range, while the exact
        // decimal still converts to the one correctly-rounded IEEE
        // double on any engine (DuckDB replays in HUGEINT) — the
        // collocationsTopK PMI reasoning on the transaction universe
        ((col("pair_cnt").cast("decimal(38,0)") * col("n_orders"))
          .cast("double") /
          (col("cnt_a").cast("decimal(38,0)") * col("cnt_b"))
            .cast("double")).as("lift"),
        (col("pair_cnt").cast("double") / col("cnt_a").cast("double"))
          .as("conf_a_to_b"),
        (col("pair_cnt").cast("double") / col("cnt_b").cast("double"))
          .as("conf_b_to_a"))
      .orderBy(col("lift").desc, col("item_a"), col("item_b"))
      .limit(k)
  }
}
