package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting — the clustering-coefficient/community-density
  * signal a link-graph pipeline computes next to PageRank (spam farms
  * are triangle-dense, genuine link neighborhoods moderately so), via
  * the degree-ordered compact-forward algorithm.
  *
  * The naive formulation (three-way self-join of the edge list) blows
  * up on skew: a single hub of degree d contributes O(d²) wedges. The
  * standard fix, implemented here: orient every undirected edge from
  * its lower-(degree, id) endpoint to the higher one — a total order,
  * so each triangle is counted EXACTLY once — and enumerate wedges
  * only from each node's outgoing (higher-ranked) neighbors, which
  * caps per-node wedge work at O(√m) out-degree for any degree
  * distribution. Wedge closure is one equi-join back to the oriented
  * edge list. All joins are equi-joins on node ids; the counts are
  * exact integers.
  */
object Triangles {

  /** One summary row `(n_nodes, n_edges, n_triangles)` over the
    * DISTINCT undirected simple graph of `edges` (self-loops dropped,
    * directions and duplicates collapsed).
    */
  def summary(edges: DataFrame): DataFrame = {
    // und feeds the degree count, the orientation join, and the edge
    // tally; oriented feeds both wedge sides and the closure join —
    // without the two lineage cuts each reference re-derives the whole
    // upstream (scan → self-join → distinct) chain (measured 3× the
    // runtime at sf0.1; SCALE.md)
    val und = CheckpointUtil.ckpt(edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    // orient lower (deg, id) -> higher; rank comparisons carried as
    // (deg, id) pairs so the wedge step can re-canonicalize
    val oriented = CheckpointUtil.ckpt(withDeg.select(
      when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v"),
          col("da").as("du"), col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"),
          col("db").as("du"), col("da").as("dv"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"),
        col("e.du").as("du"), col("e.dv").as("dv")))
    // wedges u -> (v1, v2) with rank(v1) < rank(v2); the closing edge,
    // if present, is oriented (v1, v2) by transitivity of the order
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          (col("x.dv") < col("y.dv") ||
            (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
      .select(col("x.v").as("u"), col("y.v").as("v"))
    val tri = wedges.join(oriented.select("u", "v"), Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri)
  }
}
