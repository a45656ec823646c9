package perfbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's own checks: seeded inputs are reproducible and
  * seed-sensitive, every metric name is well formed, and the tracer
  * records a well-formed span tree with jobs attributed to the span
  * that submitted them. Prints the per-layer catalogue as its last
  * line and exits non-zero on any failure.
  *
  * Usage: SelfTest <checkout root>
  */
object SelfTest {
  private val failures = ArrayBuffer.empty[String]

  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) failures += what

  def main(args: Array[String]): Unit = {
    val root = Paths.get(args.headOption.getOrElse(".")).toAbsolutePath
    val registry = Registry.load(root.resolve(Main.RegistryDir))

    // seed -> inputs is a function, and the seed matters
    for (name <- Seq("etl_mixed", "curation")) {
      def digest(seed: Long) = Main.workload(name, seed, root).inputDigest
      expect(digest(7) == digest(7), s"$name: same seed, different inputs")
      expect(digest(7) != digest(8), s"$name: seeds 7 and 8 give the same inputs")
    }
    val reg = (s: Long) => Main.registry(s, root).inputDigest
    expect(reg(7) == reg(7), "registry slice: same seed, different order")
    expect((1L to 8L).map(reg).distinct.size > 1,
      "registry slice: the seed never changes the query order")

    // the generators plant what the oracle expects
    val corpus = EtlGen.generate(6, 60, 3)
    expect(EtlGen.Entities.forall { case (e, _) => corpus.counts(e) > 0 },
      s"etl corpus misses an entity: ${corpus.counts}")
    val docs = DocGen.generate(400, 3)
    expect(docs.funnel.nGopher < docs.funnel.nInput &&
      docs.funnel.nGates < docs.funnel.nGopher &&
      docs.funnel.nOut < docs.funnel.nGates && docs.piiKept > 0,
      s"curation corpus plants no failures: ${docs.funnel}")

    // metric names
    val names = Main.EndToEnd.map(_._1) ++ Layers.perLayer(registry.map(_.name)).map(_._1)
    names.filterNot(_.matches(Layers.NamePattern))
      .foreach(n => failures += s"metric name $n does not match ${Layers.NamePattern}")
    expect(names.distinct.size == names.size, "duplicate metric names")

    // span tree
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tracer = new Tracer(spark)
      tracer.start()
      tracer.span("outer") {
        tracer.span("first")(spark.range(1000).count())
        tracer.span("second") {
          spark.range(10).count()
          tracer.span("inner")(spark.range(10).selectExpr("sum(id)").collect())
        }
      }
      tracer.stop()
      val bad = Tracer.wellFormed(tracer.all)
      expect(bad.isEmpty, s"span tree malformed: $bad")
      expect(tracer.all.map(_.name) == Seq("outer", "first", "second", "inner"),
        s"spans recorded out of order: ${tracer.all.map(_.name)}")
      Seq("first", "second", "inner").foreach { n =>
        expect(tracer.byName(n).jobs >= 1, s"no job attributed to span $n")
      }
      expect(tracer.byName("outer").jobs == 0, "a job leaked to the outer span")
      expect(tracer.rollup(tracer.byName("outer")).jobs ==
        tracer.all.drop(1).map(_.jobs).sum, "rollup does not sum the subtree")
      expect(tracer.rollup(tracer.byName("outer")).tasks > 0, "no tasks attributed")
      val s = tracer.all
      expect(s.map(tracer.selfS).forall(_ >= 0), "negative self time")
      // and the check notices a broken tree: a child outside its parent
      val broken = IndexedSeq(new Tracer.Span(0, "p", -1, 10, 0),
        new Tracer.Span(1, "c", 0, 5, 0))
      broken(0).endNs = 20; broken(1).endNs = 15
      expect(Tracer.wellFormed(broken).nonEmpty, "wellFormed accepted a child outside its parent")
    } finally spark.stop()

    failures.foreach(f => System.err.println(s"FAIL: $f"))
    println(Json.obj(
      "end_to_end" -> Main.EndToEnd.map { case (n, u) => Json.Raw(Json.obj("name" -> n, "unit" -> u)) },
      "per_layer" -> Layers.perLayer(registry.map(_.name)).map { case (n, u) =>
        Json.Raw(Json.obj("name" -> n, "unit" -> u)) }))
    if (failures.nonEmpty) sys.exit(1)
  }
}
