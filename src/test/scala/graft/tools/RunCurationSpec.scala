package graft.tools

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.SparkSpec
import graft.ops.{Sampling, TextAnalysis}

/** The one-command curation run on REAL multi-line documents (no
  * synthetic line reconstruction): gates, line cleaning, dedup,
  * redaction, funnel accounting, and the sharded sink.
  */
class RunCurationSpec extends SparkSpec {
  import graft.SparkTestSession.spark.implicits._

  private val prose = (1 to 60)
    .map(i => s"the data and model run $i goes to the set with care.")
    .mkString("\n")

  /** The funnel as two scans: the gate counts over the input, then a
    * count of the curated frame. It is the oracle for the funnel that
    * `curate` counts during the pass that runs `out`.
    */
  private def referenceFunnel(docs: DataFrame, out: DataFrame): String = {
    val gk = TextAnalysis.gopherKeep(col("text"))
    val pk = TextAnalysis.c4PageKeep(col("text"))
    val f = docs.agg(
      count(lit(1)).as("n_input"),
      coalesce(sum(when(gk, 1L).otherwise(0L)), lit(0L)).as("n_gopher"),
      coalesce(sum(when(gk && pk, 1L).otherwise(0L)), lit(0L))
        .as("n_gates"))
      .collect().head
    s"""{"n_input":${f.getAs[Long]("n_input")},""" +
      s""""n_gopher":${f.getAs[Long]("n_gopher")},""" +
      s""""n_gates":${f.getAs[Long]("n_gates")},""" +
      s""""n_out":${out.count()}}"""
  }

  /** 40 documents with every fate the funnel counts: distinct passing
    * prose, exact duplicates, Gopher and page-gate failures, PII lines,
    * and a pass-through `source` column.
    */
  private def mixedDocs: DataFrame = (0 until 40).map { i =>
    val text = i % 8 match {
      case 0 => "short junk"
      case 1 => prose + "\nlorem ipsum dolor sit amet."
      case 2 => prose + s"\ncall +6281234567$i now please today."
      case 3 => prose + s"\nextra closing line number ${i + 1}."
      case _ => prose + s"\nextra closing line number $i."
    }
    (i.toLong, s"src$i", text)
  }.toDF("doc_id", "source", "text")

  /** (jobs, SQL executions) that `body` submits. */
  private def submitted(body: => Unit): (Int, Int) = {
    val jobs = new AtomicInteger
    val execs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ =>
      }
    }
    ListenerBridge.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBridge.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, execs.get)
  }

  /** Runs `body`; returns how many jobs started after the last job of
    * the last shard write (an `InsertIntoHadoopFsRelationCommand`).
    */
  private def jobsAfterLastWrite(body: => Unit): Int = {
    val writes = ConcurrentHashMap.newKeySet[Long]()
    val jobExecs = new ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobExecs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .fold(-1L)(_.toLong))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.physicalPlanDescription
            .contains("InsertIntoHadoopFsRelationCommand") =>
          writes.add(s.executionId)
        case _ =>
      }
    }
    ListenerBridge.drain(spark)
    spark.sparkContext.addSparkListener(listener)
    try { body; ListenerBridge.drain(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    val order = jobExecs.asScala.toSeq
    val last = order.lastIndexWhere(writes.contains)
    assert(last >= 0, "no shard write ran")
    order.size - 1 - last
  }

  private def fields(line: String): Map[String, Long] =
    "\"(n_\\w+)\":(\\d+)".r.findAllMatchIn(line)
      .map(m => m.group(1) -> m.group(2).toLong).toMap

  test("curate: gates, dedup, redaction and funnel on hand-built docs") {
    val docs = Seq(
      (1L, prose), // passes every gate
      (2L, prose), // exact duplicate -> dropped by keep-first dedup
      (3L, "short junk"), // fails the Gopher word-count floor
      (4L, prose + "\nlorem ipsum dolor sit amet."), // page gate drops
      (5L, prose + "\ncall +6281234567 now please today.")) // PII line
      .toDF("doc_id", "text")
    val (out, funnel) = RunCuration.curate(docs)
    val kept = out.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 5L), s"kept $kept")
    val t5 = out.filter(col("doc_id") === 5L)
      .select("text").as[String].collect().head
    assert(t5.contains("<PHONE>") && !t5.contains("+62812"),
      s"PII survived: $t5")
    assert(funnel() ==
      """{"n_input":5,"n_gopher":4,"n_gates":3,"n_out":2}""", funnel())
    // the classifier gate composes without changing this verdict set
    // (prose scores far positive, junk is already gone at the gates)
    val (out2, _) = RunCuration.curate(docs, classifier = true)
    assert(out2.select("doc_id").as[Long].collect().toSet == kept)
  }

  test("curate + writeTrainingShards: the full run lands on disk") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-run-cur-").toString
    val docs = (0 until 40)
      .map(i => (i.toLong, prose + s"\nextra closing line number $i."))
      .toDF("doc_id", "text")
    val (out, funnel) = RunCuration.curate(docs, redact = false)
    graft.ops.Sampling.writeTrainingShards(out, col("text"), dir, 16)
    val back = spark.read.parquet(dir)
    assert(back.count() == 40)
    assert(back.select("doc_id").distinct().count() == 40)
    assert(funnel().contains("\"n_out\":40"), funnel())
  }

  test("--near-index composes: curated docs already in the prior " +
      "corpus are dropped, the prior corpus is never re-scanned") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cur-idx-").toString
    // prior corpus = one gate-passing doc; index it
    Seq((900L, prose)).toDF("doc_id", "text")
      .write.parquet(s"$dir/prior")
    RunDedupIndex.buildIndex(spark.read.parquet(s"$dir/prior"),
      s"$dir/index")
    // new snapshot: a re-render of the indexed doc (gates pass, but
    // the index gate must drop it) + a genuinely new passing doc
    val fresh = (1 to 60)
      .map(i => s"the fresh data and model run $i goes to the set now.")
      .mkString("\n")
    val docs = Seq((1L, prose.toUpperCase), (2L, fresh))
      .toDF("doc_id", "text")
    val (curated, _) = RunCuration.curate(docs, redact = false)
    assert(curated.select("doc_id").as[Long].collect().toSet ==
      Set(1L, 2L), "both must pass the content gates")
    val gated = RunDedupIndex.applyFrame(spark, curated, s"$dir/index",
      thresholdPct = 100)
    assert(gated.select("doc_id").as[Long].collect().toSet == Set(2L),
      "the indexed re-render must be dropped by the near-dup gate")
    val plan = gated.queryExecution.executedPlan.toString
    assert(!plan.contains("/prior"), "prior corpus must not be scanned")
  }

  test("splitFrames: exhaustive + disjoint, planted near-dups land " +
      "on ONE side, singleton labels match the plain hash split") {
    val base = (1 to 80)
      .map(i => s"alpha beta gamma delta run $i ends here quietly.")
      .mkString(" ")
    // 24 pairwise-DISJOINT docs (per-doc vocabulary — no shared grams,
    // so they stay singletons) + one near-dup pair (900, 901): same
    // text with one word swapped, Jaccard far above the 0.5 threshold
    val docs = ((0 until 24).map(i =>
      (i.toLong, (1 to 40)
        .map(j => s"t${i}x$j u${i}y$j v${i}z$j").mkString(" ")))
      :+ (900L, base) :+ (901L, base.replace("quietly", "loudly")))
      .toDF("doc_id", "text")
    val (train, evalD) = RunCuration.splitFrames(docs, evalRate = 0.4)
    val tIds = train.select("doc_id").as[Long].collect().toSet
    val eIds = evalD.select("doc_id").as[Long].collect().toSet
    assert((tIds ++ eIds).size == 26 && (tIds & eIds).isEmpty,
      s"not a partition: ${tIds.size}+${eIds.size}")
    assert(tIds.nonEmpty && eIds.nonEmpty, "degenerate split fixture")
    // the planted pair must not straddle
    assert(tIds(900L) == tIds(901L) && eIds(900L) == eIds(901L),
      s"near-dup pair straddled: train=$tIds eval=$eIds")
    // both wear the REPRESENTATIVE's (id 900) own-hash label, and
    // every singleton keeps its plain hashSplit label
    val naive = graft.ops.Sampling.hashSplit(docs, col("text"), 0.4)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(eIds(900L) == (naive(900L) == "eval"), "rep label broken")
    for (i <- 0L until 24L)
      assert(eIds(i) == (naive(i) == "eval"), s"singleton $i moved")
  }

  test("the one-pass funnel equals the two-scan reference for every " +
      "curate variant") {
    val docs = mixedDocs
    assert(referenceFunnel(docs, RunCuration.curate(docs)._1) ==
      """{"n_input":40,"n_gopher":35,"n_gates":30,"n_out":25}""")
    for ((redact, classifier) <- Seq((true, false), (false, false),
        (true, true))) {
      val (out, funnel) = RunCuration.curate(docs, redact, classifier)
      val expected = referenceFunnel(docs,
        RunCuration.curate(docs, redact, classifier)._1)
      assert(funnel() == expected,
        s"redact=$redact classifier=$classifier")
      assert(out.columns.toSeq == Seq("doc_id", "source", "text"))
    }
  }

  test("after the shard write the funnel submits no Spark job; " +
      "unfired, it runs exactly one pass") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cur-pass-").toString
    val docs = mixedDocs
    val expected = referenceFunnel(docs, RunCuration.curate(docs)._1)
    val (out, funnel) = RunCuration.curate(docs)
    Sampling.writeTrainingShards(out, col("text"), dir, 16)
    var line = ""
    val (jobs, _) = submitted { line = funnel() }
    assert(jobs == 0, s"funnel() after the write ran $jobs jobs")
    assert(line == expected)
    val (_, unfired) = RunCuration.curate(docs)
    val (jobs2, passes) = submitted { line = unfired() }
    assert(line == expected)
    assert(jobs2 > 0 && passes == 1,
      s"an unfired funnel ran $passes passes ($jobs2 jobs)")
  }

  test("the curated plan has no join and one exchange, the dedup " +
      "window") {
    val (out, _) = RunCuration.curate(mixedDocs)
    val plan = Inspect.finalPlan(out)
    assert(!plan.contains("Join"), s"redaction joined:\n$plan")
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") == 1,
      s"expected exactly one Exchange:\n$plan")
  }

  test("run: the funnel is right on the plain, --eval-rate and " +
      "--near-index paths") {
    // and so are the tail counts, with no job after the last write
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cur-run-").toString
    mixedDocs.write.parquet(s"$dir/docs")
    Seq((900L, "src900", prose + "\nextra closing line number 4."))
      .toDF("doc_id", "source", "text").write.parquet(s"$dir/prior")
    RunDedupIndex.buildIndex(spark.read.parquet(s"$dir/prior"),
      s"$dir/index")
    val docs = spark.read.parquet(s"$dir/docs")
    val expected = fields(referenceFunnel(docs,
      RunCuration.curate(docs)._1))
    val afterIndex = RunDedupIndex.applyFrame(spark,
      RunCuration.curate(docs)._1, s"$dir/index").count()
    // an empty split writes no part file, so the schema is given
    def written(path: String) =
      spark.read.schema(docs.schema).parquet(path).count()
    val paths = Seq(
      "plain" -> Seq.empty[String],
      "eval" -> Seq("--eval-rate", "0.4"),
      "index" -> Seq("--near-index", s"$dir/index"),
      "both" -> Seq("--near-index", s"$dir/index", "--eval-rate", "0.4"))
    for ((name, flags) <- paths) {
      val out = s"$dir/out-$name"
      var line = ""
      val late = jobsAfterLastWrite {
        line = RunCuration.run(spark,
          (Seq(s"$dir/docs", out) ++ flags).toArray)
      }
      assert(late == 0, s"$name: $late jobs after the last write")
      val got = fields(line)
      assert(expected.forall { case (k, v) => got.get(k).contains(v) },
        s"$name: $got, expected $expected")
      name match {
        case "plain" =>
          assert(written(out) == got("n_out"))
        case "eval" =>
          assert(got("n_train") == written(s"$out/train") &&
            got("n_eval") == written(s"$out/eval") &&
            got("n_train") + got("n_eval") == got("n_out"), s"$got")
        case "index" =>
          assert(got("n_after_index") == afterIndex &&
            written(out) == afterIndex && afterIndex < got("n_out"), s"$got")
        case "both" =>
          assert(got("n_after_index") == afterIndex &&
            got("n_train") == written(s"$out/train") &&
            got("n_eval") == written(s"$out/eval") &&
            got("n_train") + got("n_eval") == afterIndex, s"$got")
      }
    }
  }

  test("an all-rejected or empty input prints its true funnel, through " +
      "curate + writeTrainingShards and through run") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cur-empty-").toString
    val junk = (0 until 10).map(i => (i.toLong, "short junk"))
      .toDF("doc_id", "text")
    val inputs = Seq(
      "junk" -> (junk, """{"n_input":10,"n_gopher":0,"n_gates":0,"n_out":0}"""),
      "empty" -> (junk.limit(0),
        """{"n_input":0,"n_gopher":0,"n_gates":0,"n_out":0}"""))
    for ((name, (docs, expected)) <- inputs) {
      assert(referenceFunnel(docs, RunCuration.curate(docs)._1) == expected)
      val (out, funnel) = RunCuration.curate(docs)
      Sampling.writeTrainingShards(out, col("text"), s"$dir/$name-shards", 4)
      assert(funnel() == expected, s"$name: curate")
      docs.write.parquet(s"$dir/$name-docs")
      assert(RunCuration.run(spark,
        Array(s"$dir/$name-docs", s"$dir/$name-out")) == expected,
        s"$name: run")
    }
  }
}
