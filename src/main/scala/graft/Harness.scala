package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session shape every entry point runs on, and the per-query
  * loop the registry runners (Bench, Verify, ConfProbe) share.
  *
  * Session policy: the master is `SPARK_MASTER`, else
  * `local[SPARK_GRAFT_CPUS]`, else `local[<available processors>]`;
  * shuffle partitions equal the cores, the UI is off, the session time
  * zone is UTC, the log level is WARN, and the graft SQL functions,
  * optimizer rules and planner strategy are registered.
  */
object Harness {

  /** Cores for a local master and the shuffle partition count. */
  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def defaultMaster: String =
    sys.env.getOrElse("SPARK_MASTER", s"local[$cores]")

  private val LocalN = """local\[(\d+)\]""".r

  /** Builds (or joins) the session; `conf` pairs are applied last, so a
    * probe can override any default.
    */
  def session(
      master: String = defaultMaster,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val partitions = master match {
      case LocalN(n) => n
      case _ => cores.toString
    }
    val spark = conf.foldLeft(
        SparkSession.builder()
          .master(master)
          .appName("graft")
          .config("spark.sql.shuffle.partitions", partitions)
          .config("spark.ui.enabled", "false")
          .config("spark.sql.session.timeZone", "UTC")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }

  /** Materializes every column of every row (unlike count(), which lets
    * Catalyst prune the projections under test).
    */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Untimed warmup: session/codegen/parquet-footer initialization and
    * the JIT of the heavy operator paths (hash/shuffle/HOF-fold
    * interpreters) should not be charged to whichever query happens to
    * run first — a long-running cluster amortizes all of it.
    */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      noop(spark.range(1000).selectExpr("sum(id)"))
      noop(spark.read.parquet(s"$sfDir/region.parquet"))
      val docsSlice = spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
      noop(graft.ops.TextDedup.minHashCandidates(docsSlice))
      noop(graft.ops.TextDedup.simHashSignatures(docsSlice))
    } catch { case _: Throwable => () }

  /** Queries are independent: any cache()/localCheckpoint blocks one
    * leaves behind (iterative ops pin their FINAL frame; a failed run
    * may leak mid-loop state) are dead weight that crowds storage
    * memory for every later query — the r15 bench artifact measured
    * 6-8× inflation on the late-alphabet graph queries from exactly
    * this accumulation. Non-blocking.
    */
  def sweep(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))

  /** One query step: runs `action` (build + action of the query), and
    * returns its wall seconds, or None after reporting the failure on
    * stderr as `[tag] name failed: ...`. The sweep runs in `finally`,
    * outside the timed section.
    */
  def step(spark: SparkSession, tag: String, name: String)(
      action: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try {
      action
      Some((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[$tag] $name failed: ${e.getMessage}")
      None
    } finally sweep(spark)
  }

  /** Registry query names from a `q1,q2,...` list or `ALL` (sorted). */
  def queryNames(spec: Seq[String]): Seq[String] =
    if (spec == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
    else spec.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
}
