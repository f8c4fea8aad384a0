package graft

import graft.functions.GraftFunctions
import graft.plans.ZipfSource
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** User-facing facade — the single import a user of the reference needs
  * to switch engines:
  *
  * {{{
  * val spark = Graft.session("my-app")          // tuned local session
  * Graft.registerViews(spark, "/data/sf0.1")    // tables as SQL views
  * spark.sql("SELECT ... FROM lineitem ...")    // plain SQL surface
  * Graft.query("dedup_minhash_lsh")(spark, dir) // named operators
  * }}}
  *
  * [[session]] is also the ONE session factory of every graft main
  * (Bench, Verify, Explain, the `*Scale` harnesses, ...), so a number a
  * diagnostic main prints is measured in the session the bench uses.
  * Three environment variables shape it, each read only here:
  *
  *  - `SPARK_GRAFT_CPUS` — `local[N]` and the shuffle width (default:
  *    every core the JVM sees);
  *  - `SPARK_GRAFT_CONF="k=v;k=v"` — conf overrides, applied through the
  *    builder so context-level keys (`spark.buffer.*`) take effect too;
  *  - `SPARK_GRAFT_ONLY="a,b"` — the registry subset Bench, Verify and
  *    Explain run ([[selectedQueries]]).
  */
object Graft {

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def cores(env: Map[String, String]): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** The `SPARK_GRAFT_CONF` parser: `"k=v;k=v"` → pairs, blanks around
    * keys, values and separators ignored. An entry without `=` or with a
    * blank key is a typo that would otherwise be silently dropped or
    * surface as a bare MatchError, so it fails naming the entry. */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      }
    }

  /** Every conf [[session]] builds with, computed without starting
    * Spark: the bench posture, then `extra` (a main's own forced
    * confs), then `SPARK_GRAFT_CONF` — later layers win. */
  def sessionConf(app: String, extra: Map[String, String] = Map.empty,
      env: Map[String, String] = sys.env): Map[String, String] = {
    val n = cores(env).toString
    Map(
      "spark.master" -> s"local[$n]",
      "spark.app.name" -> app,
      // shuffle width = cores: the reference fixed numReducers=100 for
      // a 17-node cluster; on local[N] that only adds scheduling
      "spark.sql.shuffle.partitions" -> n,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      // Even with the UI off, the app-status listener retains per-
      // execution metadata incl. FULL plan strings (some of ours are
      // hundreds of KB); at 212 queries × 2 runs the defaults (1000
      // executions / 1000 jobs) pin hundreds of MB of driver heap and
      // the resulting GC pressure contaminated late-alphabet queries
      // (join_broadcast measured 0.28 s isolated vs 5.0 s mid-run).
      "spark.sql.ui.retainedExecutions" -> "16",
      "spark.ui.retainedJobs" -> "100",
      "spark.ui.retainedStages" -> "100",
      "spark.ui.retainedTasks" -> "1000",
      // one-shot stream drains never replay old batches; the default
      // keeps 100 state-map versions resident per store, and ~30
      // streaming queries' final states would otherwise stay loaded
      // for the rest of the run
      "spark.sql.streaming.minBatchesToRetain" -> "2"
    ) ++ extra ++ env.get("SPARK_GRAFT_CONF").toSeq.flatMap(parseConf)
  }

  /** Opinionated local session ([[sessionConf]]) with graft's SQL
    * functions, the native Zipf strategy and the argmax rewrite
    * installed. */
  def session(app: String = "graft",
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = sessionConf(app, extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
  }

  /** Install graft's functions and planner strategy into an existing
    * session (idempotent). */
  def configure(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    ZipfSource.install(spark)
    plans.ArgmaxRewrite.install(spark)
    spark
  }

  /** The `SPARK_GRAFT_ONLY="a,b"` subset; None = the whole registry. */
  def only(env: Map[String, String] = sys.env): Option[Set[String]] =
    env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** Registry queries by name, restricted to [[only]]. */
  def selectedQueries(env: Map[String, String] = sys.env): Seq[QueryDef] = {
    val keep = only(env)
    SparkEntry.registry.sortBy(_.name).filter(q => keep.forall(_(q.name)))
  }

  /** Register every testdata table as a temp view so `spark.sql` works
    * with the same names the DuckDB oracle uses. */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { t =>
      if (new java.io.File(s"$sfDir/$t.parquet").exists())
        Tables.table(spark, sfDir, t).createOrReplaceTempView(t)
    }

  /** Named operator lookup (SparkEntry registry). */
  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries(name)
}
