package graft.perfbench

import graft.SparkEntry
import graft.datagen.DataGen
import graft.operators.Joins
import graft.plans.{ZipfMath, ZipfSource}
import graft.sources.Tables
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop benchmark harness: one client in one local[cores]
  * process runs a workload's operations back to back, each starting
  * after the previous one ends, checks every output and writes the raw
  * record (operation walls, passes, and on traced passes the Spark job,
  * stage and micro-batch spans) as one JSON file. `run.py` builds and
  * launches it and turns the record into metrics; README.md describes
  * the workloads.
  *
  * Usage: PerfBench --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE --launch-ms EPOCH_MS
  *   PerfBench --dump DIR --data DIR --work DIR   (oracle_check.py)
  */
object PerfBench {

  /** Checksum modulus: a prime below 2^31, so the sum of residues over
    * any realistic row count fits a long and ANSI mode never overflows. */
  val Prime = 2147483647L

  /** Row count and order-independent content hash of `df`: the sum of
    * per-row xxhash64 residues over all columns in name order. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(cols.toIndexedSeq: _*), lit(Prime)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1) % Prime)
  }

  /** What an operation's call returned: result rows, content hash and
    * per-phase seconds (decomposed merge join only). */
  final case class Outcome(rows: Long, hash: Long, phases: Map[String, Double] = Map.empty)

  /** One timed call into the engine; `check` names what is wrong with
    * an outcome, or returns None. */
  final case class Op(name: String, run: () => Outcome, check: Outcome => Option[String])

  trait Workload {
    def ops: Seq[Op]
    /** Failures that show only across outcomes, by outcome index. */
    def crossCheck(outcomes: Seq[(Int, Op, Outcome)]): Map[Int, String] = Map.empty
    def genSeconds: Double = 0.0
    def genRows: Long = 0L
    /** Untimed passes before the first timed one. */
    def warmupPasses: Int
    /** Typical warm pass time on 4 cores; sizes the timed passes. */
    def nominalPassSeconds: Double
  }

  // ---- registry workloads -------------------------------------------

  val iterativeQueries = Seq("graph_sssp", "graph_pagerank")
  val streamQueries = Seq("stream_upsert_sink", "stream_session_timers")

  /** expected.json: {"query": [rows, hash], ...} — flat, parsed by regex. */
  def readExpected(path: String): Map[String, (Long, Long)] = {
    val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    """"([a-z0-9_]+)"\s*:\s*\[\s*(\d+)\s*,\s*(\d+)\s*\]""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> ((m.group(2).toLong, m.group(3).toLong))).toMap
  }

  final class RegistryWorkload(spark: SparkSession, names: Seq[String], dataDir: String,
      expected: Map[String, (Long, Long)], val warmupPasses: Int,
      val nominalPassSeconds: Double) extends Workload {
    val ops: Seq[Op] = names.map { name =>
      val fn = SparkEntry.queries(name)
      Op(name, () => { val (n, h) = contentHash(fn(spark, dataDir)); Outcome(n, h) },
        o => expected.get(name) match {
          case None => Some(s"no expected result for $name")
          case Some((n, h)) if (n, h) != ((o.rows, o.hash)) =>
            Some(s"$name: got rows=${o.rows} hash=${o.hash}, expected rows=$n hash=$h")
          case _ => None
        })
    }
  }

  // ---- join_skew ----------------------------------------------------

  /** The thesis experiment: a unique-key left table of rows/10 keys
    * against a Zipf right table of `rows` rows at each skew, joined by
    * each strategy and read in full through keyTabProjection. */
  final class JoinSkewWorkload(spark: SparkSession, work: String, rows: Long,
      skews: Seq[Double], cores: Int) extends Workload {
    val unique: Long = rows / 10
    private val inputs = s"$work/inputs"
    private var gen = 0.0

    locally {
      ZipfSource.install(spark)
      val t0 = System.nanoTime()
      Tables.writeStage(DataGen.uniqueShuffled(spark, unique), s"$inputs/left")
      skews.foreach { s =>
        Tables.writeStage(
          DataGen.withAttrs(ZipfSource.zipf(spark, rows, unique, s, cores), col("rid")),
          s"$inputs/right_$s")
      }
      gen = (System.nanoTime() - t0) / 1e9
    }
    override def genSeconds: Double = gen
    override def genRows: Long = unique + rows * skews.size
    def warmupPasses: Int = 1
    def nominalPassSeconds: Double = 8.0

    /** Joined rows predicted from the generator's own histogram: the
      * right keys run 1..unique while the left keys run 0..unique-1,
      * so the right rows on key `unique` have no partner. */
    val expectedRows: Map[Double, Long] =
      skews.map(s => s -> ZipfMath.cumCounts(rows, unique, s)(unique.toInt - 1)).toMap
    private val attrs = Seq("rid", "attr1", "attr2", "attr3")
    private def project(joined: DataFrame, key: Column, l: String => Column,
        r: String => Column): DataFrame =
      Joins.keyTabProjection(joined, key, attrs.map(l), attrs.map(r))

    private def cell(strategy: String, s: Double): Outcome = {
      val l = Tables.readStage(spark, s"$inputs/left")
      val r = Tables.readStage(spark, s"$inputs/right_$s")
      def plain(joined: DataFrame): Outcome = {
        val (n, h) = contentHash(project(joined, l("key"), l(_), r(_)))
        Outcome(n, h)
      }
      strategy match {
        case "repartition" => plain(Joins.repartitionJoin(l, r, l("key"), r("key")))
        case "broadcast"   => plain(Joins.broadcastJoin(l, r, l("key"), r("key")))
        case "merge"       => plain(Joins.mergeJoin(l, r, l("key"), r("key")))
        case "decomposed" =>
          val tmp = s"$work/decomposed"
          try {
            val (joined, times) =
              Joins.mergeJoinDecomposed(spark, l, r, l("key"), r("key"), cores, tmp)
            val t0 = System.nanoTime()
            val (n, h) = contentHash(project(joined, col("k"),
              a => col(s"left_row.$a"), a => col(s"right_row.$a")))
            Outcome(n, h, Map("sort_s" -> (times(2) + times(3)),
              "merge_s" -> ((System.nanoTime() - t0) / 1e9 + times(4))))
          } finally Tables.deleteRecursive(tmp)
      }
    }

    val ops: Seq[Op] = for {
      s <- skews
      strategy <- Seq("repartition", "broadcast", "merge", "decomposed")
    } yield Op(s"$strategy@$s", () => cell(strategy, s), o =>
      Option.when(o.rows != expectedRows(s))(
        s"$strategy@$s: rows=${o.rows}, histogram predicts ${expectedRows(s)}"))

    /** Every strategy must produce the same checksum per skew: a cell
      * that disagrees with the majority of its skew's cells fails. */
    override def crossCheck(outcomes: Seq[(Int, Op, Outcome)]): Map[Int, String] =
      outcomes.groupBy { case (_, op, _) => op.name.split('@')(1) }.values.flatMap { cells =>
        val majority = cells.groupBy(_._3.hash).maxBy(_._2.size)._1
        cells.collect { case (i, op, o) if o.hash != majority =>
          i -> s"${op.name}: checksum ${o.hash} != $majority of the other strategies" }
      }.toMap
  }

  // ---- harness ------------------------------------------------------

  def session(cores: Int, work: String): SparkSession = {
    // the session graft.Bench builds, plus scratch space inside `work`
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "16")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.streaming.minBatchesToRetain", "2")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** graft.Bench's between-query scrub; returns the persisted RDD count
    * and MB it found, read before anything is dropped. */
  def scrub(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val rdds = sc.getPersistentRDDs
    val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    spark.catalog.clearCache()
    rdds.values.foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    (rdds.size, mb)
  }

  def load1(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Wall clock in epoch milliseconds with nanosecond resolution. */
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowMs(): Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = args("data")
    val work = args("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val loadStart = load1()
    val spark = session(cores, work)
    spark.range(10).count()
    try args.get("dump") match {
      case Some(dir) => dump(spark, data, dir)
      case None => measure(spark, args, cores, loadStart)
    } finally spark.stop()
  }

  /** Oracle-check support: each registry query's output as parquet, its
    * rows and hash, and the registry's DuckDB SQL for it. */
  def dump(spark: SparkSession, data: String, dir: String): Unit = {
    val names = iterativeQueries ++ streamQueries
    val oracle = SparkEntry.oracleSql
    val rows = names.map { name =>
      val df = SparkEntry.queries(name)(spark, s"$data/sf0.01").localCheckpoint()
      df.write.mode("overwrite").parquet(s"$dir/$name")
      val (n, h) = contentHash(df)
      scrub(spark)
      name -> Seq(n, h)
    }
    Json.write(s"$dir/expected.json", rows.toMap)
    Json.write(s"$dir/oracle_sql.json", names.flatMap(n => oracle.get(n).map(n -> _)).toMap)
  }

  def measure(spark: SparkSession, args: Map[String, String], cores: Int,
      loadStart: Double): Unit = {
    val data = args("data")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val rnd = new scala.util.Random(args("seed").toLong)
    def registry(names: Seq[String], warmup: Int, nominal: Double) = new RegistryWorkload(
      spark, names, s"$data/sf0.01", readExpected(s"$data/expected.json"), warmup, nominal)
    val workload: Workload = args("workload") match {
      case "join_skew" => new JoinSkewWorkload(spark, work, 400000L, Seq(0.5, 1.01), cores)
      // the graph queries keep speeding up over their first passes, so
      // they warm longer than the drains, whose passes level off sooner
      case "iterative_latency" => registry(iterativeQueries, 5, 2.0)
      case "stream_drain" => registry(streamQueries, 2, 4.5)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    def attempt(op: Op): Either[String, Outcome] =
      try {
        val o = op.run()
        op.check(o).toLeft(o)
      } catch { case e: Throwable => Left(s"${op.name} threw: $e") }

    final case class Rec(pass: Int, op: Op, t0: Double, t1: Double,
        result: Either[String, Outcome], rdds: Int, mb: Double)
    val recs = mutable.ArrayBuffer.empty[Rec]
    def timed(pass: Int, op: Op): Unit = {
      val t0 = nowMs()
      val r = attempt(op)
      val t1 = nowMs()
      val (rdds, mb) = scrub(spark)
      recs += Rec(pass, op, t0, t1, r, rdds, mb)
    }

    // untimed warm-up passes (pass -1): JIT, codegen and the engine's
    // own fixtures
    (1 to workload.warmupPasses).foreach(_ => rnd.shuffle(workload.ops).foreach(timed(-1, _)))

    val sparkRec = new SparkRecorder
    val streamRec = new StreamRecorder
    val sc = spark.sparkContext
    def drain(): Unit = org.apache.spark.graft.SparkBridge.waitForListenerBus(sc, 60000)

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // A fixed number of whole passes that fill about `seconds` at the
    // nominal pass time, so every run holds the same operations and a
    // faster engine shows as a shorter run rather than more samples. A
    // traced run orders its passes untraced, traced, traced, untraced so
    // it can state its own overhead without the warming trend in it.
    val timedPasses =
      math.max(if (traced) 4 else 1, math.round(seconds / workload.nominalPassSeconds).toInt)
    for (pass <- 0 until timedPasses) {
      val tracedPass = traced && (pass % 4 == 1 || pass % 4 == 2)
      if (tracedPass) {
        drain(); sc.addSparkListener(sparkRec); spark.streams.addListener(streamRec)
      }
      // every pass starts from a collected heap, outside its timing
      System.gc()
      val gc0 = gcMillis()
      val p0 = nowMs()
      rnd.shuffle(workload.ops).foreach(timed(pass, _))
      passes += Map("index" -> pass, "traced" -> tracedPass, "start_ms" -> p0,
        "end_ms" -> nowMs(), "jvm_gc_ms" -> (gcMillis() - gc0))
      if (tracedPass) {
        drain(); sc.removeSparkListener(sparkRec); spark.streams.removeListener(streamRec)
      }
    }

    val crossFailures = workload.crossCheck(recs.toSeq.zipWithIndex.collect {
      case (Rec(_, op, _, _, Right(o), _, _), i) => (i, op, o) })
    val checked = recs.toSeq.zipWithIndex.map { case (r, i) =>
      crossFailures.get(i).fold(r)(e => r.copy(result = Left(e))) }
    checked.foreach(_.result.left.foreach(e => System.err.println(s"[perfbench] FAILED $e")))
    val (warm, timedRecs) = checked.partition(_.pass < 0)
    def json(r: Rec): Map[String, Any] = Map("pass" -> r.pass, "name" -> r.op.name,
      "start_ms" -> r.t0, "end_ms" -> r.t1, "ok" -> r.result.isRight,
      "error" -> r.result.left.toOption, "rows" -> r.result.map(_.rows).getOrElse(0L),
      "phases" -> r.result.map(_.phases).getOrElse(Map.empty),
      "persisted_rdds" -> r.rdds, "persisted_mb" -> r.mb)

    // driver heap the run leaves behind once the scrubs have run; Spark's
    // ContextCleaner frees broadcast and shuffle state only after a GC
    // has dropped their references, so collect until the cleaner settles
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(250) }
    val retainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val rt = Runtime.getRuntime
    Json.write(args("out"), Map(
      "workload" -> args("workload"), "seed" -> args("seed").toLong, "trace" -> traced,
      "seconds" -> seconds,
      "env" -> Map("cores" -> cores, "max_heap_mb" -> rt.maxMemory / 1048576,
        "load1_start" -> loadStart, "load1_end" -> load1(), "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")),
      "launch_ms" -> args("launch-ms").toLong, "first_op_ms" -> passes.head("start_ms"),
      "setup_failures" -> warm.flatMap(_.result.left.toOption),
      "warmup" -> warm.map(json),
      "datagen" -> Map("gen_s" -> workload.genSeconds, "rows" -> workload.genRows),
      "ops" -> timedRecs.map(json), "passes" -> passes.toSeq,
      "jobs" -> sparkRec.jobsJson, "stages" -> sparkRec.stagesJson,
      "batches" -> streamRec.batches.toSeq,
      "retained_heap_mb" -> retainedMb))
  }
}

/** Minimal JSON writer for the raw record (maps, sequences, options,
  * strings, numbers and booleans). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, render(v) + "\n"): Unit
  }
}
