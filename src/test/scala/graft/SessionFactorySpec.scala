package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one session factory ([[Graft.session]]) and its env parsing,
  * checked without starting Spark. */
class SessionFactorySpec extends AnyFunSuite {

  test("parseConf: trims entries, keeps '=' inside values, skips blanks") {
    assert(Graft.parseConf(" a.b = 1 ;; c=x=y ; ") == Seq("a.b" -> "1", "c" -> "x=y"))
    assert(Graft.parseConf("k=") == Seq("k" -> ""))
    assert(Graft.parseConf("").isEmpty && Graft.parseConf(" ; ").isEmpty)
  }

  test("parseConf rejects an entry without '=' or with a blank key, naming it") {
    val noEq = intercept[IllegalArgumentException](Graft.parseConf("a=1;oops"))
    assert(noEq.getMessage.contains("'oops'"), noEq.getMessage)
    val blankKey = intercept[IllegalArgumentException](Graft.parseConf("a=1; =v"))
    assert(blankKey.getMessage.contains("'=v'"), blankKey.getMessage)
  }

  test("sessionConf carries the bench posture at SPARK_GRAFT_CPUS cores") {
    val c = Graft.sessionConf("app", env = Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(c("spark.master") == "local[3]")
    assert(c("spark.app.name") == "app")
    assert(c("spark.sql.shuffle.partitions") == "3")
    Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.ui.retainedExecutions" -> "16",
      "spark.ui.retainedJobs" -> "100",
      "spark.ui.retainedStages" -> "100",
      "spark.ui.retainedTasks" -> "1000",
      "spark.sql.streaming.minBatchesToRetain" -> "2"
    ).foreach { case (k, v) => assert(c.get(k).contains(v), k) }
    val cores = Runtime.getRuntime.availableProcessors()
    assert(Graft.sessionConf("app", env = Map.empty)("spark.master") == s"local[$cores]")
  }

  test("sessionConf layers: extra over the posture, SPARK_GRAFT_CONF over both") {
    val c = Graft.sessionConf("app",
      extra = Map("spark.sql.shuffle.partitions" -> "7", "spark.graft.x" -> "extra"),
      env = Map("SPARK_GRAFT_CPUS" -> "2", "SPARK_GRAFT_CONF" ->
        "spark.sql.adaptive.enabled=false;spark.graft.x=env;spark.buffer.size=65536"))
    assert(c("spark.sql.shuffle.partitions") == "7")
    assert(c("spark.sql.adaptive.enabled") == "false")
    assert(c("spark.graft.x") == "env")
    assert(c("spark.buffer.size") == "65536")
    assert(c("spark.master") == "local[2]")
  }

  test("SPARK_GRAFT_ONLY selects exact registry names, sorted") {
    val picked = Graft.selectedQueries(Map("SPARK_GRAFT_ONLY" -> " q17_small_quantity, graph_sssp,,q17"))
    assert(picked.map(_.name) == Seq("graph_sssp", "q17_small_quantity"))
    val all = Graft.selectedQueries(Map.empty).map(_.name)
    assert(all == SparkEntry.registry.map(_.name).sorted)
  }

  // Every main used to carry its own builder and conf set; they drifted
  // (cores defaults of 4, 8 and 32; retention caps on some sessions
  // only; SPARK_GRAFT_CONF applied after getOrCreate in three of four
  // copies), so a diagnostic main's numbers were not measured in the
  // bench's session. This keeps the factory the only builder.
  test("SparkSession.builder() is called only by Graft.session") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    def sources(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    val sites = sources(root).flatMap { f =>
      val code = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .replaceAll("""(?s)/\*.*?\*/""", "")
        .replaceAll("""(?m)//.*$""", "")
      Seq.fill(builder.findAllMatchIn(code).size)(root.toPath.relativize(f.toPath).toString)
    }
    assert(sites == Seq("graft/Graft.scala"), sites)
  }
}
