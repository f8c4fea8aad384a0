package graft

import org.apache.spark.sql.functions._

/** Expression-tier micro-benchmark: the same scalar computed three ways
  * over the sf documents corpus — custom codegen Expression vs Scala UDF
  * vs composed builtins where one exists. Used to substantiate the
  * "native Expression > UDF" entries in docs/EXPERIMENTS.md; not part of
  * the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.MicroBench"
  * Prints per-variant best-of-3 seconds for a count() over the scalar.
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Graft.session("graft-microbench")
    import spark.implicits._

    // replicate the corpus so per-row scalar cost dominates fixed job
    // overhead (sf0.1's 5 k docs alone finish in scheduler noise)
    val reps = sys.env.getOrElse("SPARK_GRAFT_MICRO_REPS", "200").toInt
    val docs = graft.sources.Tables.table(spark, sfDir, "documents")
      .select(col("text"))
      .crossJoin(spark.range(reps))
      .select(col("text")).cache()
    docs.count() // materialize once so every variant reads memory

    val nfcUdf = udf((s: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))

    def time(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.select(count(col("n"))).head(): Unit
        (System.nanoTime() - t0) / 1e9
      }
      println(f"$name%-28s best-of-3 ${secs.min}%.3f s")
    }

    time("nfc_expression") {
      docs.select(length(graft.functions.GraftFunctions.nfc_normalize(col("text"))).as("n"))
    }
    time("nfc_udf") {
      docs.select(length(nfcUdf(col("text"))).as("n"))
    }
    time("fingerprint_expression") {
      docs.select(graft.functions.GraftFunctions.rolling_hash(col("text")).as("n"))
    }
    val fpUdf = udf((s: String) =>
      if (s == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(
        s.foldLeft(0L)((h, c) => (h * 31 + c) % 1000000007L)))
    time("fingerprint_udf") {
      docs.select(fpUdf(col("text")).as("n"))
    }
    spark.stop()
  }
}
