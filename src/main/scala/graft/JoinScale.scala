package graft

import graft.operators.Joins
import graft.stats.Measure
import org.apache.spark.sql.functions._

/** Scale probe for the explicit Bloom semi join (docs/EXPERIMENTS.md):
  * plain shuffle `left_semi` vs [[Joins.bloomSemiJoin]] over a
  * synthetic uniform fact table generated entirely inside the engine
  * (`spark.range` + xxhash64 — no data files, the GraphScale/AnnScale
  * posture). The quantity under test is the fact-side EXCHANGE: the
  * plain semi join shuffles every fact row; the Bloom probe at the scan
  * should cut shuffled records to ≈ selectivity + fpp of the fact,
  * which `Measure.measured`'s shuffle-write counters expose directly.
  *
  * Key model: fact key = xxhash-uniform in [0, nKeys); dim = the keys
  * below nKeys·selPct/100 (so true selectivity = selPct% ± hash noise).
  *
  * Usage: runMain graft.JoinScale <nFact> [nKeys=2000000] [selPct=10]
  * Prints one JSON line per variant: wall sec, result rows, shuffle
  * records/bytes written.
  */
object JoinScale {
  def main(args: Array[String]): Unit = {
    val nFact = args.headOption.map(_.toLong).getOrElse(40000000L)
    val nKeys = args.lift(1).map(_.toLong).getOrElse(2000000L)
    val selPct = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Graft.session("graft-join-scale", Map(
      // the point of the probe is the explicit sketch path — keep
      // Spark's own runtime bloom injection out of both variants so the
      // comparison isolates it
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false",
      "spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled" -> "false",
      // dim keys are dimension-scale but the probe measures the SHUFFLE
      // path: force the join itself to shuffle (as it would when dim
      // exceeds the broadcast budget at 100 TB)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))

    val nDim = nKeys * selPct / 100
    // materialize generation OUTSIDE the timed region
    val (fact, _, _) = graft.operators.Iterate.ckpt(
      spark.range(nFact).select(col("id"), pmod(xxhash64(col("id")), lit(nKeys)).as("k")))
    val (dim, _, _) = graft.operators.Iterate.ckpt(
      spark.range(nDim).select(col("id").as("dk")))

    def report(op: String, rows: Long, st: JoinStats): Unit =
      println(f"""{"op":"$op","n_fact":$nFact,"n_keys":$nKeys,"sel_pct":$selPct,"sec":${st.wallClockSec}%.2f,"rows":$rows,"shuffle_records":${st.shuffleRecordsWritten},"shuffle_mb":${st.shuffleBytesWritten / 1048576}}""")

    for (pass <- 1 to 2) {
      val (plainRows, plainStats) = Measure.measured(spark) {
        fact.join(dim, col("k") === col("dk"), "left_semi").count()
      }
      report(s"plain_semi_$pass", plainRows, plainStats)
      val (bloomRows, bloomStats) = Measure.measured(spark) {
        Joins.bloomSemiJoin(fact, dim, col("k"), col("dk"),
          expectedItems = nDim, fpp = 0.01).count()
      }
      report(s"bloom_semi_$pass", bloomRows, bloomStats)
      require(plainRows == bloomRows,
        s"bloom semi join diverged: $bloomRows vs $plainRows")
    }
    spark.stop()
  }
}
