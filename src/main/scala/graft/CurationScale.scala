package graft

import graft.operators.Curation
import org.apache.spark.sql.functions._

/** Scale probe for hashed-feature DSIR importance resampling
  * (docs/EXPERIMENTS.md): a synthetic raw pool generated in-engine
  * (same posture as DedupScale/GraphScale — `spark.range` + xxhash64
  * token picks, no files) with PLANTED on-domain documents whose ids
  * are known, so the run measures wall time AND self-checks selection
  * recall.
  *
  * Corpus: nDocs raw documents of tokensPerDoc tokens from a 10 k
  * vocabulary (`w<h>`); every plantEvery-th document instead draws all
  * its tokens from a disjoint 500-word domain vocabulary (`dom<h>`).
  * The target set is nTarget independent domain-vocabulary documents.
  * Planted docs share their entire feature mass with the target
  * distribution while unplanted docs share none, so the top
  * nDocs/plantEvery documents by importance weight should be exactly
  * the planted set — recall is the self-check.
  *
  * The weights run through [[Curation.importanceWeightsHashed]] with
  * B = 2²² buckets: every distribution table is B-bounded no matter the
  * corpus vocabulary — the shape that holds at 100 TB.
  *
  * Usage: runMain graft.CurationScale <nDocs> [tokensPerDoc=40] [plantEvery=100] [nTarget=2000]
  */
object CurationScale {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val tpd = args.lift(1).map(_.toInt).getOrElse(40)
    val plantEvery = args.lift(2).map(_.toInt).getOrElse(100)
    val nTarget = args.lift(3).map(_.toLong).getOrElse(2000L)
    val spark = Graft.session("graft-curation-scale")

    def body(seedExpr: String, vocab: String) = vocab match {
      case "domain" =>
        s"concat_ws(' ', transform(sequence(0, $tpd - 1), " +
          s"j -> concat('dom', pmod(xxhash64(($seedExpr) * $tpd + j), 500))))"
      case _ =>
        s"concat_ws(' ', transform(sequence(0, $tpd - 1), " +
          s"j -> concat('w', pmod(xxhash64(($seedExpr) * $tpd + j), 10000))))"
    }
    val rawPlan = spark.range(nDocs).select(col("id").as("doc_id"),
      when(col("id") % plantEvery === 0, expr(body("id", "domain")))
        .otherwise(expr(body("id", "w"))).as("text"))
    // target ids offset past the raw pool; a different seed stream so
    // target docs are not byte-copies of planted docs
    val tgtPlan = spark.range(nTarget).select((col("id") + nDocs).as("doc_id"),
      expr(body(s"id * 7919 + $nDocs", "domain")).as("text"))
    // materialize generation OUTSIDE the timed region
    val (raw, _, _) = graft.operators.Iterate.ckpt(rawPlan)
    val (tgt, _, _) = graft.operators.Iterate.ckpt(tgtPlan)

    val nPlanted = ((nDocs + plantEvery - 1) / plantEvery).toInt
    val t0 = System.nanoTime()
    val selected = Curation
      .importanceWeightsHashed(raw, tgt, col("text"), col("doc_id"), buckets = 1 << 22)
      .orderBy(col("logw").desc, col("doc_id"))
      .limit(nPlanted)
      .collect()
    val sec = (System.nanoTime() - t0) / 1e9
    val hits = selected.count(_.getLong(0) % plantEvery == 0)
    val recall = hits.toDouble / nPlanted
    println(f"""{"op":"dsir_hashed_b22","docs":$nDocs,"sec":$sec%.2f,"rows":${selected.length}}""")
    println(f"""{"op":"dsir_check","expected":$nPlanted,"hits":$hits,"recall":$recall%.4f,"ok":${recall >= 0.99}}""")
    spark.stop()
  }
}
