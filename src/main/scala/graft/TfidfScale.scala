package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Scale probe for the stored tf-idf index lifecycle
  * (docs/EXPERIMENTS.md): synthetic corpus generated inside the engine
  * (the DedupScale posture — `spark.range` + xxhash64 token picks from
  * a 10 k vocabulary, no data files), then
  *
  *  - `index_build`   — writeTfidfIndex over the corpus (O(corpus));
  *  - `append_delta`  — a FIXED 2 000-doc delta folded in via
  *    appendToTfidfIndex; across corpus sizes this must stay ~flat
  *    (the O(delta) claim: the delta tokenizes, joins the stored
  *    vocabulary-sized idf table, and appends — no stored file is
  *    read beyond the idf store, no corpus shuffle);
  *  - `refresh_stats` — refreshTfidfIndex (fresh n/df/idf from stored
  *    raw tf, O(corpus) but NO re-tokenize) vs `rebuild_full` (the
  *    from-scratch writeTfidfIndex) — the amortized-maintenance gap.
  *
  * Self-checks: every delta term is in-vocabulary (the 10 k tokens all
  * sit far under the 50 % df cap), so delta postings rows must equal
  * delta (doc, term) rows; post-refresh doc count must equal
  * nDocs + nDelta.
  *
  * Usage: runMain graft.TfidfScale <nDocs> [tokensPerDoc=60]
  */
object TfidfScale {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(200000L)
    val tpd = args.lift(1).map(_.toInt).getOrElse(60)
    val spark = Graft.session("graft-tfidf-scale")

    def timed(name: String)(body0: => Long): Long = {
      val t0 = System.nanoTime()
      val rows = body0
      val s = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"$name","docs":$nDocs,"sec":$s%.2f,"rows":$rows}""")
      Console.out.flush()
      rows
    }
    // the SAME term stream the serving queries index (word 3-shingles
    // via the generator expression): the refresh-vs-rebuild gap IS the
    // corpus tokenize this stage costs, so a toy split() here would
    // understate exactly the number the probe exists to measure
    def termsOf(docs: org.apache.spark.sql.DataFrame) =
      docs.select(col("doc_id"),
        graft.functions.ShingleGenerator.shingles(col("text"), 3).as("t"))

    val body = expr(
      s"concat_ws(' ', transform(sequence(0, $tpd - 1), " +
        s"j -> concat('w', pmod(xxhash64(id * $tpd + j), 10000))))")
    val (docs, _, _) = graft.operators.Iterate.ckpt(
      spark.range(nDocs).select(col("id").as("doc_id"), body.as("text")))
    val nDelta = 2000L
    val (delta, _, _) = graft.operators.Iterate.ckpt(
      spark.range(nDelta).select((col("id") + nDocs).as("doc_id"), expr(
        s"concat_ws(' ', transform(sequence(0, $tpd - 1), " +
          s"j -> concat('w', pmod(xxhash64((id + $nDocs) * $tpd + j), 10000))))")
        .as("text")))

    val idx = graft.sources.Tables.scratchDir("graft_tfidf_scale")
    timed("index_build") {
      Similarity.writeTfidfIndex(termsOf(docs), idx)
      spark.catalog.clearCache(); 0L
    }
    var stale: graft.operators.TfidfStaleness = null
    timed("append_delta") {
      stale = Similarity.appendToTfidfIndex(idx, termsOf(delta))
      spark.catalog.clearCache(); 0L
    }
    // the drift counters the refresh trigger budgets on — O(#batches)
    // to read, never recounted from the corpus
    println(s"""{"op":"staleness","appended_docs":${stale.appendedDocs},""" +
      s""""stat_n":${stale.statN},"growth_ppm":${stale.growthPpm},""" +
      s""""oov_mass_ppm":${stale.oovMassPpm}}""")
    val deltaPostings = spark.read.parquet(s"$idx/postings")
      .filter(col("doc_id") >= nDocs).count()
    // the frozen contract indexes exactly the delta's IN-VOCABULARY
    // terms (novel shingles wait for the refresh) — with random-text
    // 3-shingles most delta shingles are novel, so the expectation is
    // the vocabulary join, not the raw delta term count
    val deltaTok = termsOf(delta).select("doc_id", "t").distinct()
      .join(spark.read.parquet(s"$idx/idf").select("t"), "t").count()
    println(s"""{"op":"append_check","expected":$deltaTok,"got":$deltaPostings,"ok":${deltaPostings == deltaTok}}""")
    timed("refresh_stats") {
      Similarity.refreshTfidfIndex(spark, idx)
      spark.catalog.clearCache(); 0L
    }
    val served = spark.read.parquet(s"$idx/vectors").count()
    println(s"""{"op":"refresh_check","expected":${nDocs + nDelta},"got":$served,"ok":${served == nDocs + nDelta}}""")
    val idx2 = graft.sources.Tables.scratchDir("graft_tfidf_scale_rb")
    timed("rebuild_full") {
      Similarity.writeTfidfIndex(
        termsOf(docs.unionByName(delta)), idx2)
      spark.catalog.clearCache(); 0L
    }
    graft.sources.Tables.deleteRecursive(idx)
    graft.sources.Tables.deleteRecursive(idx2)
    spark.stop()
  }
}
