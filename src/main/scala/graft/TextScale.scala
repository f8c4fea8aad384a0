package graft

import graft.functions.DictionaryTagCounts
import org.apache.spark.sql.functions._

/** Scale probe for Aho–Corasick blocklist tagging (docs/EXPERIMENTS.md):
  * a synthetic corpus generated in-engine (`spark.range` + xxhash64
  * token picks — the DedupScale/GraphScale posture) with a PLANTED
  * blocklist phrase every plantEvery-th document, so the run measures
  * wall time AND self-checks exact recovery (each planted doc must
  * report exactly one hit of the planted phrase, others zero).
  *
  * The comparison arm is the naive per-phrase scan — |dict| separate
  * `regexp_count` passes — which is how the cost of dictionary tagging
  * scales WITHOUT a multi-pattern automaton. AC is one pass whatever
  * the dictionary size; the naive arm is linear in |dict|. The probe
  * prints both at a small dictionary and AC alone at large ones
  * (the naive arm at 1000 phrases would just waste the machine).
  *
  * Usage: runMain graft.TextScale <nDocs> [tokensPerDoc=60] [nPhrases=500] [plantEvery=100] [ops=all|ac,naive]
  */
object TextScale {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val tpd = args.lift(1).map(_.toInt).getOrElse(60)
    val nPhrases = args.lift(2).map(_.toInt).getOrElse(500)
    val plantEvery = args.lift(3).map(_.toInt).getOrElse(100)
    val ops = args.lift(4).getOrElse("all")
    def want(op: String): Boolean = ops == "all" || ops.split(",").contains(op)
    val spark = Graft.session("graft-text-scale")

    // corpus: tpd hash-picked tokens from a 10k vocabulary; every
    // plantEvery-th doc carries the planted phrase mid-text. The
    // dictionary: nPhrases two-token phrases over a DISJOINT vocab
    // (no accidental hits — the planted count is exact), plus the
    // planted phrase itself at index 0.
    val planted = "plantedbad phraseword"
    val phrases = planted +: (1 until nPhrases)
      .map(i => s"blk${i}a blk${i}b")
    val docs = spark.range(nDocs).select(col("id"),
      concat_ws(" ",
        (0 until tpd).map(j =>
          concat(lit("w"), pmod(xxhash64(col("id"), lit(j)), lit(10000)))): _*)
        .as("base"))
      .select(col("id"), when(col("id") % plantEvery === 0,
          concat(col("base"), lit(" " + planted + " "), col("base")))
        .otherwise(col("base")).as("text"))
    docs.write.mode("overwrite").parquet("/tmp/graft_textscale_docs")
    val corpus = spark.read.parquet("/tmp/graft_textscale_docs")

    def timed(tag: String)(block: => (Long, Long)): Unit = {
      val t0 = System.nanoTime()
      val (rows, hits) = block
      val s = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"$tag","n_docs":$nDocs,"n_phrases":$nPhrases,"rows":$rows,"planted_hits":$hits,"wall_s":$s%.1f}""")
    }

    if (want("ac")) timed("ac_tags") {
      val t = corpus.select(col("id"),
        DictionaryTagCounts.tags(col("text"), phrases).as("c"))
      def cnt(arr: org.apache.spark.sql.Column) = aggregate(
        transform(arr, x => element_at(split(x, ":"), 2).cast("long")),
        lit(0L), (a, x) => a + x)
      val agg = t.select(
          sum(cnt(filter(col("c"), x => x.startsWith("1:")))).as("planted"),
          sum(cnt(col("c"))).as("total"),
          count(lit(1)).as("n"))
        .head()
      val plantedHits = agg.getLong(0)
      require(plantedHits == (nDocs + plantEvery - 1) / plantEvery,
        s"planted recovery broke: $plantedHits")
      require(agg.getLong(1) == plantedHits, "disjoint dictionary produced stray hits")
      (agg.getLong(2), plantedHits)
    }

    // naive arm: one regexp_count column per phrase — capped at 64
    // phrases; the point is the per-phrase slope, not a long wait
    if (want("naive")) timed("naive_per_phrase") {
      val sub = phrases.take(math.min(nPhrases, 64))
      val cols = sub.zipWithIndex.map { case (p, i) =>
        regexp_count(col("text"), lit(java.util.regex.Pattern.quote(p))).as(s"c$i")
      }
      val agg = corpus.select(col("id") +: cols: _*)
        .select(sum(col("c0")).as("planted"), count(lit(1)).as("n"))
        .head()
      (agg.getLong(1), agg.getLong(0))
    }

    spark.stop()
  }
}
