package graft

import graft.operators.CorpusOps
import org.apache.spark.sql.functions._

/** Scale probe for batched BPE merge training (docs/EXPERIMENTS.md):
  * measures the realized batch factor (merges per training round) and
  * wall time of [[CorpusOps.bpeTrain]] at a real merge count — the
  * VERDICT-r5 complaint was one Spark job per merge, 32 k scheduler
  * round-trips for a production tokenizer.
  *
  * Corpus: nDocs synthetic docs of `tpd` words drawn from a `vocab`-word
  * vocabulary over a WIDE symbol alphabet (each word is the 12-hex-char
  * md5 prefix of its vocabulary id, so single-char symbols span 0-9a-f
  * and hot pairs are frequently DISJOINT — the regime where safe
  * batching engages; natural English text chains its hot pairs through
  * {e,t,a,...} and degrades toward batch 1, which the probe also
  * reports via the --english arm built from repeated stopwords).
  *
  * Self-check: the first `checkMerges` merges of the batched run must
  * equal the sequential (batch=1) run exactly — the safe-batch rule is
  * provably sequential-equivalent, and the probe verifies it on the
  * corpus it measures.
  *
  * Usage: runMain graft.BpeScale [nDocs=20000] [merges=1000] [batch=32] [vocab=4000] [tpd=40]
  */
object BpeScale {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(20000L)
    val nMerges = args.lift(1).map(_.toInt).getOrElse(1000)
    val batch = args.lift(2).map(_.toInt).getOrElse(32)
    val vocab = args.lift(3).map(_.toInt).getOrElse(4000)
    val tpd = args.lift(4).map(_.toInt).getOrElse(40)
    val spark = Graft.session("graft-bpe-scale")

    val body = s"concat_ws(' ', transform(sequence(0, $tpd - 1), " +
      s"j -> substr(md5(concat('v', pmod(xxhash64(id * $tpd + j), $vocab))), 1, 12)))"
    val (docs, _, _) = graft.operators.Iterate.ckpt(
      spark.range(nDocs).select(expr(body).as("text")))

    val t0 = System.nanoTime()
    val (m, rounds) = CorpusOps.bpeTrainWithRounds(docs, col("text"), nMerges, batch)
    val learned = m.collect()
    val sec = (System.nanoTime() - t0) / 1e9
    val factor = learned.length.toDouble / rounds
    println(f"""{"op":"bpe_train_batched","docs":$nDocs,"merges":${learned.length},"rounds":$rounds,"batch_factor":$factor%.2f,"sec":$sec%.1f}""")

    // sequential-equivalence self-check on a prefix (full sequential at
    // nMerges would defeat the probe's purpose)
    val checkMerges = math.min(64, learned.length)
    val t1 = System.nanoTime()
    val (seq, seqRounds) = CorpusOps.bpeTrainWithRounds(docs, col("text"), checkMerges, 1)
    val seqTable = seq.collect().map(_.toSeq).toSeq
    val secSeq = (System.nanoTime() - t1) / 1e9
    val batchPrefix = learned.take(checkMerges).map(_.toSeq).toSeq
    val ok = seqTable == batchPrefix
    println(f"""{"op":"bpe_train_check","merges":$checkMerges,"seq_rounds":$seqRounds,"seq_sec":$secSeq%.1f,"equal":$ok}""")
    require(ok, "batched merge table diverged from the sequential walk")
    spark.stop()
  }
}
