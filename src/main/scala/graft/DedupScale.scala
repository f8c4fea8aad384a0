package graft

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale probe for the substring-span and exact dedup operators
  * (docs/EXPERIMENTS.md): a synthetic corpus generated entirely inside
  * the engine (`spark.range` + xxhash64 token picks — no data files, no
  * driver-side materialization, same posture as GraphScale) with
  * PLANTED duplication whose exact span count is known in advance, so
  * the run both measures wall time and self-checks correctness.
  *
  * Corpus: nDocs documents of tokensPerDoc tokens drawn from a 10 k
  * vocabulary by xxhash64(docId · tokensPerDoc + j) — an 8-gram of
  * independent picks has ~10^32 possible values, so cross-doc 8-gram
  * collisions among the random tokens are (provably, for the default
  * sizes) absent and every detected span is a planted one. Every
  * plantEvery-th document is prefixed with one of 50 fixed 16-token
  * boilerplate templates (1 in 50 docs per template at the default) —
  * the licence-header duplication pattern ExactSubstr targets.
  * Expected output: exactly nDocs/plantEvery spans, each span_start 0,
  * span_tokens 16.
  *
  * A second mode exercises the NEAR-dup pipeline instead: `lsh` plants
  * an exact-count set of near-duplicate PAIRS (every 2001st document is
  * copied with its last token replaced — 3-shingle Jaccard 57/59 ≈
  * 0.966, comfortably over the 0.8 threshold, while any cross pair
  * shares nothing), runs the full MinHash+LSH candidate/verify
  * pipeline, and checks the pair count exactly; the substring-span pass
  * then re-checks the same corpus (each pair member carries exactly one
  * maximal duplicated span).
  *
  * A third mode probes the INCREMENTAL ingest gate: `ingest` builds
  * the MinHash band index over the corpus once (timed), then pushes a
  * FIXED-SIZE delta (2 000 docs, every 10th a near-copy of a base doc)
  * through [[Dedup.incrementalDedupWith]] twice (cold + warm) — across
  * corpus sizes the index build scales with the corpus while the
  * per-ingest cost stays delta-bound plus one in-memory columnar scan
  * of the cached index (no corpus shuffle: the delta side is broadcast,
  * ScaleSpec pins the plan). Self-check: exactly nDelta/10 verdicts.
  *
  * Usage: runMain graft.DedupScale <nDocs> [tokensPerDoc=60] [plantEvery=20] [mode=spans|lsh|ingest|stored|segments|winnow|winnowhot]
  */
object DedupScale {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(1000000L)
    val tpd = args.lift(1).map(_.toInt).getOrElse(60)
    val plantEvery = args.lift(2).map(_.toInt).getOrElse(20)
    val mode = args.lift(3).getOrElse("spans")
    val spark = Graft.session("graft-dedup-scale")

    // body: tokensPerDoc picks from a 10k vocabulary, seeded by doc id
    val body = expr(
      s"concat_ws(' ', transform(sequence(0, $tpd - 1), " +
        s"j -> concat('w', pmod(xxhash64(id * $tpd + j), 10000))))")
    // 50 boilerplate templates of 16 tokens each, disjoint from the
    // body vocabulary ('bp<t>_<k>' vs 'w<n>') so planted spans never
    // extend into the random tail
    val tmpl = expr(
      s"concat_ws(' ', transform(sequence(0, 15), " +
        s"k -> concat('bp', pmod(id div $plantEvery, 50), '_', k)))")
    val pairEvery = 2001L
    val docsPlan =
      if (mode == "lsh" || mode == "winnow" || mode == "winnowhot") {
        // near-dup pairs: doc 2001m+1 copies doc 2001m's body with the
        // last token replaced ('zz9' is outside the 'w<n>' vocabulary).
        // winnowhot additionally prefixes EVERY doc with one shared
        // 16-token boilerplate (the license-header pattern): its pure-
        // prefix windows select identical fingerprints in all nDocs
        // docs — the df² hot key the maxFpDf cut must neutralize.
        val srcSql =
          s"transform(sequence(0, $tpd - 1), " +
            s"j -> concat('w', pmod(xxhash64((CASE WHEN id % $pairEvery = 1 " +
            s"THEN id - 1 ELSE id END) * $tpd + j), 10000)))"
        val bodySql = s"CASE WHEN id % $pairEvery = 1 " +
          s"THEN concat(concat_ws(' ', slice($srcSql, 1, $tpd - 1)), ' zz9') " +
          s"ELSE concat_ws(' ', $srcSql) END"
        val withPrefix = if (mode == "winnowhot")
          s"concat(concat_ws(' ', transform(sequence(0, 15), k -> concat('hot_', k))), ' ', $bodySql)"
        else bodySql
        spark.range(nDocs).select(col("id").as("doc_id"),
          expr(withPrefix).as("text"))
      } else spark.range(nDocs).select(col("id").as("doc_id"),
        when(col("id") % plantEvery === 0, concat_ws(" ", tmpl, body))
          .otherwise(body).as("text"))
    def timed(name: String)(body0: => Long): Long = {
      val t0 = System.nanoTime()
      val rows = body0
      val s = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"$name","docs":$nDocs,"sec":$s%.2f,"rows":$rows}""")
      Console.out.flush()
      rows
    }

    // `stored` mode: N probe-only passes against an EXISTING
    // writeIncrementalIndex layout (from a prior `ingest` run at the
    // same nDocs), in this fresh JVM — the steady-state per-ingest
    // number, uncontaminated by the build's GC/page-cache residue
    // (measured: the build JVM's own post-write pass read 86.6 s where
    // a fresh JVM settles at ~14 s on the same 1 M-doc index). The
    // corpus is never generated here; only the fixed delta is.
    if (mode == "stored") {
      val idxDir = s"${sys.props("java.io.tmpdir")}/graft_dedup_scale_idx"
      val (delta, _, _) = graft.operators.Iterate.ckpt(
        ingestDeltaPlan(spark, nDocs, tpd))
      for (pass <- 1 to 3) {
        val dups = timed(s"ingest_stored_fresh$pass") {
          Dedup.incrementalDedupStored(idxDir, delta,
            col("text"), col("doc_id")).count()
        }
        println(s"""{"op":"ingest_stored_fresh${pass}_check","expected":200,"got":$dups,"ok":${dups == 200}}""")
      }
      spark.stop()
      return
    }

    // materialize generation OUTSIDE the timed region (generator cost
    // is not dedup cost); ~60 M tokens at the default sizes
    val (docs, _, _) = graft.operators.Iterate.ckpt(docsPlan)

    if (mode == "ingest") {
      // the planted-source invariant below ('odd ids never carry the
      // boilerplate prefix') only holds when plantEvery is even — an odd
      // plantEvery would put the 16-token prefix on some sources,
      // diluting Jaccard to ~0.76 (< 0.8 gate) and falsely failing the
      // self-check (ADVICE r4)
      require(plantEvery % 2 == 0,
        s"ingest mode requires an even plantEvery (got $plantEvery)")
      val nDelta = 2000L
      val plantD = 10L
      val (delta, _, _) = graft.operators.Iterate.ckpt(
        ingestDeltaPlan(spark, nDocs, tpd))
      val (shBase, baseBands) =
        Dedup.incrementalIndex(docs, col("text"), col("doc_id"))
      timed("index_build") {
        shBase.cache(); baseBands.cache()
        shBase.count() + baseBands.count()
      }
      val expDups = (nDelta + plantD - 1) / plantD
      for (pass <- Seq("ingest_delta_cold", "ingest_delta_warm")) {
        val dups = timed(pass) {
          Dedup.incrementalDedupWith(shBase, baseBands, delta,
            col("text"), col("doc_id")).count()
        }
        println(s"""{"op":"${pass}_check","expected":$expDups,"got":$dups,"ok":${dups == expDups}}""")
      }
      shBase.unpersist(); baseBands.unpersist()
      // the STORED-index serve path (the scale fix for the cached-index
      // memory boundary measured above 1 M docs): write the partitioned
      // layout once, then probe it per ingest — no resident state, so
      // warm can never invert over cold on cache thrash
      val idxDir = s"${sys.props("java.io.tmpdir")}/graft_dedup_scale_idx"
      timed("index_write_stored") {
        Dedup.writeIncrementalIndex(docs, col("text"), col("doc_id"), idxDir)
        0L
      }
      for (pass <- Seq("ingest_stored_cold", "ingest_stored_warm")) {
        val dups = timed(pass) {
          Dedup.incrementalDedupStored(idxDir, delta, col("text"), col("doc_id")).count()
        }
        println(s"""{"op":"${pass}_check","expected":$expDups,"got":$dups,"ok":${dups == expDups}}""")
      }
    } else if (mode == "lsh") {
      // #{m >= 0 : 2001m + 1 < nDocs} — every complete pair in range
      val expPairs = if (nDocs < 2) 0L else (nDocs - 2) / pairEvery + 1
      val pairs = timed("minhash_lsh") {
        Dedup.minhashLsh(docs, col("text"), col("doc_id")).count()
      }
      println(s"""{"op":"lsh_check","expected":$expPairs,"got":$pairs,"ok":${pairs == expPairs}}""")
      // same corpus through the exact-substring lens: each pair member
      // carries exactly one maximal duplicated span
      val spans = timed("substring_spans_k8") {
        Dedup.substringSpans(docs, col("text"), col("doc_id"), k = 8).count()
      }
      val expSpans = 2 * expPairs
      println(s"""{"op":"spans_check","expected":$expSpans,"got":$spans,"ok":${spans == expSpans}}""")
    } else if (mode == "winnow") {
      // the lsh-mode corpus through the MOSS winnowing lens: each
      // planted near-copy shares its whole 59-token prefix run with its
      // source (>> w+k-1, so the detection guarantee applies — ratio
      // ~1.0), while random cross pairs share at most stray hash
      // collisions (ratio << 0.5). Also reports the fingerprint-index
      // size against the shingle count for the ~2/(w+1) density claim.
      val expPairs = if (nDocs < 2) 0L else (nDocs - 2) / pairEvery + 1
      val nFps = timed("winnowing_fingerprints") {
        graft.operators.CorpusOps.winnowingFingerprints(
          docs, col("text"), col("doc_id")).count()
      }
      val nShingles = nDocs * (tpd - 2)
      println(s"""{"op":"winnow_density","fps":$nFps,"shingles":$nShingles,"ratio":${nFps.toDouble / nShingles}}""")
      val pairs = timed("winnowing_overlap_join") {
        Dedup.winnowingOverlapJoin(docs, col("text"), col("doc_id")).count()
      }
      println(s"""{"op":"winnow_check","expected":$expPairs,"got":$pairs,"ok":${pairs == expPairs}}""")
    } else if (mode == "winnowhot") {
      // VERDICT r6 #1: every doc carries the same boilerplate prefix,
      // whose pure-prefix fingerprints have df = nDocs — an uncapped
      // self-join on them enumerates nDocs² pairs. With maxFpDf = 50
      // the hot keys drop BEFORE the join and the planted pairs are
      // still found exactly: each pair shares its whole 59-token body
      // run (>> w+k−1), far more than minShared after the cut, while
      // cross pairs share nothing non-hot. Linear-vs-nDocs timings in
      // docs/EXPERIMENTS.md prove the cap closes the df² blowup.
      val expPairs = if (nDocs < 2) 0L else (nDocs - 2) / pairEvery + 1
      val pairs = timed("winnowing_overlap_join_hot_capped") {
        Dedup.winnowingOverlapJoin(docs, col("text"), col("doc_id"),
          maxFpDf = Some(50)).count()
      }
      println(s"""{"op":"winnowhot_check","expected":$expPairs,"got":$pairs,"ok":${pairs == expPairs}}""")
    } else if (mode == "segments") {
      // C4 segment dedup over the spans-mode corpus: the 16-token
      // boilerplate prefix tiles into exactly 4 pure 4-token segments,
      // each shared by nDocs/plantEvery/50 docs (>= 3 above 150·
      // plantEvery docs, so all 4 drop); random 4-gram tiles can pair-
      // collide at these sizes (~10^16 values) but a TRIPLE collision —
      // what maxDocs = 3 would need — is vanishingly unlikely, so the
      // planted drop count stays exact
      val expDropped = 4L * (nDocs / plantEvery +
        (if (nDocs % plantEvery == 0) 0 else 1))
      var dropped = 0L
      timed("segment_dedup_s4") {
        val res = graft.operators.CorpusOps.segmentDedup(
          docs, col("text"), col("doc_id"), segTokens = 4, maxDocs = 3)
        val agg = res.agg(sum(col("n_dropped")), count(lit(1))).head()
        dropped = agg.getLong(0)
        agg.getLong(1)
      }
      println(s"""{"op":"segments_check","expected":$expDropped,"got":$dropped,"ok":${dropped == expDropped}}""")
    } else {
      val spans = timed("substring_spans_k8") {
        Dedup.substringSpans(docs, col("text"), col("doc_id"), k = 8).count()
      }
      val expected = (nDocs + plantEvery - 1) / plantEvery
      println(s"""{"op":"spans_check","expected":$expected,"got":$spans,"ok":${spans == expected}}""")
      timed("exact_dedup") {
        Dedup.exact(docs, col("text"), col("doc_id")).count()
      }
    }
    spark.stop()
  }

  /** The fixed 2 000-doc ingest delta: every 10th doc near-copies an
    * ODD-id base doc (odd ids never carry the plantEvery boilerplate
    * prefix — a prefixed source would dilute Jaccard to
    * (tpd−3)/(tpd+15) ≈ 0.76, under the 0.8 gate; last token replaced,
    * so J = (tpd−3)/(tpd−1) ≈ 0.966 at k=3); the rest are fresh bodies
    * seeded past the base id range. Shared by the `ingest` and
    * `stored` modes so fresh-JVM probes hit the identical delta. */
  private def ingestDeltaPlan(spark: SparkSession, nDocs: Long,
      tpd: Int): org.apache.spark.sql.DataFrame = {
    val nDelta = 2000L
    val plantD = 10L
    val srcSql =
      s"transform(sequence(0, $tpd - 1), " +
        s"j -> concat('w', pmod(xxhash64((2 * ((id * 97) % ${nDocs / 2}) + 1) * $tpd + j), 10000)))"
    val freshSql =
      s"concat_ws(' ', transform(sequence(0, $tpd - 1), " +
        s"j -> concat('w', pmod(xxhash64((id + $nDocs) * $tpd + j), 10000))))"
    spark.range(nDelta).select((col("id") + nDocs).as("doc_id"),
      expr(s"CASE WHEN id % $plantD = 0 " +
        s"THEN concat(concat_ws(' ', slice($srcSql, 1, $tpd - 1)), ' zz9') " +
        s"ELSE $freshSql END").as("text"))
  }
}
