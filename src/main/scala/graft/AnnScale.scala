package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Scale probe for the ANN tiers (docs/EXPERIMENTS.md): exact brute
  * force vs sign-bit Hamming shortlist + re-rank vs IVF, over a
  * deterministic synthetic clustered vector set generated entirely
  * inside the engine (`spark.range` + xxhash64 — no data files, same
  * posture as GraphScale). Clustered, not uniform: nearest neighbors of
  * a uniform random point in 64-d are statistical ties, so recall
  * against brute force would measure noise; planted clusters give every
  * query an unambiguous true neighborhood (its cluster-mates).
  *
  * Vector model: cluster c = id mod nClusters; component j =
  * centroid(c,j) + 0.15·noise(id,j), both hash-uniform in [-1,1].
  *
  * Usage: runMain graft.AnnScale <nVecs> [dims=64] [nQueries=100] [nClusters=256] [ops=all|brute,hamming,ivf,graph,filtered,mmr] [refineRounds=1] [bridge=6] [refineMode=rng|rng:<alpha>|topk] [entriesPerRegion=1] [appendShift=0]
  * Prints one JSON line per op (wall seconds, rows) plus recall@k of
  * each approximate tier against the exact baseline. The graph op
  * measures serve recall BEFORE and AFTER each NN-Descent refinement
  * round (VERDICT r9 #1); the filtered op sweeps filter selectivity ×
  * adaptive widening over a blocked+refined index (VERDICT r9 #2);
  * entriesPerRegion > 1 stores the SPANN-style multi-entry tier
  * (VERDICT r10 #1 — the walk-budget fix: seeds start inside the
  * query's region instead of one-per-region far representatives).
  */
object AnnScale {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(200000L)
    val dims = args.lift(1).map(_.toInt).getOrElse(64)
    val nQueries = args.lift(2).map(_.toInt).getOrElse(100)
    val nClusters = args.lift(3).map(_.toInt).getOrElse(256)
    val ops = args.lift(4).getOrElse("all")
    val refineRounds = args.lift(5).map(_.toInt).getOrElse(1)
    val bridge = args.lift(6).map(_.toInt).getOrElse(6)
    // refine keep rule: "rng" = diversified (Vamana α-relaxed neighbor
    // selection, default α = 1.2; "rng:1.0" forces the strict HNSW
    // rule — moves SERVE recall), "topk" = pure best-k (EDGE recall)
    val refineMode0 = args.lift(7).getOrElse("rng")
    // strict parse (ADVICE r11): "rng:" / "rng:x:y" / a non-numeric
    // alpha previously either threw a raw NumberFormatException or
    // silently fell through to the default case, treating the whole
    // string as an (unknown) mode and disabling diversify
    val (refineMode, alpha) = refineMode0.split(":", -1) match {
      case Array(m) => (m, 1.2)
      case Array(m, a) =>
        val alphaV = try a.toDouble catch { case _: NumberFormatException =>
          sys.error(s"refineMode '$refineMode0': alpha '$a' is not a number (usage: rng | rng:<alpha> | topk)") }
        (m, alphaV)
      case _ => sys.error(
        s"refineMode '$refineMode0' has too many ':' segments (usage: rng | rng:<alpha> | topk)")
    }
    require(refineMode == "rng" || refineMode == "topk",
      s"refineMode must be rng or topk, got '$refineMode' (usage: rng | rng:<alpha> | topk)")
    val entriesPerRegion = args.lift(8).map(_.toInt).getOrElse(1)
    // appendShift=1: the streamed-in 30% (id % 10 ∈ {7,8,9}) draws from
    // nClusters NEW cluster centers the base never saw — the
    // distribution-shift ingest regime where the entry tier's
    // staleness actually bites (the stationary regime measured no
    // decay: docs/EXPERIMENTS.md round 21)
    val appendShift = args.lift(9).map(_.toInt).getOrElse(0) == 1
    def want(op: String): Boolean = ops == "all" || ops.split(",").contains(op)
    val k = 10
    val spark = Graft.session("graft-ann-scale")

    val plan = spark.range(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)), j => {
        val c0 = pmod(col("id"), lit(nClusters.toLong))
        val c = if (appendShift)
          when(col("id") % 10 >= 7, c0 + nClusters).otherwise(c0)
        else c0
        val cent = (pmod(xxhash64(c, j), lit(2001L)) - 1000L).cast("double") / 1000.0
        val noise = (pmod(xxhash64(col("id"), j, lit(7L)), lit(2001L)) - 1000L)
          .cast("double") / 1000.0
        cent + noise * 0.15
      }).as("embedding"))
    // materialize generation OUTSIDE the timed region (generator cost is
    // not search cost)
    val (emb, _, _) = graft.operators.Iterate.ckpt(plan)
    val stride = math.max(1L, nVecs / nQueries)
    val isQ = col("vec_id") % stride === 0

    def timed(name: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = body
      val s = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"$name","n":$nVecs,"dims":$dims,"q":$nQueries,"sec":$s%.2f,"rows":$rows}""")
      Console.out.flush()
    }
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    var truth: Set[(Long, Long)] = Set.empty

    if (want("brute")) timed("ann_brute") {
      val r = Similarity.topKBruteForce(emb, col("embedding"), col("vec_id"), isQ, k)
      truth = pairs(r)
      truth.size.toLong
    }
    def recall(name: String, got: Set[(Long, Long)]): Unit =
      if (truth.nonEmpty)
        println(f"""{"op":"${name}_recall","recall":${got.intersect(truth).size.toDouble / truth.size}%.4f}""")
    if (want("hamming")) {
      var got: Set[(Long, Long)] = Set.empty
      timed("ann_hamming_rerank") {
        val r = Similarity.topKHammingRerank(emb, col("embedding"), col("vec_id"),
          isQ, k, shortlist = 10 * k, dims = dims)
        got = pairs(r)
        got.size.toLong
      }
      recall("ann_hamming_rerank", got)
    }
    if (want("ivf")) {
      var got: Set[(Long, Long)] = Set.empty
      timed(s"ann_ivf_c${nClusters}_p8") {
        val r = Similarity.topKIvf(emb, col("embedding"), col("vec_id"),
          isQ, k, nCentroids = nClusters, nProbe = 8)
        got = pairs(r)
        got.size.toLong
      }
      recall("ann_ivf", got)
    }
    // graph-ANN at corpus scale (VERDICT r8 #2): knnGraphBlocked over
    // IVF-quantizer blocks feeds writeKnnGraphIndex — the SCALABLE
    // construction path (Σ_b |b|² pair work instead of n²; exact
    // within blocks), then the full stored lifecycle: 3 insert
    // batches (degree drift printed after each — the r8 #1 probe),
    // degree-bound prune, beam serve, recall vs brute. On clustered
    // vectors the block key is meaningful, so this measures the
    // production posture the sf-testdata demo (structureless random
    // vectors — graph ANN's published worst case) cannot.
    if (want("graph")) {
      val idx = s"${sys.props("java.io.tmpdir")}/graft_annscale_graph"
      graft.sources.Tables.deleteRecursive(idx)
      val base = emb.filter(col("vec_id") % 10 < 7)
      timed("graph_build_blocked") {
        val asg = Similarity.ivfAssignments(base, col("embedding"),
          col("vec_id"), nClusters)
        val blocked = base.join(asg, base("vec_id") === asg("vid"))
          .select(col("vec_id"), col("embedding"), col("cid"))
        val adjacency = Similarity.knnGraphBlocked(blocked, col("embedding"),
          col("vec_id"), col("cid"), 8)
        Similarity.writeKnnGraphIndex(adjacency, base, col("embedding"),
          col("vec_id"),
          Similarity.regionEntryPoints(asg, entriesPerRegion), idx,
          centroids = Similarity.firstNCentroids(base, col("embedding"),
            col("vec_id"), nClusters))
        spark.read.parquet(s"$idx/adj").count()
      }
      def degree(tag: String): Unit = {
        val r = spark.read.parquet(s"$idx/adj")
          .groupBy("src").agg(count(org.apache.spark.sql.functions.lit(1)).as("d"))
          .agg(max(col("d")), avg(col("d"))).head()
        println(f"""{"op":"graph_degree","at":"$tag","max":${r.getLong(0)},"avg":${r.getDouble(1)}%.2f}""")
        Console.out.flush()
      }
      degree("built")
      for (b <- 7 to 9) {
        timed(s"graph_insert_b$b") {
          Similarity.appendToKnnGraphIndex(idx,
            emb.filter(col("vec_id") % 10 === b), col("embedding"),
            col("vec_id"), kGraph = 8, nProbe = 8, beamWidth = 32, rounds = 3)
        }
        degree(s"insert_b$b")
      }
      timed("graph_prune") {
        Similarity.pruneKnnGraphIndex(spark, idx, degreeCap = 8)
      }
      degree("pruned")
      // serve recall BEFORE refinement — the r9 regime (blocked build +
      // inserts + prune: the 0.334@1M number), then per NN-Descent
      // round: refinement cost + the recall it buys (VERDICT r9 #1).
      // The final w32/w64 serves below then measure the refined graph.
      var gotPre: Set[(Long, Long)] = Set.empty
      timed("graph_beam_preref_w32_r3") {
        val r = Similarity.beamSearchKnnStored(idx, emb.filter(isQ),
          col("embedding"), col("vec_id"), k = k, nProbe = 8,
          beamWidth = 32, rounds = 3)
        gotPre = pairs(r)
        gotPre.size.toLong
      }
      recall("graph_beam_preref_w32_r3", gotPre)
      for (ri <- 1 to refineRounds) {
        timed(s"graph_refine_${refineMode0}_$ri") {
          Similarity.refineKnnGraphIndex(spark, idx, kGraph = 8,
            rounds = 1, bridge = bridge, diversify = refineMode == "rng",
            alpha = alpha)
          spark.read.parquet(s"$idx/adj").count()
        }
        var gotRef: Set[(Long, Long)] = Set.empty
        timed(s"graph_beam_postref${ri}_w32_r3") {
          val r = Similarity.beamSearchKnnStored(idx, emb.filter(isQ),
            col("embedding"), col("vec_id"), k = k, nProbe = 8,
            beamWidth = 32, rounds = 3)
          gotRef = pairs(r)
          gotRef.size.toLong
        }
        recall(s"graph_beam_postref${ri}_w32_r3", gotRef)
      }
      var got: Set[(Long, Long)] = Set.empty
      for ((bw, rounds) <- Seq((32, 3), (64, 5))) {
        timed(s"graph_beam_serve_w${bw}_r$rounds") {
          val r = Similarity.beamSearchKnnStored(idx, emb.filter(isQ),
            col("embedding"), col("vec_id"), k = k, nProbe = 8,
            beamWidth = bw, rounds = rounds)
          got = pairs(r)
          got.size.toLong
        }
        recall(s"graph_beam_w${bw}_r$rounds", got)
      }
      // ENTRY-TIER refresh probe (VERDICT r11 #2): the entry tier was
      // sampled from the 70% base, so the three appended batches (30%
      // of the corpus) can never seed a walk from one of their own.
      // Measure serve recall FOR QUERIES DRAWN FROM THE APPENDED
      // VECTORS before/after refreshKnnGraphEntries over the grown
      // corpus, plus the original query set after (no-regression arm).
      val q2 = col("vec_id") % math.max(10L, nVecs / math.max(1L, nQueries.toLong) / 10L * 10L) === 7
      val truth2 = pairs(Similarity.topKBruteForce(
        emb, col("embedding"), col("vec_id"), q2, k))
      def appendedServe(tag: String): Unit = {
        var g: Set[(Long, Long)] = Set.empty
        timed(s"entry_${tag}_appended_serve_w32_r3") {
          val r = Similarity.beamSearchKnnStored(idx, emb.filter(q2),
            col("embedding"), col("vec_id"), k = k, nProbe = 8,
            beamWidth = 32, rounds = 3)
          g = pairs(r); g.size.toLong
        }
        if (truth2.nonEmpty)
          println(f"""{"op":"entry_${tag}_appended_recall","recall":${g.intersect(truth2).size.toDouble / truth2.size}%.4f,"q":${truth2.size / k}}""")
      }
      val (_, _, entPpm) = Similarity.knnGraphEntryStaleness(spark, idx)
      println(s"""{"op":"entry_staleness_ppm","ppm":$entPpm}""")
      appendedServe("stale")
      timed("entry_refresh") {
        Similarity.refreshKnnGraphEntries(spark, idx, entriesPerRegion)
      }
      appendedServe("fresh")
      var gotAfter: Set[(Long, Long)] = Set.empty
      timed("graph_beam_postrefresh_w32_r3") {
        val r = Similarity.beamSearchKnnStored(idx, emb.filter(isQ),
          col("embedding"), col("vec_id"), k = k, nProbe = 8,
          beamWidth = 32, rounds = 3)
        gotAfter = pairs(r); gotAfter.size.toLong
      }
      recall("graph_beam_postrefresh_w32_r3", gotAfter)
      // COARSE ENTRY-GRAPH tier probe (VERDICT r11 "missing #2"): walk
      // a k=8 graph over the entry tier (4 roots, width 16, 2 rounds)
      // instead of scoring all regions × E entries per query. Measured
      // both per-100-query serve (seed cost amortized by the walk) and
      // a BULK 10 k-query batch, where queries × entries seed scoring
      // is the term that dominates (the E=64 saturation finding's
      // 6.5 B-dot arm).
      timed("entry_graph_build_k8") {
        Similarity.buildKnnEntryGraph(spark, idx, kEntry = 8)
      }
      // entry-walk budget at this scale: ~11.5 k entries need the walk
      // to DESCEND from global roots — (roots 4, width 32, 8 rounds) ≈
      // ≤ 4 + 8·32·(8+2) ≈ 2.6 k scored entries per query, still 4×
      // under the flat tier's 11.5 k
      for ((eb, er) <- Seq((32, 8))) {
        var gotHier: Set[(Long, Long)] = Set.empty
        timed(s"graph_beam_hier_eb${eb}_er${er}_w32_r3") {
          val r = Similarity.beamSearchKnnStoredHier(idx, emb.filter(isQ),
            col("embedding"), col("vec_id"), k = k, nProbe = 8,
            beamWidth = 32, rounds = 3, nRoots = 4, entryBeam = eb,
            entryRounds = er)
          gotHier = pairs(r); gotHier.size.toLong
        }
        recall(s"graph_beam_hier_eb${eb}_er${er}_w32_r3", gotHier)
      }
      val isBulk = col("vec_id") % 100 === 1
      timed("graph_beam_bulk10k_flat_w32_r3") {
        Similarity.beamSearchKnnStored(idx, emb.filter(isBulk),
          col("embedding"), col("vec_id"), k = k, nProbe = 8,
          beamWidth = 32, rounds = 3).count()
      }
      timed("graph_beam_bulk10k_hier_w32_r3") {
        Similarity.beamSearchKnnStoredHier(idx, emb.filter(isBulk),
          col("embedding"), col("vec_id"), k = k, nProbe = 8,
          beamWidth = 32, rounds = 3, nRoots = 4, entryBeam = 32,
          entryRounds = 8).count()
      }
      graft.sources.Tables.deleteRecursive(idx)
    }
    // FILTERED-serving selectivity sweep (VERDICT r9 #2): over a
    // blocked+refined index on the FULL corpus, measure filtered-walk
    // recall at 50%/10%/2% predicate selectivity, fixed width vs
    // ACORN-style adaptive widening (cap 4). Ground truth per
    // selectivity = brute force over the matching corpus (the query
    // stride divides every mod, so queries match their own filter).
    // Also prints the mean returned rows per query — the shortfall
    // signal a starved fixed-width walk shows first.
    if (want("filtered")) {
      val idx = s"${sys.props("java.io.tmpdir")}/graft_annscale_fgraph"
      graft.sources.Tables.deleteRecursive(idx)
      timed("fgraph_build_refined") {
        // multi-probe-2 blocked build: the overlapping cells carry the
        // cross-block seed edges the refinement round spreads (NoN is
        // closed over disjoint blocks)
        Similarity.writeKnnGraphIndex(
          Similarity.knnGraphBlockedMulti(emb, col("embedding"),
            col("vec_id"),
            Similarity.ivfAssignmentsMulti(emb, col("embedding"),
              col("vec_id"), nClusters, nProbe = 2), 8),
          emb, col("embedding"), col("vec_id"),
          Similarity.regionEntryPoints(
            Similarity.ivfAssignments(emb, col("embedding"), col("vec_id"),
              nClusters), entriesPerRegion), idx)
        Similarity.refineKnnGraphIndex(spark, idx, kGraph = 8,
          rounds = 1, bridge = bridge)
        spark.read.parquet(s"$idx/adj").count()
      }
      for (mod <- Seq(2L, 10L, 50L)) {
        require(stride % mod == 0,
          s"mod $mod must divide query stride $stride (queries must match their own filter)")
        val keepPred = col("vid") % mod === 0
        val ftruth = pairs(Similarity.topKBruteForce(
          emb.filter(col("vec_id") % mod === 0), col("embedding"),
          col("vec_id"), isQ, k))
        for (cap <- Seq(1, 4)) {
          var got: Set[(Long, Long)] = Set.empty
          var rows = 0L
          timed(s"fgraph_serve_mod${mod}_cap$cap") {
            val r = Similarity.beamSearchKnnStoredFiltered(idx,
              emb.filter(isQ), col("embedding"), col("vec_id"),
              keep = keepPred, k = k, nProbe = 8, beamWidth = 32,
              rounds = 3, widenCap = cap)
            got = pairs(r)
            rows = got.size.toLong
            rows
          }
          val fr = got.intersect(ftruth).size.toDouble / ftruth.size
          println(f"""{"op":"fgraph_recall","mod":$mod,"cap":$cap,"recall":$fr%.4f,"rows_per_q":${rows.toDouble / nQueries}%.2f}""")
          Console.out.flush()
        }
      }
      graft.sources.Tables.deleteRecursive(idx)
    }
    // MMR greedy diversification: the corpus-sized cost is the
    // relevance shortlist scan (the ann_brute shape); the k greedy
    // stages are shortlist-bounded per query. Self-check: pick 1 is
    // the pure-relevance argmax, so it must be brute force's rank 1.
    if (want("mmr")) {
      var got: Map[Long, Long] = Map.empty
      timed(s"mmr_k${k}_sl${4 * k}") {
        val r = Similarity.mmrSelect(emb, col("embedding"), col("vec_id"),
          isQ, k, shortlist = 4 * k, lambdaPpm = 700000L)
        val rows = r.collect()
        got = rows.filter(_.getInt(1) == 1)
          .map(x => x.getLong(0) -> x.getLong(2)).toMap
        rows.length.toLong
      }
      if (truth.nonEmpty) {
        // compare at MMR's precision: mmrSelect ranks by micros-rounded
        // simq (ties to vid asc) while topKBruteForce ranks the raw
        // double cosine — two near-top candidates within 5e-7 round to
        // the same micros. Accept a pick iff ITS OWN micros score ties
        // the query's global max micros (rank 1's — rounding is
        // monotone, so the raw-cosine argmax also holds the max
        // micros). Scoring the pick directly makes the check exact for
        // arbitrarily wide tie groups instead of inspecting a fixed
        // top-10 window (ADVICE r8).
        val top1Micros = Similarity.topKBruteForce(
            emb, col("embedding"), col("vec_id"), isQ, 1)
          .collect()
          .map(r => r.getLong(0) -> math.round(r.getDouble(3) * 1e6))
          .toMap
        import spark.implicits._
        val picks = got.toSeq.toDF("qid", "pid")
        val e = graft.operators.Dedup.withNorm(emb, col("embedding"), col("vec_id"))
        val pickMicros = picks
          .join(e.select(col("vid").as("qid"), col("v").as("qv"), col("nrm").as("qn")), Seq("qid"))
          .join(e.select(col("vid").as("pid"), col("v").as("pv"), col("nrm").as("pn")), Seq("pid"))
          .select(col("qid"), round(graft.operators.Dedup.dot(col("qv"), col("pv")) /
            (col("qn") * col("pn")) * 1e6, 0).cast("long").as("pm"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val agree = got.keys.count(q =>
          pickMicros.get(q).exists(pm => top1Micros.get(q).contains(pm)))
        println(f"""{"op":"mmr_pick1_agreement","agree":$agree,"q":${got.size}}""")
        require(agree == got.size,
          "MMR pick 1 must tie the relevance argmax at micros precision")
      }
    }
    spark.stop()
  }
}
