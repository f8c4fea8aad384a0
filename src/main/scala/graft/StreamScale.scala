package graft

import graft.operators.Similarity
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._

/** Streaming-ingest DEPTH probe for the graph-ANN admission gate
  * (VERDICT r11 #3): the registry query `stream_ann_graph_ingest`
  * drains 2 slices; a production ingest runs thousands. This main
  * replays the same dataflow — file-source stream, one slice per
  * micro-batch, each batch beam-walking the stored graph index — over
  * `nBatches` (≥ 10) slices and prints ONE JSON line per batch with
  *
  *  - the batch's walk+sink wall seconds (does per-batch cost grow
  *    with depth?),
  *  - block-manager residency AFTER the batch: persistent-RDD count
  *    and cached memory bytes (does the leak fix hold at depth?).
  *
  * Vector model and index recipe match AnnScale (clustered synthetic
  * vectors; blocked build is unnecessary here — the probe measures the
  * SERVING/ingest tier, so the base graph is exact over a corpus
  * shard). The per-batch beam decisions are the registry query's
  * (k=3, nProbe=4, w=16, r=4).
  *
  * Usage: runMain graft.StreamScale [nVecs=200000] [nBatches=12] [dims=64] [nClusters=256] [entriesPerRegion=16]
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val nVecs = args.headOption.map(_.toLong).getOrElse(200000L)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(12)
    val dims = args.lift(2).map(_.toInt).getOrElse(64)
    val nClusters = args.lift(3).map(_.toInt).getOrElse(256)
    val entriesPerRegion = args.lift(4).map(_.toInt).getOrElse(16)
    require(nBatches >= 1, s"nBatches must be >= 1: $nBatches")
    val spark = Graft.session("graft-stream-scale")

    // AnnScale's clustered vector model (planted neighborhoods)
    val plan = spark.range(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dims - 1)), j => {
        val c = pmod(col("id"), lit(nClusters.toLong))
        val cent = (pmod(xxhash64(c, j), lit(2001L)) - 1000L).cast("double") / 1000.0
        val noise = (pmod(xxhash64(col("id"), j, lit(7L)), lit(2001L)) - 1000L)
          .cast("double") / 1000.0
        cent + noise * 0.15
      }).as("embedding"))
    val (emb, embH, _) = graft.operators.Iterate.ckpt(plan)

    val root = graft.sources.Tables.scratchDir("graft_streamscale")
    new java.io.File(root).mkdirs()
    // base corpus = 70%; the streamed delta = 30% in nBatches slices
    val base = emb.filter(col("vec_id") % 10 < 7)
    val idx = s"$root/idx"
    val t0 = System.nanoTime()
    val asg = Similarity.ivfAssignments(base, col("embedding"), col("vec_id"),
      nClusters)
    val blocked = base.join(asg, base("vec_id") === asg("vid"))
      .select(col("vec_id"), col("embedding"), col("cid"))
    Similarity.writeKnnGraphIndex(
      Similarity.knnGraphBlocked(blocked, col("embedding"), col("vec_id"),
        col("cid"), 8),
      base, col("embedding"), col("vec_id"),
      Similarity.regionEntryPoints(asg, entriesPerRegion), idx,
      centroids = Similarity.firstNCentroids(base, col("embedding"),
        col("vec_id"), nClusters))
    println(f"""{"op":"stream_scale_build","n":$nVecs,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")

    // nBatches mtime-ordered slice files of the delta (the arrival-dir
    // fixture recipe)
    val arrivals = s"$root/arrivals"
    val delta = emb.filter(col("vec_id") % 10 >= 7)
    val deltaN = delta.count()
    for (i <- 0 until nBatches) {
      val part = new java.io.File(arrivals, f"slice_$i%03d")
      delta.filter(pmod(floor(col("vec_id") / 10).cast("long"), lit(nBatches.toLong)) === i)
        .coalesce(1).write.parquet(part.getPath)
      part.listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified((i + 1) * 60000L): Unit)
    }
    // the generator checkpoint is probe scaffolding, not residency
    // under test — free it so the per-batch numbers start from zero
    embH.unpersist(blocking = true)

    val outDir = s"$root/out"
    val sc = spark.sparkContext
    def residency(): (Int, Long) = {
      val infos = sc.getRDDStorageInfo
      (sc.getPersistentRDDs.size, infos.map(_.memSize).sum)
    }
    val stream = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(arrivals)
    var batchNo = 0
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val bt0 = System.nanoTime()
        val before = sc.getPersistentRDDs.keySet
        Similarity.beamSearchKnnStored(idx, batch, col("embedding"),
            col("vec_id"), k = 3, nProbe = 4, beamWidth = 16, rounds = 4)
          .write.mode("append").parquet(outDir)
        // the gate's per-batch close-out (streamAnnGraphIngest's rule):
        // free this batch's result blocks once the sink holds them
        sc.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before.contains(id)) rdd.unpersist(blocking = false) }
        val wall = (System.nanoTime() - bt0) / 1e9
        val rows = batch.count()
        batchNo += 1
        val (nRdds, memB) = residency()
        println(f"""{"op":"stream_scale_batch","batch":$batchNo,"rows":$rows,"walk_sec":$wall%.2f,"resident_rdds":$nRdds,"resident_mem_bytes":$memB}""")
        Console.out.flush()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try { q.processAllAvailable(); q.processAllAvailable() } finally q.stop()
    val verdicts = spark.read.parquet(outDir).count()
    val (nRdds, memB) = residency()
    println(f"""{"op":"stream_scale_done","batches":$batchNo,"delta_rows":$deltaN,"verdict_rows":$verdicts,"resident_rdds":$nRdds,"resident_mem_bytes":$memB}""")
    graft.sources.Tables.deleteRecursive(root)
    spark.stop()
  }
}
