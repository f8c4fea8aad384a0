package graft

import org.apache.spark.sql.functions._

/** Scale probe for the grid-blocked DBSCAN (docs/EXPERIMENTS.md):
  * a synthetic point cloud generated inside the engine (spark.range +
  * Knuth-hash coordinates — deterministic, no data files) with one
  * PLANTED dense blob whose classification is known exactly, so the
  * run both measures wall time and self-checks correctness.
  *
  * Cloud: nPts−200 scatter points uniform-hashed over the unit square;
  * points 0–199 form a blob inside a 0.0002-side square at (0.5, 0.5).
  * At eps = 0.0005 every blob pair is within eps (diameter ≤ 2.9e−4),
  * so all 200 are mutually adjacent → every blob point is core and the
  * blob is ONE cluster; a scatter point's expected eps-neighbor count
  * is nPts·π·eps² (≈ 0.8 at 1 M), so P(scatter core at minPts = 12) ≈
  * Poisson tail ~1e−10 — the core set must be EXACTLY the blob. The
  * probe asserts that, plus the single-cluster label.
  *
  * Usage: runMain graft.SpatialScale <nPts> [eps=0.0005] [minPts=12]
  */
object SpatialScale {
  def main(args: Array[String]): Unit = {
    val nPts = args.headOption.map(_.toLong).getOrElse(1000000L)
    val eps = args.lift(1).map(_.toDouble).getOrElse(0.0005)
    val minPts = args.lift(2).map(_.toInt).getOrElse(12)
    val spark = Graft.session("graft-spatial-scale")
    // xxhash64 coordinates, NOT the Knuth multiplicative hash: hash32
    // is affine in id, so (hash32(id), hash32(id+c)) puts every point
    // on one dense line — a degenerate cloud where everything is core
    // (measured; the oracle queries use hash32 only because DuckDB can
    // replay it, and their fixtures add blob structure on top)
    val h1 = pmod(xxhash64(col("id")), lit(4294967296L))
      .cast("double") / 4294967296.0
    val h2 = pmod(xxhash64(col("id") + 1000000007L), lit(4294967296L))
      .cast("double") / 4294967296.0
    val pts = spark.range(nPts).select(col("id").as("pid"),
      when(col("id") < 200, lit(0.5) + h1 * 0.0002).otherwise(h1).as("x"),
      when(col("id") < 200, lit(0.5) + h2 * 0.0002).otherwise(h2).as("y"))
    val (cloud, cloudRdd, _) = graft.operators.Iterate.ckpt(pts)
    val t0 = System.nanoTime()
    val out = graft.operators.Spatial.dbscan(cloud, col("pid"), col("x"),
      col("y"), eps, minPts)
    val roles = out.groupBy("role").agg(count(lit(1)).as("n"),
        countDistinct(col("cluster")).as("k"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val sec = (System.nanoTime() - t0) / 1e9
    // the GUARANTEED invariant: every blob point is core and they all
    // share one cluster. Scatter points may legitimately also be core
    // (a hash point landing inside the blob region, or — at densities
    // where nPts·π·eps² approaches minPts — local scatter pockets);
    // the roles line records how many did.
    val blobStats = out.filter(col("pid") < 200)
      .agg(sum(when(col("role") === "core", 1L).otherwise(0L)),
        countDistinct(col("cluster"))).head()
    val blobAllCore = blobStats.getLong(0) == 200L
    val oneCluster = blobStats.getLong(1) == 1L
    println(f"""{"op":"dbscan","pts":$nPts,"eps":$eps,"min_pts":$minPts,"sec":$sec%.2f,"roles":"${roles.toSeq.sortBy(_._1).mkString(";")}"}""")
    println(s"""{"op":"dbscan_check","blob_all_core":$blobAllCore,"blob_one_cluster":$oneCluster,"ok":${blobAllCore && oneCluster}}""")
    cloudRdd.unpersist(blocking = false): Unit
    spark.stop()
  }
}
