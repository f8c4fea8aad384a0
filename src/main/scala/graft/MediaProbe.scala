package graft

import org.apache.spark.sql.functions._

/** Phase decomposition for media_neardup's 32-core variance (VERDICT
  * r12 #1): times each internal stage of the pipeline separately, with
  * GC attribution, over SPARK_GRAFT_RUNS repetitions (default 3). Debug
  * tool like Explain; not part of the Bench/Verify surface. */
object MediaProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = Graft.session("graft-media-probe")
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    def gcMs(): Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    spark.range(10).count()

    val packed = graft.operators.Multimodal.packBinary(
      graft.sources.Tables.table(spark, sfDir, "documents"))

    for (r <- 1 to reps) {
      def t[A](name: String)(body: => A): A = {
        val g0 = gcMs(); val t0 = System.nanoTime()
        val out = body
        println(f"[media-probe] rep=$r $name%-14s ${(System.nanoTime() - t0) / 1e9}%7.3f s  gc=${gcMs() - g0} ms")
        Console.out.flush()
        out
      }
      val (sh, shRdd, nGrams) = t("grams_ckpt") {
        graft.operators.Iterate.ckpt(
          graft.operators.Multimodal.payloadShingles(packed, 16))
      }
      val sm = t("simhash") {
        val features = sh.select(col("doc_id"),
          array(Seq(xxhash64(lit(0), col("s"))): _*).as("hs"), lit(1L).as("w"))
        val (smC, _, _) = graft.operators.Iterate.ckpt(
          features.groupBy("doc_id")
            .agg(graft.functions.SimHashAgg.simhash_agg_wide(col("hs"), col("w"), 1).as("fp")))
        smC
      }
      val cands = t("band_join") {
        val banded = sm.select(col("doc_id"), col("fp"),
          explode(array((0 until 16).map { b =>
            struct(lit(b).as("band"),
              shiftright(element_at(col("fp"), 1), (b % 16) * 4).bitwiseAND(15).as("h"))
          }: _*)).as("bh"))
          .select(col("doc_id"), col("fp"), col("bh.band").as("band"), col("bh.h").as("h"))
        val hamming =
          bit_count(element_at(col("x.fp"), 1).bitwiseXOR(element_at(col("y.fp"), 1)))
        val c = banded.alias("x").join(banded.alias("y"),
            col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
              col("x.doc_id") < col("y.doc_id"))
          .filter(hamming <= 15)
          .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
          .distinct()
        val (cC, _, n) = graft.operators.Iterate.ckpt(c)
        println(s"[media-probe] rep=$r   n_cands=$n n_grams=$nGrams")
        cC
      }
      t("verify") {
        graft.operators.Dedup.jaccardVerify(sh, 0.8, Some(cands)).count()
      }
      shRdd.unpersist(blocking = false)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      t("full_query") {
        graft.operators.Multimodal.mediaNearDup(packed, threshold = 0.8).count()
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
