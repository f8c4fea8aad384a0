package graft

import graft.operators.Iterate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Iterate's checkpoints keep the executed plan's hash partitioning
  * through AQE (Bridge.checkpointedDf), so a round that re-aggregates
  * on the same key plans no second shuffle. */
class IterateSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def bySrc: DataFrame = spark.range(100000)
    .select((col("id") % 1000).as("src"), (col("id") % 7).as("dst"))
    .groupBy("src").agg(count(lit(1)).as("n"))

  private def check(out: DataFrame): Unit = {
    val leaf = out.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }
    assert(leaf.isDefined, out.queryExecution.analyzed)
    leaf.get.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.collect { case a: Attribute => a.name } == Seq("src"), h)
      case p => fail(s"checkpoint leaf reports $p, not HashPartitioning(src)")
    }
    val again = out.groupBy("src").agg(sum("n").as("n"))
    assert(again.collect().map(_.getLong(1)).sum == 100000L)
    val shuffles = collect(again.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s
    }
    assert(shuffles.isEmpty, again.queryExecution.executedPlan)
  }

  test("ckpt and ckptLazy keep HashPartitioning(src) under AQE: no second shuffle") {
    withConf("spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val (eager, eagerRdd, n) = Iterate.ckpt(bySrc)
      assert(n == 1000L)
      check(eager)
      eagerRdd.unpersist(blocking = false)
      val (lazyOut, lazyRdd) = Iterate.ckptLazy(bySrc)
      check(lazyOut)
      lazyRdd.unpersist(blocking = false)
    }
  }
}
