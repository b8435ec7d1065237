package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** [[BenchListener]]'s per-stage attribution: it adds up to the query
  * totals, covers every stage that ran, and names the operator code. */
class BenchListenerSpec extends SparkSpec {

  test("per-stage CPU sums to the query total, one entry per stage, graft callsites") {
    val sc = spark.sparkContext
    val listener = new BenchListener
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val completed = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        ran.add(e.stageInfo.stageId)
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(completed)
    try {
      ListenerBusDrain(sc)
      listener.reset()
      ran.clear()
      // two stages: scan + partial aggregate, then the final aggregate
      spark.range(0, 200000, 1, 4)
        .groupBy((col("id") % 7).as("k")).agg(sum(col("id")).as("s"))
        .write.mode("overwrite").format("noop").save()
      ListenerBusDrain(sc)
      val costs = listener.stageCosts
      assert(costs.size >= 2)
      assert(costs.map(_.cpuNs).sum == listener.taskCpuNs.sum)
      assert(costs.map(_.tasks).sum == listener.tasks.sum)
      assert(costs.map(_.stageId).toSet == ran.asScala.toSet)
      assert(costs.map(_.cpuNs) == costs.map(_.cpuNs).sortBy(-_))
      assert(costs.head.callsite.contains("graft."), costs.head.callsite)
    } finally {
      sc.removeSparkListener(listener)
      sc.removeSparkListener(completed)
    }
  }
}
