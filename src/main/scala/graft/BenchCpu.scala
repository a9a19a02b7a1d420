package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** Executor CPU-time accounting shared by the bench mains (round 12 —
  * VERDICT r11 #1): wall seconds on this box fold in host scheduling
  * noise that swung the streaming family 2× between rounds with zero
  * code change; the sum of task executorCpuTime is the work the PLAN
  * actually did, immune to the host window. One definition — the
  * board and a single-query run (`graft.Bench one`) must report the
  * same cpu column or regression reads comparing the two are
  * meaningless. */
object BenchCpu {

  /** Registers the task-end listener on `spark` and returns the
    * reader: drain the listener bus (so task-end events can't leak
    * across query boundaries), then read cumulative executor CPU ns. */
  def install(spark: SparkSession): () => Long = {
    val cpuNs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) { cpuNs.addAndGet(m.executorCpuTime); () }
      }
    })
    () => {
      org.apache.spark.graftbridge.ListenerDrain.waitUntilEmpty(spark.sparkContext)
      cpuNs.get()
    }
  }
}
