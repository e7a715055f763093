package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted,
  SparkListenerUnpersistRDD}
import org.apache.spark.sql.SparkSession

/** Records the Spark jobs and stages started while a block runs, each
  * stage with its job's description, and the RDDs unpersisted meanwhile. */
object SparkJobProbe {

  /** One submitted stage: the SQL execution it belongs to ("none" outside
    * one), its job's description ("" when unset) and its task count. */
  final case class Stage(executionId: String, description: String, tasks: Int)

  final case class Record(stages: Seq[Stage], jobs: Int, unpersistedRdds: Int) {
    /** Stages of the parallel file listing Spark plans when a read names
      * more paths than `spark.sql.sources.parallelPartitionDiscovery.threshold`. */
    def listingStages: Seq[Stage] = stages.filter(_.description.startsWith(ListingJob))
  }

  /** The job description Spark's parallel listing sets (HadoopFSUtils). */
  final val ListingJob = "Listing leaf files and directories"

  def record[T](spark: SparkSession)(body: => T): (T, Record) = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val unpersisted = new java.util.concurrent.atomic.AtomicInteger()
    def prop(p: java.util.Properties, k: String, default: String) =
      Option(p).flatMap(q => Option(q.getProperty(k))).getOrElse(default)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(Stage(prop(e.properties, "spark.sql.execution.id", "none"),
          prop(e.properties, "spark.job.description", ""), e.stageInfo.numTasks))
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = unpersisted.incrementAndGet()
    }
    org.apache.spark.sql.graft.shim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val r = body
      org.apache.spark.sql.graft.shim.drainListenerBus(spark)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    (out, Record(stages.asScala.toVector, jobs.get(), unpersisted.get()))
  }
}
