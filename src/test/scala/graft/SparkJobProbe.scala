package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted,
  SparkListenerUnpersistRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Records the Spark jobs and stages started while a block runs, each
  * stage with its job's description, and how many RDDs made meanwhile were
  * also unpersisted meanwhile. */
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
    // RDD ids grow by one per RDD, so an empty RDD made now bounds every
    // RDD the body makes from below; an unpersist of an older RDD (the
    // ContextCleaner collecting one an earlier caller persisted) is not the body's.
    val firstRddId = spark.sparkContext.emptyRDD[Unit].id
    def prop(p: java.util.Properties, k: String, default: String) =
      Option(p).flatMap(q => Option(q.getProperty(k))).getOrElse(default)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.add(Stage(prop(e.properties, "spark.sql.execution.id", "none"),
          prop(e.properties, "spark.job.description", ""), e.stageInfo.numTasks))
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        if (e.rddId >= firstRddId) unpersisted.incrementAndGet()
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

  /** A frame's physical plan before AQE as text, without what differs
    * between two builds of one plan: expression ids and the counters of
    * lambda variables. */
  def planText(df: DataFrame): String =
    df.queryExecution.sparkPlan.toString.replaceAll("#\\d+L?", "").replaceAll("\\b(x|elementAt)_\\d+", "$1")
}
