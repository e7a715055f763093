package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, JoinedRow}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Bridge into Spark's classic backend: Column <-> catalyst Expression.
  * Spark 4 made Column wrap a ColumnNode; ExpressionUtils is the
  * sanctioned conversion for classic-session extensions (the
  * SparkSessionExtensions function-injection path uses the same shape). */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER Column -> Expression conversion. ExpressionUtils.expression
    * wraps non-expression ColumnNodes in a lazy, Unevaluable
    * ColumnNodeExpression that only the Dataset-API analyzer resolves;
    * expressions returned from a FunctionRegistry builder (the
    * spark.sql path) never pass through that resolution, so they must
    * be converted up front. */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Register an expression-builder function on a LIVE session's
    * function registry (the injectFunction path only works at session
    * build time; sessionState is private[sql]). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")

  /** The session's typed SQL conf (sessionState is private[sql]). */
  def sqlConf(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** Append a packed (partitionId << 40 | rowInPartition) LongType id
    * column in a SINGLE pass over the physical InternalRow iterator:
    * no extra Spark job (unlike rdd.zipWithIndex, which runs a
    * partition-count job that re-evaluates the whole upstream plan) and
    * no InternalRow -> Row -> InternalRow re-encode (unlike df.rdd).
    *
    * DETERMINISM CONTRACT (ADVICE r5): the id is a pure function of the
    * input's per-partition row ORDER. Scans, narrow ops, and cached
    * (materialized) frames have deterministic order; rows arriving
    * through an exchange (join/aggregate/repartition/...) do NOT — the
    * shuffle-fetch arrival order can differ between two independent
    * evaluations of the same plan, and call sites that evaluate the
    * id-bearing frame in TWO subtrees of one query (shuffleJoin's left
    * path, StareJoin.join) would pair rows against mismatched ids.
    * Callers with such lineages must stabilize order first —
    * StareJoin.withStableId does this automatically via
    * `hasOrderHazard` + an intra-partition sort.
    *
    * Ids are unique as long as no partition exceeds 2^40 rows
    * (enforced) and there are fewer than 2^23 partitions (far beyond
    * local or per-stage executor counts; enforced too). Values are NOT
    * contiguous, by design: contiguity would cost a second evaluation
    * of the plan. */
  def withPackedIdColumn(df: DataFrame, name: String): DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val spark = ds.sparkSession
    val schema = StructType(df.schema.fields :+ StructField(name, LongType, nullable = false))
    val rdd = ds.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      if (pid >= (1 << 23)) throw new IllegalStateException(
        s"withPackedIdColumn: partition id $pid exceeds the 2^23 packing budget")
      val base = pid.toLong << 40
      var pos = 0L
      // reused envelope rows are safe: RDDScanExec immediately applies an
      // UnsafeProjection per row before anything downstream can buffer
      val extra = new GenericInternalRow(1)
      val joined = new JoinedRow
      it.map { r =>
        if (pos == (1L << 40)) throw new IllegalStateException(
          s"withPackedIdColumn: partition $pid exceeds 2^40 rows")
        extra.update(0, base | pos)
        pos += 1L
        joined(r, extra): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    spark.internalCreateDataFrame(rdd, schema)
  }

  /** True when the frame's lineage can deliver rows in a partition in a
    * NON-deterministic order across independent evaluations: any
    * exchange-bearing operator (join, aggregate, window, repartition,
    * global sort — sorts are only deterministic up to key ties, so they
    * count) below it. Uses the OPTIMIZED plan so cache substitution has
    * happened: a materialized InMemoryRelation is a leaf with frozen
    * block order — deterministic, and traversal stops there. */
  def hasOrderHazard(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ds.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort => true
      case _: RepartitionOperation | _: Deduplicate     => true
      case _: Except | _: Intersect                     => true
      case _                                            => false
    }
  }

  /** True when the frame's optimized plan is a driver-resident
    * LocalRelation (a `toDF`/`createDataFrame` of local rows): its
    * collect() returns the rows without planning a Spark job. Optimizes
    * a fresh query execution: forcing the frame's own would freeze its
    * cache lookup before a later persist(). */
  def isLocalRelation(df: DataFrame): Boolean = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    ds.sparkSession.sessionState.executePlan(ds.logicalPlan).optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
  }

  /** Wait until every event posted so far has reached the listeners
    * (the listener bus is private to Spark). */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession, timeoutMs: Long = 30000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** A parquet frame over the directory `root` whose data files are
    * already known: `files` are (path relative to root, length, mtime).
    * Equivalent to `spark.read.parquet(root)` over data files (same
    * partition inference, same schema inference from a footer), but the
    * file index is seeded from the given listing, so it lists nothing
    * itself: a root with more subdirectories than
    * parallelPartitionDiscovery.threshold would otherwise plan a Spark
    * listing job with one task per subdirectory. The schema comes from
    * the footer of the file Spark's non-merging inference picks (the
    * first by path), read on the driver with the session's parquet
    * conf: Spark's inference reads that one footer in a one-task job.
    * So building the frame starts no job. The listing is only correct
    * if the caller took it after the last write to the directory. */
  def parquetFromListing(spark: org.apache.spark.sql.SparkSession, root: String,
                         files: Seq[(String, Long, Long)]): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
      ParquetToSparkSchemaConverter}
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val hadoopConf = s.sessionState.newHadoopConf()
    val fs = new Path(root).getFileSystem(hadoopConf)
    val rootPath = fs.makeQualified(new Path(root))
    val blockSize = 32L << 20
    // qualified the way Spark's own listing qualifies a file (resolving
    // against rootPath would turn "file:///a" into "file:/a"), so
    // inputFiles reads exactly as after spark.read.parquet(root)
    val bare = Path.getPathWithoutSchemeAndAuthority(rootPath)
    val statuses: Array[FileStatus] = files.map { case (rel, len, mtime) =>
      new FileStatus(len, false, 1, blockSize, mtime, fs.makeQualified(new Path(bare, rel)))
    }.toArray
    // a private cache holding exactly this listing: the session-wide
    // FileStatusCache is shared state and is left untouched
    val cache = new FileStatusCache {
      private val leaves = new java.util.concurrent.ConcurrentHashMap[Path, Array[FileStatus]]
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = Option(leaves.get(path))
      override def putLeafFiles(path: Path, fs: Array[FileStatus]): Unit = leaves.put(path, fs)
      override def invalidateAll(): Unit = leaves.clear()
    }
    cache.putLeafFiles(rootPath, statuses)
    val index = new InMemoryFileIndex(s, Seq(rootPath), Map.empty, None, cache)
    val first = statuses.minByOption(_.getPath.toString)
      .getOrElse(throw new IllegalArgumentException(s"no parquet files under $root"))
    val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(first, hadoopConf),
      ParquetMetadataConverter.NO_FILTER)
    val dataSchema = ParquetFileFormat.readSchemaFromFooter(new Footer(first.getPath, footer),
      new ParquetToSparkSchemaConverter(s.sessionState.conf))
    s.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema.asNullable, None, new ParquetFileFormat, Map.empty)(s))
  }

  /** The files a streaming file sink's `_spark_metadata` log under
    * `root` committed (what `spark.read.parquet(root)` reads there),
    * read on the driver: a read would also infer the schema in a job. */
  def sinkLogFiles(spark: org.apache.spark.sql.SparkSession, root: String): Seq[org.apache.hadoop.fs.Path] = {
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
    val log = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
      new org.apache.hadoop.fs.Path(root, "_spark_metadata").toString, None)
    log.allFiles().toSeq.map(_.toFileStatus).filterNot(_.isDirectory).map(_.getPath)
  }

  /** Orderable per Catalyst's ordering rules (MapType is not). */
  def isOrderable(dt: org.apache.spark.sql.types.DataType): Boolean =
    org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(dt)
}
