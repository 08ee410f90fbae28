package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression and DataFrame ↔ LogicalPlan bridges for the
  * Spark 4 API.
  *
  * Spark 4 Columns are ColumnNode-backed and the classic converters are
  * `private[sql]`; exposing them from inside `org.apache.spark.sql` is
  * the conventional pattern for Catalyst-extension libraries (the same
  * trick every open-source Spark expression library uses — there is no
  * public API for wrapping a custom Expression in a Column or a custom
  * LogicalPlan in a DataFrame yet).
  */
object SqlBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Eager Column → catalyst Expression conversion. `expression` wraps
    * the ColumnNode lazily (ColumnNodeExpression), which is fine inside
    * Spark's own operators but not serializable for closures of custom
    * physical operators; this converts through to real catalyst nodes
    * (e.g. a `.desc` Column becomes a catalyst SortOrder). */
  def eagerExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Analyzed logical plan of a DataFrame (resolved attributes). */
  def analyzedPlan(df: DataFrame): LogicalPlan = df.queryExecution.analyzed

  /** Wrap a (possibly custom) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `Dataset.localCheckpoint` that does NOT attach the input plan's
    * estimated statistics to the resulting leaf.
    *
    * Why this exists: `SizeInBytesOnlyStatsPlanVisitor.visitJoin`
    * MULTIPLIES child sizes, and `Dataset.checkpoint` bakes the
    * resulting BigInt into the new `LogicalRDD`'s `originStats`. In an
    * iterative algorithm (prefix doubling, pointer-jumped connected
    * components) each round's leaf therefore carries the PRODUCT of the
    * previous round's numbers — the digit count of the estimate grows
    * geometrically with rounds, and the driver ends up spending minutes
    * inside `BigInteger.multiply` at PLANNING time (observed: a 27+ min
    * planning stall on a dup-heavy corpus, main thread pinned in
    * ToomCook3 multiplication). Building the `LogicalRDD` with
    * `originStats = None` makes every checkpoint leaf fall back to
    * `defaultSizeInBytes` — estimates stay word-sized forever, and AQE
    * still plans real sizes from runtime shuffle statistics.
    *
    * Mechanics mirror `Dataset.checkpoint(reliableCheckpoint = false)`:
    * copy the unsafe rows (the scan reuses mutable buffers), mark the
    * RDD for local checkpoint, optionally materialize eagerly. */
  def leanCheckpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val cds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val spark = cds.sparkSession
    val internalRdd = cds.queryExecution.toRdd.map(_.copy())
    internalRdd.localCheckpoint()
    if (eager) internalRdd.count()
    // attach the input's estimate CAPPED at Long.MaxValue: truthful (so
    // small frames keep qualifying for broadcast joins) but bounded, so
    // the digit count can never snowball — between two capped leaves a
    // plan multiplies at most ~cap^(leaf count), a few hundred digits,
    // re-capped at the next checkpoint
    val capped = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = cds.queryExecution.optimizedPlan.stats.sizeInBytes
        .min(BigInt(Long.MaxValue)))
    val plan = org.apache.spark.sql.execution.LogicalRDD(
      cds.queryExecution.analyzed.output, internalRdd)(
      spark, originStats = Some(capped))
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)
  }

  /** Free the executor blocks a checkpoint pins: the RDD under a
    * [[leanCheckpoint]] or `Dataset.localCheckpoint` leaf. Neither pin
    * is a CacheManager entry, so `Dataset.unpersist` leaves it in
    * place; this unpersists the leaf's own RDD. Anything that is not a
    * checkpoint leaf throws, so a free can never silently do nothing.
    * The caller must not read `cp` (or a frame built on it) afterwards:
    * a local checkpoint's lineage is truncated, so a freed block cannot
    * be recomputed. */
  def unpin(cp: org.apache.spark.sql.Dataset[_]): Unit =
    cp.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        s"unpin needs a checkpoint leaf, got ${other.nodeName}")
    }

  /** `spark.read.parquet(dir)` without Spark's listing job. Spark
    * lists a tree of more than `parallelPartitionDiscovery.threshold`
    * (32) directories with a job, which at a few hundred KB of postings
    * costs more than the read it serves. Here Spark's own lister
    * (`HadoopFSUtils`, with its hidden-path rule for `_temporary`,
    * `_SUCCESS`, `.crc` …) walks the tree on the driver — its threshold
    * argument is unbounded, the session conf is untouched — and the
    * statuses reach a Spark `InMemoryFileIndex` through a one-shot
    * `FileStatusCache`. Spark still infers the partition columns and
    * the data schema, prunes partitions and relists on `refresh()`: the
    * cache serves only the index's first listing. (Hadoop's recursive
    * `listFiles` is one call, but on the local filesystem it builds each
    * status from the file's permissions, which without the native
    * library forks a process per file.) A missing or empty `dir` falls
    * back to `spark.read.parquet`, for its errors. */
  def listedParquet(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val path = new Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = path.getFileSystem(conf).makeQualified(path)
    val files = org.apache.spark.util.HadoopFSUtils.parallelListLeafFiles(
      spark.sparkContext, Seq(root), conf, null, ignoreMissingFiles = false,
      ignoreLocality = spark.conf.get("spark.sql.sources.ignoreDataLocality").toBoolean,
      parallelismThreshold = Int.MaxValue, parallelismMax = 1).flatMap(_._2)
    if (files.isEmpty) return spark.read.parquet(dir)
    val cache = new FileStatusCache {
      private var listed = Option(files.toArray)
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        if (p == root) { val l = listed; listed = None; l } else None
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = listed = None
    }
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None, cache)
    val format = new ParquetFileFormat
    val dataSchema = format.inferSchema(spark, Map.empty, index.allFiles()).get
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      dataSchema.asNullable, None, format, Map.empty)(spark))
  }
}
