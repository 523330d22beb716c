package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Narrow bridge to `private[sql]` surface needed for custom Catalyst
  * expressions in Spark 4 (Column↔Expression conversion moved behind
  * `classic.ExpressionUtils`, and function registration behind the classic
  * session). Keeping it one tiny file makes the dependency explicit. */
object GraftBridge {

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def analyzedPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** The persisted RDDs backing a (local)checkpointed Dataset's LogicalRDD
    * nodes — so callers can free checkpoint blocks deterministically
    * instead of waiting for RDD garbage collection. */
  def backingRdds(df: Dataset[_]): Seq[org.apache.spark.rdd.RDD[_]] =
    analyzedPlan(df).collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Wrap a 1-row/1-column Dataset as a scalar-subquery EXPRESSION — the
    * form `BloomFilterMightContain` requires for its filter side (it
    * rejects plain attribute references; InjectRuntimeFilter uses exactly
    * this shape). */
  def scalarSubquery(df: Dataset[_]): Expression =
    catalyst.expressions.ScalarSubquery(analyzedPlan(df))

  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Strict (array<long>, array<long>) input contract for the SetKernels
    * expressions — they read raw long lanes out of UnsafeArrayData, so a
    * mistyped array<int> input must fail analysis, never be read as
    * garbage lanes. DELIBERATELY ExpectsInputTypes, not
    * ImplicitCastInputTypes: an implicit widening Cast would silently
    * insert a per-row array copy in front of a kernel whose whole point
    * is zero-copy lane reads — the caller should intern to long once at
    * the source (every in-repo caller does) and a SQL user gets a typed
    * DATATYPE_MISMATCH instead of a hidden O(n) rewrite
    * (TriangleHitterSpec pins both behaviors). Lives here because
    * `AbstractDataType` (the ExpectsInputTypes member type) is
    * `private[sql]`. */
  trait ExpectsLongArrayPair extends catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[types.AbstractDataType] =
      Seq(types.ArrayType(types.LongType), types.ArrayType(types.LongType))
  }

  /** Unary string input (AbstractDataType is private[sql], hence here). */
  trait ExpectsStringInput extends catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[types.AbstractDataType] = Seq(types.StringType)
  }

  /** Unary binary input — same strictness rationale as the long-array
    * pair: a kernel reading raw payload bytes must reject a string
    * column at analysis, not ClassCastException inside a task. */
  trait ExpectsBinaryInput extends catalyst.expressions.ExpectsInputTypes {
    override def inputTypes: Seq[types.AbstractDataType] = Seq(types.BinaryType)
  }

  /** Re-root a batch-leaved plan as a STREAMING DataFrame — what a V1
    * streaming `Source.getBatch` must return (MicroBatchExecution
    * asserts `isStreaming`; FileStreamSource builds its batches the same
    * way). The plan still executes unchanged — `toRdd` is lazy, so the
    * batch's jobs run when the sink consumes it. `internalCreateDataFrame`
    * is `private[sql]`, hence bridged here. */
  def asStreamingFrame(df: Dataset[Row]): DataFrame = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    classicDf.sparkSession.internalCreateDataFrame(
      classicDf.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Re-root a streaming micro-batch's plan as a BATCH DataFrame — the
    * inverse of [[asStreamingFrame]], what a V1 `Sink.addBatch` needs
    * before handing the data to batch writers (DataFrameWriter and the
    * snapshot log's staging write reject isStreaming plans; DeltaSink
    * executes the incremental plan and re-wraps the same way). `toRdd`
    * is lazy — the micro-batch's jobs run when the batch writer
    * consumes it, exactly once per addBatch. */
  def asBatchFrame(df: Dataset[Row]): DataFrame = {
    val classicDf = df.asInstanceOf[classic.Dataset[Row]]
    classicDf.sparkSession.internalCreateDataFrame(
      classicDf.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** A parquet footer's schema through the session's parquet-to-Catalyst
    * converter, the one Spark's schema inference uses, so the reader policy
    * (`nanosAsLong`, NTZ inference) applies alike. Bridged because
    * `sessionState` and the converter are `private[sql]`. */
  def convertParquetSchema(spark: SparkSession,
      footer: org.apache.parquet.hadoop.metadata.FileMetaData): types.StructType =
    new execution.datasources.parquet.ParquetToSparkSchemaConverter(
      spark.asInstanceOf[classic.SparkSession].sessionState.conf)
      .convert(footer.getSchema)

  /** Apply an extensions installer's function registrations to a LIVE
    * session (normally done at build time via `spark.sql.extensions`).
    * Idempotent and quiet: a name the session already resolves stays, so
    * a re-pin logs no "replaced a previously registered function". */
  def applyFunctionExtensions(
      spark: SparkSession,
      installer: SparkSessionExtensions => Unit): Unit = {
    val registry = spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
    installer(new SparkSessionExtensions {
      override def injectFunction(fd: FunctionDescription): Unit = {
        val (name, info, builder) = fd
        if (!registry.functionExists(name)) registry.registerFunction(name, info, builder)
      }
    })
  }
}
