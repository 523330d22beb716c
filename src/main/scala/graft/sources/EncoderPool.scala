package graft.sources

import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ExecutionException, Future, LinkedBlockingQueue, Semaphore, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable.ArrayBuffer

/** The parquet sink's fetch/encode pipeline — the reference's dedicated
  * fetch thread and double-buffered batches (`fetch_batch.rs:93-152`),
  * widened to k encoders so that a source with one populated partition
  * still encodes on every core.
  *
  *  - Reading: each Spark task reads its partition on its own thread and
  *    copies rows into batches of `batchRows` (the row-group size).
  *  - Encoding: each batch goes to the JVM's pool of k encoder threads
  *    (k = the session's parallelism), shared by every reading task, and
  *    is written as its own one-row-group part
  *    `part-<partition>-<seq>.parquet`. The encoder is the writer Spark's
  *    `ParquetFileFormat.prepareWrite` returns for `options`, so codec,
  *    level, writer version, dictionary settings and Spark's footer
  *    key-value metadata are the ones `df.write.options(options)` gives.
  *    The options are then set on the write's job over the entries
  *    `prepareWrite` takes from the session, so a caller picks the
  *    timestamp type and the write support (the sink's fidelity writer,
  *    [[PhysicalFormat.FidelityWriteSupport]]) without touching the shared
  *    session conf.
  *  - Backpressure: the pool holds k slots, one per encoder; a reader with
  *    a full batch blocks until a slot frees. At most k batches wait or
  *    encode per JVM, plus the one each reading task is filling: k + 1
  *    batches for a one-partition source.
  *
  * A task's encoder failure fails the task; a task that fails (or whose
  * source throws) first waits for its own batches in the pool, and a
  * failed write waits (bounded) for its other tasks in this JVM, so no
  * encoder writes into a staging directory after the caller deleted it.
  */
object EncoderPool {

  /** k encoder threads (daemons, ended after a minute idle) and their k
    * batch slots. */
  private final class Pool(k: Int) {
    private val seq = new AtomicInteger
    val threads = new ThreadPoolExecutor(k, k, 60, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable], (r: Runnable) => {
        val t = new Thread(r, s"graft-parquet-encoder-$k-${seq.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    threads.allowCoreThreadTimeOut(true)
    val slots = new Semaphore(k)
  }

  private val pools = scala.collection.mutable.Map.empty[Int, Pool]
  private def pool(k: Int): Pool = synchronized(pools.getOrElseUpdate(k, new Pool(k)))

  /** One write's reading tasks running in this JVM. */
  private final class Tasks {
    @volatile var aborted = false
    private var running = 0
    def enter(): Unit = synchronized(running += 1)
    def exit(): Unit = synchronized { running -= 1; notifyAll() }
    def awaitIdle(timeoutMs: Long): Unit = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (running > 0 && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
    }
  }
  private val writes = new ConcurrentHashMap[String, Tasks]

  /** How long a failed write waits for its other tasks to stop. */
  private val AbortWaitMs = 60000L

  private val log = org.slf4j.LoggerFactory.getLogger("graft.sources.EncoderPool")

  /** Write `df` into `dir` as one-row-group parts of at most `batchRows`
    * rows, named so that sorting by (partition, seq) gives source order.
    * `options` are `df.write` options (codec, `parquet.*` keys) and Hadoop
    * entries that override `prepareWrite`'s (`parquet.write.support.class`,
    * `spark.sql.parquet.outputTimestampType`). When the
    * result has no rows and `emptyFile` is set, one zero-row part is
    * written (the schema-only file). Logs one INFO line (visible with
    * `-v`): batches, encoders, and the seconds readers spent blocked on
    * the pool. */
  def write(df: DataFrame, dir: Path, options: Map[String, String], batchRows: Int,
      emptyFile: Boolean): Unit = {
    val qe = df.queryExecution
    val spark = qe.sparkSession
    val sc = spark.sparkContext
    val schema = df.schema
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, CaseInsensitiveMap(options), schema)
    options.foreach { case (k, v) => job.getConfiguration.set(k, v) }
    val conf = sc.broadcast(new SerializableConfiguration(job.getConfiguration))
    val k = sc.defaultParallelism
    val blocked = sc.longAccumulator("graft.parquetSink.readerBlockedNanos")
    val id = java.util.UUID.randomUUID().toString
    val tasks = new Tasks
    writes.put(id, tasks)
    // a file: URI, so the parts land on the local disk the post-pass reads
    // whatever the session's default filesystem
    val dirName = dir.toUri.toString.stripSuffix("/")
    val written = try SQLExecution.withNewExecutionId(qe, Some("graft parquet sink")) {
      sc.runJob(qe.toRdd, (ctx: TaskContext, rows: Iterator[InternalRow]) =>
        readTask(id, ctx, rows, dirName, batchRows, k, factory, conf.value.value, schema,
          n => blocked.add(n)))
    } catch {
      case e: Throwable =>
        // the entry stays, aborted, for a task that starts after the wait
        tasks.aborted = true
        tasks.awaitIdle(AbortWaitMs)
        throw e
    } finally {
      if (!tasks.aborted) writes.remove(id)
      conf.destroy()
    }
    if (emptyFile && written.sum == 0)
      encode(factory, job.getConfiguration, spark.sessionState.conf, schema, Array.empty, 0,
        partName(dirName, 0, 0))
    log.info(f"encoded ${written.sum} batches from ${written.length} reading tasks on $k " +
      f"encoders; readers blocked ${blocked.value / 1e9}%.2f s on the pool")
  }

  /** `dir/part-<partition>-<seq>.parquet`, zero-padded. */
  private def partName(dir: String, partition: Int, seq: Int): String =
    f"$dir/part-$partition%05d-$seq%06d.parquet"

  /** (partition, seq) of a part name [[partName]] made; parts sort by it. */
  def partOrder(name: String): (Int, Int) = {
    val Array(_, p, s) = name.stripSuffix(".parquet").split('-')
    (p.toInt, s.toInt)
  }

  /** One reading task: batches its rows into the pool and waits for them;
    * returns the number of batches. */
  private def readTask(id: String, ctx: TaskContext, rows: Iterator[InternalRow], dir: String,
      batchRows: Int, k: Int, factory: OutputWriterFactory, conf: Configuration,
      schema: StructType, blocked: Long => Unit): Int = {
    // a task in another JVM than the driver's has no entry: it still
    // batches and encodes, without the abort wait
    val tasks = Option(writes.get(id)).getOrElse(new Tasks)
    tasks.enter()
    try {
      val p = pool(k)
      // the task's SQL conf (session time zone, rebase modes), which the
      // parquet write support reads on the encoder thread
      val sqlConf = SQLConf.get
      val pending = ArrayBuffer.empty[Future[_]]
      var checked = 0
      def submit(batch: Array[InternalRow], n: Int): Unit = {
        // surface an earlier batch's encoder failure before queueing more
        while (checked < pending.size && pending(checked).isDone) {
          result(pending(checked))
          checked += 1
        }
        if (tasks.aborted) throw new IllegalStateException("the parquet sink write was aborted")
        val t0 = System.nanoTime()
        p.slots.acquire()
        blocked(System.nanoTime() - t0)
        val path = partName(dir, ctx.partitionId(), pending.size)
        val run: Runnable = () =>
          try if (!tasks.aborted) encode(factory, conf, sqlConf, schema, batch, n, path)
          finally p.slots.release()
        try pending += p.threads.submit(run)
        catch { case e: Throwable => p.slots.release(); throw e }
      }
      try {
        var batch = new Array[InternalRow](batchRows)
        var n = 0
        while (rows.hasNext) {
          batch(n) = rows.next().copy()
          n += 1
          if (n == batchRows) {
            submit(batch, n)
            batch = new Array[InternalRow](batchRows)
            n = 0
            if (ctx.isInterrupted()) throw new TaskKilledException("parquet sink task killed")
          }
        }
        if (n > 0) submit(batch, n)
      } finally pending.foreach(awaitDone)
      pending.foreach(result)
      pending.size
    } finally tasks.exit()
  }

  /** Encode `rows(0 until n)` as the parquet file `path`. */
  private def encode(factory: OutputWriterFactory, conf: Configuration, sqlConf: SQLConf,
      schema: StructType, rows: Array[InternalRow], n: Int, path: String): Unit =
    SQLConf.withExistingConf(sqlConf) {
      val w = factory.newInstance(path, schema, new TaskAttemptContextImpl(conf, new TaskAttemptID))
      var i = 0
      try while (i < n) { w.write(rows(i)); i += 1 }
      catch {
        case e: Throwable =>
          try w.close() catch { case c: Throwable => e.addSuppressed(c) }
          throw e
      }
      w.close()
    }

  /** The value of a finished future, rethrowing its failure's cause. */
  private def result(f: Future[_]): Unit =
    try f.get() catch { case e: ExecutionException => throw e.getCause }

  /** Wait until `f` is done, ignoring its outcome; an interrupt is kept
    * for the caller but does not cut the wait short. */
  private def awaitDone(f: Future[_]): Unit = {
    var interrupted = false
    while (!f.isDone)
      try f.get() catch {
        case _: InterruptedException => interrupted = true
        case _: Exception => ()
      }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
