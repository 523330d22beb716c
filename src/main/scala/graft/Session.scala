package graft

import org.apache.spark.sql.{GraftBridge, SparkSession}

/** The one session factory. Bench, Verify, the CLI, the tools and the test
  * session build through [[local]]; entry points that may receive a host
  * session (the CLI's `run*`, the events loaders) apply [[pin]]. Either way
  * a session runs one policy, so a tool's plan is the benched plan:
  *   - UTC session time zone;
  *   - parquet TIMESTAMP(NANOS) surfaces as epoch-nanos longs (Spark tops
  *     out at micros) and NTZ inference is off, so TIMESTAMP(MICROS) lands
  *     on TimestampType with the raw stored micros — dtypes never depend
  *     on which load ran first (`Tables.events` has the contract);
  *   - every [[GraftExtensions]] SQL function and planner strategy. */
object Session {

  private val policy = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  /** `SPARK_GRAFT_CPUS`, else the caller's default. */
  def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** `local[cpus]`, `cpus` shuffle partitions, AQE on, UI off, the log
    * level set at context start (startup logging obeys it too), and the
    * policy as build-time confs and extensions — the session state stays
    * lazy until the first query. `tmpfsScratch` is the bench posture
    * (Bench, ScaleProbe): shuffle/spill scratch on /dev/shm when present,
    * shuffle compression off (pure CPU at memory speed), no locality wait.
    * java.io.tmpdir stays put: /dev/shm is often mounted noexec and
    * snappy-java extracts its native library there. */
  def local(cpus: Int, appName: String, logLevel: String,
      tmpfsScratch: Boolean = false): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", logLevel)
      .withExtensions(new GraftExtensions)
    policy.foreach { case (k, v) => builder.config(k, v) }
    if (tmpfsScratch) {
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
        builder.config("spark.local.dir", "/dev/shm/graft-bench")
          .config("spark.shuffle.compress", "false")
          .config("spark.shuffle.spill.compress", "false")
      builder.config("spark.locality.wait", "0")
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** The policy applied to a live session; idempotent — registered
    * functions stay, the strategy enters `extraStrategies` at most once. */
  def pin(spark: SparkSession): SparkSession = {
    policy.foreach { case (k, v) => spark.conf.set(k, v) }
    GraftBridge.applyFunctionExtensions(spark, new GraftExtensions)
    graft.plans.TopKPerGroup.installStrategy(spark)
    spark
  }
}
