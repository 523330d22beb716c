package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Skew

/** Scale-technique specs: salted aggregation equivalence, bucketed
  * co-located joins (shuffle elimination), sketch error bounds. */
class ScaleSpec extends AnyFunSuite {
  import TestSession._

  test("salted two-phase aggregation is bit-identical to the plain aggregate") {
    val salted = Skew.q22SaltedAgg(spark, sf).collect()
    val plain = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(operators.Relational.dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(operators.Relational.dec2(col("l_extendedprice")) *
          (operators.Relational.one - operators.Relational.frac2(col("l_discount"))))
          .cast("double").as("revenue"))
      .orderBy(col("l_returnflag")).collect()
    assert(salted.toSeq == plain.toSeq)
  }

  test("Scans.wide widens narrow scans and is the identity on wide ones") {
    import graft.operators.Scans
    val target = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // a 1-partition frame must widen to exactly the shuffle width
    val narrow = spark.range(0, 1000, 1, numPartitions = 1).toDF("doc_id")
    val widened = Scans.wide(spark, narrow, col("doc_id"))
    assert(widened.rdd.getNumPartitions == target,
      s"narrow scan must widen to $target partitions")
    // rows survive the keyed repartition unchanged
    assert(widened.count() == 1000)
    // an already-wide frame passes through with NO added exchange: the
    // guard must never shuffle corpus bytes where parallelism is free
    val wide0 = spark.range(0, 1000, 1, numPartitions = target + 4).toDF("doc_id")
    val passed = Scans.wide(spark, wide0, col("doc_id"))
    assert(passed.rdd.getNumPartitions == target + 4,
      "already-wide input must pass through untouched")
    assert(!passed.queryExecution.executedPlan.toString.contains("Exchange"),
      "identity path must add no exchange")
  }

  test("bucketed tables join without an exchange (co-located join)") {
    // managed tables land in ./spark-warehouse (static conf); dropped below.
    // the in-memory catalog forgets tables across JVMs but files persist —
    // clear any leftover locations too
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
    Seq("li_b", "o_b").foreach { t =>
      val p = java.nio.file.Paths.get("spark-warehouse", t)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    Tables.lineitem(spark, sf).write
      .bucketBy(4, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    Tables.orders(spark, sf).write
      .bucketBy(4, "o_orderkey").sortBy("o_orderkey").saveAsTable("o_b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_b").join(spark.table("o_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      // execute first: with AQE the concrete join plan only exists after run
      assert(joined.collect().map(_.getLong(1)).sum == 6000L)
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not shuffle either side: the only Exchange
      // allowed is the one introduced by the final groupBy
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected a sort-merge join over buckets:\n$plan")
      val joinPart = plan.substring(joinIdx)
      assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey"),
        "bucketed side must not re-shuffle")
      assert(!joinPart.contains("Exchange hashpartitioning(o_orderkey"),
        "bucketed side must not re-shuffle")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS o_b")
  }

  test("custom TopKPerGroup operator equals the window-rank plan, with partial+final stages") {
    val custom = Skew.q24TopKPerKey(spark, sf)
    val rows = custom.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val window = operators.Relational.q7WindowRank(spark, sf)
      .select(col("o_custkey"), col("o_orderkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == window, "custom operator must reproduce the window-rank result")
    val plan = custom.queryExecution.executedPlan.toString
    assert(plan.split("TopKPerGroup").length >= 3,
      s"expected partial + final TopKPerGroupExec stages:\n$plan")
  }

  test("partitioned writes prune at scan time (PartitionFilters)") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").resolve("orders_by_year")
    val withYear = Tables.orders(spark, sf)
      .withColumn("o_year", year(col("o_orderdate")))
    withYear.write.partitionBy("o_year").parquet(out.toString)
    val scan = spark.read.parquet(out.toString).filter(col("o_year") === 1997)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_year"),
      s"expected partition pruning in:\n$plan")
    val n = scan.count()
    assert(n > 0 && n < Tables.orders(spark, sf).count())
  }

  test("derby reverse path round-trips dates, timestamps, and decimals (D5 matrix)") {
    import spark.implicits._
    val url = s"jdbc:derby:memory:typed${System.nanoTime()};create=true"
    val df = Tables.orders(spark, sf)
      .select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("d"),
        col("o_orderdate").as("ts"),
        col("o_totalprice").cast("decimal(12,2)").as("dec"),
        col("o_orderstatus").as("s"))
      .limit(50)
    graft.sources.JdbcSink.insert(df, url, "typed_t", batchRows = 16)
    val back = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "typed_t").load()
    assert(back.count() == 50)
    // normalize ts to text: source is TIMESTAMP_NTZ (LocalDateTime), JDBC
    // returns TIMESTAMP (java.sql.Timestamp) — same instant, different box
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.select(col("o_orderkey"), col("d").cast("string"),
        col("ts").cast("string"), col("dec"), col("s"))
        .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    assert(norm(df) == norm(back), "typed values must survive the JDBC round trip")
  }

  test("derby reverse path: boolean/smallint/float/double/binary with NULLs in every type") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val url = s"jdbc:derby:memory:matrix${System.nanoTime()};create=true"
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("b", BooleanType), StructField("si", ShortType),
      StructField("f", FloatType), StructField("dd", DoubleType),
      StructField("bin", BinaryType), StructField("t", StringType)))
    val rows = Seq(
      Row(1L, true, 7.toShort, 1.5f, 2.25, "abc".getBytes("UTF-8"), "plain"),
      Row(2L, false, (-3).toShort, -0.5f, -1.75, Array[Byte](0, 127, -128), "x"),
      Row(3L, null, null, null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
    graft.sources.JdbcSink.insert(df, url, "matrix_t", batchRows = 2)
    // the exec path must bind the same types + NULLs (input.rs type matrix)
    graft.sources.JdbcSink.exec(df,
      """INSERT INTO matrix_t ("id", "b", "si", "f", "dd", "bin", "t")
        |VALUES (?id?, ?b?, ?si?, ?f?, ?dd?, ?bin?, ?t?)""".stripMargin,
      url, batchRows = 2)
    val back = spark.read.format("jdbc").option("url", url)
      .option("dbtable", "matrix_t").load()
    assert(back.count() == 6)
    // golden values: both copies identical, bytes exact, NULLs stay NULL
    def canon(d: org.apache.spark.sql.DataFrame) = d.select(
        col("id"), col("b"), col("si").cast("short"), col("f"), col("dd"),
        hex(col("bin")).as("bin"), col("t"))
      .collect().map(_.toSeq).toSeq
    val expected = canon(df)
    val got = canon(back)
    assert(got.sortBy(_.head.asInstanceOf[Long]) ==
      (expected ++ expected).sortBy(_.head.asInstanceOf[Long]))
    assert(got.count(r => r(5) == "007F80") == 2, "binary bytes must be exact")
    assert(got.count(_.drop(1).forall(_ == null)) == 2, "NULLs must survive in every type")
  }

  test("utf8 lossy decode replaces invalid bytes instead of failing (A12)") {
    import spark.implicits._
    val bad = Array[Byte]('a', 0xff.toByte, 'b')
    val df = Seq(Tuple1(bad)).toDF("b")
    val out = df.select(graft.functions.TypeKernels.utf8Lossy(col("b")).as("s"))
      .collect().head.getString(0)
    assert(out == "a�b")
  }

  test("sketch aggregates stay within error bounds of exact values") {
    val approx = Skew.q23Approx(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("d"),
        expr("percentile(l_extendedprice, 0.5)").as("m"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    exact.foreach { case (k, (d, m)) =>
      val (ad, am) = approx(k)
      assert(math.abs(ad - d).toDouble / d < 0.1, s"$k: HLL $ad vs exact $d")
      assert(math.abs(am - m) / m < 0.2, s"$k: median $am vs exact $m")
    }
  }
}
