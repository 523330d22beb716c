package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the loader ↔ testdata contract so a driver-side regeneration of
  * `/root/testdata` with new physical encodings fails HERE, loudly, naming
  * the table and column — not as 21 cryptic analysis errors across the gate
  * suite (the round-7 failure mode: `events.ts` silently moved from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) and every events query broke).
  *
  * Two layers:
  *   1. The REAL testdata, every scale factor present: every table loads,
  *      and the events loader satisfies its normalized contract
  *      (`ts_ns: Long` epoch-nanos, `ts: Timestamp` micros, mutually
  *      consistent).
  *   2. FABRICATED files in both known `ts` flavors (micros-timestamp and
  *      nanos-long) must normalize to identical values through both the
  *      batch loader and the streaming feed reader's schema sniff.
  */
class TestDataContractSpec extends AnyFunSuite {
  import TestSession._

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val sfDirs: Seq[String] = {
    val root = java.nio.file.Paths.get("/root/testdata")
    if (!java.nio.file.Files.isDirectory(root)) Seq(sf)
    else {
      import scala.jdk.CollectionConverters._
      val l = java.nio.file.Files.list(root)
      try l.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .map(_.toString).toList.sorted
      finally l.close()
    }
  }

  test("every testdata table loads through its loader at every scale factor") {
    for (d <- sfDirs; t <- tables) {
      val p = java.nio.file.Paths.get(s"$d/$t.parquet")
      if (java.nio.file.Files.exists(p)) {
        val df =
          if (t == "events") Tables.events(spark, d)
          else Tables.t(spark, d, t)
        withClue(s"table $d/$t: ") { assert(df.count() > 0) }
      }
    }
  }

  test("every table's column types match the pinned contract the operators compile against") {
    // The full schema fingerprint of the current testdata generation. A
    // driver-side regen that changes any column's physical type fails HERE
    // with the table and column named, instead of surfacing as dozens of
    // analysis errors (events.ts) or silently-wrong kernels (embeddings
    // switching to double would bypass the float dot kernels). Timestamps
    // are pinned under the loaders' reader policy (NTZ inference off →
    // TimestampType carrying the raw stored micros).
    val expected = Map(
      "region" -> "r_regionkey INT,r_name STRING",
      "nation" -> "n_nationkey INT,n_name STRING,n_regionkey INT",
      "customer" -> ("c_custkey BIGINT,c_name STRING,c_nationkey INT," +
        "c_acctbal DOUBLE,c_mktsegment STRING"),
      "supplier" -> "s_suppkey BIGINT,s_name STRING,s_nationkey INT,s_acctbal DOUBLE",
      "part" -> ("p_partkey BIGINT,p_name STRING,p_brand STRING,p_type STRING," +
        "p_size INT,p_retailprice DOUBLE"),
      "orders" -> ("o_orderkey BIGINT,o_custkey BIGINT,o_orderstatus STRING," +
        "o_totalprice DOUBLE,o_orderdate TIMESTAMP,o_orderpriority STRING"),
      "lineitem" -> ("l_orderkey BIGINT,l_partkey BIGINT,l_suppkey BIGINT," +
        "l_linenumber INT,l_quantity DOUBLE,l_extendedprice DOUBLE," +
        "l_discount DOUBLE,l_tax DOUBLE,l_returnflag STRING,l_linestatus STRING," +
        "l_shipdate TIMESTAMP"),
      // events via the NORMALIZED loader contract (raw encoding varies)
      "events" -> ("event_id BIGINT,ts_ns BIGINT,user_id BIGINT," +
        "event_type STRING,value DOUBLE,props STRING,ts TIMESTAMP"),
      "documents" -> "doc_id BIGINT,text STRING,lang STRING,source STRING,n_chars BIGINT",
      "embeddings" -> "vec_id BIGINT,embedding ARRAY<FLOAT>,label INT")
    Session.pin(spark)
    for (d <- sfDirs; t <- tables
        if java.nio.file.Files.exists(java.nio.file.Paths.get(s"$d/$t.parquet"))) {
      val df = if (t == "events") Tables.events(spark, d) else Tables.t(spark, d, t)
      val got = df.schema.fields
        .map(f => s"${f.name} ${f.dataType.sql}").mkString(",")
      assert(got == expected(t),
        s"$d/$t.parquet schema drifted:\n  got      $got\n  expected ${expected(t)}\n" +
          "— the driver regenerated testdata with new column types; " +
          "update the loaders/kernels that consume this table, then this pin")
    }
  }

  test("events loader contract holds on the actual testdata at every scale factor") {
    for (d <- sfDirs if java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$d/events.parquet"))) {
      val ev = Tables.events(spark, d)
      val tsNsType = ev.schema("ts_ns").dataType
      val tsType = ev.schema("ts").dataType
      assert(tsNsType == LongType,
        s"$d/events.parquet: normalized ts_ns must be LongType, got $tsNsType — " +
          "the driver regenerated testdata with an encoding Tables.normalizeEventTs does not handle")
      assert(tsType == TimestampType,
        s"$d/events.parquet: normalized ts must be TimestampType, got $tsType")
      // ts is the micros truncation of ts_ns on either encoding path
      val bad = ev.selectExpr(
        "sum(case when unix_micros(ts) <> ts_ns div 1000 then 1 else 0 end) as bad")
        .head.getLong(0)
      assert(bad == 0L, s"$d/events.parquet: $bad rows where ts != micros(ts_ns)")
      // event time must be in a sane epoch range (1990–2100), not shrunk
      // 1000× by a unit confusion (the round-7 silent failure)
      val Array(lo, hi) = ev.selectExpr("min(ts_ns)", "max(ts_ns)").head
        .toSeq.map(_.asInstanceOf[Long]).toArray
      assert(lo > 631152000L * 1000000000L && hi < 4102444800L * 1000000000L,
        s"$d/events.parquet: ts_ns range [$lo,$hi] outside 1990–2100 — unit confusion?")
    }
  }

  test("both ts encodings normalize to identical values (batch and stream schema)") {
    val root = java.nio.file.Files.createTempDirectory("graft-ts-contract")
    try {
      val microsDir = root.resolve("micros").toString
      val nanosDir = root.resolve("nanos").toString
      val base = spark.range(0, 100).selectExpr(
        "id as event_id",
        "timestamp_micros(1704067200000000 + id * 7000000) as ts",
        "id % 10 as user_id",
        "case when id % 3 = 0 then 'click' else 'view' end as event_type",
        "cast(id as double) / 7 as value",
        "cast(null as string) as props")
      // flavor 1: TIMESTAMP(MICROS) column, what the current driver writes
      base.coalesce(1).write.parquet(s"$microsDir/events.parquet")
      // flavor 2: epoch-nanos long, what legacy testdata surfaced (and what
      // the streaming gates' staged feeds write)
      base.selectExpr("event_id", "unix_micros(ts) * 1000 as ts",
          "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$nanosDir/events.parquet")

      val a = Tables.events(spark, microsDir)
        .selectExpr("event_id", "ts_ns", "unix_micros(ts) as ts_us")
        .orderBy("event_id").collect().map(_.toSeq).toSeq
      val b = Tables.events(spark, nanosDir)
        .selectExpr("event_id", "ts_ns", "unix_micros(ts) as ts_us")
        .orderBy("event_id").collect().map(_.toSeq).toSeq
      assert(a == b, "micros-flavor and nanos-flavor events must normalize identically")
      assert(a.nonEmpty)

      // the streaming feed reader must land on the same normalized schema
      // for either flavor (round 7: a forced LongType schema over a micros
      // file read micros as \"nanos\" — 1000× silent time shrink)
      for (d <- Seq(microsDir, nanosDir)) {
        val st = graft.streaming.StreamingOps
          .readEventStream(spark, s"$d/events.parquet")
        assert(st.schema("ts_ns").dataType == LongType, s"stream over $d")
        assert(st.schema("ts").dataType == TimestampType, s"stream over $d")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
