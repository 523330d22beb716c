package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = Session.local(4, "graft-test", "WARN")
  val sf: String = "/root/testdata/sf0.001"
}

/** Structural checks per relational operator; value-level correctness is
  * gated by the DuckDB oracle (tools/check.py / driver t2). */
class RelationalSpec extends AnyFunSuite {
  import TestSession._

  test("driver entry smoke: flagship query returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query with an oracle also parses and runs at sf0.001") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle without query: $k"))
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      df.count() // plan must execute
    }
  }

  test("q1_agg groups are exhaustive and exact-decimal stable across reruns") {
    val a = operators.Relational.q1Agg(spark, sf).collect()
    val b = operators.Relational.q1Agg(spark, sf).collect()
    assert(a.toSeq == b.toSeq)
    assert(a.length > 0)
  }

  test("q7_window_rank emits at most 3 rows per customer, rank contiguous") {
    val rows = operators.Relational.q7WindowRank(spark, sf)
      .collect().groupBy(_.getLong(0))
    rows.values.foreach { g =>
      assert(g.length <= 3)
      assert(g.map(_.getInt(3)).sorted.sameElements(1 to g.length))
    }
  }

  test("q9_topk is globally ordered descending") {
    val p = operators.Relational.q9TopK(spark, sf).collect().map(_.getDouble(2))
    assert(p.length <= 15)
    assert(p.sameElements(p.sortBy(-_)))
  }

  test("q17_asof matches a signup at-or-before each error, same user") {
    val df = operators.Relational.q17AsOf(spark, sf)
    val rows = df.collect()
    rows.foreach { r => assert(r.getLong(3) >= 0, "gap must be non-negative") }
  }
}
