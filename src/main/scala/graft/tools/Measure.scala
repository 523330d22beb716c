package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** One-off measurement main backing the self-check floors in the gate
  * queries (NOTES.md records the numbers): ANN recall of s2/s3 against the
  * exact s1 baseline, and SimHash banding recall by hamming band. Run:
  *
  *   sbt "runMain graft.tools.Measure /root/testdata/sf0.01"
  *
  * Floors in Similarity/Dedup are set to measured-minus-slack, so a silent
  * 2x quality regression fails the gate instead of coasting on a vacuous
  * 30% bound (round-5 verdict item #3).
  */
object Measure {
  def main(args: Array[String]): Unit = {
    // one or more dataset dirs: the multi-SF run is the recall TREND —
    // floors are justified per SF, and drift with corpus growth must be
    // visible in NOTES before a bigger corpus breaks the 0.60 gate
    val dirs = {
      val requested =
        if (args.nonEmpty) args.toSeq
        else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
      // skip absent fixtures instead of dying mid-report (single-fixture
      // environments keep the old behavior; the trend just has one row)
      val (present, absent) = requested.partition(p =>
        java.nio.file.Files.isDirectory(java.nio.file.Paths.get(p)))
      absent.foreach(p => println(s"== $p SKIPPED (not a directory)"))
      present
    }
    val spark = graft.Session.local(graft.Session.cpus(8), "graft-measure", "ERROR")
    dirs.foreach { d =>
      println(s"== $d")
      measureOne(spark, d)
    }
    spark.stop()
  }

  private def measureOne(spark: SparkSession, d: String): Unit = {
    val brute = Similarity.s1AnnBrute(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    def annRecall(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val found = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      val rec = found.intersect(brute).size.toDouble / brute.size
      println(f"$name recall@5 vs exact: $rec%.4f  (|exact|=${brute.size}, |found|=${found.size})")
    }
    // measure the UNGATED search paths: the gated queries zero their
    // output below the floor, which would print recall 0.0 exactly when
    // the true (sub-floor) value is the number needed to retune
    annRecall("s2_ann_lsh", Similarity.s2Found(spark, d))
    annRecall("s3_ann_ivf", Similarity.s3Probe(spark, d))
    annRecall("s4_ann_sq8", Similarity.s4Found(spark, d))
    annRecall("s5_ann_pq", Similarity.s5Found(spark, d))
    annRecall("s7_ann_ivfpq", Similarity.s7Probe(spark, d))

    // s4 rescore-window margin: the worst approximate rank of any TRUE
    // top-5 member. Sq8Rescore (32) is justified iff this stays well
    // inside the window; a margin creeping toward 32 means retune the
    // window BEFORE recall decays. Semi-join against the ≤ 320 true
    // pairs BEFORE collecting — the uncut ranking is |corpus|×|queries|
    // rows and must never reach the driver.
    val trueRanks = {
      import spark.implicits._
      val truePairs = brute.toSeq.toDF("q_id", "vec_id")
      Similarity.s4ApproxRanked(spark, d)
        .join(org.apache.spark.sql.functions.broadcast(truePairs), Seq("q_id", "vec_id"))
        .select(col("arank")).collect().map(_.getInt(0))
    }
    if (trueRanks.nonEmpty)
      println(s"s4 max approx-rank of a true top-5 member: ${trueRanks.max} " +
        s"(rescore window 32; matched ${trueRanks.length}/${brute.size})")

    // s5 margin, same protocol: worst PQ approx-rank of a true top-5
    // member vs PqRescore — PQ is 32× compression so the margin is the
    // number that decides whether s5 can share s1's exact oracle.
    val pqRanks = {
      import spark.implicits._
      val truePairs = brute.toSeq.toDF("q_id", "vec_id")
      Similarity.s5ApproxRanked(spark, d)
        .join(org.apache.spark.sql.functions.broadcast(truePairs), Seq("q_id", "vec_id"))
        .select(col("arank")).collect().map(_.getInt(0))
    }
    if (pqRanks.nonEmpty)
      println(s"s5 max approx-rank of a true top-5 member: ${pqRanks.max} " +
        s"(rescore window ${Similarity.PqRescore}; matched ${pqRanks.length}/${brute.size})")

    // d16 semantic-dedup recall: against the gate's own bounded truth
    // slice (what the floor enforces) AND the full all-pairs truth (only
    // computable offline at test SFs — quadratic). A gap between the two
    // would mean the probe slice is unrepresentative of the corpus.
    {
      val found = Dedup.d16Found(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val slice = Dedup.d16TruthSlice(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val e = spark.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val a = e.select(col("vec_id").as("a_id"), col("embedding").as("va"))
      val b = e.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
      val cos = graft.functions.VectorOps.dot(col("va"), col("vb")) /
        sqrt(graft.functions.VectorOps.norm2(col("va")) *
          graft.functions.VectorOps.norm2(col("vb")))
      val full = a.join(b, col("a_id") < col("b_id"))
        .filter(cos >= 0.4).select(col("a_id"), col("b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def rec(t: Set[(Long, Long)]) =
        if (t.isEmpty) 1.0 else found.intersect(t).size.toDouble / t.size
      println(f"d16 recall vs gate slice: ${rec(slice)}%.4f (${found.intersect(slice).size}/${slice.size}); " +
        f"vs full pairs: ${rec(full)}%.4f (${found.intersect(full).size}/${full.size})")
    }

    // SimHash banding recall by hamming band: the SAME truth builder the
    // d5 gate uses (Dedup.d5Truth), so what Measure reports and what the
    // gate enforces are definitionally one population.
    val d5Sigs = Dedup.d5Signatures(spark, d)
    val truth = Dedup.d5Truth(d5Sigs, maxH = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue).toMap
    val found = Dedup.d5Found(d5Sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 to 6).foreach { h =>
      val t = truth.filter(_._2 == h).keySet
      val hit = t.intersect(found).size
      val analytic = 1 - math.pow(1 - math.pow(1 - h / 64.0, 16), 4)
      if (t.nonEmpty)
        println(f"d5 hamming=$h: recall ${hit.toDouble / t.size}%.4f ($hit/${t.size}), analytic ${analytic}%.4f")
      else println(f"d5 hamming=$h: no truth pairs (analytic ${analytic}%.4f)")
    }
    val t46 = truth.filter(kv => kv._2 >= 4 && kv._2 <= 6).keySet
    if (t46.nonEmpty)
      println(f"d5 hamming 4..6 combined: recall ${t46.intersect(found).size.toDouble / t46.size}%.4f (${t46.intersect(found).size}/${t46.size})")
  }
}
