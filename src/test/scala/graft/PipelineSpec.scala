package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextHash
import graft.operators.{Dedup, Multimodal, PipelineExt, Similarity}

/** Training-pipeline operator specs: LSH recall against brute force,
  * fingerprint golden values, multimodal stub-decode parity. */
class PipelineSpec extends AnyFunSuite {
  import TestSession._

  test("fnv64 golden values are stable (fingerprint determinism)") {
    assert(TextHash.fnv64(UTF8String.fromString("")) == 0xcbf29ce484222325L)
    assert(TextHash.fnv64(UTF8String.fromString("a")) == 0xaf63dc4c8601ec8cL)
    // min-kgram of short strings degrades to whole-string hash
    assert(TextHash.minKgramHash(UTF8String.fromString("abc")) ==
      TextHash.fnv64(UTF8String.fromString("abc")))
  }

  test("simhash of identical token sets is identical; near sets are near") {
    def sh(tokens: Seq[String]) = {
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        tokens.map(UTF8String.fromString).toArray)
      TextHash.simhash64(arr)
    }
    val a = sh(Seq("spark", "query", "engine", "fast", "columnar"))
    val b = sh(Seq("spark", "query", "engine", "fast", "columnar"))
    val c = sh(Seq("spark", "query", "engine", "fast", "vectorized"))
    val far = sh(Seq("completely", "different", "words", "here", "now"))
    assert(a == b)
    assert(java.lang.Long.bitCount(a ^ c) < java.lang.Long.bitCount(a ^ far))
  }

  test("d13 canonicalization: every member maps to its group's (source, doc_id) minimum") {
    val rows = Dedup.d13Canonicalize(spark, sf).collect()
    assert(rows.nonEmpty, "testdata contains normalized duplicate groups")
    // recompute truth from the raw normalized key (the oracle's keying)
    val byKey = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"),
        array_join(array_sort(array_distinct(
          split(trim(col("text")), "\\s+"))), " ").as("key"))
      .collect()
      .groupBy(_.getString(2))
      .filter(_._2.length > 1)
    val truth = byKey.values.flatMap { g =>
      val canon = g.minBy(r => (r.getString(1), r.getLong(0))).getLong(0)
      g.map(r => r.getLong(0) -> (canon, g.length.toLong))
    }.toMap
    assert(rows.length == truth.size)
    rows.foreach { r =>
      assert(truth(r.getLong(0)) == ((r.getLong(1), r.getLong(2))),
        s"doc ${r.getLong(0)}: got (${r.getLong(1)}, ${r.getLong(2)}), " +
          s"want ${truth(r.getLong(0))}")
    }
  }

  test("d15 source overlap: pair counts match a brute-force recount") {
    val got = Dedup.d15SourceOverlap(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // truth: normalized key -> distinct sources, then every unordered pair
    val bySrcKey = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"),
        array_join(array_sort(array_distinct(
          split(trim(col("text")), "\\s+"))), " ").as("key"))
      .collect().map(r => (r.getString(0), r.getString(1))).distinct
    val truth = bySrcKey.groupBy(_._2).values.flatMap { g =>
      val srcs = g.map(_._1).sorted
      for (i <- srcs.indices; j <- (i + 1) until srcs.length)
        yield (srcs(i), srcs(j))
    }.groupBy(identity).map { case (p, occ) => p -> occ.size.toLong }
    assert(got == truth, s"diff: ${(got.toSet diff truth.toSet).take(3)} / " +
      s"${(truth.toSet diff got.toSet).take(3)}")
    assert(got.nonEmpty, "testdata must contain cross-source duplicates")
  }

  test("t21 chunking: windows tile each document with stride 40 and exact md5s") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val chunks = graft.operators.TextAnalysis.t21ChunkSliding(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .groupBy(_._1)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+")).toMap
    assert(chunks.keySet == docs.keySet, "every document must be chunked")
    docs.foreach { case (id, toks) =>
      val n = toks.length
      val cs = chunks(id).sortBy(_._2)
      val expected = if (n <= 50) 1 else math.ceil((n - 50) / 40.0).toInt + 1
      assert(cs.length == expected, s"doc $id: ${cs.length} chunks, want $expected")
      cs.zipWithIndex.foreach { case ((_, cid, start, len, hash), idx) =>
        assert(cid == idx && start == idx * 40L + 1)
        assert(len == math.min(50L, n - idx * 40L))
        assert(hash == md5hex(
          toks.slice(idx * 40, idx * 40 + len.toInt).mkString(" ")))
      }
      // the final window must reach the last token: nothing is dropped
      val (_, _, lastStart, lastLen, _) = cs.last
      assert(lastStart + lastLen - 1 == n, s"doc $id tail uncovered")
    }
  }

  test("t14 blocklist: top grams ordered (n desc, gram), counts match a recount") {
    val rows = graft.operators.TextAnalysis.t14NgramBlocklist(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.sameElements(rows.sortBy { case (g, n) => (-n, g) }),
      "output must be totally ordered for a deterministic cut")
    // spot-recount the head gram by brute force
    val (gram, n) = rows.head
    val recount = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("text")).collect()
      .map(_.getString(0).trim.split("\\s+").sliding(3)
        .count(_.mkString(" ") == gram))
      .sum
    assert(recount.toLong == n, s"head gram '$gram': $n vs recount $recount")
  }

  test("minhash-LSH near-dup recall >= 80% of brute-force jaccard>=0.7 pairs") {
    // brute force truth on 2-gram shingles over the TWIN-INJECTED payload
    // view d4 serves (pid = doc_id·2, twins ·2+1 with one altered token
    // — the view that makes the recall floor non-vacuous at small SF),
    // all pairs (small sf only)
    import spark.implicits._
    val baseRows = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val pay = baseRows.map { case (id, t) => (id * 2, t) } ++
      baseRows.collect { case (id, t) if id % 5 == 0 => (id * 2 + 1, "x" + t) }
    val docs = pay.toSeq.toDF("doc_id", "text")
      .withColumn("t", split(trim(col("text")), "\\s+"))
      .withColumn("sh", array_distinct(
        zip_with(slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (x, y) => concat(x, lit(" "), y))))
      .select(col("doc_id"), col("sh"))
    val a = docs.select(col("doc_id").as("a_id"), col("sh").as("sa"))
    val b = docs.select(col("doc_id").as("b_id"), col("sh").as("sb"))
    val jac = size(array_intersect(col("sa"), col("sb"))).cast("double") /
      size(array_union(col("sa"), col("sb")))
    val truth = a.crossJoin(b).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), jac.as("j"))
      .filter(col("j") >= 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val found = Dedup.d4MinhashLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(found.subsetOf(truth), "verify step must remove all false positives")
    if (truth.nonEmpty) {
      val recall = found.intersect(truth).size.toDouble / truth.size
      assert(recall >= 0.8, s"recall $recall below 0.8 (truth=${truth.size}, found=${found.size})")
    }
  }

  test("d16 semantic dedup: exact precision, recall >= 0.7 vs all-pairs truth") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val cos = graft.functions.VectorOps.dot(col("va"), col("vb")) /
      sqrt(graft.functions.VectorOps.norm2(col("va")) *
        graft.functions.VectorOps.norm2(col("vb")))
    val truth = a.join(b, col("a_id") < col("b_id")).filter(cos >= 0.4)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.d16SemanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.nonEmpty, "gate self-check must pass at test SF")
    // candidates are exact-rescored: no false positives, ever
    assert(found.subsetOf(truth), s"false positives: ${found.diff(truth).take(3)}")
    if (truth.nonEmpty) {
      val recall = found.intersect(truth).size.toDouble / truth.size
      assert(recall >= 0.7, s"recall $recall (truth=${truth.size}, found=${found.size})")
    }
  }

  test("ann-LSH results are a subset of brute-force candidates with decent recall") {
    val brute = Similarity.s1AnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.s2AnnLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(lsh.nonEmpty)
    val recall = lsh.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.6, s"ANN recall $recall unexpectedly low (|brute|=${brute.size}, |lsh|=${lsh.size})")
  }

  test("ann-IVF recovers a reasonable share of exact neighbors and never fabricates") {
    val brute = Similarity.s1AnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.s3AnnIvf(spark, sf).collect()
    assert(ivf.nonEmpty, "gate self-check must pass at test SF")
    val pairs = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = pairs.intersect(brute).size.toDouble / brute.size
    info(s"IVF recall@5 vs brute force: $recall (|ivf|=${pairs.size})")
    assert(recall >= 0.6, s"IVF recall $recall below the gate bound")
    // rescoring is exact, so every reported cosine must match brute force
    val bruteCos = Similarity.s1AnnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    ivf.foreach { r =>
      bruteCos.get((r.getLong(0), r.getLong(2)))
        .foreach(c => assert(c == r.getDouble(3), "cosines must be bit-identical"))
    }
  }

  test("native dot product is bit-identical to the compositional fold") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("vb"))
    val pairs = a.crossJoin(b).filter(col("a_id") < col("b_id")).limit(5000)
    val diffs = pairs.select(
      graft.functions.VectorOps.dot(col("va"), col("vb")).as("native"),
      graft.functions.VectorOps.dotFold(col("va"), col("vb")).as("fold"))
      .filter(col("native") =!= col("fold"))
      .count()
    assert(diffs == 0, "native kernel must reproduce the fold bit-for-bit")
  }

  test("s10: pure-Scala RRF twin reproduces the fused top-10 exactly") {
    val terms = Seq("join", "spark", "dup")
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val toks: Seq[(Long, String)] = docs.toSeq.flatMap { case (id, text) =>
      text.split("[^A-Za-z0-9]+").filter(_.nonEmpty).map(t => (id, t.toLowerCase))
    }
    // lexical leg: t18's integer BM25 formula, floor division throughout
    val perDoc = toks.groupBy(_._1).map { case (id, ts) =>
      val len = ts.size.toLong
      val tf = terms.map(t => t -> ts.count(_._2 == t).toLong).toMap
      (id, len, tf)
    }.toSeq
    val nd = perDoc.size.toLong
    val tt = perDoc.map(_._2).sum
    val df = terms.map(t => t -> perDoc.count(_._3(t) > 0).toLong).toMap
    val lexScore = perDoc.map { case (id, len, tf) =>
      val sc = terms.map { t =>
        ((2 * nd - 2 * df(t) + 1) * 1000000L / (2 * df(t) + 1)) *
          ((22000000L * tf(t) * tt) / (10 * tt * tf(t) + 3 * tt + 9 * len * nd)) /
          1000000L
      }.sum
      (id, sc)
    }.filter(_._2 > 0)
    // dense leg: md5-bucket counting encoder (t11's portable hash idiom)
    def bucket(tok: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).take(4)
        .map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 8
    }
    val qw = terms.groupBy(bucket).view.mapValues(_.size.toLong).toMap
    val dense = toks.groupBy(_._1).map { case (id, ts) =>
      (id, ts.map(x => qw.getOrElse(bucket(x._2), 0L)).sum)
    }.toSeq.filter(_._2 > 0)
    def rrf(scored: Seq[(Long, Long)]): Map[Long, Long] =
      scored.sortBy { case (id, sc) => (-sc, id) }.take(100).zipWithIndex
        .map { case ((id, _), i) => id -> 1000000L / (60 + i + 1) }.toMap
    val (cl, cd) = (rrf(lexScore), rrf(dense))
    val expected = (cl.keySet ++ cd.keySet).toSeq
      .map(id => (id, cl.getOrElse(id, 0L) + cd.getOrElse(id, 0L)))
      .sortBy { case (id, sc) => (-sc, id) }.take(10)
    val got = operators.TextAnalysis.s10HybridRrf(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.nonEmpty && got == expected,
      "fused ranking must equal the brute-force twin row-for-row")
  }

  test("m10: ahash64 twin, proportional-bin robustness, lossless banding") {
    import graft.functions.MediaHash
    // pure-Scala twin of the kernel's bit rule on a hand-computed case
    def twin(b: Array[Byte]): Long = {
      val n = b.length
      val cells = b.zipWithIndex.groupBy { case (_, i) => i.toLong * 64 / n }
        .view.mapValues(g => (g.map(x => (x._1 & 0xff).toLong).sum, g.length.toLong))
      val total = b.map(x => (x & 0xff).toLong).sum
      (0 until 64).map { c =>
        val (sb, cb) = cells.getOrElse(c.toLong, (0L, 0L))
        if (sb * n > total * cb) 1L << c else 0L
      }.sum
    }
    val payload = "the quick brown fox jumps over the lazy dog repeatedly and often"
      .getBytes("UTF-8")
    assert(MediaHash.ahash64(payload) == twin(payload))
    assert(MediaHash.ahash64(Array.emptyByteArray) == 0L)
    // proportional binning: a one-byte substitution moves the signature a
    // few bits, never scrambles it (the property the threshold relies on)
    val edited = payload.clone(); edited(10) = 'X'.toByte
    val h = java.lang.Long.bitCount(
      MediaHash.ahash64(payload) ^ MediaHash.ahash64(edited))
    assert(h <= 3, s"one-byte edit must stay within the near-dup radius, got $h")
    // lossless banding (pigeonhole): every oracle-qualifying pair at
    // hamming <= 3 differs in at most 3 of the 4 disjoint 16-bit bands,
    // so at least one band matches exactly — the engine gate must find
    // every twin pair the exhaustive twin finds
    val got = Multimodal.m10PhashNeardup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val pids = docs.map { case (id, src, t) =>
      (id * 2, src, MediaHash.ahash64(t.getBytes("UTF-8")))
    } ++ docs.collect { case (id, src, t) if id % 5 == 0 && t.length >= 12 =>
      (id * 2 + 1, src,
        MediaHash.ahash64((t.take(10) + "X" + t.drop(11)).getBytes("UTF-8")))
    }
    val expected = (for {
      (a, sa, ha) <- pids; (b, sb2, hb) <- pids
      if sa == sb2 && a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(expected.nonEmpty, "the twin structure must produce near-dup pairs")
    assert(got == expected, "banded gate must equal the exhaustive twin exactly")
  }

  test("multimodal stub decode via mapPartitions agrees with the column-expr path") {
    val viaPartitions = Multimodal.decodeAll(spark, sf)
      .collect().map(m => (m.doc_id, (m.n_bytes, m.width, m.height, m.n_frames))).toMap
    val viaColumns = Multimodal.m1MultimodalMeta(spark, sf)
      .collect().map(r => (r.getLong(0),
        (r.getInt(1), r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    assert(viaPartitions == viaColumns)
    assert(viaPartitions.size == 500)
  }

  test("simhash output reports only hamming<=3 pairs (the hash-exact tier)") {
    val rows = Dedup.d5SimhashDup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(2) <= 3))
  }

  test("simhash output IS the same-source hamming<=3 pair set (pigeonhole-lossless)") {
    // ≤3 differing bits cannot touch all four 16-bit bands, so any pair at
    // hamming ≤3 shares at least one band — the banded pipeline must find
    // every one, and after the same-source filter it must report EXACTLY
    // the all-pairs truth over the twin-injected payload view (the
    // equality the DuckDB oracle re-checks from raw text at sf0.01)
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val pay = base.map { case (id, src, t) => (id * 2, src, t) } ++
      base.collect { case (id, src, t) if id % 5 == 0 => (id * 2 + 1, src, "x" + t) }
    val sigs = pay.toSeq.toDF("pid", "source", "text")
      .withColumn("t", split(trim(col("text")), "\\s+"))
      .select(col("pid"), col("source"),
        graft.functions.TextHashFunctions.simhash64(col("t")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val truth = (for {
      (a, sa, ha) <- sigs; (b, sb, hb) <- sigs
      if a < b && sa == sb && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(truth.nonEmpty, "twin injection must create hamming<=3 pairs")
    val found = Dedup.d5SimhashDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == truth,
      s"missing: ${truth.diff(found).take(5)}; extra: ${found.diff(truth).take(5)}")
  }

  test("an observation whose frame never ran fails within the bound instead of hanging") {
    import scala.concurrent.duration._
    val obs = org.apache.spark.sql.Observation()
    val observed = spark.range(10).observe(obs, count(lit(1)).as("n"))
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](PipelineExt.observedLong(obs, "n", 300.millis))
    assert((System.nanoTime() - t0) / 1e9 < 30, "the wait must end at its bound")
    assert(e.getMessage.contains(obs.name) && e.getMessage.contains("'n'"), e.getMessage)
    // once the frame runs, the same observation answers
    observed.collect()
    assert(PipelineExt.observedLong(obs, "n") == 10L)
  }
}
