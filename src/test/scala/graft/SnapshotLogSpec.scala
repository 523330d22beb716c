package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotLog
import scala.jdk.CollectionConverters._

/** Structural contract of the snapshot-manifest log behind e24:
  * append-only immutability (time travel's precondition), overwrite as a
  * logical-not-physical replace, and orphan detection. Value-level
  * visibility is gated by e24's DuckDB oracle. */
class SnapshotLogSpec extends AnyFunSuite {
  import TestSession._

  private def sha(p: java.nio.file.Path): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString

  test("commits never rewrite existing data files; every old version stays readable") {
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 10), dir)
    val dataDir = dir.resolve("data")
    val before = Files.list(dataDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> sha(p)).toMap
    SnapshotLog.commit(nation.filter(col("n_nationkey") >= 10), dir)
    val after = Files.list(dataDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> sha(p)).toMap
    assert(SnapshotLog.versions(dir) == Seq(1, 2))
    before.foreach { case (name, digest) =>
      assert(after.get(name).contains(digest),
        s"commit 2 rewrote or removed $name — time travel broken")
    }
    assert(SnapshotLog.read(spark, dir, Some(1)).count() == 10)
    assert(SnapshotLog.read(spark, dir).count() == 25)
    assert(SnapshotLog.orphans(dir).isEmpty)
  }

  test("overwrite starts a new lineage logically; old versions keep their files physically") {
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation, dir)
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 5), dir, overwrite = true)
    assert(SnapshotLog.versions(dir) == Seq(1, 2))
    assert(SnapshotLog.read(spark, dir).count() == 5, "latest sees only the overwrite")
    assert(SnapshotLog.read(spark, dir, Some(1)).count() == 25, "v1 still reads the full table")
  }

  test("missing versions and stray files are surfaced, not silently absorbed") {
    val dir = Files.createTempDirectory("graft-snap")
    intercept[IllegalArgumentException](SnapshotLog.read(spark, dir))
    SnapshotLog.commit(Tables.region(spark, sf), dir)
    intercept[IllegalArgumentException](SnapshotLog.read(spark, dir, Some(7)))
    // a crashed commit's debris: data file no manifest references
    Files.writeString(dir.resolve("data").resolve("c99999-00000.parquet"), "junk")
    assert(SnapshotLog.orphans(dir).map(_.getFileName.toString) ==
      Seq("c99999-00000.parquet"))
    // ...and it is invisible to every read
    assert(SnapshotLog.read(spark, dir).count() == Tables.region(spark, sf).count())
  }

  test("vacuum expires old versions and deletes exactly the newly-unreferenced files") {
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation, dir)                                      // v1: full
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 5), dir,
      overwrite = true)                                                  // v2: new lineage
    // v1's files are referenced only by v1; expiring it must delete them
    val (expired, deleted) = SnapshotLog.vacuum(dir, keepVersions = 1)
    assert(expired == Seq(1))
    assert(deleted.nonEmpty && deleted.forall(_.startsWith("c00001-")),
      s"must delete exactly v1's lineage files: $deleted")
    assert(SnapshotLog.versions(dir) == Seq(2))
    assert(SnapshotLog.read(spark, dir).count() == 5, "surviving snapshot intact")
    intercept[IllegalArgumentException](SnapshotLog.read(spark, dir, Some(1)))
    assert(SnapshotLog.orphans(dir).isEmpty, "vacuum leaves no debris")
    // append-lineage safety: shared files survive expiry of the version
    // that introduced them
    val dir2 = Files.createTempDirectory("graft-snap")
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 10), dir2)     // v1
    SnapshotLog.commit(nation.filter(col("n_nationkey") >= 10), dir2)    // v2 carries v1 files
    val (exp2, del2) = SnapshotLog.vacuum(dir2, keepVersions = 1)
    assert(exp2 == Seq(1) && del2.isEmpty,
      s"v2 still references v1's files — nothing may be deleted: $del2")
    assert(SnapshotLog.read(spark, dir2).count() == 25)
  }

  test("manifest stats prune files soundly; unknown columns and old manifests read everything") {
    val dir = Files.createTempDirectory("graft-snap")
    val ords = Tables.orders(spark, sf)
    SnapshotLog.commit(ords.repartitionByRange(4, col("o_orderkey")), dir,
      statsCols = Seq("o_orderkey"))
    val mm = ords.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val qhi = lo + (hi - lo) / 4
    val (kept, skipped) = SnapshotLog.prunedFiles(dir,
      Seq("o_orderkey" -> SnapshotLog.IntRange(lo, qhi)))
    assert(kept.nonEmpty && skipped.nonEmpty,
      s"range slabs must actually prune: kept=$kept skipped=$skipped")
    // soundness: the pruned read + real filter equals the unpruned read +
    // real filter, row for row
    val full = SnapshotLog.read(spark, dir)
      .filter(col("o_orderkey").between(lo, qhi)).count()
    val pruned = SnapshotLog.readPruned(spark, dir,
      Seq("o_orderkey" -> SnapshotLog.IntRange(lo, qhi)))
      .filter(col("o_orderkey").between(lo, qhi)).count()
    assert(pruned == full, "pruning dropped a file the predicate needed")
    // a column without envelopes (not a stats column) must read every file
    val (allKept, noneSkipped) = SnapshotLog.prunedFiles(dir,
      Seq("o_custkey" -> SnapshotLog.IntRange(0, 0)))
    assert(noneSkipped.isEmpty && allKept.size == kept.size + skipped.size,
      "unknown-column pruning must be a no-op, never a silent drop")
    // stats-free commits (the pre-stats manifest shape) also read everything
    val dir2 = Files.createTempDirectory("graft-snap")
    SnapshotLog.commit(ords.limit(100), dir2)
    val (k2, s2) = SnapshotLog.prunedFiles(dir2,
      Seq("o_orderkey" -> SnapshotLog.IntRange(lo, lo)))
    assert(s2.isEmpty && k2.nonEmpty, "no envelopes → no pruning")
  }

  test("string envelope truncation rounds outward: min down, max UP or dropped") {
    import SnapshotLog.{truncMin, truncMaxUp, utf8Cmp, StatsTruncateLen}
    // short strings pass through whole — no truncation, exact bounds
    assert(truncMin("Customer#01") == "Customer#01")
    assert(truncMaxUp("Customer#01").contains("Customer#01"))
    // long min: a 32-cp prefix, which is ≤ the original in byte order
    val longA = "a" * 40
    assert(truncMin(longA) == "a" * StatsTruncateLen)
    assert(utf8Cmp(truncMin(longA), longA) <= 0)
    // long max: last code point increments, tail drops — the result must
    // be STRICTLY above the original (prefix-equal max rounded UP), else
    // a file whose true max extends past the prefix would prune wrongly
    assert(truncMaxUp(longA).contains("a" * 31 + "b"))
    truncMaxUp(longA).foreach(up => assert(utf8Cmp(up, longA) > 0))
    // incrementing into the UTF-16 surrogate gap must skip to U+E000
    // (U+D800..DFFF are unencodable as code points)
    val edge = ("x" * 31) + new String(Array(0xD7FF), 0, 1) + "tail-beyond-the-prefix"
    val rounded = truncMaxUp(edge)
    assert(rounded.contains(("x" * 31) + new String(Array(0xE000), 0, 1)))
    rounded.foreach(up => assert(utf8Cmp(up, edge) > 0))
    // nothing incrementable → bound dropped entirely, never published low
    val maxed = new String(Array.fill(33)(Character.MAX_CODE_POINT), 0, 33)
    assert(truncMaxUp(maxed).isEmpty)
  }

  test("string-range pruning is sound under truncation; all-pruned reads return empty") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap")
    // keys share a 30-char prefix and differ past the 32-cp truncation
    // point within each slab — the envelope's min/max both truncate, so
    // soundness here exercises the rounded bounds, not exact ones
    val pre = "shared-prefix-0123456789-ABCDE-"
    val rows = (0 until 400).map(i => (f"$pre${i % 4}%d-${i}%05d-tail", i.toLong))
    val df = rows.toDF("k", "v")
    SnapshotLog.commit(df.repartitionByRange(4, col("k")), dir, statsCols = Seq("k"))
    val (lo, hi) = (s"${pre}0", s"${pre}1~") // spans slabs 0 and 1 only
    val (kept, skipped) = SnapshotLog.prunedFiles(dir,
      Seq("k" -> SnapshotLog.StrRange(lo, Some(hi))))
    assert(kept.nonEmpty && skipped.nonEmpty,
      s"truncated string slabs must still prune: kept=$kept skipped=$skipped")
    val full = SnapshotLog.read(spark, dir)
      .filter(col("k").between(lo, hi)).count()
    val pruned = SnapshotLog.readPruned(spark, dir,
      Seq("k" -> SnapshotLog.StrRange(lo, Some(hi))))
      .filter(col("k").between(lo, hi)).count()
    assert(pruned == full && full == 200,
      s"truncation-sound pruning must keep every matching row: $pruned vs $full")
    // a range beyond every envelope prunes everything — and the API is
    // safe WITHOUT a caller-side filter: zero rows, not a stray file's
    val empty = SnapshotLog.readPruned(spark, dir,
      Seq("k" -> SnapshotLog.StrRange("zzz", Some("zzzz"))))
    assert(empty.count() == 0, "all-pruned string read must be empty, not arbitrary rows")
    assert(empty.columns.toSeq == Seq("k", "v"), "schema survives the empty read")
    val dirI = Files.createTempDirectory("graft-snap")
    SnapshotLog.commit(df.repartitionByRange(4, col("v")), dirI, statsCols = Seq("v"))
    assert(SnapshotLog.readPruned(spark, dirI,
      Seq("v" -> SnapshotLog.IntRange(5000, 6000))).count() == 0,
      "all-pruned integer read must be empty too")
  }

  test("timestamp columns get integer envelopes in physical micros and prune soundly") {
    // TIMESTAMP(MICROS) is INT64 physical, so o_orderdate flows through
    // the integer envelope path with bounds in epoch micros — the other
    // committed-stats type a lakehouse predicate actually uses
    val dir = Files.createTempDirectory("graft-snap")
    val ords = Tables.orders(spark, sf)
    // Spark's default parquet timestamp encoding is INT96, whose min/max
    // statistics parquet defines as unordered — no envelope is harvested
    // there (sound: the file always reads). A lakehouse that wants
    // timestamp skipping writes INT64 micros, as Delta does:
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try SnapshotLog.commit(ords.repartitionByRange(4, col("o_orderdate")), dir,
      statsCols = Seq("o_orderdate"))
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
    val mm = ords.agg(
      unix_micros(min(col("o_orderdate"))), unix_micros(max(col("o_orderdate")))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val qhi = lo + (hi - lo) / 4
    val (kept, skipped) = SnapshotLog.prunedFiles(dir,
      Seq("o_orderdate" -> SnapshotLog.IntRange(lo, qhi)))
    assert(kept.nonEmpty && skipped.nonEmpty,
      s"date slabs must prune: kept=$kept skipped=$skipped")
    val full = SnapshotLog.read(spark, dir)
      .filter(unix_micros(col("o_orderdate")).between(lo, qhi)).count()
    val pruned = SnapshotLog.readPruned(spark, dir,
      Seq("o_orderdate" -> SnapshotLog.IntRange(lo, qhi)))
      .filter(unix_micros(col("o_orderdate")).between(lo, qhi)).count()
    assert(pruned == full && full > 0,
      "timestamp pruning dropped a file the predicate needed")
  }

  test("merge is copy-on-write: untouched slabs carry byte-identical, touched rewrite") {
    val dir = Files.createTempDirectory("graft-snap")
    val cust = Tables.customer(spark, sf)
    SnapshotLog.commit(cust.repartitionByRange(6, col("c_custkey")), dir,
      statsCols = Seq("c_custkey"))
    val mm = cust.agg(min(col("c_custkey")), max(col("c_custkey"))).head()
    val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val changes = cust.filter(col("c_custkey") <= mid && col("c_custkey") % 10 === 3)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      .withColumn("_deleted", lit(false))
      .unionByName(cust.filter(col("c_custkey") <= mid && col("c_custkey") % 10 === 7)
        .withColumn("_deleted", lit(true)))
    val dataDir = dir.resolve("data")
    val before = Files.list(dataDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> sha(p)).toMap
    val v = SnapshotLog.merge(spark, dir, changes, "c_custkey",
      statsCols = Seq("c_custkey"))
    assert(v == 2)
    val v1 = SnapshotLog.files(dir, Some(1)).toSet
    val v2 = SnapshotLog.files(dir, Some(2)).toSet
    assert((v1 & v2).nonEmpty, "upper-half slabs must carry over")
    assert((v1 -- v2).nonEmpty, "touched slabs must be replaced")
    // carried files are the SAME bytes (no re-write), and the replaced
    // originals still exist, still serving v1 (not orphans)
    (v1 & v2).foreach { f =>
      assert(sha(dataDir.resolve(f)) == before(f), s"carried file $f rewritten")
    }
    assert(SnapshotLog.orphans(dir).isEmpty)
    assert(SnapshotLog.read(spark, dir, Some(1)).count() == cust.count(),
      "pre-merge version must still read its exact original rows")
    // value-level: the merged snapshot equals Merge.merge over the FULL base
    val expect = graft.sources.Merge.merge(cust, changes, "c_custkey")
    assert(SnapshotLog.read(spark, dir).exceptAll(expect).isEmpty &&
      expect.exceptAll(SnapshotLog.read(spark, dir)).isEmpty,
      "copy-on-write merge must equal the full-table merge row-for-row")
  }

  test("deletion-vector deletes are merge-on-read: zero data rewrite, composable, time-travel-safe") {
    val dir = Files.createTempDirectory("graft-snap")
    val cust = Tables.customer(spark, sf)
    SnapshotLog.commit(cust.repartitionByRange(4, col("c_custkey")), dir)
    val dataDir = dir.resolve("data")
    val before = Files.list(dataDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> sha(p)).toMap
    val v2 = SnapshotLog.deleteWhere(spark, dir, col("c_custkey") % 3 === 0)
    val v3 = SnapshotLog.deleteWhere(spark, dir, col("c_mktsegment") === "BUILDING")
    assert(v2 == 2 && v3 == 3)
    // merge-on-read: the DATA file set is identical across all versions
    // and every data file is byte-untouched; only DV files were added
    assert(SnapshotLog.files(dir, Some(1)) == SnapshotLog.files(dir, Some(3)))
    before.foreach { case (f, digest) =>
      assert(sha(dataDir.resolve(f)) == digest, s"delete rewrote data file $f")
    }
    assert(SnapshotLog.dvFiles(dir, Some(1)).isEmpty &&
      SnapshotLog.dvFiles(dir, Some(2)).size == 1 &&
      SnapshotLog.dvFiles(dir, Some(3)).size == 2)
    // deletes COMPOSE and time travel sees each stage exactly
    val n = cust.count()
    val nAfter1 = cust.filter(!(col("c_custkey") % 3 === 0)).count()
    val nAfter2 = cust.filter(!(col("c_custkey") % 3 === 0) &&
      col("c_mktsegment") =!= "BUILDING").count()
    assert(SnapshotLog.read(spark, dir, Some(1)).count() == n)
    assert(SnapshotLog.read(spark, dir, Some(2)).count() == nAfter1)
    assert(SnapshotLog.read(spark, dir).count() == nAfter2)
    assert(SnapshotLog.orphans(dir).isEmpty, "live DVs must not read as orphans")
    // a delete matching nothing is a NO-OP: no version, no DV debris
    assert(SnapshotLog.deleteWhere(spark, dir, col("c_custkey") < 0) == 3)
    assert(SnapshotLog.versions(dir) == Seq(1, 2, 3))
    // pruned reads apply DVs too
    val mm = cust.agg(min(col("c_custkey")), max(col("c_custkey"))).head()
    val pruned = SnapshotLog.readPruned(spark, dir,
      Seq("c_custkey" -> SnapshotLog.IntRange(mm.getLong(0), mm.getLong(1))))
      .count()
    assert(pruned == nAfter2, "readPruned must be DV-aware")
  }

  test("rewrites materialize deletion vectors: compact clears them, merge honors them") {
    val dir = Files.createTempDirectory("graft-snap")
    val cust = Tables.customer(spark, sf)
    SnapshotLog.commit(cust.repartitionByRange(4, col("c_custkey")), dir,
      statsCols = Seq("c_custkey"))
    SnapshotLog.deleteWhere(spark, dir, col("c_custkey") % 3 === 0)
    val liveCount = cust.filter(!(col("c_custkey") % 3 === 0)).count()
    // a copy-on-write merge after a DV delete must not resurrect dead
    // rows in the files it rewrites
    val mm = cust.agg(min(col("c_custkey")), max(col("c_custkey"))).head()
    val mid = mm.getLong(0) + (mm.getLong(1) - mm.getLong(0)) / 2
    val changes = cust
      .filter(col("c_custkey") <= mid && col("c_custkey") % 10 === 1)
      .withColumn("c_acctbal", col("c_acctbal") + 500.0)
      .withColumn("_deleted", lit(false))
    val vM = SnapshotLog.merge(spark, dir, changes, "c_custkey",
      statsCols = Seq("c_custkey"))
    val upsertKeysDead = changes.filter(col("c_custkey") % 3 === 0).count()
    // every %10==1 lower-half key is upserted (alive again if it was
    // dead — an upsert IS an insert-or-replace); everything else keeps
    // the delete
    val expectAfterMerge = cust
      .filter(!(col("c_custkey") % 3 === 0) ||
        (col("c_custkey") <= mid && col("c_custkey") % 10 === 1)).count()
    assert(SnapshotLog.read(spark, dir, Some(vM)).count() == expectAfterMerge,
      s"merge over DVs wrong (upserted-dead keys: $upsertKeysDead)")
    // OPTIMIZE materializes the deletes: the compacted version has no
    // DVs and exactly the live rows
    val vC = SnapshotLog.compact(spark, dir, targetFiles = 2)
    assert(SnapshotLog.dvFiles(dir, Some(vC)).isEmpty,
      "overwrite lineage must clear deletion vectors")
    assert(SnapshotLog.read(spark, dir).count() == expectAfterMerge)
    // vacuum now reclaims the expired DVs along with the old lineage
    val (_, deleted) = SnapshotLog.vacuum(dir, keepVersions = 1)
    assert(deleted.exists(_.startsWith("dv")), "vacuum must reclaim dead DVs")
    assert(SnapshotLog.read(spark, dir).count() == expectAfterMerge)
    assert(liveCount < cust.count(), "the delete must have had matches")
  }

  test("manifest publish is a CAS: a second writer at the same version loses cleanly") {
    val dir = Files.createTempDirectory("graft-snap")
    SnapshotLog.commit(Tables.region(spark, sf), dir)                    // v1
    val v2 = dir.resolve("_graft_log").resolve("v00002.json")
    // winner takes v2
    assert(SnapshotLog.tryPublishManifest(dir, 2, Seq("cW-0.parquet")))
    val winnerBytes = Files.readAllBytes(v2).toSeq
    // loser must fail WITHOUT touching the winner's manifest (the old
    // rename-based publish would have replaced it silently)
    assert(!SnapshotLog.tryPublishManifest(dir, 2, Seq("cL-0.parquet")))
    assert(Files.readAllBytes(v2).toSeq == winnerBytes,
      "lost CAS must leave the winning manifest byte-identical")
    assert(!Files.list(dir.resolve("_graft_log")).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".tmp")), "no temp debris")
  }

  test("txn-keyed commits are idempotent; conditional commits abort on version advance") {
    val dir = Files.createTempDirectory("graft-snap")
    val region = Tables.region(spark, sf)
    // replay: same txn id twice → same version, no duplicate manifest
    val v1 = SnapshotLog.commit(region, dir, txnId = Some("batch-0"))
    val v1again = SnapshotLog.commit(region, dir, txnId = Some("batch-0"))
    assert(v1 == 1 && v1again == 1, s"replayed txn must return its version, got $v1/$v1again")
    assert(SnapshotLog.versions(dir) == Seq(1), "replay must not append a version")
    assert(SnapshotLog.read(spark, dir).count() == region.count())
    // conditional: a compactor that read v1 must abort once v2 exists,
    // publishing nothing — the stale rewrite never becomes latest
    val v2 = SnapshotLog.commit(region.filter(col("r_regionkey") < 3), dir)
    assert(v2 == 2)
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.commit(region, dir, overwrite = true,
        expectedVersion = Some(2))
    }
    assert(SnapshotLog.versions(dir) == Seq(1, 2),
      "aborted conditional commit must not publish a manifest")
    // compact() itself succeeds when nothing races and lands at +1
    val vc = SnapshotLog.compact(spark, dir, targetFiles = 1)
    assert(vc == 3 && SnapshotLog.files(dir).size == 1)
    assert(SnapshotLog.read(spark, dir).count() ==
      SnapshotLog.read(spark, dir, Some(2)).count())
  }

  test("updateWhere is merge-on-read: simultaneous SET, appended rows, zero rewrite") {
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation, dir)
    val dataDir = dir.resolve("data")
    val before = Files.list(dataDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => p.getFileName.toString -> sha(p)).toMap
    // simultaneous SET: a swap proves the expressions see the PRE-update
    // row (sequential application would overwrite one side)
    val v2 = SnapshotLog.updateWhere(spark, dir, col("n_nationkey") < 5,
      Map("n_nationkey" -> col("n_regionkey"),
        "n_regionkey" -> col("n_nationkey")))
    assert(v2 == 2)
    before.foreach { case (f, digest) =>
      assert(sha(dataDir.resolve(f)) == digest, s"update rewrote data file $f")
    }
    assert(SnapshotLog.dvFiles(dir).size == 1)
    assert((SnapshotLog.files(dir).toSet -- before.keySet).nonEmpty,
      "the updated rows must land in an appended file")
    val byName = SnapshotLog.read(spark, dir)
      .select("n_name", "n_nationkey", "n_regionkey")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    nation.select("n_name", "n_nationkey", "n_regionkey").collect().foreach { r =>
      val (name, k, rk) = (r.getString(0), r.getInt(1), r.getInt(2))
      val expected = if (k < 5) (rk, k) else (k, rk)
      assert(byName(name) == expected, s"row $name: got ${byName(name)}, want $expected")
    }
    assert(SnapshotLog.read(spark, dir).count() == nation.count(),
      "an update must preserve cardinality")
    assert(SnapshotLog.read(spark, dir, Some(1))
      .collect().toSet == nation.collect().toSet,
      "the pre-update version must read the original rows")
    // zero matches → no-op, no version
    assert(SnapshotLog.updateWhere(spark, dir, col("n_nationkey") === -1,
      Map("n_name" -> lit("x"))) == 2)
    // a SET that retypes a column is rejected
    intercept[IllegalArgumentException](SnapshotLog.updateWhere(spark, dir,
      lit(true), Map("n_nationkey" -> lit("not-a-long"))))
    assert(SnapshotLog.orphans(dir).isEmpty)
  }

  test("updateWhere composes with prior DVs: dead rows are never resurrected as updates") {
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation, dir)
    SnapshotLog.deleteWhere(spark, dir, col("n_nationkey") === 3)
    val v = SnapshotLog.updateWhere(spark, dir, col("n_nationkey") < 5,
      Map("n_name" -> lit("upd")))
    assert(v == 3)
    val latest = SnapshotLog.read(spark, dir)
    assert(latest.count() == nation.count() - 1)
    assert(latest.filter(col("n_nationkey") === 3).count() == 0,
      "the deleted row must stay dead through the update")
    assert(latest.filter(col("n_name") === "upd").count() == 4,
      "exactly the live matching rows (0,1,2,4) update")
  }

  test("delete policy: fully-dead files DROP from the manifest — metadata-only, no DV") {
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 5).coalesce(1), dir)
    SnapshotLog.commit(nation.filter(col("n_nationkey") >= 5).coalesce(1), dir)
    val v1Only = SnapshotLog.files(dir, Some(1)).toSet
    val v3 = SnapshotLog.deleteWhere(spark, dir, col("n_nationkey") < 5)
    assert(v3 == 3)
    assert(SnapshotLog.files(dir, Some(3)).toSet ==
      SnapshotLog.files(dir, Some(2)).toSet -- v1Only,
      "the fully-dead slab must drop from the manifest")
    assert(SnapshotLog.dvFiles(dir, Some(3)).isEmpty,
      "a pure full-file delete needs no deletion vector")
    assert(SnapshotLog.read(spark, dir).count() == nation.count() - 5)
    assert(SnapshotLog.read(spark, dir, Some(2)).count() == nation.count(),
      "time travel must still see the dropped slab")
    assert(SnapshotLog.orphans(dir).isEmpty,
      "the dropped file is still referenced by versions 1-2")
  }

  test("delete policy: rewriteAtFraction=0 is copy-on-write with identical survivors") {
    val nation = Tables.nation(spark, sf)
    val mkLog = () => {
      val dir = Files.createTempDirectory("graft-snap")
      SnapshotLog.commit(nation.repartitionByRange(2, col("n_nationkey")),
        dir, statsCols = Seq("n_nationkey"))
      dir
    }
    val dvDir = mkLog(); val cowDir = mkLog()
    SnapshotLog.deleteWhere(spark, dvDir, col("n_nationkey") % 2 === 0)
    spark.conf.set("graft.dv.rewriteAtFraction", "0.0")
    try SnapshotLog.deleteWhere(spark, cowDir, col("n_nationkey") % 2 === 0)
    finally spark.conf.unset("graft.dv.rewriteAtFraction")
    // same logical result, opposite physical representation
    assert(SnapshotLog.read(spark, dvDir).collect().toSet ==
      SnapshotLog.read(spark, cowDir).collect().toSet)
    assert(SnapshotLog.dvFiles(dvDir).size == 1 &&
      SnapshotLog.dvFiles(cowDir).isEmpty)
    assert(SnapshotLog.files(cowDir, Some(1)).toSet
      .intersect(SnapshotLog.files(cowDir, Some(2)).toSet).isEmpty,
      "copy-on-write must rewrite every touched file")
    // the rewritten files re-harvest their envelopes: a range entirely
    // above the data must prune them
    val (kept, skipped) = SnapshotLog.prunedFiles(cowDir,
      Seq("n_nationkey" -> SnapshotLog.IntRange(1000L, 2000L)))
    assert(kept.isEmpty && skipped.nonEmpty,
      "rewritten survivors must carry fresh stats envelopes")
  }

  test("schema evolution: ADD COLUMN null-fills old files; old versions keep old schema") {
    val dir = Files.createTempDirectory("graft-snap")
    val region = Tables.region(spark, sf)
    SnapshotLog.commit(region, dir)
    SnapshotLog.commit(region.withColumn("extra", col("r_regionkey") * 2), dir)
    val latest = SnapshotLog.read(spark, dir)
    assert(latest.columns.contains("extra"))
    assert(latest.filter(col("extra").isNull).count() == region.count(),
      "generation-1 files must null-fill the added column")
    assert(latest.filter(col("extra").isNotNull).count() == region.count())
    val v1Schema = SnapshotLog.schemaOf(dir, Some(1)).get
    assert(!v1Schema.fieldNames.contains("extra"))
    assert(SnapshotLog.read(spark, dir, Some(1)).columns
      .sameElements(v1Schema.fieldNames),
      "the old version must read with its own (pre-evolution) schema")
    // illegal evolutions fail fast, BEFORE the staging write: zero orphans
    intercept[IllegalArgumentException](
      SnapshotLog.commit(region.drop("r_name"), dir))
    intercept[IllegalArgumentException](SnapshotLog.commit(
      region.withColumn("r_regionkey", col("r_regionkey").cast("string"))
        .withColumn("extra", lit(1)), dir))
    assert(SnapshotLog.versions(dir) == Seq(1, 2))
    assert(SnapshotLog.orphans(dir).isEmpty,
      "rejected evolutions must not leave staged debris")
    // an overwrite lineage may change the schema freely
    val v3 = SnapshotLog.commit(region.drop("r_name"), dir, overwrite = true)
    assert(v3 == 3)
    assert(!SnapshotLog.schemaOf(dir).get.fieldNames.contains("r_name"))
    assert(SnapshotLog.read(spark, dir, Some(2)).columns.contains("r_name"),
      "pre-overwrite versions keep the pre-overwrite schema")
  }

  test("append compatibility resolves column names the way the engine does (case-insensitive by default)") {
    val dir = Files.createTempDirectory("graft-snap")
    val region = Tables.region(spark, sf)
    SnapshotLog.commit(region, dir)
    // Spark resolves columns case-insensitively by default, so an append
    // differing only in name case is the SAME column to every read —
    // rejecting it as a dropped column would contradict the engine
    val v2 = SnapshotLog.commit(
      region.withColumnRenamed("r_name", "R_NAME"), dir)
    assert(v2 == 2)
    assert(SnapshotLog.read(spark, dir).count() == region.count() * 2)
    // the TABLE owns its casing: the accepted append aligns to the
    // manifest spelling (files + stamped schema), so a caseSensitive=true
    // reader resolves every file instead of null-filling half the rows
    assert(SnapshotLog.schemaOf(dir).get.fieldNames.contains("r_name") &&
      !SnapshotLog.schemaOf(dir).get.fieldNames.contains("R_NAME"),
      "an append must not restamp the manifest with its own casing")
    assert(SnapshotLog.read(spark, dir)
      .filter(col("r_name").isNull).count() == 0,
      "every file must resolve the column under the table's casing")
    // a REAL drop is still rejected
    intercept[IllegalArgumentException](
      SnapshotLog.commit(region.drop("r_name"), dir))
    // and a retype hiding behind a case change is still a retype
    intercept[IllegalArgumentException](SnapshotLog.commit(
      region.withColumn("r_name", col("r_regionkey"))
        .withColumnRenamed("r_name", "R_NAME"), dir))
  }

  test("a full-table delete yields a readable zero-file snapshot on a schema'd lineage") {
    val dir = Files.createTempDirectory("graft-snap")
    val region = Tables.region(spark, sf)
    SnapshotLog.commit(region, dir)
    val v2 = SnapshotLog.deleteWhere(spark, dir, lit(true))
    assert(v2 == 2)
    assert(SnapshotLog.files(dir, Some(2)).isEmpty,
      "a full-table delete drops every file (metadata-only)")
    val empty = SnapshotLog.read(spark, dir)
    assert(empty.count() == 0)
    assert(empty.columns.sameElements(region.columns),
      "the empty snapshot reads with the manifest schema")
    assert(SnapshotLog.read(spark, dir, Some(1)).count() == region.count())
    // and a delete against the empty snapshot is a no-op
    assert(SnapshotLog.deleteWhere(spark, dir, lit(true)) == 2)
  }

  test("DELETE keeps NULL-predicate rows on both the DV and copy-on-write paths") {
    val src = Tables.region(spark, sf).withColumn("x",
      when(col("r_regionkey") === 2, lit(null).cast("int"))
        .otherwise(col("r_regionkey").cast("int")))
    val n = src.count()
    val mk = () => {
      val dir = Files.createTempDirectory("graft-snap")
      SnapshotLog.commit(src.coalesce(1), dir); dir
    }
    val dvDir = mk(); val cowDir = mk()
    SnapshotLog.deleteWhere(spark, dvDir, col("x") === 0)
    spark.conf.set("graft.dv.rewriteAtFraction", "0.0")
    try SnapshotLog.deleteWhere(spark, cowDir, col("x") === 0)
    finally spark.conf.unset("graft.dv.rewriteAtFraction")
    // SQL DELETE removes rows whose predicate is TRUE; NULL is kept
    Seq(dvDir, cowDir).foreach { d =>
      val back = SnapshotLog.read(spark, d)
      assert(back.count() == n - 1, s"$d: exactly the x=0 row dies")
      assert(back.filter(col("x").isNull).count() == 1,
        s"$d: the NULL-predicate row must survive the delete")
    }
    assert(SnapshotLog.read(spark, dvDir).collect().toSet ==
      SnapshotLog.read(spark, cowDir).collect().toSet)
  }

  test("appends never stamp a schema onto a legacy (pre-schema) lineage") {
    val dir = Files.createTempDirectory("graft-snap")
    val region = Tables.region(spark, sf)
    SnapshotLog.commit(region, dir)
    // simulate an old log: strip the schema member from the manifest
    val m = dir.resolve("_graft_log").resolve("v00001.json")
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val stripped = JsonMethods.parse(Files.readString(m)) match {
      case JObject(fields) => JObject(fields.filterNot(_._1 == "schema"))
      case other => other
    }
    Files.writeString(m, JsonMethods.compact(JsonMethods.render(stripped)))
    assert(SnapshotLog.schemaOf(dir).isEmpty)
    // an append with EXTRA columns is accepted (legacy lineages are
    // unchecked) but must NOT stamp its schema: carried legacy files
    // were never verified against it
    SnapshotLog.commit(region.withColumn("extra", lit(1)), dir)
    assert(SnapshotLog.schemaOf(dir).isEmpty,
      "an unchecked append must not impose a schema on legacy files")
    assert(SnapshotLog.read(spark, dir).count() == 2 * region.count())
    // an overwrite establishes the schema'd lineage
    SnapshotLog.commit(region, dir, overwrite = true)
    assert(SnapshotLog.schemaOf(dir).isDefined)
  }

  test("a delete rebases over a racing append: serialized after it, appended rows included") {
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 15), dir) // v1
    // the race, deterministically: an ingest publishes v2 after the
    // delete has read v1 and written its DV, before its publish attempt
    val v = SnapshotLog.deleteWhereHook(spark, dir,
      col("n_nationkey") % 2 === 0,
      () => { SnapshotLog.commit(
        nation.filter(col("n_nationkey") >= 15), dir); () })
    assert(v == 3, "the delete must rebase to the version after the winner")
    assert(SnapshotLog.versions(dir) == Seq(1, 2, 3))
    // SQL semantics at the later serialization point: the predicate
    // applied to the winner's appended rows too
    val expect = nation.filter(col("n_nationkey") % 2 =!= 0).count()
    assert(SnapshotLog.read(spark, dir).count() == expect,
      "the rebased delete must also kill matching appended rows")
    assert(SnapshotLog.read(spark, dir, Some(2)).count() == nation.count(),
      "the winner's version is untouched")
    assert(SnapshotLog.orphans(dir).isEmpty)
    // a rebase whose delta contains NO matches publishes no extra DV
    val v4 = SnapshotLog.deleteWhereHook(spark, dir,
      col("n_nationkey") === 1,
      () => { SnapshotLog.commit(
        nation.filter(col("n_nationkey") === 1)
          .withColumn("n_nationkey", col("n_nationkey") + 100), dir); () })
    assert(v4 == 5)
    assert(SnapshotLog.read(spark, dir).count() == expect - 1 + 1,
      "kill n_nationkey=1, gain the appended 101 row")
  }

  test("requiredRanges: AND intersects, OR hulls, strict bounds widen, junk reads everything") {
    import SnapshotLog.{IntRange, StrRange}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("j", LongType), StructField("s", StringType),
      StructField("i", IntegerType)))
    // WIDENING casts unwrap (value-preserving — the envelope still
    // bounds); NARROWING casts must NOT: non-ANSI CAST(big AS INT) wraps,
    // so a row outside the range can satisfy the predicate and pruning
    // on the unwrapped column would skip its file
    assert(SnapshotLog.mutationRanges(spark, schema,
      col("i").cast("long") === 5) == Map("i" -> IntRange(5, 5)))
    assert(SnapshotLog.mutationRanges(spark, schema,
      col("k").cast("int") === 5).isEmpty,
      "a narrowing cast over the column must read everything")
    def rr(c: org.apache.spark.sql.Column) =
      SnapshotLog.mutationRanges(spark, schema, c)
    assert(rr(col("k") === 5) == Map("k" -> IntRange(5, 5)))
    assert(rr(lit(5) === col("k")) == Map("k" -> IntRange(5, 5)))
    assert(rr(col("k") > 5 && col("k") <= 10) == Map("k" -> IntRange(5, 10)),
      "strict > widens to inclusive (sound)")
    assert(rr(col("k").between(3, 9)) == Map("k" -> IntRange(3, 9)))
    assert(rr(col("k") === 2 || col("k") === 8) == Map("k" -> IntRange(2, 8)))
    assert(rr(col("k") === 2 || col("j") === 8).isEmpty,
      "one-sided OR constraints are not necessary")
    assert(rr(col("k") % 3 === 0).isEmpty, "arithmetic over the column reads")
    assert(rr(col("k") === 2 && col("j") % 3 === 0) == Map("k" -> IntRange(2, 2)),
      "an un-analyzable conjunct costs nothing on the other conjunct")
    assert(rr(col("s") === "abc") == Map("s" -> StrRange("abc", Some("abc"))))
    assert(rr(col("s") >= "b" && col("s") < "c") ==
      Map("s" -> StrRange("b", Some("c"))))
    assert(rr(col("k").isin(3, 9, 6)) == Map("k" -> IntRange(3, 9)))
    rr(col("k") < 2 && col("k") > 5) match {
      case m => assert(m.get("k").exists {
        case IntRange(lo, hi) => lo > hi
        case _ => false
      }, "an unsatisfiable AND yields an empty range (prunes everything)")
    }
  }

  test("DELETE/UPDATE open only envelope-candidate files; results identical to the unpruned twin") {
    val ords = Tables.orders(spark, sf)
    val mm = ords.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
    val (mn, w) = (mm.getLong(0), mm.getLong(1) - mm.getLong(0))
    val (aLo, aHi) = (mn + w / 4, mn + w / 4 + w / 8)
    def mk(statsCols: Seq[String]) = {
      val dir = Files.createTempDirectory("graft-snap")
      SnapshotLog.commit(ords.repartitionByRange(8, col("o_orderkey")), dir,
        statsCols = statsCols)
      dir
    }
    val pruned = mk(Seq("o_orderkey")); val blind = mk(Nil)
    val cond = col("o_orderkey").between(aLo, aHi) &&
      col("o_orderkey") % 3 === 0
    SnapshotLog.deleteWhere(spark, pruned, cond)
    val (pScan, pTotal) = SnapshotLog.lastMutationScan.get()
    assert(pScan >= 1 && pScan < pTotal,
      s"the keyed delete must open strictly fewer files ($pScan of $pTotal)")
    SnapshotLog.deleteWhere(spark, blind, cond)
    val (bScan, bTotal) = SnapshotLog.lastMutationScan.get()
    assert(bScan == bTotal, "no envelopes → no pruning, still correct")
    assert(SnapshotLog.read(spark, pruned).collect().toSet ==
      SnapshotLog.read(spark, blind).collect().toSet,
      "pruning must be result-invisible")
    // updateWhere prunes the same way, and the update is identical
    val uset = Map("o_totalprice" -> (col("o_totalprice") + lit(1000.0)))
    // statsCols on the update so ITS appended file carries envelopes too
    // (an unenveloped appended file conservatively reads forever after)
    SnapshotLog.updateWhere(spark, pruned, col("o_orderkey") <= aLo, uset,
      statsCols = Seq("o_orderkey"))
    val (uScan, uTotal) = SnapshotLog.lastMutationScan.get()
    assert(uScan >= 1 && uScan < uTotal)
    SnapshotLog.updateWhere(spark, blind, col("o_orderkey") <= aLo, uset)
    assert(SnapshotLog.read(spark, pruned).collect().toSet ==
      SnapshotLog.read(spark, blind).collect().toSet)
    // a provably-out-of-range delete is a no-op: zero files opened,
    // no version published
    val vBefore = SnapshotLog.versions(pruned).last
    assert(SnapshotLog.deleteWhere(spark, pruned,
      col("o_orderkey") > mm.getLong(1) + 1000000L) == vBefore)
    assert(SnapshotLog.lastMutationScan.get()._1 == 0)
    // an UNSATISFIABLE predicate (inverted necessary range) prunes every
    // file — including ones without envelopes — on BOTH table layouts
    assert(SnapshotLog.deleteWhere(spark, pruned,
      col("o_orderkey") < aLo && col("o_orderkey") > aHi) == vBefore)
    assert(SnapshotLog.lastMutationScan.get()._1 == 0)
    val vBlind = SnapshotLog.versions(blind).last
    assert(SnapshotLog.deleteWhere(spark, blind,
      col("o_orderkey") < aLo && col("o_orderkey") > aHi) == vBlind)
    assert(SnapshotLog.lastMutationScan.get()._1 == 0,
      "unsatisfiable predicates prune stat-less files too")
  }

  test("CDF folds exactly across DV deletes, file drops, updates, and rebases; readChanges refuses them") {
    import org.apache.spark.sql.DataFrame
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    // v1/v2: two single-file ingest slices (drop arm needs a whole file)
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 15).coalesce(1), dir)
    SnapshotLog.commit(nation.filter(col("n_nationkey") >= 15).coalesce(1), dir)
    // v3: sparse DV delete across both files
    SnapshotLog.deleteWhere(spark, dir, col("n_nationkey") % 5 === 2)
    // v4: MoR update (DV + appended file in one commit)
    SnapshotLog.updateWhere(spark, dir, col("n_nationkey") % 5 === 3,
      Map("n_name" -> lit("UPDATED")))
    // v5: full-file delete — drops the >= 15 slice's file
    SnapshotLog.deleteWhere(spark, dir,
      col("n_nationkey") >= 15 && col("n_name") =!= "UPDATED")
    // v6: a delete that REBASES over a racing append
    SnapshotLog.deleteWhereHook(spark, dir, col("n_nationkey") === 1,
      () => { SnapshotLog.commit(
        nation.filter(col("n_nationkey") === 1)
          .withColumn("n_nationkey", col("n_nationkey") + 100), dir); () })
    val latest = SnapshotLog.versions(dir).last
    // the fold: for every starting cursor, snapshot(from) + inserts −
    // deletes must equal snapshot(latest) as a multiset
    def key(df: DataFrame) = df.select(col("n_nationkey"), col("n_name"))
      .collect().groupBy(identity).view.mapValues(_.length).toMap
    def folded(fromV: Int): Map[org.apache.spark.sql.Row, Int] = {
      val cdf = SnapshotLog.readChangesCdf(spark, dir, fromV, latest)
      val ins = key(cdf.filter(col("_change_type") === "insert"))
      val del = key(cdf.filter(col("_change_type") === "delete"))
      val start = key(SnapshotLog.read(spark, dir, Some(fromV)))
      (start.keySet ++ ins.keySet ++ del.keySet).map { k =>
        k -> (start.getOrElse(k, 0) + ins.getOrElse(k, 0) - del.getOrElse(k, 0))
      }.filter(_._2 != 0).toMap
    }
    val truth = key(SnapshotLog.read(spark, dir, Some(latest)))
    SnapshotLog.versions(dir).dropRight(1).foreach { fromV =>
      assert(folded(fromV) == truth, s"CDF fold from v$fromV diverged")
    }
    // the delete-shaped versions emit delete rows (the e31 failure mode
    // was an EMPTY delta); the update emits both signs
    val s3 = SnapshotLog.readChangesCdf(spark, dir, 2, 3)
    assert(s3.filter(col("_change_type") === "delete").count() > 0 &&
      s3.filter(col("_change_type") === "insert").count() == 0)
    val s4 = SnapshotLog.readChangesCdf(spark, dir, 3, 4)
    assert(s4.filter(col("_change_type") === "delete").count() > 0 &&
      s4.filter(col("_change_type") === "insert").count() > 0)
    val s4del = s4.filter(col("_change_type") === "delete")
    assert(s4del.filter(col("n_name") === "UPDATED").count() == 0,
      "update delete-preimages carry PRE-update values")
    // legacy readChanges REFUSES any range crossing a delete/update
    // (v6 is the racing append itself — a legal pure-append step)
    Seq(3, 4, 5, latest).foreach { v =>
      intercept[IllegalArgumentException](
        SnapshotLog.readChanges(spark, dir, v - 1, v).count())
    }
    intercept[IllegalArgumentException]( // range-crossing, not just step
      SnapshotLog.readChanges(spark, dir, 1, latest).count())
    // ... but still serves the pure-append steps
    assert(SnapshotLog.readChanges(spark, dir, 1, 2).count() ==
      nation.filter(col("n_nationkey") >= 15).count())
    assert(SnapshotLog.readChanges(spark, dir, 5, 6).count() == 1,
      "the racing append's own step is a legal insert-only feed")
    // a same-version range is an empty feed, tagged and schema-correct
    val empty = SnapshotLog.readChangesCdf(spark, dir, latest, latest)
    assert(empty.count() == 0 && empty.columns.contains("_change_type"))
  }

  test("CDF across a compact charges the rewrite as delete+insert and still folds") {
    val dir = Files.createTempDirectory("graft-snap")
    val region = Tables.region(spark, sf)
    SnapshotLog.commit(region, dir)
    SnapshotLog.deleteWhere(spark, dir, col("r_regionkey") === 0)
    SnapshotLog.compact(spark, dir, targetFiles = 1)
    val cdf = SnapshotLog.readChangesCdf(spark, dir, 1, 3)
    val ins = cdf.filter(col("_change_type") === "insert")
    val del = cdf.filter(col("_change_type") === "delete")
    // the compact drops v2's live rows and re-inserts them; combined
    // with v2's DV delete the fold nets to the final snapshot
    assert(del.count() == 1 + (region.count() - 1)) // DV kill + dropped file's live rows
    assert(ins.count() == region.count() - 1)
    val fold = ins.select(col("r_regionkey").cast("long"))
      .collect().map(_.getLong(0)).sorted
    assert(fold.toSeq == SnapshotLog.read(spark, dir)
      .select(col("r_regionkey").cast("long"))
      .collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("a delete aborts on a racing rewrite: stale positions never publish") {
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation, dir)
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.deleteWhereHook(spark, dir, col("n_nationkey") % 2 === 0,
        () => { SnapshotLog.compact(spark, dir, targetFiles = 1); () })
    }
    // the compactor's version is the latest and fully intact
    assert(SnapshotLog.read(spark, dir).count() == nation.count())
    assert(SnapshotLog.dvFiles(dir).isEmpty)
    // the aborted delete's DV is a vacuumable orphan, invisible to reads
    assert(SnapshotLog.orphans(dir).nonEmpty)
  }

  test("binPack rewrites only the small tail: large files byte-identical, DVs honored") {
    val dir = Files.createTempDirectory("graft-snap")
    val cust = Tables.customer(spark, sf)
    // one large slab + four small ingest slices
    SnapshotLog.commit(cust.filter(col("c_custkey") % 5 =!= 0).coalesce(1),
      dir, statsCols = Seq("c_custkey"))
    (0 to 3).foreach { i =>
      SnapshotLog.commit(cust.filter(col("c_custkey") % 20 === (5 * i)).coalesce(1),
        dir, statsCols = Seq("c_custkey"))
    }
    val v5Files = SnapshotLog.files(dir, Some(5))
    val data = dir.resolve("data")
    val sizes = v5Files.map(f => f -> Files.size(data.resolve(f))).toMap
    val largest = sizes.maxBy(_._2)._1
    val threshold = sizes(largest) // everything strictly smaller packs
    // a DV delete whose rows live in BOTH the large file and the smalls
    SnapshotLog.deleteWhere(spark, dir, col("c_custkey") % 7 === 3)
    val shaBefore = sha(data.resolve(largest))
    val before = SnapshotLog.read(spark, dir).collect().toSet
    val v7 = SnapshotLog.binPack(spark, dir, threshold, targetFileBytes = 1L << 30)
    assert(v7 == 7)
    val after = SnapshotLog.files(dir, Some(7))
    assert(after.contains(largest), "the large file must carry")
    assert(sha(data.resolve(largest)) == shaBefore, "carried = byte-identical")
    val rewritten = after.filterNot(_ == largest)
    assert(rewritten.nonEmpty && rewritten.size < 4,
      s"the four small files must pack into fewer (got ${rewritten.size})")
    assert(SnapshotLog.dvFiles(dir, Some(7)).nonEmpty,
      "DV files carry (large-file entries must keep filtering)")
    assert(SnapshotLog.read(spark, dir).collect().toSet == before,
      "bin-packing is a logical no-op over the live rows")
    // the rewritten files materialized their DV rows; the large file's
    // dead rows are still filtered by the carried DV
    val rewrittenRows = spark.read.parquet(
      rewritten.map(f => data.resolve(f).toString): _*)
    assert(rewrittenRows.filter(col("c_custkey") % 7 === 3).count() == 0,
      "small-file DV rows must materialize away in the rewrite")
    assert(SnapshotLog.read(spark, dir, Some(6)).collect().toSet == before,
      "the pre-pack version still reads")
    // fewer than two small files -> no-op, no version
    assert(SnapshotLog.binPack(spark, dir, 1L, 1L << 30) == 7)
    assert(SnapshotLog.orphans(dir).isEmpty)
  }

  test("compact with zorderBy is a logical no-op; the curve column never leaks") {
    val dir = Files.createTempDirectory("graft-snap")
    val cust = Tables.customer(spark, sf)
    SnapshotLog.commit(cust.repartition(4), dir,
      statsCols = Seq("c_custkey", "c_nationkey"))
    val before = SnapshotLog.read(spark, dir).collect().toSet
    val vZ = SnapshotLog.compact(spark, dir, targetFiles = 8,
      statsCols = Seq("c_custkey", "c_nationkey"),
      zorderBy = Seq("c_custkey", "c_nationkey"))
    assert(vZ == 2)
    val after = SnapshotLog.read(spark, dir)
    assert(!after.columns.contains("_graft_zv"),
      "the clustering helper column must not reach the committed files")
    assert(after.collect().toSet == before, "OPTIMIZE must be a logical no-op")
    assert(SnapshotLog.schemaOf(dir).get.fieldNames
      .sameElements(cust.schema.fieldNames))
    intercept[IllegalArgumentException](SnapshotLog.compact(spark, dir,
      targetFiles = 4, zorderBy = Seq("c_custkey"))) // curve is 2-D
  }

  test("two interleaved committers serialize: distinct versions, union lineage") {
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    val lo = nation.filter(col("n_nationkey") < 10)
    val hi = nation.filter(col("n_nationkey") >= 10)
    // genuinely concurrent commits against one log
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fLo = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = SnapshotLog.commit(lo, dir)
      })
      val fHi = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = SnapshotLog.commit(hi, dir)
      })
      val (vLo, vHi) = (fLo.get(), fHi.get())
      assert(Set(vLo, vHi) == Set(1, 2),
        s"racing writers must land on consecutive distinct versions, got $vLo/$vHi")
    } finally pool.shutdown()
    // the later version carries BOTH writers' rows (the loser re-read the
    // winner's manifest as its carry-over), and no data file was clobbered
    assert(SnapshotLog.read(spark, dir, Some(2)).count() == 25,
      "final lineage must be the union of both commits")
    assert(SnapshotLog.orphans(dir).isEmpty, "no orphaned or clobbered parts")
    val c1 = SnapshotLog.read(spark, dir, Some(1)).count()
    assert(c1 == 10 || c1 == 15, "v1 is exactly one writer's commit")
  }

  test("a delete that loses the publish race TWICE rebases twice; superseded rebase DVs orphan") {
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation, dir) // v1: keys 0..24
    def shifted(i: Int) =
      nation.withColumn("n_nationkey", col("n_nationkey") + lit(100 * i))
    // competitor appends land exactly in each CAS window (the
    // beforeAttempt seam fires immediately before each publish):
    // attempt 1's publish at vRead+1 loses to append A; attempt 2's
    // rebase publish loses to append B; attempt 3 rebases over BOTH
    // appends' files and wins — the loop's double-loss interleaving,
    // executed rather than reasoned.
    val v = SnapshotLog.deleteWhereHook(spark, dir,
      col("n_nationkey") % 2 === 0, () => (), {
        case 1 => SnapshotLog.commit(shifted(1), dir); ()
        case 2 => SnapshotLog.commit(shifted(2), dir); ()
        case _ => ()
      })
    assert(v == 4, "two lost races serialize the delete at v4")
    assert(SnapshotLog.versions(dir) == Seq(1, 2, 3, 4))
    // SQL semantics at the FINAL serialization point: evens dead in the
    // base and in both racing appends
    val got = SnapshotLog.read(spark, dir).select("n_nationkey")
      .collect().map(_.getAs[Number](0).longValue).toSet
    val want = (0 to 2).flatMap(i =>
      (0 until 25).collect { case k if k % 2 == 1 => 100L * i + k }).toSet
    assert(got == want, "base + both appends, predicate applied to all three")
    // both appends' own versions are untouched by the delete
    assert(SnapshotLog.read(spark, dir, Some(2)).count() == 50)
    assert(SnapshotLog.read(spark, dir, Some(3)).count() == 75)
    // attempt 2's rebase DV (covering append A only) was superseded by
    // attempt 3's — it must be an orphan, referenced by no manifest
    assert(SnapshotLog.orphans(dir).nonEmpty,
      "the superseded rebase DV is a vacuumable orphan")
    val (expired, deleted) = SnapshotLog.vacuum(dir, keepVersions = 4)
    assert(expired.isEmpty && deleted.nonEmpty,
      "vacuum reclaims the superseded rebase DV without expiring versions")
    assert(SnapshotLog.read(spark, dir).select("n_nationkey")
      .collect().map(_.getAs[Number](0).longValue).toSet == want)
  }

  // ------------------------------------------------- round 14: manifest
  // format member, per-file {size, rows} meta, file-granular rewrite races

  private def manifestJsonOf(dir: java.nio.file.Path, v: Int): String =
    Files.readString(dir.resolve("_graft_log").resolve(f"v$v%05d.json"))

  test("manifests stamp their format; a higher-format manifest fails loudly BY NAME") {
    val dir = Files.createTempDirectory("graft-snap")
    SnapshotLog.commit(Tables.region(spark, sf), dir)
    SnapshotLog.commit(Tables.region(spark, sf), dir)
    // FEATURE-GRANULAR stamps (round 15): only the manifests a format-2
    // reader genuinely cannot resolve — columnar-checkpoint pointers —
    // stamp 3; deltas (and legacy JSON checkpoints) keep stamping 2, so
    // stragglers fail exactly at the manifest needing the new decoder
    val f1 = org.json4s.jackson.JsonMethods.parse(manifestJsonOf(dir, 1)) \ "format"
    assert(f1 == org.json4s.JInt(3), s"v1 (columnar ckpt) stamps 3, got $f1")
    val f2 = org.json4s.jackson.JsonMethods.parse(manifestJsonOf(dir, 2)) \ "format"
    assert(f2 == org.json4s.JInt(2), s"v2 (a delta) stamps 2, got $f2")
    // a manifest from the future: the error must NAME the format, not
    // present as 'malformed manifest' (the round-13 failure shape)
    Files.writeString(dir.resolve("_graft_log").resolve("v00003.json"),
      """{"version":3,"format":99,"files":[]}""")
    val e = intercept[IllegalStateException](SnapshotLog.read(spark, dir))
    assert(e.getMessage.contains("format 99") &&
      e.getMessage.contains("up to 3"),
      s"unsupported-format error must name both versions: ${e.getMessage}")
  }

  /** Strip the `"meta"` member from every manifest — the surgical way to
    * simulate a pre-round-14 lineage for the fallback paths. */
  private def stripMeta(dir: java.nio.file.Path): Unit = {
    import org.json4s._
    SnapshotLog.versions(dir).foreach { v =>
      val p = dir.resolve("_graft_log").resolve(f"v$v%05d.json")
      val stripped = org.json4s.jackson.JsonMethods
        .parse(Files.readString(p)) match {
          case JObject(fields) => JObject(fields.filterNot(_._1 == "meta"))
          case other => other
        }
      // trailing space: even a manifest that had no meta member must
      // change bytes, or the content-addressed state memo legitimately
      // serves the pre-strip resolution for an unchanged delta leaf
      // (the documented rewrite-content-identical cache contract)
      Files.writeString(p,
        org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(stripped)) + " ")
    }
  }

  test("binPack's pack decision is metadata-only: zero FS stat calls; legacy lineages fall back") {
    val dir = Files.createTempDirectory("graft-snap")
    val cust = Tables.customer(spark, sf)
    // legacy-JSON checkpoints: stripMeta simulates a pre-round-14
    // lineage by surgically removing the "meta" member, which requires
    // the member to live in the JSON (a columnar sidecar keeps meta in
    // its own parquet column, out of the scalpel's reach)
    val oldCkpt = SnapshotLog.parquetCheckpoints
    SnapshotLog.parquetCheckpoints = false
    try {
    SnapshotLog.commit(cust.filter(col("c_custkey") % 5 =!= 0).coalesce(1),
      dir, statsCols = Seq("c_custkey"))
    (0 to 2).foreach { i =>
      SnapshotLog.commit(
        cust.filter(col("c_custkey") % 15 === (5 * i)).coalesce(1), dir,
        statsCols = Seq("c_custkey"))
    }
    val data = dir.resolve("data")
    val sizes = SnapshotLog.files(dir)
      .map(f => f -> Files.size(data.resolve(f))).toMap
    val threshold = sizes.values.max
    val before = SnapshotLog.read(spark, dir).count()
    val vP = SnapshotLog.binPack(spark, dir, threshold, 1L << 30)
    assert(SnapshotLog.lastPackFsStats.get() == 0,
      "a meta-complete lineage must decide the pack from the manifest alone")
    assert(SnapshotLog.read(spark, dir, Some(vP)).count() == before)
    // legacy lineage: no meta anywhere → the decision stats the filesystem
    stripMeta(dir)
    SnapshotLog.binPack(spark, dir, 1L, 1L << 30) // no-op pack, decision still runs
    assert(SnapshotLog.lastPackFsStats.get() == SnapshotLog.files(dir).size,
      "a meta-less lineage must fall back to one stat per manifest file")
    } finally SnapshotLog.parquetCheckpoints = oldCkpt
  }

  test("metadataCount is exact across appends, DV deletes, updates, and drops; meta-less lineages decline") {
    val dir = Files.createTempDirectory("graft-snap")
    val cust = Tables.customer(spark, sf)
    SnapshotLog.commit(cust.repartitionByRange(4, col("c_custkey")), dir,
      statsCols = Seq("c_custkey"))
    def checkExact(): Unit = {
      val meta = SnapshotLog.metadataCount(spark, dir)
      assert(meta.contains(SnapshotLog.read(spark, dir).count()),
        s"metadata count $meta must equal the scan count")
    }
    checkExact()                                              // plain commit
    SnapshotLog.commit(cust.filter(col("c_custkey") % 9 === 1)
      .withColumn("c_custkey", col("c_custkey") + lit(100000L)), dir)
    checkExact()                                              // append
    SnapshotLog.deleteWhere(spark, dir, col("c_custkey") % 7 === 3)
    checkExact()                                              // sparse DV
    SnapshotLog.updateWhere(spark, dir, col("c_custkey") % 11 === 5,
      Map("c_acctbal" -> (col("c_acctbal") + lit(1.0))))
    checkExact()                                              // DV + append
    SnapshotLog.deleteWhere(spark, dir, col("c_custkey") > 100000L)
    checkExact()                       // full-file drop → inert DV entries
    // a historical version stays exact too
    assert(SnapshotLog.metadataCount(spark, dir, Some(1))
      .contains(SnapshotLog.read(spark, dir, Some(1)).count()))
    stripMeta(dir)
    assert(SnapshotLog.metadataCount(spark, dir).isEmpty,
      "a lineage without complete per-file meta must decline, not guess")
  }

  test("binPack REBASES over a racing disjoint append: both land, large file carried") {
    val dir = Files.createTempDirectory("graft-snap")
    val data = dir.resolve("data")
    val cust = Tables.customer(spark, sf)
    SnapshotLog.commit(cust.filter(col("c_custkey") % 5 =!= 0).coalesce(1),
      dir, statsCols = Seq("c_custkey"))
    (0 to 2).foreach { i =>
      SnapshotLog.commit(
        cust.filter(col("c_custkey") % 15 === (5 * i)).coalesce(1), dir,
        statsCols = Seq("c_custkey"))
    }
    val v4Files = SnapshotLog.files(dir, Some(4))
    val sizes = v4Files.map(f => f -> Files.size(data.resolve(f))).toMap
    val largest = sizes.maxBy(_._2)._1
    val shaBefore = sha(data.resolve(largest))
    val baseCount = SnapshotLog.read(spark, dir).count()
    val racer = cust.filter(col("c_custkey") % 15 === 10)
      .withColumn("c_custkey", col("c_custkey") + lit(200000L))
    val racerCount = racer.count()
    var injected = false
    val vP = SnapshotLog.binPackHook(spark, dir, sizes(largest), 1L << 30,
      Seq.empty, beforeAttempt = n => if (n == 1) {
        SnapshotLog.commit(racer.coalesce(1), dir) // v5 — wins the race
        injected = true
      })
    assert(injected && vP == 6,
      s"the pack must rebase past the racing append and land at v6, got $vP")
    val after = SnapshotLog.files(dir, Some(vP))
    assert(after.contains(largest) && sha(data.resolve(largest)) == shaBefore,
      "the carried large file must survive the rebase byte-identical")
    assert(SnapshotLog.read(spark, dir, Some(vP)).count() ==
      baseCount + racerCount, "both sides' rows must land")
    assert(SnapshotLog.read(spark, dir, Some(vP))
      .filter(col("c_custkey") > 200000L).count() == racerCount,
      "the racing append's rows are all present after the rebase")
    // the rebase carried the winner's meta too: count stays metadata-only
    assert(SnapshotLog.metadataCount(spark, dir)
      .contains(baseCount + racerCount))
  }

  test("binPack ABORTS when the racing commit touched its read set; nothing published") {
    val dir = Files.createTempDirectory("graft-snap")
    val data = dir.resolve("data")
    val cust = Tables.customer(spark, sf)
    SnapshotLog.commit(cust.filter(col("c_custkey") % 5 =!= 0).coalesce(1),
      dir, statsCols = Seq("c_custkey"))
    (0 to 2).foreach { i =>
      SnapshotLog.commit(
        cust.filter(col("c_custkey") % 15 === (5 * i)).coalesce(1), dir,
        statsCols = Seq("c_custkey"))
    }
    val sizes = SnapshotLog.files(dir)
      .map(f => f -> Files.size(data.resolve(f))).toMap
    val largest = sizes.maxBy(_._2)._1
    // a key that lives in a SMALL file (%15==0 slice → not in the %5!=0
    // large slab): the racing delete's DV lands on a read-set file
    val smallKey = cust.filter(col("c_custkey") % 15 === 0)
      .agg(min(col("c_custkey"))).head().getLong(0)
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.binPackHook(spark, dir, sizes(largest), 1L << 30,
        Seq.empty, beforeAttempt = n => if (n == 1) {
          SnapshotLog.deleteWhere(spark, dir, col("c_custkey") === smallKey)
        })
    }
    // the delete won; the aborted pack left only vacuumable orphans
    assert(SnapshotLog.read(spark, dir)
      .filter(col("c_custkey") === smallKey).count() == 0)
    assert(SnapshotLog.orphans(dir).nonEmpty,
      "the aborted pack's staged outputs are orphans")
    SnapshotLog.vacuum(dir, keepVersions = 1)
    assert(SnapshotLog.orphans(dir).isEmpty)
  }

  test("compact REBASES over a racing append; merge rebases on key-disjoint appends and aborts on overlap") {
    // compact half
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation, dir, statsCols = Seq("n_nationkey"))
    SnapshotLog.deleteWhere(spark, dir, col("n_nationkey") % 5 === 0) // DVs
    val racer = nation.withColumn("n_nationkey", col("n_nationkey") + lit(100))
    val vC = SnapshotLog.compactHook(spark, dir, 1, Seq("n_nationkey"),
      Seq.empty, beforeAttempt = n => if (n == 1) {
        SnapshotLog.commit(racer, dir, statsCols = Seq("n_nationkey"))
      })
    assert(vC == 4, s"compact lands after the racing append, got $vC")
    assert(SnapshotLog.dvFiles(dir, Some(vC)).isEmpty,
      "the full rewrite drops its now-inert DVs even across a rebase")
    val got = SnapshotLog.read(spark, dir).select("n_nationkey")
      .collect().map(_.getAs[Number](0).longValue).toSet
    val want = (0 until 25).filter(_ % 5 != 0).map(_.toLong).toSet ++
      (0 until 25).map(_ + 100L)
    assert(got == want, "compacted survivors + the racer's appends")

    // merge half: key-disjoint racer rebases...
    val dir2 = Files.createTempDirectory("graft-snap")
    SnapshotLog.commit(nation.repartitionByRange(3, col("n_nationkey")),
      dir2, statsCols = Seq("n_nationkey"))
    val changes = nation.filter(col("n_nationkey") < 5)
      .withColumn("n_name", lit("MERGED")).withColumn("_deleted", lit(false))
    val vM = SnapshotLog.mergeHook(spark, dir2, changes, "n_nationkey",
      None, Seq("n_nationkey"), beforeAttempt = n => if (n == 1) {
        SnapshotLog.commit(racer, dir2, statsCols = Seq("n_nationkey")) // keys 100+
      })
    assert(vM == 3, s"merge lands after the key-disjoint append, got $vM")
    assert(SnapshotLog.read(spark, dir2).count() == 50)
    assert(SnapshotLog.read(spark, dir2)
      .filter(col("n_name") === "MERGED").count() == 5)
    // ...and a key-OVERLAPPING racer aborts (its appended envelope
    // contains changeset keys, so the serialized-later merge would have
    // had to upsert into the winner's rows)
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.mergeHook(spark, dir2, changes, "n_nationkey",
        None, Seq("n_nationkey"), beforeAttempt = n => if (n == 1) {
          SnapshotLog.commit(nation.filter(col("n_nationkey") < 3), dir2,
            statsCols = Seq("n_nationkey"))
        })
    }
  }

  test("partitioned commits record spec + per-file values; hostile values and nulls round-trip") {
    val dir = Files.createTempDirectory("graft-snap")
    import spark.implicits._
    val df = Seq(
      (1L, "a=b"), (2L, "a=b"), (3L, "c d"), (4L, "x%y/z"), (5L, null),
      (6L, "") // EMPTY STRING is a real value, distinct from null — the
               // hive layout writes the same marker for both, which the
               // commit's value prefix disambiguates
    ).toDF("id", "grp")
    SnapshotLog.commit(df.repartition(col("grp")), dir,
      partitionBy = Seq("grp"))
    assert(SnapshotLog.partitionColumns(dir) == Seq("grp"))
    val vals = SnapshotLog.partitionValuesOf(dir)
    assert(vals.nonEmpty && vals.values.map(_("grp")).toSet ==
      Set(Some("a=b"), Some("c d"), Some("x%y/z"), None, Some("")),
      s"hive escapes, the null partition, AND the empty string must " +
        s"round-trip distinctly: $vals")
    // the ORIGINAL column stays in the data — reads re-inject nothing
    assert(SnapshotLog.read(spark, dir).select("id", "grp")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSet ==
      Set((1L, Some("a=b")), (2L, Some("a=b")), (3L, Some("c d")),
        (4L, Some("x%y/z")), (5L, None), (6L, Some(""))))
    // a mutation on the EMPTY STRING must hit its file (conflating ""
    // with the null partition would prune it and silently no-op)
    assert(SnapshotLog.deleteWhere(spark, dir, col("grp") === "") > 1)
    assert(SnapshotLog.read(spark, dir).count() == 5 &&
      SnapshotLog.read(spark, dir).filter(col("id") === 6L).count() == 0,
      "the empty-string row must actually die")
    // partition-only pruning: exactly the a=b files are kept
    val (kept, skipped) = SnapshotLog.prunedFiles(dir,
      Seq("grp" -> SnapshotLog.PartIn(Set(Some("a=b")))))
    assert(kept.nonEmpty && skipped.nonEmpty &&
      kept.forall(f => vals(f)("grp").contains("a=b")))
    // a mutation on a partition value opens ONLY that partition's files
    // — composed into pruneForPredicate via the recorded values, no
    // statsCols needed on the string column
    SnapshotLog.deleteWhere(spark, dir, col("grp") === "c d")
    val scan = SnapshotLog.lastMutationScan.get()
    assert(scan._1 >= 1 && scan._1 < scan._2,
      s"partition-valued delete must open a strict file subset, got $scan")
    assert(SnapshotLog.read(spark, dir).count() == 4)
    // the null partition prunes under any value constraint (NULL is
    // never equal): the no-op delete publishes nothing
    val vBefore = SnapshotLog.versions(dir).last
    assert(SnapshotLog.deleteWhere(spark, dir,
      col("grp") === "no such value") == vBefore)
    assert(SnapshotLog.lastMutationScan.get()._1 == 0,
      "a never-matching partition value must prune every valued file")
    // NULL-PARTITION ADDRESSABILITY (round 15): the Option-valued filter
    // expresses "the null partition" — kept files are exactly the
    // null-partition ones, decided from the manifest alone
    val (keptNull, skippedNull) = SnapshotLog.prunedFiles(dir,
      Seq("grp" -> SnapshotLog.PartIn(Set(Option.empty[String]))))
    assert(keptNull.nonEmpty && skippedNull.nonEmpty &&
      keptNull.forall(f => SnapshotLog.partitionValuesOf(dir)(f)("grp").isEmpty),
      s"a null-partition read must open only null-partition files: $keptNull")
    // ... and mixed selections compose: null partition OR a value
    val (keptMix, _) = SnapshotLog.prunedFiles(dir,
      Seq("grp" -> SnapshotLog.PartIn(Set(Option.empty[String], Some("a=b")))))
    assert(keptMix.toSet ==
      (keptNull ++ SnapshotLog.prunedFiles(dir,
        Seq("grp" -> SnapshotLog.PartIn(Set(Some("a=b")))))._1).toSet)
    // an IS-NULL mutation on the partition column opens ONLY the null
    // partition's files — partition values decide null-ness outright,
    // no statsCols needed
    SnapshotLog.deleteWhere(spark, dir, col("grp").isNull)
    assert(SnapshotLog.lastMutationScan.get()._1 == keptNull.size,
      s"IS-NULL partition delete must scan only the null partition, " +
        s"got ${SnapshotLog.lastMutationScan.get()}")
    assert(SnapshotLog.read(spark, dir).filter(col("grp").isNull).count() == 0)
    assert(SnapshotLog.read(spark, dir).count() == 3)
  }

  test("the partition spec is table metadata: mismatched appends reject, unpartitioned appends degrade soundly") {
    val dir = Files.createTempDirectory("graft-snap")
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "grp")
    SnapshotLog.commit(df, dir, partitionBy = Seq("grp"))
    intercept[IllegalArgumentException] {
      SnapshotLog.commit(df, dir, partitionBy = Seq("id"))
    }
    // a CASE-VARIANT spelling of the same spec is the SAME spec under
    // the engine's case-insensitive resolution (the casing-alignment
    // rule partition metadata follows): accepted, recorded under the
    // table's spelling
    SnapshotLog.commit(Seq((10L, "c")).toDF("id", "GRP"), dir,
      partitionBy = Seq("GRP"))
    assert(SnapshotLog.partitionColumns(dir) == Seq("grp"),
      "the table owns the spec's casing")
    assert(SnapshotLog.partitionValuesOf(dir).values
      .exists(_.get("grp").contains(Some("c"))),
      "case-variant append's values land under the table spelling")
    // an unpartitioned append is legal: its files carry no values and
    // are never partition-pruned — conservative, still correct
    SnapshotLog.commit(Seq((3L, "a")).toDF("id", "grp"), dir)
    assert(SnapshotLog.partitionColumns(dir) == Seq("grp"),
      "the spec survives an unpartitioned append")
    val (kept, _) = SnapshotLog.prunedFiles(dir,
      Seq("grp" -> SnapshotLog.PartIn(Set(Some("b")))))
    // the unvalued append file must be KEPT (it might contain 'b')
    val vals = SnapshotLog.partitionValuesOf(dir)
    assert(kept.exists(f => !vals.contains(f)),
      "files without recorded values always read")
    assert(SnapshotLog.read(spark, dir).count() == 4)
    // overwrite re-layouts freely
    SnapshotLog.commit(df, dir, overwrite = true, partitionBy = Seq("id"))
    assert(SnapshotLog.partitionColumns(dir) == Seq("id"))
  }

  test("binPack packs WITHIN partitions: outputs keep their values, pruning survives maintenance") {
    val dir = Files.createTempDirectory("graft-snap")
    import spark.implicits._
    def slice(ids: Seq[(Long, String)]) =
      ids.toDF("id", "grp").repartition(col("grp"))
    SnapshotLog.commit(slice(Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "b"))),
      dir, partitionBy = Seq("grp"))
    SnapshotLog.commit(slice(Seq((5L, "a"), (6L, "b"))),
      dir, partitionBy = Seq("grp"))
    // ≥2 small files per value now; pack everything
    val before = SnapshotLog.files(dir).size
    val vP = SnapshotLog.binPack(spark, dir, 1L << 20, 1L << 30)
    assert(vP == 3)
    val files = SnapshotLog.files(dir)
    val vals = SnapshotLog.partitionValuesOf(dir)
    assert(files.size < before, "the pack actually packed")
    assert(files.forall(vals.contains),
      "per-partition packing must keep every output's partition values")
    val (keptA, skippedA) = SnapshotLog.prunedFiles(dir,
      Seq("grp" -> SnapshotLog.PartIn(Set(Some("a")))))
    assert(keptA.nonEmpty && skippedA.nonEmpty,
      "partition pruning still bites after maintenance")
    assert(SnapshotLog.read(spark, dir).count() == 6)
    // the kept files really are single-partition: reading only them
    // yields exactly the a-rows
    assert(SnapshotLog.read(spark, dir)
      .filter(col("grp") === "a").count() == 3)
    assert(SnapshotLog.metadataCount(spark, dir).contains(6L))
  }

  test("a delete REBASES over a candidate-disjoint racing bin-pack; aborts when the pack ate a candidate") {
    val dir = Files.createTempDirectory("graft-snap")
    val data = dir.resolve("data")
    val cust = Tables.customer(spark, sf)
    val mmRow = cust.agg(min(col("c_custkey")), max(col("c_custkey"))).head()
    val mid = mmRow.getLong(0) + (mmRow.getLong(1) - mmRow.getLong(0)) / 4
    // v1: one LARGE low-key slab; v2..v4: small high-key slices — the
    // delete below targets ONLY the slab, so a pack of the small tail is
    // provably disjoint from everything the delete read
    SnapshotLog.commit(cust.filter(col("c_custkey") <= mid).coalesce(1),
      dir, statsCols = Seq("c_custkey"))
    (0 to 2).foreach { i =>
      SnapshotLog.commit(cust.filter(col("c_custkey") > mid &&
        col("c_custkey") % 3 === i).coalesce(1),
        dir, statsCols = Seq("c_custkey"))
    }
    val files4 = SnapshotLog.files(dir)
    val sizes = files4.map(f => f -> Files.size(data.resolve(f))).toMap
    val largest = sizes.maxBy(_._2)._1 // the low-key slab
    val expect = cust.filter(
      !(col("c_custkey") <= mid && col("c_custkey") % 2 === 0)).count()
    var packedV = -1
    val vD = SnapshotLog.deleteWhereHook(spark, dir,
      col("c_custkey") <= mid && col("c_custkey") % 2 === 0,
      beforePublish = () => (),
      beforeAttempt = n => if (n == 1) {
        packedV = SnapshotLog.binPack(spark, dir, sizes(largest), 1L << 30)
      })
    assert(packedV == 5 && vD == 6,
      s"the pack (v$packedV) and the rebased delete (v$vD) must BOTH land")
    assert(SnapshotLog.read(spark, dir).count() == expect,
      "delete semantics exact across the candidate-disjoint rewrite")
    // the packed small tail replaced the original small files, and the
    // delete's DV still targets the carried slab
    val after = SnapshotLog.files(dir)
    assert(after.contains(largest) &&
      files4.filterNot(_ == largest).forall(f => !after.contains(f)))
    // inverse: a pack that eats a CANDIDATE file aborts the delete —
    // its (file, position) identities went stale
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.deleteWhereHook(spark, dir,
        col("c_custkey") > mid && col("c_custkey") % 5 === 1,
        beforePublish = () => (),
        beforeAttempt = n => if (n == 1) {
          // threshold above every file: packs the whole table incl. the
          // delete's high-key candidates
          SnapshotLog.binPack(spark, dir, Long.MaxValue, 1L << 30)
        })
    }
    // the abort left no partial state: the pack won, rows intact
    assert(SnapshotLog.read(spark, dir).count() == expect)
    SnapshotLog.vacuum(dir, keepVersions = 1)
    assert(SnapshotLog.read(spark, dir).count() == expect)
  }

  test("a LIVE two-thread delete-vs-ingest race: every row accounted at the serialization point") {
    val dir = Files.createTempDirectory("graft-snap")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation, dir) // v1
    def shifted(i: Int) =
      nation.withColumn("n_nationkey", col("n_nationkey") + lit(100 * i))
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val ingest = pool.submit(new java.util.concurrent.Callable[Seq[Int]] {
        def call(): Seq[Int] = {
          start.await()
          (1 to 4).map(i => SnapshotLog.commit(shifted(i), dir))
        }
      })
      val delete = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          SnapshotLog.deleteWhere(spark, dir, col("n_nationkey") % 2 === 0)
        }
      })
      start.countDown()
      val appendVs = ingest.get(300, java.util.concurrent.TimeUnit.SECONDS)
      val vD = delete.get(300, java.util.concurrent.TimeUnit.SECONDS)
      // five writers → five consecutive versions, wherever the delete
      // happened to serialize this run
      assert((appendVs :+ vD).sorted == Seq(2, 3, 4, 5, 6),
        s"appends $appendVs and delete $vD must serialize distinctly")
      // expected rows reconstructed from the REAL serialization order:
      // an append that published BEFORE the delete has the predicate
      // applied to its rows (rebase-over-appends semantics); an append
      // that published after keeps its evens
      val odd = (0 until 25).filter(_ % 2 == 1).map(_.toLong)
      val all = (0 until 25).map(_.toLong)
      val want = odd.toSet ++ appendVs.zipWithIndex.flatMap { case (av, idx) =>
        (if (av < vD) odd else all).map(_ + 100L * (idx + 1))
      }
      val got = SnapshotLog.read(spark, dir).select("n_nationkey")
        .collect().map(_.getAs[Number](0).longValue).toSet
      assert(got == want,
        s"both threads' rows accounted for (delete serialized at v$vD)")
      // whatever raced, nothing staged leaked: orphans are vacuumable
      // rebase leftovers only, and vacuuming them is read-invisible
      SnapshotLog.vacuum(dir, keepVersions = 1)
      assert(SnapshotLog.read(spark, dir).select("n_nationkey")
        .collect().map(_.getAs[Number](0).longValue).toSet == want)
    } finally pool.shutdown()
  }
  test("commit timestamps: boundary rule, monotonic adjustment, checkpoint carry, retention vacuum") {
    val dir = Files.createTempDirectory("graft-snap-ts")
    val nation = Tables.nation(spark, sf)
    val sys = SnapshotLog.clock
    try {
      @volatile var now = 0L
      SnapshotLog.clock = () => now
      now = 1000
      SnapshotLog.commit(nation.filter(col("n_nationkey") < 5), dir)      // v1
      now = 3000
      SnapshotLog.commit(
        nation.filter(col("n_nationkey").between(5, 9)), dir)             // v2
      now = 2000 // the wall clock STEPS BACKWARDS before v3
      SnapshotLog.commit(nation.filter(col("n_nationkey") >= 10), dir)    // v3
      // raw stamps 1000/3000/2000 adjust to effective 1000/3000/3000 —
      // non-decreasing in version order (Delta's rule)
      assert(SnapshotLog.commitTimestamps(dir).map(_._2) ==
        Seq(1000L, 3000L, 3000L))
      // boundary rule: the LATEST version at or before ts; an effective
      // tie resolves to the later version
      assert(SnapshotLog.versionAsOfTimestamp(dir, 1000) == 1)
      assert(SnapshotLog.versionAsOfTimestamp(dir, 2999) == 1)
      assert(SnapshotLog.versionAsOfTimestamp(dir, 3000) == 3)
      assert(SnapshotLog.versionAsOfTimestamp(dir, Long.MaxValue) == 3)
      intercept[IllegalArgumentException](
        SnapshotLog.versionAsOfTimestamp(dir, 999))
      assert(SnapshotLog.readAsOfTimestamp(spark, dir, 2500).count() == 5)
      // retention vacuum with the cutoff between v1 and v2: exactly v1
      // expires; the survivors materialize (their delta base just died)
      // and keep their ORIGINAL stamps through the checkpoint rewrite —
      // a re-stamp (or an mtime fallback) would shift resolution
      now = 10000
      val (expired, _) = SnapshotLog.vacuumRetain(dir, retainMillis = 8000)
      assert(expired == Seq(1))
      assert(SnapshotLog.versions(dir) == Seq(2, 3))
      assert(SnapshotLog.commitTimestamps(dir).map(_._2) ==
        Seq(3000L, 3000L))
      assert(SnapshotLog.read(spark, dir, Some(2)).count() == 10)
      assert(SnapshotLog.versionAsOfTimestamp(dir, 5000) == 3)
      // the table head NEVER expires, however stale
      now = 1000000
      assert(SnapshotLog.vacuumRetain(dir, retainMillis = 10)._1 == Seq(2))
      assert(SnapshotLog.versions(dir) == Seq(3))
      assert(SnapshotLog.read(spark, dir).count() == 25) // appends carry
    } finally SnapshotLog.clock = sys
  }
  test("the parallel footer harvest is elementwise identical to the sequential loop") {
    val dir = Files.createTempDirectory("graft-snap-harvest")
    val cust = Tables.customer(spark, sf)
    SnapshotLog.commit(cust.repartitionByRange(8, col("c_custkey")), dir,
      statsCols = Seq("c_custkey", "c_name"))
    val names = SnapshotLog.files(dir)
    assert(names.size >= 2, "the fixture must stage multiple files")
    val old = SnapshotLog.harvestParallelism
    def harvest(par: Int) = try {
      SnapshotLog.harvestParallelism = par
      SnapshotLog.harvestFiles(dir, names, Set("c_custkey", "c_name"))
    } finally SnapshotLog.harvestParallelism = old
    // the manifest is a deterministic function of (staged files, stats
    // cols, clock): with the harvest pinned identical IN ORDER, the
    // published bytes are the sequential loop's bytes
    assert(harvest(16) == harvest(1),
      "parallel harvest must reproduce the sequential result, in order")
    // and the committed manifest agrees with that harvest end to end
    val h = harvest(1)
    assert(SnapshotLog.metadataCount(spark, dir)
      .contains(h.map(_._2.meta.rows).sum))
    val hull = (h.map(_._2.stats("c_custkey")).collect {
      case graft.sources.SnapshotLog.IntEnv(lo, hi) => (lo, hi) })
    assert(SnapshotLog.metadataMinMax(dir, "c_custkey")
      .contains((hull.map(_._1).min, hull.map(_._2).max)))
  }
  test("IS NULL / IS NOT NULL mutations prune on recorded null counts; COUNT(col) answers from metadata") {
    val dir = Files.createTempDirectory("graft-snap-nulls")
    val nation = Tables.nation(spark, sf)
    // three one-file slabs of an optional column: all non-null (f1),
    // all null (f2), mixed (f3) — each file's null count lands in the
    // manifest next to its envelopes
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 8)
      .withColumn("opt", col("n_name")).coalesce(1),
      dir, statsCols = Seq("opt", "n_nationkey"))
    SnapshotLog.commit(nation.filter(col("n_nationkey").between(8, 15))
      .withColumn("opt", lit(null).cast("string")).coalesce(1),
      dir, statsCols = Seq("opt", "n_nationkey"))
    SnapshotLog.commit(nation.filter(col("n_nationkey") > 15)
      .withColumn("opt", when(col("n_nationkey") % 2 === 0, col("n_name")))
      .coalesce(1),
      dir, statsCols = Seq("opt", "n_nationkey"))
    // manifest-level decision, zero data reads: IS NULL skips the
    // null-free slab; IS NOT NULL skips the all-null slab (that one
    // needs the row meta too — nc == rows)
    val (keptN, skipN) = SnapshotLog.prunedFiles(dir,
      Seq("opt" -> SnapshotLog.NullIs(true)))
    assert(keptN.size == 2 && skipN.size == 1)
    val (keptNN, skipNN) = SnapshotLog.prunedFiles(dir,
      Seq("opt" -> SnapshotLog.NullIs(false)))
    assert(keptNN.size == 2 && skipNN.size == 1 && skipN != skipNN)
    // metadata-only COUNT(opt): rows minus null counts, no data read
    val expectNonNull = 8L + (16 to 24).count(_ % 2 == 0)
    assert(SnapshotLog.metadataCountCol(dir, "opt").contains(expectNonNull))
    // an IS-NOT-NULL mutation's policy scan opens only files that can
    // hold a non-null row (lastMutationScan pins the file counts)
    SnapshotLog.updateWhere(spark, dir, col("opt").isNotNull,
      Map("opt" -> upper(col("opt"))), statsCols = Seq("opt"))
    assert(SnapshotLog.lastMutationScan.get() == ((2, 3)))
    // under the update's DV the column count honestly declines
    assert(SnapshotLog.metadataCountCol(dir, "opt").isEmpty)
    // an IS-NULL delete skips the null-free files (f1 and the update's
    // appended all-non-null file)
    val totalFiles = SnapshotLog.files(dir).size // 3 + appended update files
    SnapshotLog.deleteWhere(spark, dir, col("opt").isNull)
    assert(SnapshotLog.lastMutationScan.get() == ((2, totalFiles)))
    assert(SnapshotLog.read(spark, dir).count() == expectNonNull)
    assert(SnapshotLog.read(spark, dir).filter(col("opt").isNull).count() == 0)
  }
  test("column mapping: rename/drop are metadata-only; re-adds never resurrect; rewrites carry the mapping") {
    val dir = Files.createTempDirectory("graft-snap-cm")
    // the testdata nation has 3 columns — synthesize the comment the
    // drop/re-add legs need
    val nation = Tables.nation(spark, sf)
      .withColumn("n_comment", concat(lit("c-"), col("n_name")))
    SnapshotLog.commit(nation.repartitionByRange(3, col("n_nationkey")),
      dir, statsCols = Seq("n_nationkey"))                            // v1
    val filesV1 = SnapshotLog.files(dir)
    // RENAME is metadata-only: same files, new logical schema, a
    // logical→physical mapping entry
    assert(SnapshotLog.renameColumn(dir, "n_nationkey", "nid") == 2)
    assert(SnapshotLog.files(dir) == filesV1, "rename must move no data")
    assert(SnapshotLog.schemaOf(dir).get.fieldNames.toSeq ==
      Seq("nid", "n_name", "n_regionkey", "n_comment"))
    assert(SnapshotLog.columnMapping(dir) == Map("nid" -> "n_nationkey"))
    // the OLD version keeps its old schema and values
    assert(SnapshotLog.schemaOf(dir, Some(1)).get.fieldNames
      .contains("n_nationkey"))
    assert(SnapshotLog.read(spark, dir, Some(1))
      .select("n_nationkey").collect().map(_.getAs[Number](0).longValue)
      .toSet == (0L until 25L).toSet)
    // envelope pruning works by the LOGICAL name across the rename
    // (rename re-keyed the committed stats)
    val (kept2, skipped2) = SnapshotLog.prunedFiles(dir,
      Seq("nid" -> SnapshotLog.IntRange(0, 5)))
    assert(kept2.nonEmpty && skipped2.nonEmpty)
    // an append under the new schema STAGES under the physical name
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 5)
      .select((col("n_nationkey") + 100).as("nid"), col("n_name"),
        col("n_regionkey"), col("n_comment")).coalesce(1),
      dir, statsCols = Seq("nid"))                                    // v3
    val newFile = SnapshotLog.files(dir).filterNot(filesV1.toSet)
    assert(newFile.size == 1)
    val rawNew = spark.read.parquet(
      dir.resolve("data").resolve(newFile.head).toString)
    assert(rawNew.schema.fieldNames.contains("n_nationkey") &&
      !rawNew.schema.fieldNames.contains("nid"),
      "staged files carry the PHYSICAL column name")
    // a keyed mutation on the logical name envelope-prunes to the new
    // file only and reads mapped values correctly
    SnapshotLog.deleteWhere(spark, dir,
      col("nid") >= 100 && col("nid") % 2 === 0)                      // v4
    assert(SnapshotLog.lastMutationScan.get() == ((1, 4)))
    assert(SnapshotLog.read(spark, dir).count() == 25 + 5 - 3)
    // DROP is metadata-only: the column leaves the schema, old versions
    // keep serving it, its physical name retires
    SnapshotLog.dropColumn(dir, "n_comment")                          // v5
    assert(!SnapshotLog.schemaOf(dir).get.fieldNames.contains("n_comment"))
    assert(SnapshotLog.read(spark, dir).columns.toSeq ==
      Seq("nid", "n_name", "n_regionkey"))
    assert(SnapshotLog.read(spark, dir, Some(3))
      .select("n_comment").count() == 30, "old versions keep the column")
    // HOSTILE: rename ONTO the dropped name — fine, distinct physical
    assert(SnapshotLog.renameColumn(dir, "n_regionkey", "n_comment") == 6)
    assert(SnapshotLog.columnMapping(dir) ==
      Map("nid" -> "n_nationkey", "n_comment" -> "n_regionkey"))
    val regionVals = SnapshotLog.read(spark, dir)
      .select(col("nid").cast("long"), col("n_comment").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(regionVals(7L) == nation.filter(col("n_nationkey") === 7)
      .select(col("n_regionkey").cast("long")).head.getLong(0),
      "the renamed-onto-dropped-name column serves the SOURCE's values")
    // HOSTILE: re-ADD a column whose name is physically in use — the
    // fresh-allocation rule; old files must read NULL, never the old
    // physical bytes
    SnapshotLog.commit(nation.filter(col("n_nationkey") === 9)
      .select((col("n_nationkey") + 200).as("nid"), col("n_name"),
        col("n_regionkey").as("n_comment"),
        lit("fresh").as("n_regionkey")).coalesce(1), dir)             // v7
    assert(SnapshotLog.columnMapping(dir)("n_regionkey")
      .startsWith("n_regionkey_p"),
      s"re-added column must get a FRESH physical name: " +
        s"${SnapshotLog.columnMapping(dir)}")
    val readded = SnapshotLog.read(spark, dir)
      .select(col("nid").cast("long"), col("n_regionkey"))
    assert(readded.filter(col("nid") === 209).head.getString(1) == "fresh")
    assert(readded.filter(col("nid") < 200)
      .filter(col("n_regionkey").isNotNull).count() == 0,
      "old files must NOT resurrect the retired physical column")
    // a REWRITE under the mapping stays value-identical and keeps it
    val before = SnapshotLog.read(spark, dir).collect().toSet
    SnapshotLog.compact(spark, dir, targetFiles = 2)                  // v8
    assert(SnapshotLog.read(spark, dir).collect().toSet == before)
    assert(SnapshotLog.columnMapping(dir)("nid") == "n_nationkey")
    // illegal moves fail loudly
    intercept[IllegalArgumentException](
      SnapshotLog.renameColumn(dir, "nid", "N_NAME")) // case-aliases
    intercept[IllegalArgumentException](
      SnapshotLog.dropColumn(dir, "ghost"))
    assert(SnapshotLog.orphans(dir).isEmpty)
  }
  test("a case-variant re-add of a retired column gets a fresh physical name too") {
    // Spark's default parquet field resolution is case-insensitive, so
    // 'Price' retired and 'price' re-added would alias in the scan —
    // the fresh-name allocation must test collisions case-insensitively
    val dir = Files.createTempDirectory("graft-snap-cmcase")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation
      .withColumn("Price", col("n_regionkey") + 1000), dir)          // v1
    SnapshotLog.dropColumn(dir, "Price")                             // v2
    SnapshotLog.commit(nation.withColumn("price", lit("new")), dir)  // v3
    assert(SnapshotLog.columnMapping(dir)("price").startsWith("price_p"),
      s"case-variant re-add must allocate fresh: " +
        s"${SnapshotLog.columnMapping(dir)}")
    val latest = SnapshotLog.read(spark, dir)
    assert(latest.count() == 50)
    assert(latest.filter(col("price").isNotNull).count() == 25 &&
      latest.filter(col("price") === "new").count() == 25,
      "old files must read NULL — never the retired Price bytes")
  }
}
