package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotLog

/** The delta-encoded manifest format (round 13 — the Delta-log
  * checkpoint idea over plain JSON): eligible versions publish only the
  * diff against v−1, every `checkpointEvery`-th version (and every
  * structural step: schema change, overwrite-shaped diff) publishes a
  * full checkpoint. The contract under test: RESOLUTION IS EXACT — a log
  * written with deltas reads identically, version for version, to one
  * written all-checkpoints — and vacuum can never strand a delta whose
  * base expired. */
class SnapshotDeltaSpec extends AnyFunSuite {
  import TestSession._

  private def withCheckpointEvery[A](k: Int)(f: => A): A = {
    val old = SnapshotLog.checkpointEvery
    SnapshotLog.checkpointEvery = k
    try f finally SnapshotLog.checkpointEvery = old
  }

  private def manifestJson(dir: java.nio.file.Path, v: Int): String =
    Files.readString(dir.resolve("_graft_log").resolve(f"v$v%05d.json"))

  // parse, don't substring: a checkpoint whose stats carry a column
  // literally named 'base' must not classify as a delta (advisor note)
  private def isDelta(dir: java.nio.file.Path, v: Int): Boolean =
    (org.json4s.jackson.JsonMethods.parse(manifestJson(dir, v)) \ "base")
      .isInstanceOf[org.json4s.JInt]

  /** The full write matrix against one log dir; returns the last version. */
  private def driveLifecycle(dir: java.nio.file.Path): Int = {
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 10).coalesce(1),
      dir, statsCols = Seq("n_nationkey"))                               // v1
    SnapshotLog.commit(
      nation.filter(col("n_nationkey").between(10, 19)).coalesce(1),
      dir, statsCols = Seq("n_nationkey"))                               // v2
    SnapshotLog.commit(nation.filter(col("n_nationkey") >= 20).coalesce(1),
      dir, statsCols = Seq("n_nationkey"))                               // v3
    SnapshotLog.deleteWhere(spark, dir, col("n_nationkey") % 3 === 0)    // v4
    SnapshotLog.updateWhere(spark, dir, col("n_nationkey") === 7,
      Map("n_regionkey" -> (col("n_regionkey") + lit(100))),
      statsCols = Seq("n_nationkey"))                                    // v5
    val changes = nation.filter(col("n_nationkey").isin(1, 2))
      .withColumn("n_regionkey",
        when(col("n_nationkey") === 1, lit(55)).otherwise(col("n_regionkey")))
      .withColumn("_deleted", col("n_nationkey") === 2)
      .unionByName(nation.filter(col("n_nationkey") === 4)
        .withColumn("n_nationkey", lit(99))
        .withColumn("_deleted", lit(false)))
    SnapshotLog.merge(spark, dir, changes, "n_nationkey",
      statsCols = Seq("n_nationkey"))                                    // v6
    SnapshotLog.compact(spark, dir, targetFiles = 1)                     // v7
  }

  test("a delta-encoded log resolves identically to an all-checkpoint twin, every version") {
    val full = Files.createTempDirectory("graft-delta-a")
    val delta = Files.createTempDirectory("graft-delta-b")
    val lastF = withCheckpointEvery(1)(driveLifecycle(full))
    val lastD = withCheckpointEvery(4)(driveLifecycle(delta))
    assert(lastF == 7 && lastD == 7)
    // the delta log actually used the format: appends/mutations encode as
    // deltas, the cadence version and the structural steps checkpoint
    assert(!isDelta(delta, 1), "v1 has no base — always a checkpoint")
    assert((2 to 3).forall(isDelta(delta, _)), "plain appends are deltas")
    assert(!isDelta(delta, 4), "v4 is the checkpointEvery cadence version")
    assert(isDelta(delta, 5) && isDelta(delta, 6),
      "MoR update and file-granular merge are deltas")
    assert(!isDelta(delta, 7), "compact rewrites everything — checkpoint")
    assert((1 to 7).forall(v => !isDelta(full, v)),
      "checkpointEvery=1 must reproduce the pre-round-13 format exactly")
    // resolution contract: every version reads identically on both logs
    (1 to 7).foreach { v =>
      val a = SnapshotLog.read(spark, full, Some(v)).collect().toSet
      val b = SnapshotLog.read(spark, delta, Some(v)).collect().toSet
      assert(a == b, s"version $v diverged between delta and checkpoint logs")
      assert(SnapshotLog.schemaOf(full, Some(v)).map(_.json) ==
        SnapshotLog.schemaOf(delta, Some(v)).map(_.json))
    }
    // the change feed crosses delta boundaries identically (file names
    // differ per log — compare the logical change rows)
    def cdf(d: java.nio.file.Path) =
      SnapshotLog.readChangesCdf(spark, d, 1, 6).collect().toSet
    assert(cdf(full) == cdf(delta))
    // a delta manifest is small: the v5 MoR update touched one file of
    // three — its delta must be well under its own v4 checkpoint's bytes
    assert(manifestJson(delta, 5).length < manifestJson(delta, 4).length,
      "a sparse mutation's delta manifest must be smaller than a checkpoint")
    assert(SnapshotLog.orphans(full).isEmpty && SnapshotLog.orphans(delta).isEmpty)
  }

  test("vacuum materializes a surviving delta whose base expires; chains above it keep working") {
    val dir = Files.createTempDirectory("graft-delta-v")
    withCheckpointEvery(100) {
      val nation = Tables.nation(spark, sf)
      (0 until 5).foreach { i =>
        SnapshotLog.commit(nation.filter(col("n_nationkey") % 5 === i)
          .coalesce(1), dir)                                      // v1..v5
      }
      assert((2 to 5).forall(isDelta(dir, _)))
      val (expired, _) = SnapshotLog.vacuum(dir, keepVersions = 2)
      assert(expired == Seq(1, 2, 3))
      // v4's base (v3) expired → v4 was materialized as a checkpoint;
      // v5's base (v4) survives → v5 stays a delta and still resolves
      assert(!isDelta(dir, 4), "the oldest kept version must checkpoint")
      assert(isDelta(dir, 5), "a delta on a surviving base needs no rewrite")
      assert(SnapshotLog.read(spark, dir, Some(4)).count() == 20)
      assert(SnapshotLog.read(spark, dir, Some(5)).count() == 25)
      assert(SnapshotLog.orphans(dir).isEmpty)
      // expiring down to one version materializes the last delta too
      SnapshotLog.vacuum(dir, keepVersions = 1)
      assert(!isDelta(dir, 5))
      assert(SnapshotLog.read(spark, dir).count() == 25)
      // sidecar hygiene: expired versions took their sidecars along;
      // every sidecar on disk is referenced by a surviving manifest
      // (unreferenced YOUNG debris would survive the grace window, but
      // this lineage crashed nothing)
      import scala.jdk.CollectionConverters._
      val logd = dir.resolve("_graft_log")
      val st = Files.list(logd)
      val sidecars = try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".ckpt.parquet")).toSet finally st.close()
      val referenced = SnapshotLog.versions(dir).flatMap { v =>
        org.json4s.jackson.JsonMethods.parse(manifestJson(dir, v)) \ "ckpt" match {
          case org.json4s.JString(n) => Some(n)
          case _ => None
        }
      }.toSet
      assert(sidecars == referenced,
        s"on-disk sidecars $sidecars must equal referenced $referenced")
    }
  }

  test("commit metadata is O(changed files) at file-count scale: one append to a 10k-file table costs bytes") {
    val dir = Files.createTempDirectory("graft-delta-m")
    Files.createDirectories(dir.resolve("_graft_log"))
    withCheckpointEvery(10) {
      // synthesize the manifest layer directly (tryPublishManifest is the
      // format; no data files needed to measure metadata cost)
      val tenK = (0 until 10000).map(i => f"c00001-aaaaaaaa-$i%05d.parquet")
      assert(SnapshotLog.tryPublishManifest(dir, 1, tenK))       // checkpoint
      assert(SnapshotLog.tryPublishManifest(dir, 2,
        tenK :+ "c00002-bbbbbbbb-00000.parquet"))                // delta
      // round 15: the checkpoint's O(files) payload lives in a COLUMNAR
      // parquet sidecar; the JSON manifest is a small pointer. The cost
      // accounting is pointer + sidecar — still honestly O(files), but
      // compressed columns instead of a megabyte of driver-parsed JSON
      val ptrJson = org.json4s.jackson.JsonMethods.parse(manifestJson(dir, 1))
      val sidecar = (ptrJson \ "ckpt") match {
        case org.json4s.JString(n) => n
        case other => fail(s"v1 must point at a parquet sidecar, got $other")
      }
      val ptrBytes = manifestJson(dir, 1).length
      val sidecarBytes =
        Files.size(dir.resolve("_graft_log").resolve(sidecar))
      val deltaBytes = manifestJson(dir, 2).length
      assert(isDelta(dir, 2) && !isDelta(dir, 1))
      assert(ptrBytes < 400,
        s"the 10k-file checkpoint's JSON pointer must stay small: $ptrBytes B")
      // the sidecar carries the full 10k-row payload (zstd crushes these
      // synthetic near-identical names ~40×, so a byte floor would pin
      // the codec, not the format — row count is the honest invariant,
      // asserted via the 10,001-file resolution below); it must still
      // dwarf the one-file delta
      assert(sidecarBytes > 10L * deltaBytes,
        s"the sidecar is the O(files) payload: $sidecarBytes B vs " +
          s"delta $deltaBytes B")
      assert(deltaBytes < 200,
        s"appending ONE file to a 10k-file table must cost bytes of " +
          s"manifest, got $deltaBytes B")
      // resolution returns the exact 10,001-file sequence
      assert(SnapshotLog.files(dir, Some(2)).size == 10001)
      assert(SnapshotLog.files(dir, Some(2)).last ==
        "c00002-bbbbbbbb-00000.parquet")
    }
  }

  test("a delta whose base manifest was externally deleted fails loudly, never silently") {
    val dir = Files.createTempDirectory("graft-delta-x")
    withCheckpointEvery(100) {
      val nation = Tables.nation(spark, sf)
      SnapshotLog.commit(nation.filter(col("n_nationkey") < 10), dir)  // v1
      SnapshotLog.commit(nation.filter(col("n_nationkey") >= 10), dir) // v2 delta
      assert(isDelta(dir, 2))
      // an external actor (NOT vacuum, which materializes first) deletes
      // the base — resolution must throw, not fabricate a partial state
      Files.delete(dir.resolve("_graft_log").resolve("v00001.json"))
      intercept[Exception](SnapshotLog.read(spark, dir, Some(2)).count())
    }
  }

  test("a LIVE two-thread merge-vs-merge race: exactly one copy-on-write wins, no rows lost") {
    val dir = Files.createTempDirectory("graft-delta-mm")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation.repartitionByRange(4, col("n_nationkey")),
      dir, statsCols = Seq("n_nationkey"))                             // v1
    def changes(bump: Int) = nation.filter(col("n_nationkey") < 5)
      .withColumn("n_regionkey", col("n_regionkey") + lit(bump))
      .withColumn("_deleted", lit(false))
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      def mergeTask(bump: Int) =
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, Int]] {
          def call(): Either[Throwable, Int] = {
            start.await()
            try Right(SnapshotLog.merge(spark, dir, changes(bump),
              "n_nationkey", statsCols = Seq("n_nationkey")))
            catch { case e: java.util.ConcurrentModificationException =>
              Left(e) }
          }
        })
      val (fa, fb) = (mergeTask(100), mergeTask(200))
      start.countDown()
      val results = Seq(fa, fb)
        .map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      val wins = results.collect { case Right(v) => v }
      // a merge is a CONDITIONAL copy-on-write: when both raced the same
      // version, exactly one serializes and the loser aborts rather than
      // publishing a rewrite computed from a superseded file set; when
      // the timing happened to serialize them, both land (the second
      // merge's upsert replaces the first's rows — CDC semantics)
      assert(wins.nonEmpty, "at least one merge must commit")
      assert(SnapshotLog.read(spark, dir).count() == nation.count(),
        "no base rows may be lost to the race")
      if (results.exists(_.isLeft)) {
        assert(wins.size == 1 && SnapshotLog.versions(dir).last == 2,
          "the losing copy-on-write must abort without publishing")
      } else {
        assert(SnapshotLog.versions(dir) == Seq(1, 2, 3),
          "serialized merges land on consecutive versions")
        assert(SnapshotLog.orphans(dir).isEmpty,
          "no aborts → no staged debris")
      }
    } finally pool.shutdown()
  }

  test("a log directory deleted and re-created at the same path never serves the dead lineage") {
    val dir = Files.createTempDirectory("graft-delta-r")
    val region = Tables.region(spark, sf)
    SnapshotLog.commit(region, dir)
    val firstFiles = SnapshotLog.files(dir).toSet
    assert(SnapshotLog.read(spark, dir).count() == region.count())
    // wipe and rebuild the SAME path — same version, and the manifest's
    // byte count is plausibly identical (file names differ only in their
    // fixed-width random token), so a size-only cache key would hit
    def wipe(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(q => Files.deleteIfExists(q))
    }
    wipe(dir)
    Files.createDirectories(dir)
    SnapshotLog.commit(region, dir)
    val secondFiles = SnapshotLog.files(dir).toSet
    assert(secondFiles != firstFiles,
      "fresh lineage must list its own (token-distinct) files")
    assert(SnapshotLog.read(spark, dir).count() == region.count(),
      "reads must resolve the NEW lineage, never cached dead state")
    // a follow-up append must carry the new lineage's files, not phantoms
    SnapshotLog.commit(region, dir)
    assert(SnapshotLog.files(dir).toSet.intersect(firstFiles).isEmpty)
    assert(SnapshotLog.read(spark, dir).count() == 2 * region.count())
    assert(SnapshotLog.orphans(dir).isEmpty)
  }

  test("a long-range CDF scan resolves in ONE forward pass: O(range) manifest reads, fold still exact") {
    val dir = Files.createTempDirectory("graft-delta")
    val nation = Tables.nation(spark, sf)
    withCheckpointEvery(10) {
      (0 until 30).foreach { i =>
        SnapshotLog.commit(
          nation.filter(col("n_nationkey") === (i % 25)).coalesce(1), dir)
      }
      SnapshotLog.deleteWhere(spark, dir, col("n_nationkey") === 0) // v31
      val range = SnapshotLog.versions(dir)
      val before = SnapshotLog.manifestReads.get()
      val cdf = SnapshotLog.readChangesCdf(spark, dir, 1, range.last)
      val metaReads = SnapshotLog.manifestReads.get() - before
      // single-pass contract: one read per range version plus the first
      // version's chain walk (bounded by the checkpoint interval) — the
      // per-step stateOf form costs ~2× the range even on memo hits, and
      // O(range × chain) when the range overflows the memo
      assert(metaReads <= range.size + SnapshotLog.checkpointEvery + 2,
        s"CDF over ${range.size} versions cost $metaReads manifest reads")
      // and the forward-carried states still fold exactly
      val ins = cdf.filter(col("_change_type") === "insert").count()
      val del = cdf.filter(col("_change_type") === "delete").count()
      assert(SnapshotLog.read(spark, dir, Some(1)).count() + ins - del ==
        SnapshotLog.read(spark, dir).count(),
        "snapshot(from) + inserts − deletes must equal snapshot(to)")
    }
  }

  test("txn idempotency and schema evolution cross the delta format") {
    val dir = Files.createTempDirectory("graft-delta-t")
    withCheckpointEvery(100) {
      val nation = Tables.nation(spark, sf)
      SnapshotLog.commit(nation.filter(col("n_nationkey") < 20), dir)   // v1
      val v2 = SnapshotLog.commit(nation.filter(col("n_nationkey") >= 20),
        dir, txnId = Some("batch-42"))                                  // v2 delta
      assert(v2 == 2 && isDelta(dir, 2))
      // replay: the txn key reads off the delta manifest directly
      assert(SnapshotLog.commit(nation.filter(col("n_nationkey") >= 20),
        dir, txnId = Some("batch-42")) == 2, "txn replay across a delta")
      assert(SnapshotLog.versions(dir) == Seq(1, 2))
      // ADD-COLUMN evolution publishes a new schema → always a checkpoint
      val v3 = SnapshotLog.commit(
        nation.filter(col("n_nationkey") === 0)
          .withColumn("extra", lit(7)), dir)
      assert(v3 == 3 && !isDelta(dir, 3),
        "a schema step must checkpoint — deltas inherit their base's schema")
      val latest = SnapshotLog.read(spark, dir)
      assert(latest.columns.contains("extra"))
      assert(latest.filter(col("extra").isNull).count() == 25,
        "old files null-fill the added column through the delta chain")
    }
  }
  test("columnar checkpoints resolve LAZILY: each consumer decodes exactly its own sidecar columns, once") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-delta-lz")
    withCheckpointEvery(1) { // every version a (columnar) checkpoint
      val nation = Tables.nation(spark, sf)
      SnapshotLog.commit(nation.repartitionByRange(2, col("n_nationkey")),
        dir, statsCols = Seq("n_nationkey"))
    }
    def reads(): Seq[String] = {
      val r = SnapshotLog.ckptProjections.asScala.toSeq
      SnapshotLog.ckptProjections.clear()
      r
    }
    reads() // drain anything earlier suites left behind
    // a plain snapshot read decodes ONLY the file spine — never the
    // stats/meta/part/nulls columns (the columnar form's whole point:
    // resolving a million-file table for a scan costs the name column,
    // not the per-file statistics payload)
    assert(SnapshotLog.read(spark, dir).count() == 25)
    assert(reads() == Seq("f,kind"),
      "a snapshot read must decode only the spine")
    // pruning decodes exactly the stats column (state is memoized, so
    // no spine re-read either)
    val (kept, skipped) = SnapshotLog.prunedFiles(dir,
      Seq("n_nationkey" -> SnapshotLog.IntRange(0, 5)))
    assert(kept.nonEmpty && skipped.nonEmpty)
    assert(reads() == Seq("f,stats"),
      "envelope pruning must decode exactly the stats column")
    // the metadata count decodes exactly the meta columns
    assert(SnapshotLog.metadataCount(spark, dir).contains(25L))
    assert(reads() == Seq("f,size,rows"),
      "metadataCount must decode exactly the size/rows columns")
    // every member is memoized: a second touch decodes nothing
    SnapshotLog.prunedFiles(dir, Seq("n_nationkey" -> SnapshotLog.IntRange(0, 5)))
    SnapshotLog.metadataCount(spark, dir)
    assert(reads().isEmpty, "forced members memoize — no re-decode")
  }

  test("the two checkpoint encodings are read-equivalent over the full write matrix") {
    val json = Files.createTempDirectory("graft-delta-ej")
    val parq = Files.createTempDirectory("graft-delta-ep")
    val oldCkpt = SnapshotLog.parquetCheckpoints
    val lastJ = try {
      SnapshotLog.parquetCheckpoints = false
      withCheckpointEvery(4)(driveLifecycle(json))
    } finally SnapshotLog.parquetCheckpoints = oldCkpt
    val lastP = withCheckpointEvery(4)(driveLifecycle(parq))
    assert(lastJ == lastP)
    (1 to lastJ).foreach { v =>
      assert(SnapshotLog.read(spark, json, Some(v)).collect().toSet ==
        SnapshotLog.read(spark, parq, Some(v)).collect().toSet,
        s"version $v diverged between the JSON and parquet checkpoint forms")
      assert(SnapshotLog.schemaOf(json, Some(v)).map(_.json) ==
        SnapshotLog.schemaOf(parq, Some(v)).map(_.json))
    }
    def cdf(d: java.nio.file.Path) =
      SnapshotLog.readChangesCdf(spark, d, 1, lastJ).collect().toSet
    assert(cdf(json) == cdf(parq))
    assert(SnapshotLog.metadataCount(spark, json) ==
      SnapshotLog.metadataCount(spark, parq))
    assert(SnapshotLog.orphans(json).isEmpty && SnapshotLog.orphans(parq).isEmpty)
  }
  test("an append to a columnar-checkpoint base never decodes the base's per-file members") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-delta-ad")
    val nation = Tables.nation(spark, sf)
    withCheckpointEvery(10) {
      SnapshotLog.commit(nation.filter(col("n_nationkey") < 10).coalesce(1),
        dir, statsCols = Seq("n_nationkey"))                          // v1 ckpt
      SnapshotLog.commit(
        nation.filter(col("n_nationkey").between(10, 14)).coalesce(1),
        dir, statsCols = Seq("n_nationkey"))                          // v2 delta
      // cold memo: the next commit must re-resolve the base chain —
      // and do it from the SPINE alone (round 15: an append's metadata
      // cost is O(delta); forcing the base's stats/meta/part/nulls
      // would re-open the read-side wall on every write)
      SnapshotLog.clearStateCache()
      SnapshotLog.ckptProjections.clear()
      SnapshotLog.commit(
        nation.filter(col("n_nationkey") > 14).coalesce(1),
        dir, statsCols = Seq("n_nationkey"))                          // v3 delta
      val reads = SnapshotLog.ckptProjections.asScala.toSeq
      assert(reads.nonEmpty && reads.forall(_ == "f,kind"),
        s"an append must decode only the base checkpoint's spine: $reads")
      // ... and the published delta still resolves exactly
      assert(SnapshotLog.read(spark, dir).count() == 25)
      val (kept, skipped) = SnapshotLog.prunedFiles(dir,
        Seq("n_nationkey" -> SnapshotLog.IntRange(0, 5)))
      assert(kept.nonEmpty && skipped.nonEmpty,
        "the direct-encoded delta must carry the new files' envelopes")
      assert(SnapshotLog.metadataCount(spark, dir).contains(25L))
    }
  }
}
