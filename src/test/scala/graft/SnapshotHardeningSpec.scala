package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotLog

/** Round-16 hardening battery for the snapshot log: timestamp
  * preservation through vacuum's checkpoint materialization on LEGACY
  * (un-stamped) manifests, the clock-seam sidecar-debris grace window,
  * the reader-vs-vacuum lazy-member fallback, and the harvest
  * concurrency bound. */
class SnapshotHardeningSpec extends AnyFunSuite {
  import TestSession._
  import scala.jdk.CollectionConverters._

  private def logDir(dir: Path): Path = dir.resolve("_graft_log")
  private def manifest(dir: Path, v: Int): Path =
    logDir(dir).resolve(f"v$v%05d.json")
  private def sidecars(dir: Path): Set[String] = {
    val s = Files.list(logDir(dir))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".ckpt.parquet")).toSet
    finally s.close()
  }

  /** Make a manifest LEGACY: strip its "ts" stamp and pin its mtime —
    * the pre-round-15 shape commitTimestamps falls back to mtime for. */
  private def stripTs(dir: Path, v: Int, mtime: Long): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val p = manifest(dir, v)
    val j = JsonMethods.parse(Files.readString(p)) match {
      case JObject(fields) => JObject(fields.filterNot(_._1 == "ts"))
      case other => other
    }
    Files.writeString(p, JsonMethods.compact(JsonMethods.render(j)))
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
    ()
  }

  test("vacuum materialization preserves LEGACY manifests' effective timestamps (stamps the original mtime)") {
    val root = Files.createTempDirectory("graft-hard1")
    val dir = root.resolve("t")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 5)
      .coalesce(1), dir)                                            // v1
    SnapshotLog.commit(nation.filter(col("n_nationkey").between(5, 9))
      .coalesce(1), dir)                                            // v2
    SnapshotLog.commit(nation.filter(col("n_nationkey") >= 10)
      .coalesce(1), dir)                                            // v3
    // v1 and v2 become legacy (no "ts"; effective stamp = file mtime)
    val t0 = System.currentTimeMillis() - 10000000L
    stripTs(dir, 1, t0 + 1000)
    stripTs(dir, 2, t0 + 2000)
    SnapshotLog.clearStateCache()
    val before = SnapshotLog.commitTimestamps(dir).toMap
    assert(before(1) == t0 + 1000 && before(2) == t0 + 2000)
    // expire v1: v2 — a LEGACY delta on the expired base — must
    // materialize carrying its ORIGINAL mtime as the stamp; otherwise
    // the fresh rewrite's mtime (vacuum wall time) lifts v2 AND, by
    // monotonic adjustment, shifts TIMESTAMP AS OF under the caller
    val (expired, _) = SnapshotLog.vacuum(dir, keepVersions = 2)
    assert(expired == Seq(1))
    SnapshotLog.clearStateCache()
    val after = SnapshotLog.commitTimestamps(dir).toMap
    assert(after(2) == before(2) && after(3) == before(3),
      s"materialization must not shift effective stamps: $before -> $after")
    assert(SnapshotLog.versionAsOfTimestamp(dir, before(2)) == 2)
  }

  test("unreferenced sidecar debris reaps only past the CLOCK-SEAM grace window; referenced sidecars always survive") {
    val root = Files.createTempDirectory("graft-hard2")
    val dir = root.resolve("t")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation.coalesce(1), dir,
      statsCols = Seq("n_nationkey"))               // v1 = checkpoint
    val referenced = sidecars(dir)
    assert(referenced.size == 1, s"v1 must carry a sidecar: $referenced")
    val aged = logDir(dir).resolve("v00099-deadbeef.ckpt.parquet")
    val young = logDir(dir).resolve("v00099-cafebabe.ckpt.parquet")
    Files.writeString(aged, "debris")
    Files.writeString(young, "debris")
    val now = System.currentTimeMillis()
    Files.setLastModifiedTime(aged, FileTime.fromMillis(now - 16L * 60 * 1000))
    Files.setLastModifiedTime(young, FileTime.fromMillis(now - 60 * 1000))
    val sysClock = SnapshotLog.clock
    val sysGrace = SnapshotLog.sidecarGraceMillis
    try {
      // a frozen clock AT the debris' birth reaps nothing (the round-15
      // wall-clock read made this window untestable)
      SnapshotLog.clock = () => now - 16L * 60 * 1000
      SnapshotLog.vacuum(dir, keepVersions = 1)
      assert(Files.exists(aged) && Files.exists(young))
      // at 'now': the 16-minute-old debris is past the 15-minute grace
      // and reaps; the 1-minute-old (a possibly in-flight publish) and
      // the REFERENCED sidecar survive
      SnapshotLog.clock = () => now
      SnapshotLog.vacuum(dir, keepVersions = 1)
      assert(!Files.exists(aged), "aged debris must reap")
      assert(Files.exists(young), "in-grace debris must survive")
      assert(sidecars(dir).contains(referenced.head),
        "the referenced sidecar must survive every vacuum")
      // the window is configurable: under a 1 h grace the same 16-min
      // age survives
      SnapshotLog.sidecarGraceMillis = 60L * 60 * 1000
      Files.setLastModifiedTime(young,
        FileTime.fromMillis(now - 16L * 60 * 1000))
      SnapshotLog.vacuum(dir, keepVersions = 1)
      assert(Files.exists(young), "a widened grace must protect it")
    } finally {
      SnapshotLog.clock = sysClock
      SnapshotLog.sidecarGraceMillis = sysGrace
      Files.deleteIfExists(young); ()
    }
  }

  test("a state held across a concurrent vacuum re-resolves its lazy members instead of failing on the expired base") {
    val root = Files.createTempDirectory("graft-hard3")
    val dir = root.resolve("t")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 5).coalesce(1),
      dir, statsCols = Seq("n_nationkey"))          // v1 = checkpoint
    SnapshotLog.commit(nation.filter(col("n_nationkey").between(5, 9))
      .coalesce(1), dir, statsCols = Seq("n_nationkey"))   // v2 delta
    SnapshotLog.commit(nation.filter(col("n_nationkey") >= 10)
      .coalesce(1), dir, statsCols = Seq("n_nationkey"))   // v3 delta
    SnapshotLog.clearStateCache()
    val truth = SnapshotLog.resolveThenForceStats(dir, 3)(() => ())
    assert(truth.nonEmpty && truth.values.forall(_.contains("n_nationkey")))
    val preSidecars = sidecars(dir)
    SnapshotLog.clearStateCache()
    val raced = SnapshotLog.resolveThenForceStats(dir, 3) { () =>
      // the held state's thunks are now private copies (another
      // reader/JVM's view); the vacuum expires v1+v2, deletes v1's
      // sidecar, and rewrites v3 as a standalone checkpoint
      SnapshotLog.clearStateCache()
      val (expired, _) = SnapshotLog.vacuum(dir, keepVersions = 1)
      assert(expired == Seq(1, 2))
      assert(preSidecars.intersect(sidecars(dir)).isEmpty,
        "the expired base's sidecar must really be gone")
    }
    assert(raced == truth,
      "the vacuum-raced force must re-resolve the rewritten manifest")
  }

  test("the executor-side harvest is elementwise-identical to the driver pool and feeds pruning end to end") {
    val root = Files.createTempDirectory("graft-hard5")
    val dir = root.resolve("t")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation.repartition(8), dir)
    val names = SnapshotLog.files(dir)
    val oldThr = SnapshotLog.harvestDistributeThreshold
    try {
      // forced JOB path vs forced POOL path: same files, same results,
      // same order — the published manifest is path-independent
      SnapshotLog.harvestDistributeThreshold = 1
      val job = SnapshotLog.harvestFiles(dir, names,
        Set("n_nationkey"), Some(spark))
      SnapshotLog.harvestDistributeThreshold = Int.MaxValue
      val pool = SnapshotLog.harvestFiles(dir, names,
        Set("n_nationkey"), Some(spark))
      assert(job == pool, "executor harvest must equal the driver pool")
      assert(job.map(_._1) == names, "input order must be preserved")
      // end to end: a commit whose harvest ran as a Spark job still
      // prunes from its envelopes
      SnapshotLog.harvestDistributeThreshold = 1
      val dir2 = root.resolve("t2")
      SnapshotLog.commit(nation.repartitionByRange(4, col("n_nationkey")),
        dir2, statsCols = Seq("n_nationkey"))
      val (kept, pruned) = SnapshotLog.prunedFiles(dir2,
        Seq("n_nationkey" -> SnapshotLog.IntRange(0L, 2L)))
      val total = SnapshotLog.files(dir2).size
      assert(kept.size < total && kept.nonEmpty && pruned.nonEmpty,
        s"job-harvested envelopes must prune: ${kept.size} of $total")
    } finally SnapshotLog.harvestDistributeThreshold = oldThr
  }

  test("inventory: a DataFrame over the checkpoint sidecar + delta adjustments, equal to the driver-resolved truth") {
    val root = Files.createTempDirectory("graft-hard6")
    val dir = root.resolve("t")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation.filter(col("n_nationkey") < 15)
      .repartition(3), dir, statsCols = Seq("n_nationkey"))   // v1 ckpt
    SnapshotLog.commit(nation.filter(col("n_nationkey") >= 15)
      .repartition(2), dir)                                   // v2 delta
    SnapshotLog.deleteWhere(spark, dir,
      col("n_nationkey") % 6 === 1)                           // v3 DV
    def check(asOf: Option[Int]): Unit = {
      val inv = SnapshotLog.inventory(spark, dir, asOf).collect()
      val data = inv.filter(_.getString(1) == "data")
      assert(data.map(_.getString(0)).toSet ==
        SnapshotLog.files(dir, asOf).toSet,
        s"data membership must match at $asOf")
      assert(inv.filter(_.getString(1) == "dv").map(_.getString(0)).toSet
        == SnapshotLog.dvFiles(dir, asOf).toSet,
        s"dv membership must match at $asOf")
      // recorded sizes are the REAL on-disk sizes, per file
      data.foreach { r =>
        assert(!r.isNullAt(2) && r.getLong(2) ==
          Files.size(dir.resolve("data").resolve(r.getString(0))),
          s"size must match for ${r.getString(0)}")
      }
    }
    check(None)    // delta-chain path (anti-join + union over the base)
    check(Some(1)) // pure sidecar-scan path
    // the distributed-metadata claim: a Spark aggregation over the
    // inventory answers row totals without any driver-side decode
    // (file row counts are pre-DV physical rows: both commits' slabs)
    val rowTotal = SnapshotLog.inventory(spark, dir)
      .filter(col("kind") === "data")
      .agg(sum(col("rows"))).collect().head.getLong(0)
    assert(rowTotal == 25L, s"sum(rows) over the inventory, got $rowTotal")
  }

  test("history: one row per version with effective stamps, encoding, and step diffs (DESCRIBE HISTORY shape)") {
    val root = Files.createTempDirectory("graft-hard7")
    val dir = root.resolve("t")
    val nation = Tables.nation(spark, sf)
    val sysClock = SnapshotLog.clock
    try {
      val t0 = 1700000000000L
      @volatile var now = t0
      SnapshotLog.clock = () => now
      now = t0 + 1000
      SnapshotLog.commit(nation.filter(col("n_nationkey") < 15)
        .repartition(3), dir)                                    // v1
      now = t0 + 2000
      SnapshotLog.commit(nation.filter(col("n_nationkey") >= 15)
        .repartition(2), dir, txnId = Some("h-txn"))             // v2
      now = t0 + 500 // the clock steps BACKWARDS — monotonic rule
      SnapshotLog.deleteWhere(spark, dir, col("n_nationkey") % 6 === 1) // v3
      val h = SnapshotLog.history(spark, dir).orderBy(col("version"))
        .collect()
      assert(h.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
      assert(h.map(_.getTimestamp(1).getTime).toSeq ==
        Seq(t0 + 1000, t0 + 2000, t0 + 2000),
        "the backwards-stepping v3 stamp must inherit v2's (monotonic)")
      assert(h(1).getString(2) == "h-txn" && h(0).getString(2) == null)
      assert(h(0).getString(3) == "checkpoint" &&
        h(1).getString(3) == "delta",
        s"encodings: ${h.map(_.getString(3)).toSeq}")
      // step diffs: v1 adds 3, v2 adds 2, v3 is a pure DV delete
      assert(h.map(_.getInt(4)).toSeq == Seq(3, 2, 0), "adds")
      assert(h.map(_.getInt(6)).toSeq == Seq(0, 0, 1), "dvAdds")
      assert(h.map(_.getInt(8)).toSeq == Seq(3, 5, 5), "running files")
    } finally SnapshotLog.clock = sysClock
  }

  test("harvestParallelism = k bounds in-flight harvests to k (not just sequential-vs-pool)") {
    val root = Files.createTempDirectory("graft-hard4")
    val dir = root.resolve("t")
    val nation = Tables.nation(spark, sf)
    SnapshotLog.commit(nation.repartition(12), dir)
    val names = SnapshotLog.files(dir)
    assert(names.size >= 8, s"need many small files, got ${names.size}")
    val cur = new java.util.concurrent.atomic.AtomicInteger(0)
    val high = new java.util.concurrent.atomic.AtomicInteger(0)
    val oldPar = SnapshotLog.harvestParallelism
    try {
      SnapshotLog.harvestParallelism = 2
      SnapshotLog.harvestProbe = () => {
        val c = cur.incrementAndGet()
        high.accumulateAndGet(c, math.max(_, _))
        Thread.sleep(20)
        cur.decrementAndGet()
        ()
      }
      val out = SnapshotLog.harvestFiles(dir, names, Set("n_nationkey"))
      assert(out.map(_._1) == names, "input order must be preserved")
      assert(high.get() <= 2,
        s"harvestParallelism=2 must bound concurrency, saw ${high.get()}")
      assert(high.get() == 2,
        "two permits must actually overlap on a 12-file harvest")
    } finally {
      SnapshotLog.harvestParallelism = oldPar
      SnapshotLog.harvestProbe = () => ()
    }
  }
}
