package graft

import java.nio.file.{Files, Path}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ParquetSink
import scala.jdk.CollectionConverters._

/** The sink's splitting invariants over generated layouts (fixed seed,
  * small sizes): for any rows × batch rows × row groups per file × size
  * threshold, every row lands exactly once, no row group exceeds one
  * batch, no file exceeds row-groups-per-file row groups (threshold or
  * not), a file goes on past the byte threshold only with its last row
  * group (and, with the threshold alone, every file but the last reaches
  * it), and the output directory holds only the written files — the
  * exact path for one file, `_01`, `_02`, … zero-padded and contiguous
  * for a split. */
class SplitPropertySpec extends AnyFunSuite {
  import TestSession._
  import SplitPropertySpec.Layout

  private val layouts: Gen[Layout] = for {
    rows <- Gen.choose(0, 400)
    batchRows <- Gen.choose(1, 60)
    rowGroupsPerFile <- Gen.oneOf(0, 0, 1, 2, 3)
    fileSizeThreshold <- Gen.oneOf(0L, 0L, 1L, 700L, 3000L)
  } yield Layout(rows, batchRows, rowGroupsPerFile, fileSizeThreshold)

  private def blocks(p: Path): Seq[BlockMetaData] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString), new Configuration()))
    try r.getRowGroups.asScala.toSeq finally r.close()
  }

  private def holds(l: Layout): Boolean = {
    val dir = Files.createTempDirectory("graft-split-prop")
    val out = dir.resolve("out.par")
    val written = ParquetSink.write(spark.range(l.rows).toDF("id"), out.toString,
      ParquetSink.Options(batchRows = l.batchRows, rowGroupsPerFile = l.rowGroupsPerFile,
        fileSizeThresholdBytes = l.fileSizeThreshold))
    val files = written.map(blocks)
    val groups = files.flatten.map(_.getRowCount)
    val names = written.map(_.getFileName.toString)
    val expectedNames =
      if (written.size == 1) Seq("out.par")
      else (1 to written.size).map(i => f"out_$i%02d.par")
    val leftovers = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .toSeq.sorted
    assert(groups.sum == l.rows, s"$l: rows not conserved, row groups $groups")
    assert(groups.forall(_ <= l.batchRows), s"$l: row group over one batch: $groups")
    if (l.rowGroupsPerFile > 0) {
      val perFile = files.map(_.map(_.getRowCount).sum)
      assert(perFile.forall(_ <= l.rowGroupsPerFile.toLong * l.batchRows),
        s"$l: a file holds more than row-groups-per-file batches: $perFile")
      assert(files.forall(_.size <= l.rowGroupsPerFile),
        s"$l: a file holds more than row-groups-per-file row groups: ${files.map(_.size)}")
    }
    if (l.fileSizeThreshold > 0) {
      val bytes = files.map(_.map(_.getCompressedSize))
      assert(bytes.forall(_.dropRight(1).sum < l.fileSizeThreshold),
        s"$l: a file went on after reaching the threshold: $bytes")
      if (l.rowGroupsPerFile == 0)
        assert(bytes.dropRight(1).forall(_.sum >= l.fileSizeThreshold),
          s"$l: a file ended below the threshold: $bytes")
    }
    assert(names == expectedNames, s"$l: names $names")
    assert(leftovers == names.sorted, s"$l: directory holds $leftovers")
    true
  }

  test("split invariants hold over generated layouts (scalacheck, fixed seed)") {
    val params = Test.Parameters.default
      .withInitialSeed(Seed(20261017L))
      .withMinSuccessfulTests(12)
      .withWorkers(1)
    val result = Test.check(params, Prop.forAllNoShrink(layouts)(holds))
    assert(result.passed, result.status.toString)
  }

  test("row-groups-per-file caps a file when a size threshold is also set") {
    // one row group per file under a threshold that would hold seven, and
    // three per file under one that would hold them all
    assert(holds(Layout(400, 10, 1, 3000L)))
    assert(holds(Layout(400, 10, 3, 1L << 20)))
  }

  test("an ORDER BY over a several-partition source keeps its order across files") {
    import org.apache.spark.sql.functions.col
    // four range partitions, each sorted: four reading tasks feed the pool
    val sorted = spark.range(0, 1000, 1, 4).select(((col("id") * 7919) % 1000).as("v"))
      .repartitionByRange(4, col("v").desc).sortWithinPartitions(col("v").desc)
    assert(sorted.rdd.getNumPartitions == 4)
    for (split <- Seq(0, 3)) {
      val dir = Files.createTempDirectory("graft-split-order")
      val written = ParquetSink.write(sorted, dir.resolve("o.par").toString,
        ParquetSink.Options(batchRows = 50, rowGroupsPerFile = split))
      assert(split == 0 || written.size > 1, s"split=$split: expected several files")
      val values = written.flatMap(f =>
        spark.read.parquet(f.toString).collect().map(_.getLong(0)).toSeq)
      assert(values == (999L to 0L by -1L), s"split=$split: rows out of ORDER BY order")
      assert(written.flatMap(blocks).map(_.getRowCount).forall(_ <= 50))
    }
  }
}

object SplitPropertySpec {
  final case class Layout(rows: Int, batchRows: Int, rowGroupsPerFile: Int,
      fileSizeThreshold: Long)
}
