package graft

import java.nio.file.{Files, Path}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ParquetSink
import scala.jdk.CollectionConverters._

/** The sink's splitting invariants over generated layouts (fixed seed,
  * small sizes): for any rows × batch rows × row groups per file × size
  * threshold, every row lands exactly once, no row group exceeds one
  * batch, no file exceeds row-groups-per-file batches, and the output
  * directory holds only the written files — the
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

  private def rowGroups(p: Path): Seq[Long] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString), new Configuration()))
    try r.getRowGroups.asScala.map(_.getRowCount).toSeq finally r.close()
  }

  private def holds(l: Layout): Boolean = {
    val dir = Files.createTempDirectory("graft-split-prop")
    val out = dir.resolve("out.par")
    val written = ParquetSink.write(spark.range(l.rows).toDF("id"), out.toString,
      ParquetSink.Options(batchRows = l.batchRows, rowGroupsPerFile = l.rowGroupsPerFile,
        fileSizeThresholdBytes = l.fileSizeThreshold))
    val groups = written.flatMap(rowGroups)
    val names = written.map(_.getFileName.toString)
    val expectedNames =
      if (written.size == 1) Seq("out.par")
      else (1 to written.size).map(i => f"out_$i%02d.par")
    val leftovers = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .toSeq.sorted
    assert(groups.sum == l.rows, s"$l: rows not conserved, row groups $groups")
    assert(groups.forall(_ <= l.batchRows), s"$l: row group over one batch: $groups")
    if (l.rowGroupsPerFile > 0 && l.fileSizeThreshold == 0) {
      val perFile = written.map(rowGroups(_).sum)
      assert(perFile.forall(_ <= l.rowGroupsPerFile.toLong * l.batchRows),
        s"$l: a file holds more than row-groups-per-file batches: $perFile")
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
}

object SplitPropertySpec {
  final case class Layout(rows: Int, batchRows: Int, rowGroupsPerFile: Int,
      fileSizeThreshold: Long)
}
