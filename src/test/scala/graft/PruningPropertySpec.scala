package graft

import java.nio.file.Files
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotLog
import graft.sources.SnapshotLog.{IntRange, NullIs, PartIn, PredRange, StrRange}

/** Manifest pruning is SOUND over generated tables and constraint
  * conjunctions (fixed seed, small sizes). A table is 2–3 commits of
  * (k long, s nullable string, p nullable string) rows, with envelopes
  * and null counts on k and s and, for most commits, `partitionBy` p —
  * whose values include the empty string and the null partition. A
  * conjunction draws from all four constraint kinds, inverted ranges
  * included. For each: the pruned read filtered by the exact predicate
  * equals the full read filtered by it, every skipped file read raw holds
  * no matching row, and `readWhere` of the predicate equals the filtered
  * full read. */
class PruningPropertySpec extends AnyFunSuite {
  import TestSession._
  import PruningPropertySpec._

  private val strs = Seq("", "a", "ab", "b", "ba", "c", "zz", "é")
  private val parts = Seq(None, Some(""), Some("x"), Some("y"))

  private val commits: Gen[Commit] = for {
    n <- Gen.choose(5, 50)
    nulls <- Gen.oneOf("none", "all", "some")
    partitioned <- Gen.frequency(3 -> true, 1 -> false)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(-40L, 40L)
      s <- nulls match {
        case "none" => Gen.oneOf(strs).map(Option(_))
        case "all" => Gen.const(Option.empty[String])
        case _ => Gen.option(Gen.oneOf(strs))
      }
      p <- Gen.oneOf(parts)
    } yield (k, s, p))
  } yield Commit(rows, partitioned)

  private val constraints: Gen[(String, PredRange)] = Gen.oneOf(
    for {
      lo <- Gen.choose(-50L, 50L)
      width <- Gen.choose(-10L, 40L) // negative: an inverted range
    } yield "k" -> IntRange(lo, lo + width),
    for {
      c <- Gen.oneOf("s", "p")
      lo <- Gen.oneOf(strs)
      hi <- Gen.option(Gen.oneOf(strs))
    } yield c -> StrRange(lo, hi),
    for {
      c <- Gen.oneOf("k", "s", "p")
      wantNull <- Gen.oneOf(true, false)
    } yield c -> NullIs(wantNull),
    Gen.someOf(parts :+ Some("z")).map(vs => "p" -> PartIn(vs.toSet)))

  private val cases: Gen[Case] = for {
    nCommits <- Gen.choose(2, 3)
    cs <- Gen.listOfN(nCommits, commits)
    wheres <- Gen.listOfN(3, Gen.choose(1, 3).flatMap(Gen.listOfN(_, constraints)))
  } yield Case(cs, wheres)

  /** The exact SQL predicate a constraint stands for. */
  private def exact(c: String, r: PredRange): Column = r match {
    case IntRange(lo, hi) => col(c) >= lo && col(c) <= hi
    case StrRange(lo, hi) => hi.foldLeft(col(c) >= lo)((p, h) => p && col(c) <= h)
    case NullIs(wantNull) => if (wantNull) col(c).isNull else col(c).isNotNull
    case PartIn(values) =>
      values.toSeq.map(_.fold(col(c).isNull)(col(c) === _)).foldLeft(lit(false))(_ || _)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("k", "s", "p").collect().map(_.toString).toSeq.sorted

  private def holds(c: Case): Boolean = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-prune-prop")
    c.commits.foreach { cm =>
      SnapshotLog.commit(cm.rows.toDF("k", "s", "p").repartitionByRange(2, col("k")),
        dir, statsCols = Seq("k", "s"),
        partitionBy = if (cm.partitioned) Seq("p") else Seq.empty)
    }
    c.wheres.foreach { where =>
      val pred = where.map { case (cc, r) => exact(cc, r) }.reduce(_ && _)
      val want = rows(SnapshotLog.read(spark, dir).filter(pred))
      assert(rows(SnapshotLog.readPruned(spark, dir, where).filter(pred)) == want,
        s"$where: the pruned read lost or gained rows")
      val (_, skipped) = SnapshotLog.prunedFiles(dir, where)
      if (skipped.nonEmpty)
        assert(spark.read.parquet(skipped.map(f => dir.resolve("data").resolve(f).toString): _*)
          .filter(pred).count() == 0, s"$where: a skipped file holds a matching row")
      assert(rows(SnapshotLog.readWhere(spark, dir, Some(pred))) == want,
        s"$where: readWhere differs from the filtered full read")
    }
    true
  }

  test("manifest pruning is sound over generated tables and conjunctions (scalacheck, fixed seed)") {
    val params = Test.Parameters.default
      .withInitialSeed(Seed(20261018L))
      .withMinSuccessfulTests(8)
      .withWorkers(1)
    val result = Test.check(params, Prop.forAllNoShrink(cases)(holds))
    assert(result.passed, result.status.toString)
  }
}

object PruningPropertySpec {
  final case class Commit(rows: Seq[(Long, Option[String], Option[String])],
      partitioned: Boolean)
  final case class Case(commits: Seq[Commit], wheres: Seq[Seq[(String, PredRange)]])
}
