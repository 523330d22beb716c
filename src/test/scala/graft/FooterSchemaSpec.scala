package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{FooterSchema, ParquetSink, PhysicalFormat}

/** `FooterSchema` reads parquet with the schema of one footer instead of
  * Spark's inference job. Its read must carry exactly the schema inference
  * gives, for every layout the engine reads that way; and having no cache,
  * it sees a file rewritten in place at once. */
class FooterSchemaSpec extends AnyFunSuite {
  import TestSession._

  private def withDir(body: Path => Unit): Unit = {
    val root = Files.createTempDirectory("graft-footer-schema")
    try body(root) finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  /** `df` as the single parquet file `dest`. */
  private def writeOnePart(df: DataFrame, dest: Path): Unit = {
    val tmp = Files.createTempDirectory("graft-scs")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("w").toString)
      val part = graft.sources.Staging.listNames(tmp.resolve("w"))
        .find(_.endsWith(".parquet")).map(tmp.resolve("w").resolve(_)).get
      Files.copy(part, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  private def assertInferred(path: String): DataFrame = {
    val got = FooterSchema.read(spark, path)
    val inferred = spark.read.parquet(path)
    assert(got.schema == inferred.schema, s"$path: ${got.schema} != ${inferred.schema}")
    assert(got.count() == inferred.count())
    got
  }

  private def frame: DataFrame = {
    import spark.implicits._
    (0 until 40).map(i => (i.toLong, s"v$i", i * 0.5, i % 3)).toDF("id", "s", "x", "bucket")
  }

  test("nested in-place part-file rewrite shows the new schema") {
    import spark.implicits._
    withDir { root =>
      val sub = root.resolve("bucket=1")
      Files.createDirectories(sub)
      val part = sub.resolve("part-00000.parquet")
      writeOnePart(Seq((1L, "a")).toDF("id", "v_one"), part)
      val s1 = FooterSchema.read(spark, root.toString).schema
      assert(s1.fieldNames.contains("v_one"))
      // in-place rewrite: SAME file name, different schema
      writeOnePart(Seq((1L, "a", true)).toDF("id", "v_two", "flag"), part)
      val s2 = FooterSchema.read(spark, root.toString).schema
      assert(s2.fieldNames.contains("v_two") && !s2.fieldNames.contains("v_one"),
        s"stale schema served after nested rewrite: $s2")
    }
  }

  test("a file: URI reads, and an in-place rewrite of it shows the new schema") {
    import spark.implicits._
    withDir { root =>
      val f = root.resolve("t.parquet")
      writeOnePart(Seq((7L, 1.5)).toDF("id", "x"), f)
      val uri = f.toUri.toString
      val s1 = FooterSchema.read(spark, uri).schema
      assert(s1.fieldNames.sorted.sameElements(Array("id", "x")))
      writeOnePart(Seq((7L, "s")).toDF("id", "y"), f)
      val s2 = FooterSchema.read(spark, uri).schema
      assert(s2.fieldNames.contains("y"),
        s"stale schema served for scheme-qualified URI: $s2")
    }
  }

  test("the footer schema equals spark.read.parquet's for every layout the engine reads") {
    withDir { root =>
      // a single Spark-written file
      val single = root.resolve("single.parquet")
      writeOnePart(frame, single)
      assertInferred(single.toString)

      // a flat directory of part files, with _SUCCESS and .crc entries
      val flat = root.resolve("flat").toString
      frame.repartition(3).write.parquet(flat)
      assertInferred(flat)

      // a partitionBy directory: the partition column is in no footer
      val hive = root.resolve("hive").toString
      frame.write.partitionBy("bucket").parquet(hive)
      val h = assertInferred(hive)
      assert(h.columns.last == "bucket")

      // the sink's split output, out_NN.par
      val split = Files.createDirectories(root.resolve("split"))
      val written = ParquetSink.write(frame.repartition(1), split.resolve("out.par").toString,
        ParquetSink.Options(batchRows = 10, rowGroupsPerFile = 1))
      assert(written.map(_.getFileName.toString).contains("out_01.par"), written)
      assertInferred(split.toString)
      assert(FooterSchema.read(spark, written.map(_.toString): _*).schema ==
        spark.read.parquet(written.map(_.toString): _*).schema)
    }
  }

  test("a footer without Spark's row schema converts under the pinned nanosAsLong policy") {
    import spark.implicits._
    withDir { root =>
      // the sink's encoder writes key as FLBA(4)
      val src = root.resolve("src.parquet")
      val fixed4 = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong(graft.functions.TypeMapping.FixedLenKey, 4L).build()
      ParquetSink.write(Seq((1L, 1700000000123456789L, Array[Byte](1, 2)), (2L, 5L, Array[Byte](3)))
        .toDF("id", "ns", "key").select(col("id"), col("ns"), col("key").as("key", fixed4)),
        src.toString)
      assert(FooterSchema.footer(src).getFileMetaData.getSchema.getType(Seq("key"): _*)
        .asPrimitiveType().getPrimitiveTypeName == PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY)
      // retype: ns becomes TIMESTAMP(NANOS); the footer drops Spark's
      // stored row schema
      val dest = root.resolve("retyped.parquet")
      PhysicalFormat.assemble(Seq(src), dest, m => new MessageType(m.getName,
        m.getFields.asScala.toSeq.map { f =>
          f.getName match {
            case "ns" => Types.primitive(PrimitiveTypeName.INT64, f.getRepetition)
              .as(LogicalTypeAnnotation.timestampType(true,
                LogicalTypeAnnotation.TimeUnit.NANOS)).named("ns")
            case _ => f
          }
        }.asJava))
      val meta = FooterSchema.footer(dest).getFileMetaData
      assert(!meta.getKeyValueMetaData.containsKey(FooterSchema.SparkSchemaKey))
      assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      val df = assertInferred(dest.toString)
      assert(df.schema("ns").dataType == org.apache.spark.sql.types.LongType)
      assert(df.orderBy(col("id")).head().getLong(1) == 1700000000123456789L)
    }
  }

  test("the warehouse tables' footer schemas equal inference") {
    Session.pin(spark)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "documents", "embeddings", "events")
      .foreach(t => assertInferred(s"$sf/$t.parquet"))
  }

  test("the first data file skips hidden entries and descends hive directories") {
    withDir { root =>
      Seq("_SUCCESS", ".a.crc").foreach(n => Files.writeString(root.resolve(n), "x"))
      val deep = Files.createDirectories(root.resolve("k=2").resolve("j=1"))
      Files.writeString(deep.resolve("p2"), "x")
      Files.writeString(deep.resolve("p1"), "x")
      Files.createDirectories(root.resolve("k=3"))
      assert(FooterSchema.firstDataFile(root) == deep.resolve("p1"))
      assert(FooterSchema.localPath(root.toUri.toString) == root)
    }
  }
}
