package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** SparkEntry.oracleSql as one JSON document — written by main() for the
    * driver and fed to tools/oracletypes.py by OracleTypeSpec. */
  def oracleJson: String = SparkEntry.oracleSql
    .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: run only these queries (dev loop; the
    // driver always passes exactly two args → full run)
    val only = args.drop(2).toSet
    val spark = Session.local(Session.cpus(4), "graft-verify", "WARN")
    new java.io.File(outDir).mkdirs()
    // queries that THREW (analysis or execution): recorded in errors.json so
    // the dump is self-contained — a consumer sees explicit error rows
    // instead of silently-absent results (the round-7 failure mode, where 18
    // erroring queries left no trace in the correctness artifact)
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = String.valueOf(e.getMessage).take(500)
      }
      // release intra-query caches so blocks don't pile up across queries
      finally graft.operators.CacheScope.releaseAll()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // gate_metrics.json: the measured floors of the self-gated (no-oracle)
    // queries, read back off the dumps just written — by convention every
    // `*_ppm` column of a no-oracle result is a measured quality metric
    // (GateChecks.require doc), aggregated here as its worst (max) value
    // so the per-round artifact shows the quantitative margin (e.g. s3
    // recall_ppm 780000 against the 600000 floor) instead of rows-only.
    locally {
      import org.apache.spark.sql.functions.{col, max}
      val metrics = scala.collection.mutable.LinkedHashMap[String, String]()
      SparkEntry.queries.keys.toSeq.sorted
        .filter(n => (only.isEmpty || only(n)) &&
          !SparkEntry.oracleSql.contains(n) && !errors.contains(n))
        .foreach { name =>
          try {
            val dfq = spark.read.parquet(s"$outDir/$name")
            val ppm = dfq.schema.fieldNames.filter(_.endsWith("_ppm")).toSeq
            if (ppm.nonEmpty) {
              val aggs = ppm.map(c => max(col(c)).as(c))
              val row = dfq.agg(aggs.head, aggs.tail: _*).head()
              metrics(name) = ppm.zipWithIndex
                .map { case (c, i) => s"${q(c)}: ${row.get(i)}" }
                .mkString("{", ",", "}")
            }
          } catch { case e: Throwable =>
            System.err.println(s"[verify] gate-metric read failed for $name: ${e.getMessage}")
          }
        }
      Files.writeString(Paths.get(s"$outDir/gate_metrics.json"),
        metrics.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
