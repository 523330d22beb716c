package graft.tools

/** Dev aid: print the executed plan of named gate queries —
  * `sbt "runMain graft.tools.PlanDump q55_funnel d15_source_overlap"`.
  * The audit loop is: dump the plan here, decide what property makes it
  * scale, pin that property in PlanAuditSpec. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    // --dir <dir> --tag <tag>: write each query's explain("formatted")
    // to <dir>/<name>_<tag>.txt instead of printing executedPlan — the
    // optimization-round evidence files (plans/r16/<q>_before|after.txt).
    // Cores/shuffle partitions match the bench session (local[32]/32 by
    // default) so captured plans are the BENCHED plans, not a local[4]
    // variant with different join-strategy thresholds.
    var dir: Option[String] = None
    var tag: String = "plan"
    val names = scala.collection.mutable.Buffer[String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--dir" => dir = Some(args(i + 1)); i += 2
        case "--tag" => tag = args(i + 1); i += 2
        case n => names += n; i += 1
      }
    }
    val spark = graft.Session.local(graft.Session.cpus(if (dir.isDefined) 32 else 4),
      "graft-plandump", "ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      if (dir.isDefined) "/root/testdata/sf0.1" else "/root/testdata/sf0.001")
    for (n <- names) {
      dir match {
        case Some(d) =>
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
          val df = graft.SparkEntry.queries(n)(spark, sf)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"${n}_$tag.txt"), txt)
          println(s"wrote $d/${n}_$tag.txt (${txt.length} chars)")
        case None =>
          println(s"===== $n")
          println(graft.SparkEntry.queries(n)(spark, sf)
            .queryExecution.executedPlan.toString.take(6000))
      }
    }
    spark.stop()
  }
}
