package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.cli.Cli

/** JVM side of the benchmark, started by `run.py`:
  *
  *   perfbench.Main run <workload> <seed> <seconds> <trace> <work> <results> <cpus>
  *     set-up, fixtures, one cold op, then warm ops for `seconds`; with
  *     trace = 1, untraced ops alternate with traced layer replays
  *   perfbench.Main setup
  *     set-up only: one more sample of the time to a ready session
  *
  * `perfbench-ready` marks the end of set-up; the last stdout line is
  * `perfbench-result <json>`.
  */
object Main {

  // Ends with halt: the in-memory databases and the work directory hold
  // nothing to keep, and run.py deletes the directory.
  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("run", workload, seed, seconds, trace, work, results, cpus) =>
      val r = run(workload, seed.toLong, seconds.toDouble, trace == "1",
        Paths.get(work), Paths.get(results), cpus.toInt)
      println("perfbench-result " + Json(r))
      System.out.flush()
      Runtime.getRuntime.halt(0)
    case Seq("setup") =>
      Cli.session(-1)
      println("perfbench-ready")
      System.out.flush()
      Runtime.getRuntime.halt(0)
    case _ =>
      System.err.println("usage: perfbench.Main run <workload> <seed> " +
        "<seconds> <trace 0|1> <work dir> <results dir> <cpus> | perfbench.Main setup")
      sys.exit(2)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) Files.list(p).toArray.foreach(x => deleteTree(x.asInstanceOf[Path]))
    Files.delete(p)
  }

  def run(name: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
      results: Path, cpus: Int): Map[String, Any] = {
    val spark = Cli.session(-1)
    println("perfbench-ready")
    System.out.flush()
    val rec = new SparkRecorder(spark)
    spark.sparkContext.addSparkListener(rec)
    val ctx = Ctx(spark, work, seed, cpus, rec, new Tracer)
    val w = Workload(name)

    val (fixtures, fixtureS) = {
      val t0 = System.nanoTime()
      val f = w.prepare(ctx)
      (f, (System.nanoTime() - t0) / 1e9)
    }

    var opCount = 0
    var lastDir: Path = null
    val failures = Seq.newBuilder[String]
    var failed = 0
    val findings = Seq.newBuilder[String]
    var withFindings = 0
    def fresh(): Path = {
      if (lastDir != null) deleteTree(lastDir)
      opCount += 1
      lastDir = Files.createDirectories(work.resolve(s"ops/op-$opCount"))
      System.gc() // untimed: each op starts from a collected heap
      lastDir
    }
    def account(r: OpResult): OpResult = {
      if (r.failures.nonEmpty) { failed += 1; failures ++= r.failures.map(f => s"op $opCount: $f") }
      if (r.findings.nonEmpty) {
        withFindings += 1; findings ++= r.findings.map(f => s"op $opCount: $f")
      }
      r
    }

    val cold = account(w.op(ctx, fresh()))
    val warm = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    val traced = Seq.newBuilder[(OpResult, Map[String, Double])]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // at least two warm samples, however long one op takes
    while (elapsed < seconds || warm.size < 2) {
      warm += account(w.op(ctx, fresh()))
      if (trace) {
        val (r, layers) = w.replay(ctx, fresh(), opCount)
        account(r)
        if (r.completed) traced += ((r, layers))
      }
    }
    val warmOps = warm.toSeq
    // timings come from every op that ran to its end; an op whose output
    // check failed still counts in `failed`
    val ok = warmOps.filter(_.completed)
    val attempted = opCount
    val base = Map[String, Any](
      "workload" -> name, "seed" -> seed, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.result().take(20),
      "ops_with_findings" -> withFindings,
      "findings" -> findings.result().take(20),
      "fixture_s" -> fixtureS,
      "fixtures" -> fixtures.map(f => Map("table" -> f.table.name, "rows" -> f.landed.sum.rows,
        "sha256" -> f.landed.sha256)),
      "cold_op_s" -> cold.netSeconds,
      "cold_op_wall_s" -> cold.seconds,
      "cold_op_steal" -> cold.steal,
      "warm_ops_checked_ok" -> warmOps.count(_.failures.isEmpty),
      "warm_op_wall_s" -> warmOps.map(_.seconds),
      "warm_op_steal" -> warmOps.map(_.steal),
      "op_s_p50" -> median(ok.map(_.netSeconds)),
      "rows_per_s" -> (if (ok.isEmpty) 0.0 else ok.map(_.rows).sum / ok.map(_.netSeconds).sum),
      "out_bytes_per_row" ->
        (if (ok.isEmpty) 0.0 else ok.map(_.outBytes).sum.toDouble / ok.map(_.rows).sum),
      "op_fail_frac" -> failed.toDouble / attempted)
    if (!trace) return base

    val layerOps = traced.result()
    val spans = results.resolve(s"spans-$name-seed$seed.jsonl")
    ctx.tracer.writeJsonl(spans, name)
    val layers = Workload.LayerMetrics.map(m => m -> median(layerOps.flatMap(_._2.get(m)))).toMap
    // both in wall time, from ops that alternate in this JVM
    val tracedOp = median(layerOps.map(_._1.seconds))
    val untracedOp = median(ok.map(_.seconds))
    base ++ Map(
      "layers" -> (layers ++ Map(
        "trace.op_s_p50" -> tracedOp,
        "trace.untraced_op_s_p50" -> untracedOp,
        "trace.overhead_frac" -> (if (untracedOp > 0) tracedOp / untracedOp - 1 else 0.0))),
      "traced_ops" -> layerOps.size,
      "span_file" -> spans.toString,
      "determinism" -> Determinism.check(ctx, fixtures),
      "duckdb_input" -> w.duckdbInput(ctx, lastDir).toString)
  }
}

/** Same seed, same bytes; another seed, other values in the same shape. */
object Determinism {
  def check(ctx: Ctx, fixtures: Seq[Fixture]): Map[String, Any] = {
    val dir = Files.createDirectories(ctx.work.resolve("determinism"))
    val problems = Seq.newBuilder[String]
    fixtures.foreach { f =>
      val t = f.table
      val (same, other) = f.file match {
        case Some(p) =>
          val a = Fixtures.writeParquet(dir.resolve(t.name + "-same.parquet"), t, ctx.seed)
          val bPath = dir.resolve(t.name + "-other.parquet")
          val b = Fixtures.writeParquet(bPath, t, ctx.seed + 1)
          val schema = Checks.footer(p).getFileMetaData.getSchema
          if (Checks.footer(bPath).getFileMetaData.getSchema != schema)
            problems += s"${t.name}: another seed changed the schema"
          if (Workload.fileRows(bPath) != Workload.fileRows(p))
            problems += s"${t.name}: another seed changed the row count"
          (a, b)
        case None => (Fixtures.describe(t, ctx.seed), Fixtures.describe(t, ctx.seed + 1))
      }
      if (same.sha256 != f.landed.sha256) problems += s"${t.name}: same seed, different bytes"
      if (other.sha256 == f.landed.sha256 || other.sum.sum == f.landed.sum.sum)
        problems += s"${t.name}: another seed gave the same values"
      if (other.sum.rows != f.landed.sum.rows)
        problems += s"${t.name}: another seed changed the row count"
    }
    Map("ok" -> problems.result().isEmpty, "problems" -> problems.result())
  }
}

/** Minimal JSON rendering for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
