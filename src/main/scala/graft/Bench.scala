package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints the one-line JSON contract. A warmup pass at sf0.001 absorbs JVM,
  * codegen, and parquet-footer costs so measured numbers reflect steady-
  * state query time, which is what a long-running cluster job sees.
  *
  * Each query is materialized through the noop sink, not `.count()`:
  * Dataset.count() would stack an aggregate on top, letting Catalyst drop
  * trailing sorts (EliminateSorts) and prune computed projections, which
  * under-measures pure-projection queries. Counting the query's OWN
  * InternalRow RDD executes its full physical plan — every output column
  * computed by the generated code, rows consumed on executors, nothing
  * collected — without the DataSourceV2 write-path wrapper a noop-sink
  * write adds (~50ms/query measured). */
object Bench {

  private def materialize(df: org.apache.spark.sql.DataFrame): Unit = {
    df.queryExecution.toRdd.count(); ()
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus(32), "graft-bench", "ERROR", tmpfsScratch = true)

    // Index-bearing queries (s2 LSH signatures, s3 IVF): the persisted
    // artifacts build once and serve every later execution, so pay the
    // build HERE — outside every warmed/timed window — and report it as
    // its own metric line. Round-over-round s2/s3 comparisons then track
    // probe cost only; previously a driver-run s3 number silently
    // included zero-or-one builds depending on tmp-dir state. A build
    // that was already done (warm tmp) honestly reports ~0.
    def timedBuild(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val s3Build = timedBuild(graft.operators.IvfIndex.ensure(spark, sfDir))
    val s2Build = timedBuild(graft.operators.LshIndex.ensure(spark, sfDir))
    val s4Build = timedBuild(graft.operators.Sq8Index.ensure(spark, sfDir))
    val t24Build = timedBuild(graft.operators.PostingsIndex.ensure(spark, sfDir))
    val s5Build = timedBuild(graft.operators.PqIndex.ensure(spark, sfDir))
    val s7Build = timedBuild(graft.operators.IvfPqIndex.ensure(spark, sfDir))

    // warm-then-time per query at the TARGET SF — the same protocol as the
    // DuckDB baseline (tools/duckbench.py runs each query once untimed,
    // then times the second run), so neither engine's measurement carries
    // first-run planning/JIT/page-cache costs the other's doesn't
    // a query that throws records the -1 sentinel (never a normal-looking
    // elapsed time) and fails the whole bench run via exit code
    // dev aid: SPARK_GRAFT_ONLY=q1_agg,k1_decimal_cast times a subset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val results = selected.map { case (name, fn) =>
      try materialize(fn(spark, sfDir)) catch { case _: Throwable => () }
      // drop warm-run caches: CacheManager matches by plan equality, so a
      // surviving warm cache would silently serve the timed run — the
      // measured run must pay for its own intra-query cache build.
      // Blocking: async block removal must not bleed into the timed window.
      graft.operators.CacheScope.releaseAll(blocking = true)
      // GC barrier: collect the warm run's (and prior queries') garbage
      // before the timer starts. Without it a timed run can absorb heap
      // debt from earlier cache-heavy queries — k1_decimal_cast measured
      // 1.4s in isolation vs 15s mid-suite on one r05 run.
      // min of N timed runs (default 3): r5→r6 triage showed same-code
      // run-to-run spread of ±2x on sub-2s queries in this environment
      // (q1_agg 0.94..2.80s over 5 identical runs; toggling /dev/shm and
      // the GC barrier moved nothing consistently). The min estimates the
      // query's noise-free cost — contention and GC pauses only ever ADD
      // time — so round-over-round comparisons track code, not machine
      // weather. Each timed run still pays its own cache build.
      val nRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
      val times = (1 to nRuns).map { _ =>
        // GC barrier before EVERY timed run — including the first, which
        // otherwise absorbs the warm run's heap debt (the k1 15s-vs-1.4s
        // pathology above), and which is the ONLY run under
        // SPARK_GRAFT_RUNS=1 triage
        if (sys.env.getOrElse("SPARK_GRAFT_GC", "true").toBoolean) System.gc()
        val t0 = System.nanoTime()
        val ok =
          try { materialize(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        graft.operators.CacheScope.releaseAll(blocking = true)
        if (ok) elapsed else -1.0
      }
      name -> times
    }
    // min estimates the noise-free cost (contention/GC only ever ADD time);
    // spread = max/min of the same runs is the self-diagnosis: a high-spread
    // query's round-over-round delta is machine weather until reproduced on
    // an idle machine at low spread (the r9 d-pack false-regression lesson)
    val mins: Seq[(String, Double)] = results.map { case (n, ts) =>
      n -> (if (ts.contains(-1.0)) -1.0 else ts.min)
    }
    val spreads: Seq[(String, Double)] = results.collect {
      case (n, ts) if !ts.contains(-1.0) && ts.min > 0 => n -> ts.max / ts.min
    }
    val failed = mins.count(_._2 < 0)
    val total = mins.filter(_._2 >= 0).map(_._2).sum
    // The driver keeps only the LAST ~2000 chars of output; a full-precision
    // queries map for 80+ queries overflows that, truncating the line's
    // "{"metric" prefix and making it unparseable (BENCH_r01..r03 all show
    // parsed:null). Emit full precision first for humans/logs, then the
    // contract line last at the highest per-query precision that keeps the
    // whole line under the tail budget. Locale.ROOT: a comma-decimal default
    // locale would emit 1,23 and break the JSON.
    def fmt(v: Double, prec: Int): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(v))
    // 95+ queries: full names at any precision overflow the tail budget,
    // so the contract map uses each query's series prefix (q12_distinct →
    // q12) — unique across the inventory by construction; any collision
    // keeps the full name for the colliders. bench-full above retains the
    // full-name, full-precision map for humans and logs.
    val shortNames: Map[String, String] = {
      val pref = mins.map { case (k, _) =>
        k -> "^[a-z]+\\d+".r.findFirstIn(k).getOrElse(k)
      }.toMap
      val counts = pref.values.groupBy(identity).view.mapValues(_.size).toMap
      pref.map { case (k, p) => k -> (if (counts(p) == 1) p else k) }
    }
    val full = mins.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val fullSpread = spreads.map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) }
      .mkString("{", ",", "}")
    println(s"""bench-index {"s2_build":${fmt(s2Build, 3)},"s3_build":${fmt(s3Build, 3)},"s4_build":${fmt(s4Build, 3)},"t24_build":${fmt(t24Build, 3)},"s5_build":${fmt(s5Build, 3)},"s7_build":${fmt(s7Build, 3)}}""")
    println(s"""bench-full {"total":$total,"queries":$full,"spread":$fullSpread}""")
    // Size-independent escape hatch: the complete full-name full-precision
    // map also lands in a FILE next to the repo artifacts, so per-query
    // regression tracking survives ANY suite size regardless of what the
    // 2000-char stdout tail can carry (committed per round like NOTES).
    // SUBSET runs (SPARK_GRAFT_ONLY dev loops) must not clobber the
    // committed full-suite baseline with a few-query map.
    if (only.isEmpty)
      try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_full.json"),
        s"""{"total":$total,"failed":$failed,"sf":"${new java.io.File(sfDir).getName}","queries":$full,"spread":$fullSpread}""" + "\n")
      catch { case e: Exception =>
        System.err.println(s"[bench] bench_full.json not written: $e") }
    // Stop Spark BEFORE printing the final lines so no executor/shutdown
    // log line can land after them — the driver's tail parse wants the
    // contract last.
    spark.stop()
    emission(mins.map { case (k, v) => shortNames(k) -> v },
      spreads.map { case (k, v) => shortNames(k) -> v },
      total, failed, new java.io.File(sfDir).getName)
      .foreach(println)
    System.out.flush()
    if (failed > 0) sys.exit(1)
  }

  /** The driver keeps only the LAST [[TailBudget]] chars of stdout, so
    * everything that must survive into BENCH_r{N}.json — a parseable
    * contract line (last) AND every query's time — has to fit that tail
    * TOGETHER. Pure function of the measured results so the guarantee is
    * spec-testable at synthetic suite sizes (BenchEmissionSpec drives a
    * 230-query map through it).
    *
    * Joint ladder, chosen as ONE emission set:
    *
    *  1. While the classic contract-with-queries-map fits (precision
    *     3 → 2 → 1 at ≤ [[ContractBudget]]), emit it — consumers keep
    *     the shape they've parsed since round 10.
    *  2. MIXED-PRECISION map (round 17, restoring the driver-parsable
    *     per-query map the ds-chunked rung lost — PERF_r16 came back
    *     with empty per_query/scaling blocks because the driver parses
    *     only the final JSON line): values below a threshold T keep one
    *     decimal, values ≥ T round to the nearest integer second. T
    *     walks down 2.0 → 1.0 → 0.55 → 0.5 until the line fits
    *     [[ContractBudget]] — never below 0.5, where a nonzero time would
    *     round to `0`; at the current 216-query inventory T=0.55
    *     fits with ~10 chars to spare. Big queries — the only ones whose
    *     round-over-round deltas clear the noise floor — lose at most
    *     0.5 s of resolution; full decisecond times stay in
    *     bench_full.json and the bench-full stdout line for humans.
    *  3. Once even the T=0.5 map outgrows the budget, the contract
    *     DROPS its map and shrinks to a fixed ~130 chars, and the times
    *     move to compact `bench-times` chunk lines just above it: a JSON
    *     string payload of `name:deciseconds` pairs, chunked
    *     ≤ [[ChunkChars]] per line.
    *  4. If even the times chunks cannot fit (≫250 queries), drop the
    *     spread line first, then the chunks last-first (earliest chunks
    *     are cut by the tail anyway); the full map still lives in
    *     bench_full.json.
    *
    * The bench-spread line (global max + noisy tail ratio ≥ 1.5) rides
    * along whenever the chosen contract leaves room — high-spread movers
    * are machine weather, and round-over-round triage wants that flag
    * next to the times. */
  private[graft] val TailBudget = 2000
  // 1985 = tail minus newline margin — measured, not guessed
  // (BENCH_r09/r10 tail fields are exactly 2000 chars)
  private[graft] val ContractBudget = 1985
  private[graft] val ChunkChars = 700

  private[graft] def emission(
      mins: Seq[(String, Double)], spreads: Seq[(String, Double)],
      total: Double, failed: Int, sfShort: String): Seq[String] = {
    def fmt(v: Double, prec: Int): String =
      if (v < 0) "-1"
      else String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(v))
    val spreadMax = spreads.map(_._2).maxOption.getOrElse(1.0)
    val noisiest = spreads.filter(_._2 >= 1.5).sortBy(-_._2).take(20)
    val spreadLine = "bench-spread {\"spread_max\":" + fmt(spreadMax, 1) +
      ",\"spread\":" + noisiest.map { case (k, v) =>
        "\"" + k + "\":" + fmt(v, 1) }.mkString("{", ",", "}") + "}"
    def contractWithMap(prec: Int): String = {
      val m = mins.map { case (k, v) => "\"" + k + "\":" + fmt(v, prec) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, prec)},"unit":"sec","failed":$failed,"sf":"$sfShort","queries":$m}"""
    }
    val classic = Seq(3, 2, 1).map(contractWithMap).find(_.length <= ContractBudget)
    // mixed-precision rung: 1-decimal below t, nearest-int at/above t —
    // keeps a driver-parsable "queries" map in the FINAL line for suites
    // too big for the classic precision ladder (scaladoc rung 2)
    def contractMixed(t: Double): String = {
      def f(v: Double): String =
        if (v < 0) "-1"
        else if (v >= t) math.round(v).toString
        else fmt(v, 1)
      val m = mins.map { case (k, v) => "\"" + k + "\":" + f(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","failed":$failed,"sf":"$sfShort","queries":$m}"""
    }
    val mixed = Seq(2.0, 1.0, 0.55, 0.5).map(contractMixed)
      .find(_.length <= ContractBudget)
    classic.orElse(mixed) match {
      case Some(c) =>
        if (c.length + spreadLine.length + 2 <= TailBudget) Seq(spreadLine, c)
        else Seq(c)
      case None =>
        // deciseconds, round-half-up; a failed query's -1 sentinel stays -1
        def ds(v: Double): Long = if (v < 0) -1L else math.round(v * 10)
        val entries = mins.map { case (k, v) => s"$k:${ds(v)}" }
        val chunks = {
          val b = Seq.newBuilder[Seq[String]]
          var cur = Vector.empty[String]
          var len = 0
          entries.foreach { e =>
            if (len + e.length + 1 > ChunkChars && cur.nonEmpty) {
              b += cur; cur = Vector.empty; len = 0
            }
            cur :+= e; len += e.length + 1
          }
          if (cur.nonEmpty) b += cur
          b.result()
        }
        val timesLines = chunks.zipWithIndex.map { case (es, i) =>
          s"""bench-times {"unit":"ds","part":"${i + 1}/${chunks.size}","t":"${es.mkString(" ")}"}"""
        }
        val contract =
          s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","failed":$failed,"sf":"$sfShort","nq":${mins.size},"times":"ds-chunked"}"""
        def fits(ls: Seq[String]): Boolean =
          ls.map(_.length + 1).sum <= TailBudget
        if (fits(timesLines ++ Seq(spreadLine, contract)))
          timesLines ++ Seq(spreadLine, contract)
        else if (fits(timesLines :+ contract)) timesLines :+ contract
        else {
          // drop earliest chunks until the rest fits — the tail cuts
          // from the front anyway; bench_full.json retains everything
          val kept = timesLines.indices
            .find(i => fits(timesLines.drop(i) :+ contract))
            .map(timesLines.drop)
            .getOrElse(Seq.empty)
          kept :+ contract
        }
    }
  }
}
