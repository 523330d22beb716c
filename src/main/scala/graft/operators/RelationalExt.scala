package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Relational surface extensions (round 3): full outer join, exact-sum
  * statistics, unpivot, bucketed interval join, EXISTS/NOT EXISTS.
  *
  * Same capability-parity rationale as [[Relational]]: the reference ships
  * SQL verbatim to the backing DBMS (reference `src/query.rs:90-98`), so
  * each DBMS-side operator class needs a native Catalyst realization.
  *
  * Oracle float rule used throughout: aggregate in EXACT arithmetic
  * (decimal / bigint sums), cast the exact sums to double, then derive
  * statistics with IDENTICAL double expression trees on both engines —
  * IEEE ops on equal inputs are bit-equal regardless of partitioning.
  */
object RelationalExt {

  import Relational.{dec2, dsum}

  // ------------------------------------------------------- q38_full_outer
  /** FULL OUTER join of two pre-aggregated daily series (orders placed vs
    * lineitems shipped). Both sides reduce map-side before the join, so the
    * shuffled data is one row per (day) per side regardless of fact size;
    * the full-outer sort-merge join on the day key is scale-free. */
  def q38FullOuter(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d)
      .groupBy(col("o_orderdate").cast("date").as("day_o"))
      .agg(count(lit(1)).as("n_orders"))
    val l = lineitem(s, d)
      .groupBy(col("l_shipdate").cast("date").as("day_l"))
      .agg(count(lit(1)).as("n_shipped"))
    o.join(l, col("day_o") === col("day_l"), "full_outer")
      .select(coalesce(col("day_o"), col("day_l")).as("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_shipped"), lit(0L)).as("n_shipped"))
      .orderBy(col("day"))
  }

  // ------------------------------------------------------ q39_stats_battery
  /** Per-brand descriptive statistics from exact sums: sample stddev and
    * Pearson correlation derived from bigint/decimal sums (never the
    * engine's own streaming variance, whose merge order is partition-
    * dependent), plus the discrete median (an actual element, no
    * interpolation arithmetic). One shuffle total: the group-by carries
    * five partial sums and the percentile state. */
  def q39StatsBattery(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("p_size").cast("long")).cast("double").as("sx"),
        sum((col("p_size") * col("p_size")).cast("long")).cast("double").as("sx2"),
        dsum(dec2(col("p_retailprice"))).as("sy"),
        sum(dec2(col("p_retailprice")) * dec2(col("p_retailprice")))
          .cast("double").as("sy2"),
        sum(dec2(col("p_retailprice")) * col("p_size")).cast("double").as("sxy"),
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY p_size)").as("median_size"))
      // identical double expression trees to the oracle SQL — bit-equal.
      // percentile_disc returns double in Spark; the element is an int
      // (DuckDB's quantile_disc surface), so cast back — exact either way.
      .selectExpr("p_brand", "n", "CAST(median_size AS INT) AS median_size",
        "sqrt((n * sx2 - sx * sx) / (n * (n - 1))) AS stddev_size",
        "sqrt((n * sy2 - sy * sy) / (n * (n - 1))) AS stddev_price",
        ("(n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx)" +
          " * sqrt(n * sy2 - sy * sy)) AS corr_size_price"))
      .orderBy(col("p_brand"))

  // ---------------------------------------------------------- q40_unpivot
  /** UNPIVOT (wide → long): each metric column becomes (metric, value)
    * rows via Dataset.unpivot — Catalyst's Expand node, one scan, no
    * shuffle, output partitioning inherited from the scan. */
  def q40Unpivot(s: SparkSession, d: String): DataFrame =
    part(s, d)
      .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
        col("p_retailprice"))
      .unpivot(Array(col("p_partkey")), Array(col("p_size"), col("p_retailprice")),
        "metric", "value")
      .orderBy(col("p_partkey"), col("metric"))

  // ----------------------------------------------------- q41_interval_join
  /** Interval join with time-bucket blocking: for each error event, count
    * same-user purchases within ±10 minutes.
    *
    * The scalable shape: equi-join on (user_id, 10-minute bucket), with the
    * probe side exploded to its 3-bucket neighborhood so every true pair
    * meets the join exactly once (the build side keeps its own single
    * bucket) — turning an unbounded range predicate into a bounded
    * equi-join, the standard interval-join binning that survives dense
    * timelines. The exact ±window filter then prunes bucket-boundary false
    * candidates. Timestamps compare in microseconds (`ts_ns div 1000`) —
    * the same truncation DuckDB applies reading TIMESTAMP(NANOS). */
  def q41IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val winUs = 600L * 1000000L // ±10 min in micros
    val ev = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("t_us"))
    val err = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"), col("t_us").as("t_err"))
      .withColumn("bkt",
        explode(sequence(expr(s"t_err div $winUs - 1"), expr(s"t_err div $winUs + 1"))))
    val pur = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("u_p"), col("t_us").as("t_pur"),
        expr(s"t_pur div $winUs").as("bkt_p"))
    err.join(pur,
        col("user_id") === col("u_p") && col("bkt") === col("bkt_p") &&
          abs(col("t_err") - col("t_pur")) <= winUs, "left_outer")
      .groupBy(col("err_id"))
      .agg(count(col("t_pur")).as("n_purchases_10m"))
      .orderBy(col("err_id"))
  }

  // ------------------------------------------------------ q42_exists
  /** Correlated EXISTS / NOT EXISTS — customers active in 1996 that churned
    * in 1997. Catalyst decorrelates both subqueries into one semi and one
    * anti join against the same pre-filtered orders scan. */
  def q42Exists(s: SparkSession, d: String): DataFrame =
    TempViews.withViews(s,
      "cust_ex" -> customer(s, d), "ord_ex" -> orders(s, d)) { v =>
      s.sql(existsSql.format(v("cust_ex"), v("ord_ex"), v("ord_ex")))
    }

  private val existsSql =
    """SELECT c_custkey, c_name
      |FROM %s c
      |WHERE EXISTS (SELECT 1 FROM %s o
      |  WHERE o.o_custkey = c.c_custkey
      |    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
      |AND NOT EXISTS (SELECT 1 FROM %s o
      |  WHERE o.o_custkey = c.c_custkey
      |    AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------ q43_latest_per_key
  /** Dedup-by-latest: keep each (user, event_type)'s most recent event via
    * ROW_NUMBER() = 1 — the CDC/snapshot idiom. One shuffle on the key;
    * Spark evaluates the rank filter with a WindowGroupLimit push-down
    * (top-1 per group never materializes full partitions). Deterministic
    * tiebreak on event_id for equal timestamps. */
  def q43LatestPerKey(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("t_us").desc, col("event_id").desc)
    events(s, d)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts_ns div 1000").as("t_us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"), col("t_us"))
      .orderBy(col("user_id"), col("event_type"))
  }

  // ------------------------------------------------------ q55_funnel
  /** Ordered conversion funnel view → click → purchase: stage N counts
    * users whose earliest stage-N event STRICTLY follows their stage-(N−1)
    * entry time — the product-analytics primitive (who saw, then clicked,
    * then bought, in that order). Emits per-stage user counts plus the
    * summed view→stage lag so conversion latency rides along; all
    * arithmetic is integer micros (`ts_ns div 1000`, matching DuckDB's
    * micros-truncated read of the nanos column) so the oracle matches
    * exactly.
    *
    * Scale posture: three groupBy-min aggregates and two joins, ALL keyed
    * on user_id — partial aggregation collapses each user's events
    * map-side, the per-stage frames are one slim row per qualifying user,
    * and AQE reuses the user_id partitioning across the chain. Nothing
    * scans events more than the three type-filtered passes (one per
    * stage), each pushed down to the parquet scan. */
  def q55Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"),
      expr("ts_ns div 1000").as("us"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("t_view"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("us") > col("t_view"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("t_click"), min(col("t_view")).as("t_view"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("us") > col("t_click"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("t_purchase"), min(col("t_view")).as("t_view"))
    def stage(name: String, df: DataFrame, lag: Column): DataFrame =
      df.agg(count(lit(1)).as("n_users"),
          coalesce(sum(lag), lit(0L)).as("sum_lag_us"))
        .select(lit(name).as("stage"), col("n_users"), col("sum_lag_us"))
    stage("1_view", v, lit(0L))
      .unionByName(stage("2_click", c, col("t_click") - col("t_view")))
      .unionByName(stage("3_purchase", p, col("t_purchase") - col("t_view")))
      .orderBy(col("stage"))
  }

  // --------------------------------------------------- q56_retention
  /** Weekly cohort retention: users are cohorted by their FIRST event's
    * epoch day; each later event marks its user active in week
    * (day − day₀) div 7 of that cohort. The classic growth triangle —
    * n_active per (cohort day, week index) — in pure integer day/week
    * arithmetic on both engines.
    *
    * Scale posture: one groupBy-min per user for the cohort anchor, one
    * join back keyed on user_id, then a distinct + count keyed on
    * (cohort, week, user) — every shuffle key contains user_id or the
    * (cohort, week) rollup of it, aggregated map-side first. */
  def q56Retention(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"),
      expr("ts_ns div 1000 div 86400000000").as("day"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("day")).as("day0"))
    ev.join(cohorts, Seq("user_id"))
      .select(col("day0"), expr("(day - day0) div 7").as("week"), col("user_id"))
      .distinct()
      .groupBy(col("day0"), col("week"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy(col("day0"), col("week"))
  }

  // ------------------------------------------------- q57_event_paths
  /** Order-1 sequential pattern mining over the event log: per user,
    * events ordered by exact event time (event_id tiebreak — within-ts
    * order must be pinned or transition counts are nondeterministic),
    * adjacent pairs become (prev_type → event_type) transitions, counted
    * globally — the Markov-transition matrix behind funnel discovery and
    * session-model features (q55 checks ONE known path; this one finds
    * them all).
    *
    * Scale posture: one user-keyed window (lag) + one map-side-combined
    * count over at most |event types|² groups. The window's per-user
    * partition is bounded by per-user event counts — the q21 skew story
    * applies if one user dominates. */
  def q57EventPaths(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // micros (ts_ns div 1000), not raw nanos: the oracle orders by
    // epoch_us(ts), and on a TIMESTAMP(NANOS)-encoded generation a
    // same-micro nano difference would flip the tiebreak to event_id on
    // one side only — the repo-wide q41/q43/q55 convention
    val w = Window.partitionBy(col("user_id"))
      .orderBy(expr("ts_ns div 1000"), col("event_id"))
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("event_type"))
  }

  // ---------------------------------------------------- q58_gap_fill
  /** Forward-fill (LOCF — last observation carried forward) gap-filling
    * over the event stream: only 'purchase' events carry an observed
    * `value`; every event row is annotated with the most recent purchase
    * value at or before it for the same user (NULL until the user's
    * first purchase). The sensor-reading/price-series idiom, realized as
    * a single IGNORE NULLS running window — no self-join, no as-of join
    * against a carried table.
    *
    * One user-keyed shuffle; the fill itself is an in-partition running
    * `last(…, ignoreNulls)` over (micros, event_id) order — the q57
    * ordering convention, portable across events-ts encodings. Scale:
    * identical to any per-user window (q7/q8); a pathologically hot user
    * would salt exactly as q22 documents. */
  def q58GapFill(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("us"), col("event_type"), col("value"))
      .withColumn("filled_value",
        last(when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true).over(w))
      .select(col("user_id"), col("event_id"), col("us"), col("event_type"),
        col("filled_value"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }

  // ------------------------------------------------- q60_dist_window
  /** Distribution-window battery — percent_rank, cume_dist and
    * nth_value, the three window classes q7 (rank), q8 (running
    * frames), q31 (RANGE) and q32 (lag/ntile) don't yet cover:
    * per-priority price percentile position of each March-1995 order
    * plus the partition's runner-up key. Ratio fns are double-valued;
    * the orderBy is made UNIQUE by the (price, key) tiebreak, so
    * (rank−1)/(n−1) and rank/n are single IEEE divisions of identical
    * small ints on both engines — bit-equal without the micro-units
    * detour (the RelationalExt float rule). nth_value carries an
    * explicit ROWS frame so neither engine's default-frame choice is
    * load-bearing; it is null until the partition's second row arrives,
    * same convention both sides. Scale: one priority-keyed window
    * shuffle after a pushed-down date filter — identical posture to
    * q7; 5 coarse partitions would salt per q22 only if a single
    * priority outgrew an executor, which a month-sliced scan never
    * does. */
  def q60DistWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .filter(year(col("o_orderdate")) === 1995 &&
        month(col("o_orderdate")) === 3)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cdist", cume_dist().over(w))
      .withColumn("second_key", nth_value(col("o_orderkey"), 2).over(wf))
      .orderBy(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
  }

  // ------------------------------------------------ q61_not_in_nulls
  /** NOT IN over a NULLABLE subquery column — the three-valued-logic
    * anti join q13 (null-free left_anti) deliberately does not cover:
    * per ANSI, one NULL in the subquery makes every non-match UNKNOWN
    * and empties the result, so the engine cannot plan a plain
    * hash anti join. The projected key here is statically nullable (a
    * data-dependent CASE Catalyst cannot fold away) but never null at
    * runtime, which pins the interesting plan — Spark's single-column
    * null-aware anti join (NAAJ, a broadcast hash join variant that
    * tracks the "saw a null" flag instead of falling back to the
    * O(n·m) BroadcastNestedLoopJoin pre-3.1 engines used) — while
    * keeping the result a non-degenerate customer complement that both
    * engines' identical 3VL semantics agree on.
    *
    * Scale: the build side is the filtered urgent-order key list —
    * broadcastable after pushdown; the probe side streams. A
    * beyond-broadcast build side would rewrite to d10's bloom pre-pass
    * + shuffle-verify shape; the semantics (and this oracle) stay
    * fixed. */
  def q61NotInNulls(s: SparkSession, d: String): DataFrame =
    TempViews.withViews(s,
      "cust_naaj" -> customer(s, d),
      "ord_naaj" -> orders(s, d)) { v =>
      s.sql(
        s"""SELECT c_custkey, c_name
           |FROM ${v("cust_naaj")}
           |WHERE c_custkey NOT IN (
           |  SELECT CASE WHEN o_totalprice > 0 THEN o_custkey END
           |  FROM ${v("ord_naaj")} WHERE o_orderpriority = '1-URGENT')
           |ORDER BY c_custkey""".stripMargin)
    }

  // --------------------------------------------- q62_running_distinct
  /** Running DISTINCT count over an event stream — "how many distinct
    * event types has this user produced so far" at every event, the
    * engagement-breadth signal. Spark's window aggregates reject
    * DISTINCT, so the native realization is `size(collect_set)` over
    * the running ROWS frame: ONE user-keyed shuffle, one sort, and
    * per-row state bounded by the distinct-value count of the tracked
    * column (the 4-value type alphabet here — set growth is data
    * cardinality, not row count). For a HIGH-cardinality tracked column
    * (distinct items, not types) the same result comes from the
    * two-window first-occurrence idiom — `row_number() = 1` per
    * (user, item) summed over the user's running frame — which holds
    * O(1) per row but pays a second exchange; this gate pins the
    * bounded-alphabet single-shuffle form, and
    * [[q74RunningDistinctHicard]] gates the switch itself.
    * The oracle runs DuckDB's windowed COUNT(DISTINCT …)
    * directly — both engines land on the same integer counts. */
  def q62RunningDistinct(s: SparkSession, d: String): DataFrame = {
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("us"), col("event_type"))
      .withColumn("n_types_seen",
        size(collect_set(col("event_type")).over(wRun)).cast("long"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }

  // ------------------------------------- q74_running_distinct_hicard
  /** q62's documented HIGH-CARDINALITY switch, gated. When the tracked
    * column's alphabet is unbounded (distinct items, not a 4-value type
    * enum), `collect_set` over the running frame holds O(alphabet) state
    * per row — the q62 form stops scaling. The two-window first-occurrence
    * idiom holds O(1) per row instead: `row_number() = 1` per
    * (user, item) marks each item's first appearance, and a running SUM of
    * those marks over the user's frame IS the running distinct count —
    * at the price of a second exchange (one keyed (user, item) for the
    * first-occurrence ranking, one keyed user for the running sum). The
    * tracked item here is `event_id % 997` — a 997-value alphabet, ~250×
    * q62's, standing in for an unbounded id space while staying portable
    * to the oracle (DuckDB computes the identical windowed
    * COUNT(DISTINCT) directly). */
  def q74RunningDistinctHicard(s: SparkSession, d: String): DataFrame = {
    val base = events(s, d)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("us"),
        (col("event_id") % 997).as("item"))
    val wFirst = Window.partitionBy(col("user_id"), col("item"))
      .orderBy(col("us"), col("event_id"))
    val wRun = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("first_seen",
        when(row_number().over(wFirst) === 1, lit(1L)).otherwise(lit(0L)))
      .withColumn("n_items_seen", sum(col("first_seen")).over(wRun))
      .select(col("user_id"), col("event_id"), col("us"), col("item"),
        col("n_items_seen"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
  }

  // --------------------------------------------- q63_sliding_window
  /** SLIDING (hopping) time windows — `window(ts, 1 hour, 15 minutes)`:
    * every event lands in exactly windowDuration/slide = 4 overlapping
    * hour buckets, the smoothing aggregation dashboards use where
    * tumbling windows (q20) jitter at bucket edges. Spark expands the
    * window assignment inline on the scan (a 4-row generator per event,
    * no self-join); the oracle realizes the identical assignment as an
    * explicit ×4 lateral range — both engines agree because 15 divides
    * 60, so each window start is `floor(us/15min)·15min − i·15min` for
    * i in 0..3, epoch-aligned on both sides. One (window × type)-keyed
    * exchange with map-side partial aggregation; the 4× row expansion
    * happens inside the scan stage and pre-aggregates before
    * shuffling, so the exchange carries window-bucket aggregates —
    * 4× the tumbling q20 volume but still model-sized, never 4× the
    * events. */
  def q63SlidingWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("value"))).cast("double").as("total_value"))
      .select(unix_micros(col("window.start")).as("start_us"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy(col("start_us"), col("event_type"))

  // --------------------------------------------- q64_null_semantics
  /** ANSI NULL-semantics battery over one derived key (every 7th event's
    * user masked to NULL): NULL forms its own GROUP BY group, COUNT(*)
    * counts it while COUNT(k) skips it, COALESCE fills it, and — the
    * operator this gate exists for — the NULL-SAFE equality join
    * (`<=>` / IS NOT DISTINCT FROM): unlike `=`, null-safe equality is
    * a legal EQUI-join key, so the self-reconciliation join hashes on
    * the key (one NULL bucket matching itself exactly once) instead of
    * degenerating to a nested loop, and unlike q61's NOT IN there is
    * no three-valued trap — the dimension-reconciliation idiom for
    * snapshots whose business key is nullable. Scale: group first
    * (|keys|-sized), then self-join the aggregate — the join input is
    * model-sized; joining the raw rows null-safely would cross-match
    * every masked row (|nulls|² blow-up), which is why the aggregate
    * goes first. */
  def q64NullSemantics(s: SparkSession, d: String): DataFrame = {
    val g = events(s, d)
      .select(when(col("event_id") % 7 === 0, lit(null))
        .otherwise(col("user_id")).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"), count(col("k")).as("n_nonnull"))
    g.as("x").join(g.as("y"), col("x.k") <=> col("y.k"))
      .select(coalesce(col("x.k"), lit(-1L)).as("k_filled"),
        col("x.n_rows").as("n_rows"), col("x.n_nonnull").as("n_nonnull"),
        col("y.n_rows").as("n_rows_selfjoin"))
      .orderBy(col("k_filled"))
  }

  // ------------------------------------------------- q65_setops_all
  /** BAG-semantics set operations — INTERSECT ALL / EXCEPT ALL, the
    * multiplicity-preserving family q10's set-semantics trio doesn't
    * cover: "how many of this customer's H1 orders exceed their H2
    * orders" is a multiset difference, and collapsing to DISTINCT
    * first (q10's shape) destroys the count. Catalyst plans both as a
    * count-aggregate + replication Generate — one shuffle keyed on the
    * value, per-key state two counts, output re-expanded to
    * min/excess multiplicity — never a row-by-row anti join; the gate
    * tags both results and unions them so one frame pins both
    * operators. Scale: identical posture to any keyed aggregate; the
    * replication factor is bounded by observed multiplicities. */
  def q65SetopsAll(s: SparkSession, d: String): DataFrame = {
    def custs(lo: String, hi: String): DataFrame =
      orders(s, d)
        .filter(col("o_orderdate") >= lit(lo).cast("timestamp") &&
          col("o_orderdate") < lit(hi).cast("timestamp"))
        .select(col("o_custkey"))
    val a = custs("1995-01-01 00:00:00", "1995-07-01 00:00:00")
    val b = custs("1995-07-01 00:00:00", "1996-01-01 00:00:00")
    a.exceptAll(b).withColumn("op", lit("except_all"))
      .unionByName(a.intersectAll(b).withColumn("op", lit("intersect_all")))
      .orderBy(col("op"), col("o_custkey"))
  }

  // --------------------------------------------------- q66_typed_agg
  /** The TYPED Dataset aggregation path — a custom
    * `Aggregator[IN, BUF, OUT]` over `groupByKey`, the compile-time-safe
    * API the DataFrame gates deliberately don't exercise: the buffer is
    * a (count, exact java BigDecimal sum) pair carried through Spark's
    * Decimal encoder, so partial aggregation, merge and codegen'd
    * serialization all run through the typed encoder machinery while
    * the ARITHMETIC stays the engine's decimal-exact dec2 convention
    * (valueOf(double).setScale(2, HALF_UP) is bit-identical to the
    * `CAST(x AS DECIMAL(12,2))` both engines run elsewhere — the
    * oracle float rule). Semantically equal to q1's DataFrame
    * aggregate; the gate exists because a library consumer choosing
    * `Dataset[T]` must land on identical numbers. Scale: same one
    * map-side-combined keyed exchange as q1 — typed buffers partial-
    * aggregate before the shuffle exactly like untyped ones. */
  private object QtySumAgg
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, Double), (Long, java.math.BigDecimal), (Long, Double)] {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    override def zero: (Long, JBD) = (0L, JBD.ZERO)
    override def reduce(b: (Long, JBD), a: (String, Double)): (Long, JBD) =
      (b._1 + 1, b._2.add(JBD.valueOf(a._2).setScale(2, RM.HALF_UP)))
    override def merge(x: (Long, JBD), y: (Long, JBD)): (Long, JBD) =
      (x._1 + y._1, x._2.add(y._2))
    override def finish(b: (Long, JBD)): (Long, Double) =
      (b._1, b._2.doubleValue)
    override def bufferEncoder =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.DECIMAL)
    override def outputEncoder =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble)
  }

  def q66TypedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .agg(QtySumAgg.toColumn)
      .map { case (flag, (n, sum)) => (flag, n, sum) }
      .toDF("l_returnflag", "n", "sum_qty")
      .orderBy(col("l_returnflag"))
  }

  // -------------------------------------------- q68_correlated_scalar
  /** CORRELATED scalar subqueries in the SELECT list — per-nation
    * customer count and account-balance maximum, each phrased as a
    * subquery referencing the outer row. q16 covers the uncorrelated
    * scalar (one value broadcast everywhere); the correlated form is a
    * different optimizer job entirely: Catalyst DECORRELATES each
    * subquery into an aggregate-then-LEFT-OUTER-join on the correlation
    * key (missing keys → NULL, COALESCE'd to the ANSI COUNT()=0
    * convention), so the plan a user wrote as "run a query per row"
    * executes as two keyed aggregates + two broadcast joins — O(rows),
    * never O(rows × subquery). The gate coalesces the count explicitly
    * so both engines pin the empty-group convention. Scale: the outer
    * side streams; each decorrelated aggregate shuffles only the
    * dimension-keyed aggregate rows. */
  def q68CorrelatedScalar(s: SparkSession, d: String): DataFrame =
    TempViews.withViews(s,
      "nat_cs" -> nation(s, d),
      "cust_cs" -> customer(s, d)) { v =>
      s.sql(
        s"""SELECT n_nationkey, n_name,
           |  COALESCE((SELECT COUNT(*) FROM ${v("cust_cs")} c
           |    WHERE c.c_nationkey = n.n_nationkey), 0) AS n_custs,
           |  (SELECT MAX(c_acctbal) FROM ${v("cust_cs")} c
           |    WHERE c.c_nationkey = n.n_nationkey) AS max_bal
           |FROM ${v("nat_cs")} n
           |ORDER BY n_nationkey""".stripMargin)
    }

  // -------------------------------------------------- q69_pivot_native
  /** The NATIVE pivot API — `groupBy().pivot(col, values).agg(…)`, the
    * relational operator q19's manual CASE-WHEN spelling deliberately
    * avoids: Catalyst plans it through PivotFirst (one aggregation pass,
    * per-group fixed-width slots — no per-value scan). The value list is
    * PINNED: omitting it makes Spark run an eager DISTINCT scan at plan
    * time to discover columns — an extra pass a 100 TB job must never
    * pay, and non-deterministic output schema besides (the documented
    * production rule this gate encodes). Empty cells surface as NULL
    * from PivotFirst and are coalesced to the COUNT()=0 convention so
    * both engines agree. One keyed exchange, map-side combined —
    * identical movement to q19; the APIs must land on identical
    * numbers. */
  def q69PivotNative(s: SparkSession, d: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = events(s, d)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("user_id") +:
        types.map(t => coalesce(col(s"`$t`"), lit(0L)).as(t)): _*)
      .orderBy(col("user_id"))
  }

  // ---------------------------------------------- q70_outer_generators
  /** OUTER generator semantics — `posexplode_outer`: exploding a
    * per-document array of long tokens (≥8 chars, so many documents
    * have NONE) while PRESERVING empty-array parents as (NULL, NULL)
    * rows. The inner explode silently drops those documents — the
    * classic row-loss bug in per-token pipelines that later join back
    * to the document table and wonder where rows went; the outer
    * variant is the join-safe spelling, and the ordinality column
    * (pos) pins generator ORDER, which plain explode oracles can't.
    * Scale: generators run inside the scan stage (Generate node, no
    * exchange); output volume is Σ array lengths + the preserved
    * parents. */
  def q70OuterGenerators(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"),
        filter(split(trim(col("text")), "\\s+"),
          t => length(t) >= 8).as("arr"))
      .select(col("doc_id"), posexplode_outer(col("arr")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("tok"))
      .orderBy(col("doc_id"), col("pos"))

  // ---------------------------------------------- q71_typed_joinwith
  /** The TYPED join — `Dataset.joinWith`, which returns PAIRS of whole
    * objects instead of a flattened row (q66's argument applied to
    * joins: a Dataset[T] consumer must land on identical numbers
    * through the encoder machinery). The join itself is the same
    * Catalyst broadcast-hash join as the DataFrame path — joinWith
    * only changes the OUTPUT shape to (left, right) structs, and the
    * follow-up typed map flattens them back, exercising
    * serialize/deserialize boundaries around a join. Filter pushed
    * to the scan; customer carries no broadcast hint (it grows with
    * the corpus — the planner broadcasts it from its known scan size
    * while it fits). */
  def q71TypedJoinWith(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = orders(s, d)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .as[(Long, Long, Double)]
    val c = customer(s, d)
      .select(col("c_custkey"), col("c_name")).as[(Long, String)]
    o.joinWith(c, col("o_custkey") === col("c_custkey"))
      .map { case ((ok, ck, tp), (_, name)) => (ok, ck, name, tp) }
      .toDF("o_orderkey", "o_custkey", "c_name", "o_totalprice")
      .orderBy(col("o_orderkey"))
  }

  // ------------------------------------------------- q72_try_cast
  /** Error-tolerant casts — `try_cast`/`try_element_at`, ANSI mode's
    * escape hatch: under Spark 4's ANSI default a malformed cast THROWS
    * (k-series gates pin that hard-error contract for silent-corruption
    * paths); ingest code parsing dirty text wants NULL-on-failure
    * instead, per value, without disabling ANSI globally. The battery
    * parses the priority label three ways (whole string → NULL, leading
    * digit → 1..5, as double → NULL) plus an out-of-bounds
    * try_element_at — each lands on the identical TRY_CAST NULLs in
    * DuckDB. Scan-shaped; the aggregate proves the NULL/value split is
    * exact, not approximate.
    *
    * Width-guarded ([[Scans.wide]], round 17): a failing TRY cast pays a
    * constructed-and-caught SparkNumberFormatException PER VALUE inside
    * Spark's Cast(TRY) codegen (OPTIMIZATION_r17.md: the two
    * always-failing casts alone cost 1.37 s vs 0.07 s for the same casts
    * on parseable input — 18×), making this a compute-dense per-row kernel whose parallelism
    * ceiling is the scan's split count, not data volume. Identity at
    * warehouse file counts. */
  def q72TryCast(s: SparkSession, d: String): DataFrame =
    Scans.wide(s,
        orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        col("o_orderkey"))
      .select(col("o_orderpriority"),
        expr("try_cast(o_orderpriority AS INT)").as("whole_int"),
        expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)").as("lead_int"),
        expr("try_cast(o_orderpriority AS DOUBLE)").as("as_double"),
        expr("try_element_at(split(o_orderpriority, '-'), 9)").as("oob_elem"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        count(col("whole_int")).as("n_whole_parsed"),
        min(col("lead_int")).as("lead_min"),
        max(col("lead_int")).as("lead_max"),
        count(col("as_double")).as("n_double_parsed"),
        count(col("oob_elem")).as("n_oob"))
      .orderBy(col("o_orderpriority"))

  // ----------------------------------------------- q73_salted_join
  /** MANUAL salted join — the join-side sibling of q22's salted
    * aggregation and the hand-built counterpart of e22's AQE skew
    * split: a synthetic hot key (half of lineitem collapses onto
    * bucket 0) would pin one reducer in a plain shuffle join, so the
    * fact side salts its key with `pmod(hash(rowid), R)` and the
    * dimension side REPLICATES ×R via an exploded sequence — every
    * fact row meets its dimension row in exactly one salted partition,
    * and the hot key's work spreads over R reducers. The join output
    * re-aggregates per ORIGINAL key, proving result-identity with the
    * unsalted plain join the oracle runs (salting must be
    * plan-invisible in the answer). When AQE is available e22's
    * runtime split is the first choice; manual salting is the tool
    * when the skew is KNOWN and stable, the build side must not
    * broadcast, or the engine lacks runtime splitting — and it
    * composes with any join type, which AQE's split does not (outer
    * sides pin). R=8: replication cost is R× the DIMENSION, never the
    * fact. */
  def q73SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val R = 8
    // hot key = 1 — a REAL supplier key (TPC-H suppkeys start at 1), so
    // the skewed half of lineitem survives the inner join and the salted
    // partitions carry real work
    val li = lineitem(s, d)
      .select((when(col("l_orderkey") % 2 === 0, lit(1L))
        .otherwise(col("l_suppkey") % 10)).as("k"),
        col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      .withColumn("salt",
        pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(R)))
    val dim = supplier(s, d)
      .filter(col("s_suppkey") < 10)
      .select(col("s_suppkey").as("dk"), col("s_name"))
      .withColumn("salt", explode(sequence(lit(0), lit(R - 1))))
    // SHUFFLE_HASH hint: the 72-row replicated dimension would otherwise
    // auto-broadcast, which eliminates the shuffle entirely and makes the
    // salt dead weight — the gate exists to exercise the SALTED SHUFFLE
    // (at real scale the build side is too big to broadcast, which is the
    // only situation where manual salting is the right tool)
    li.join(dim.hint("shuffle_hash"),
        col("k") === col("dk") && li("salt") === dim("salt"))
      .groupBy(col("k"), col("s_name"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"))
      .orderBy(col("k"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q72_try_cast" -> q72TryCast,
    "q73_salted_join" -> q73SaltedJoin,
    "q70_outer_generators" -> q70OuterGenerators,
    "q71_typed_joinwith" -> q71TypedJoinWith,
    "q69_pivot_native" -> q69PivotNative,
    "q68_correlated_scalar" -> q68CorrelatedScalar,
    "q66_typed_agg" -> q66TypedAgg,
    "q65_setops_all" -> q65SetopsAll,
    "q63_sliding_window" -> q63SlidingWindow,
    "q64_null_semantics" -> q64NullSemantics,
    "q62_running_distinct" -> q62RunningDistinct,
    "q74_running_distinct_hicard" -> q74RunningDistinctHicard,
    "q61_not_in_nulls" -> q61NotInNulls,
    "q60_dist_window" -> q60DistWindow,
    "q58_gap_fill" -> q58GapFill,
    "q57_event_paths" -> q57EventPaths,
    "q55_funnel" -> q55Funnel,
    "q56_retention" -> q56Retention,
    "q43_latest_per_key" -> q43LatestPerKey,
    "q38_full_outer" -> q38FullOuter,
    "q39_stats_battery" -> q39StatsBattery,
    "q40_unpivot" -> q40Unpivot,
    "q41_interval_join" -> q41IntervalJoin,
    "q42_exists" -> q42Exists
  )

  val oracleSql: Map[String, String] = Map(
    "q72_try_cast" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  COUNT(TRY_CAST(o_orderpriority AS INT)) AS n_whole_parsed,
        |  MIN(TRY_CAST(substr(o_orderpriority, 1, 1) AS INT)) AS lead_min,
        |  MAX(TRY_CAST(substr(o_orderpriority, 1, 1) AS INT)) AS lead_max,
        |  COUNT(TRY_CAST(o_orderpriority AS DOUBLE)) AS n_double_parsed,
        |  COUNT(string_split(o_orderpriority, '-')[9]) AS n_oob
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the oracle runs the PLAIN unsalted join — salting must be
    // result-invisible
    "q73_salted_join" ->
      """WITH li AS (SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1
        |    ELSE l_suppkey % 10 END AS k, l_quantity FROM lineitem),
        |dim AS (SELECT s_suppkey AS dk, s_name FROM supplier
        |  WHERE s_suppkey < 10)
        |SELECT k, s_name, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM li JOIN dim ON k = dk
        |GROUP BY k, s_name ORDER BY k""".stripMargin,
    // outer unnest with ordinality: one unnest of list_zip(arr, range)
    // (generate_subscripts is itself unnest-shaped in DuckDB and cannot
    // pair with a second unnest), LEFT JOIN back to preserve empties
    "q70_outer_generators" ->
      """WITH d AS (SELECT doc_id, list_filter(
        |    string_split_regex(trim(text), '\s+'),
        |    t -> length(t) >= 8) AS arr FROM documents),
        |x AS (SELECT doc_id,
        |    unnest(list_zip(arr, range(1, len(arr) + 1))) AS z FROM d),
        |y AS (SELECT doc_id, CAST(z[2] AS BIGINT) - 1 AS pos,
        |    CAST(z[1] AS VARCHAR) AS tok FROM x)
        |SELECT d.doc_id, y.pos, y.tok
        |FROM d LEFT JOIN y ON d.doc_id = y.doc_id
        |ORDER BY d.doc_id, y.pos""".stripMargin,
    "q71_typed_joinwith" ->
      """SELECT o_orderkey, o_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 400000
        |ORDER BY o_orderkey""".stripMargin,
    "q69_pivot_native" ->
      """SELECT user_id,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q68_correlated_scalar" ->
      """SELECT n_nationkey, n_name,
        |  COALESCE((SELECT COUNT(*) FROM customer c
        |    WHERE c.c_nationkey = n.n_nationkey), 0) AS n_custs,
        |  (SELECT MAX(c_acctbal) FROM customer c
        |    WHERE c.c_nationkey = n.n_nationkey) AS max_bal
        |FROM nation n
        |ORDER BY n_nationkey""".stripMargin,
    "q66_typed_agg" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q65_setops_all" ->
      """WITH a AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |    AND o_orderdate < TIMESTAMP '1995-07-01'),
        |b AS (SELECT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1995-07-01'
        |    AND o_orderdate < TIMESTAMP '1996-01-01')
        |SELECT o_custkey, 'except_all' AS op
        |  FROM (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT o_custkey, 'intersect_all' AS op
        |  FROM (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
        |ORDER BY op, o_custkey""".stripMargin,
    // the ×4 lateral range realizes exactly Spark's sliding-window
    // assignment: start = floor(us/15min)·15min − i·15min, i ∈ 0..3 —
    // every shifted start covers the event because 15 divides 60
    "q63_sliding_window" ->
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type,
        |    CAST(value AS DECIMAL(12,2)) AS v FROM events),
        |w AS (SELECT ((us // 900000000) - i) * 900000000 AS start_us,
        |    event_type, v FROM e, range(0, 4) t(i))
        |SELECT start_us, event_type, COUNT(*) AS n,
        |  CAST(SUM(v) AS DOUBLE) AS total_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q64_null_semantics" ->
      """WITH b AS (SELECT CASE WHEN event_id % 7 = 0 THEN NULL
        |    ELSE user_id END AS k FROM events),
        |g AS (SELECT k, COUNT(*) AS n_rows, COUNT(k) AS n_nonnull
        |  FROM b GROUP BY k)
        |SELECT COALESCE(x.k, -1) AS k_filled, x.n_rows, x.n_nonnull,
        |  y.n_rows AS n_rows_selfjoin
        |FROM g x JOIN g y ON x.k IS NOT DISTINCT FROM y.k
        |ORDER BY k_filled""".stripMargin,
    "q62_running_distinct" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type
        |  FROM events)
        |SELECT user_id, event_id, us, event_type,
        |  COUNT(DISTINCT event_type) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_types_seen
        |FROM e ORDER BY user_id, us, event_id""".stripMargin,
    // DuckDB runs the windowed COUNT(DISTINCT) directly; the Spark twin
    // realizes the same counts via the two-window first-occurrence idiom
    "q74_running_distinct_hicard" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    event_id % 997 AS item
        |  FROM events)
        |SELECT user_id, event_id, us, item,
        |  COUNT(DISTINCT item) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_items_seen
        |FROM e ORDER BY user_id, us, event_id""".stripMargin,
    // identical ANSI 3VL NOT IN — DuckDB plans its own null-aware mark
    // join over the same nullable CASE projection
    "q61_not_in_nulls" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE c_custkey NOT IN (
        |  SELECT CASE WHEN o_totalprice > 0 THEN o_custkey END
        |  FROM orders WHERE o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q60_dist_window" ->
      """SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist,
        |  nth_value(o_orderkey, 2) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key
        |FROM orders
        |WHERE year(o_orderdate) = 1995 AND month(o_orderdate) = 3
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin,
    "q58_gap_fill" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
        |    value FROM events)
        |SELECT user_id, event_id, us, event_type,
        |  last_value(CASE WHEN event_type = 'purchase' THEN value END
        |      IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS filled_value
        |FROM e ORDER BY user_id, us, event_id""".stripMargin,
    "q55_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |v AS (SELECT user_id, MIN(us) AS t_view FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(us) AS t_click, MIN(t_view) AS t_view
        |  FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us > t_view GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(us) AS t_purchase, MIN(c.t_view) AS t_view
        |  FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us > t_click GROUP BY 1)
        |SELECT '1_view' AS stage, COUNT(*) AS n_users,
        |  CAST(0 AS BIGINT) AS sum_lag_us FROM v
        |UNION ALL SELECT '2_click', COUNT(*),
        |  CAST(COALESCE(SUM(t_click - t_view), 0) AS BIGINT) FROM c
        |UNION ALL SELECT '3_purchase', COUNT(*),
        |  CAST(COALESCE(SUM(t_purchase - t_view), 0) AS BIGINT) FROM p
        |ORDER BY stage""".stripMargin,
    "q57_event_paths" ->
      """WITH o AS (SELECT user_id, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, COUNT(*) AS n
        |FROM o WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q56_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day
        |    FROM events),
        |c AS (SELECT user_id, MIN(day) AS day0 FROM e GROUP BY 1)
        |SELECT day0, (day - day0) // 7 AS week, COUNT(DISTINCT e.user_id) AS n_active
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q38_full_outer" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
        |    FROM orders GROUP BY 1),
        |  l AS (SELECT CAST(l_shipdate AS DATE) AS day, COUNT(*) AS n_shipped
        |    FROM lineitem GROUP BY 1)
        |SELECT COALESCE(o.day, l.day) AS day,
        |  CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
        |  CAST(COALESCE(n_shipped, 0) AS BIGINT) AS n_shipped
        |FROM o FULL JOIN l ON o.day = l.day
        |ORDER BY day""".stripMargin,
    "q39_stats_battery" ->
      """WITH g AS (SELECT p_brand,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(p_size AS BIGINT)) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(p_size * p_size AS BIGINT)) AS DOUBLE) AS sx2,
        |    CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))
        |           * CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS sy2,
        |    CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2)) * p_size) AS DOUBLE) AS sxy,
        |    quantile_disc(p_size, 0.5) AS median_size
        |  FROM part GROUP BY p_brand)
        |SELECT p_brand, n, median_size,
        |  sqrt((n * sx2 - sx * sx) / (n * (n - 1))) AS stddev_size,
        |  sqrt((n * sy2 - sy * sy) / (n * (n - 1))) AS stddev_price,
        |  (n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx)
        |    * sqrt(n * sy2 - sy * sy)) AS corr_size_price
        |FROM g ORDER BY p_brand""".stripMargin,
    "q40_unpivot" ->
      """SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
        |UNION ALL
        |SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
        |ORDER BY p_partkey, metric""".stripMargin,
    "q41_interval_join" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t_us
        |    FROM events)
        |SELECT e.event_id AS err_id, COUNT(p.t_us) AS n_purchases_10m
        |FROM (SELECT * FROM ev WHERE event_type = 'error') e
        |LEFT JOIN (SELECT * FROM ev WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND abs(e.t_us - p.t_us) <= 600000000
        |GROUP BY e.event_id
        |ORDER BY err_id""".stripMargin,
    "q42_exists" -> existsSql.format("customer", "orders", "orders"),
    "q43_latest_per_key" ->
      """WITH t AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS t_us,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_type, event_id, t_us
        |FROM t WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin
  )
}
