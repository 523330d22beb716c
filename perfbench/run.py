#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the CLI's own path.

    python3 perfbench/run.py --workload split_export --seed 1 --seconds 14 --trace 0

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build). Every run then starts one JVM that builds a `Cli.session`
(SPARK_MASTER=local[k], k = min(4, usable cores)), generates its inputs from
--seed, runs one cold op and then warm ops for --seconds, checking every
op's output. `setup_s` is the median, over that JVM and SETUPS - 1 more that
only build the session, of the time from JVM start to a ready session.

Every end-to-end time is the wall time less the host's CPU steal over it
(wall x (1 - steal share), from /proc/stat), so that a shared host's load
moves it less; the raw wall times are on the perfbench-info line. The
correction is an estimate: a run during which the host stole more than
STEAL_LIMIT of the CPU time is marked as not a valid measurement on stderr
and on that line.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
of traced replays (spans and a report land in perfbench/results/). The last
stdout line is the result JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD_INPUTS = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
WORKLOADS = ("jdbc_export", "split_export", "reverse_insert")
END_TO_END = [("setup_s", "s"), ("cold_op_s", "s"), ("op_s_p50", "s"),
              ("rows_per_s", "rows/s"), ("out_bytes_per_row", "B/row")]
# per-layer metric units; every other per-layer metric is a time in seconds
LAYER_UNITS = {"cli.tables_registered": "count", "source.partitions": "count",
               "type_mapping.cols_rewritten": "count", "batch_size_limit.rows": "rows",
               "batch_size_limit.bytes_per_row": "B/row", "parquet_sink.files": "count",
               "parquet_sink.row_groups": "count", "parquet_sink.bytes": "B",
               "parquet_sink.write_amp": "ratio", "physical_format.rows_reencoded": "rows",
               "jdbc_sink.connections": "count", "spark.jobs": "count", "spark.tasks": "count",
               "spark.slot_util": "frac", "trace.overhead_frac": "frac"}
SETUPS = 3           # set-up samples per run, the measuring JVM's among them
STEAL_LIMIT = 0.30   # the steal correction was checked up to this share of CPU time
RUN_TIMEOUT_S = 170  # the whole run must end within 180 s
JVM_HEAP = "3g"
# the JDK 17 module opens Spark needs outside spark-submit (the root build's list)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        if not os.path.exists(top):
            h.update(b"missing " + top.encode())
            continue
        if os.path.isfile(top):
            paths = [top]
        else:
            paths = []
            for d, dirs, files in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile with sbt once per source state; return the runtime classpath."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail("no program build (build.sbt) at the repository root")
    stamp = source_stamp()
    # the classes on disk are those of the last build, so only its stamp hits
    cache = os.path.join(BENCH, "target", "perfbench-classpath.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            built, cp = fh.read().split("\n", 1)
        if built == stamp and all(os.path.exists(p) for p in cp.strip().split(os.pathsep)):
            return cp.strip()
    log = os.path.join(BENCH, "target", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    # keep sbt's temp files, file-watcher library and JVM counters in the
    # checkout, and start no sbt server
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = (f"-Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} -Dsbt.server.autostart=false "
            f"-Dsbt.boot.lock=false -Dsbt.ivy.home={os.path.join(tmp, 'ivy')}")
    env = dict(os.environ, SBT_OPTS=(os.environ.get("SBT_OPTS", "") + " " + opts).strip(),
               JAVA_TOOL_OPTIONS=(os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip(),
               TMPDIR=tmp)
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.supershell=false", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
                           timeout=840)
        fh.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cache, "w") as fh:
        fh.write(stamp + "\n" + cp)
    return cp


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return min(4, n)


def jvm(cp, work, k, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    env = dict(os.environ, SPARK_MASTER=f"local[{k}]", SPARK_GRAFT_CPUS=str(k),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=tmp)
    return cmd + ["-cp", cp, "perfbench.Main"] + args, env


def launch(cp, work, k, args, deadline):
    """Start a JVM; return (seconds to its ready line, the host's steal
    share over them, stdout lines)."""
    cmd, env = jvm(cp, work, k, args)
    err = open(os.path.join(work, "jvm-stderr.log"), "a")
    ticks = cpu_ticks()
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
    watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
    watchdog.start()
    ready, steal, lines = None, None, []
    try:
        for line in proc.stdout:
            if line.startswith("perfbench-ready") and ready is None:
                ready = time.perf_counter() - t0
                steal = steal_frac(ticks, cpu_ticks())
            lines.append(line.rstrip("\n"))
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        err.close()
    if proc.returncode != 0 or ready is None:
        with open(os.path.join(work, "jvm-stderr.log")) as fh:
            tail = fh.read()[-3000:]
        fail(f"JVM {args[0]} exited {proc.returncode}:\n{tail}")
    return ready, steal, lines


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat (None where it does not exist)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def steal_frac(t0, t1):
    """Share of the CPU time wanted between two samples that the host took
    away (steal); busy time is user, nice, system, irq and softirq."""
    if not t0 or not t1 or len(t0) < 8:
        return 0.0
    d = [b - a for a, b in zip(t0, t1)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted else 0.0


def duckdb_copy_s(path, work, k):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads={k}")
    out = os.path.join(work, "duckdb-copy.parquet")
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute(f"COPY (SELECT * FROM read_parquet('{path}')) TO '{out}' "
                    "(FORMAT parquet, COMPRESSION zstd)")
        times.append(time.perf_counter() - t0)
    con.close()
    return statistics.median(times)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + RUN_TIMEOUT_S

    cp = build()
    deadline = max(deadline, time.monotonic() + RUN_TIMEOUT_S)  # a build run gets its own budget
    k = cpus()
    work = os.path.join(BENCH, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    results = os.path.join(BENCH, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    ticks = cpu_ticks()
    try:
        setup, setup_steal, lines = launch(cp, work, k, ["run", a.workload, str(a.seed), str(a.seconds),
                                            str(a.trace), work, results, str(k)], deadline)
        res = [ln for ln in lines if ln.startswith("perfbench-result ")]
        if not res:
            fail("the JVM printed no result")
        r = json.loads(res[-1][len("perfbench-result "):])
        setups = [(setup, setup_steal)] + [launch(cp, work, k, ["setup"], deadline)[:2]
                                           for _ in range(SETUPS - 1)]
        r["setup_s"] = statistics.median(s * (1 - st) for s, st in setups)
        r["setup_wall_s"] = [s for s, _ in setups]
        steal = steal_frac(ticks, cpu_ticks())
        r["steal_frac"] = steal
        r["valid_measurement"] = steal <= STEAL_LIMIT
        if not r["valid_measurement"]:
            print(f"perfbench: host CPU steal was {steal:.1%} of the CPU time wanted (limit "
                  f"{STEAL_LIMIT:.0%}); this run's timings are not a valid measurement",
                  file=sys.stderr)
        info = {key: r[key] for key in ("workload", "seed", "attempted", "failed", "op_fail_frac",
                                        "fixture_s", "setup_wall_s", "cold_op_wall_s",
                                        "cold_op_steal", "warm_op_wall_s", "warm_op_steal",
                                        "warm_ops_checked_ok", "ops_with_findings", "steal_frac",
                                        "valid_measurement", "fixtures")}
        print("perfbench-info " + json.dumps(info))
        for f in r["failures"]:
            print("perfbench-failure " + f)
        for f in r["findings"]:
            print("perfbench-finding " + f)
        if r["ops_with_findings"]:
            print(f"perfbench: {r['ops_with_findings']} of {r['attempted']} ops wrote correct data "
                  "in a layout that departs from the reference CLI's (perfbench-finding lines)",
                  file=sys.stderr)
        if a.trace:
            r["layers"]["duckdb_copy_s"] = duckdb_copy_s(r["duckdb_input"], work, k)
            report = {key: r[key] for key in ("workload", "seed", "layers", "traced_ops",
                                              "determinism", "op_s_p50")}
            report["span_file"] = os.path.relpath(r["span_file"], ROOT)
            report["tracing_overhead"] = (
                f"traced op {r['layers']['trace.op_s_p50']:.3f} s vs untraced op "
                f"{r['layers']['trace.untraced_op_s_p50']:.3f} s "
                f"({100 * r['layers']['trace.overhead_frac']:+.1f}%)")
            path = os.path.join(results, f"trace-{a.workload}-seed{a.seed}.json")
            with open(path, "w") as fh:
                json.dump(report, fh, indent=1, sort_keys=True)
            print("perfbench-trace " + json.dumps(report, sort_keys=True))
            metrics = {name: {"value": v, "unit": LAYER_UNITS.get(name, "s")}
                       for name, v in sorted(r["layers"].items())}
            correct = r["failed"] == 0 and r["determinism"]["ok"]
        else:
            metrics = {name: {"value": r[name], "unit": unit} for name, unit in END_TO_END}
            correct = r["failed"] == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
