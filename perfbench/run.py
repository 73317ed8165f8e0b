#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JSON record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine with the benchmark's own sbt project on first use,
generates the workload's tables from the seed (gen.py, cached under
.bench_build/data), measures JVM set-up twice, runs the queries in one
JVM at local[N] (Main.scala) and checks every query's output against its
DuckDB oracle SQL. The last stdout line is the record: end-to-end metrics
with --trace 0, per-layer metrics (from a traced run) with --trace 1.
Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "sbt-target" / "scala-2.13" / "classes"
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

SETUPS = 2
MAX_CORES = 4
HEAP = "2g"
YOUNG = "768m"
# A run's deadline: this much for the set-ups, the cold pass and the check
# (together 35-50 s on a 4-core VM), plus twice --seconds for the steady
# passes, since a traced run adds a traced pass after each untraced one.
FIXED_TIMEOUT_S = 140
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

# Metric names and units come from BENCHMARK.json, the one list of them.
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    files = sorted(ENGINE.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala")) + [
        HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine plus the benchmark runner unless the sources are
    unchanged since the last build."""
    stamp_file = BUILD / "classes.stamp"
    stamp = sources_stamp()
    if CLASSES.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return
    log("building with sbt")
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    stamp_file.write_text(stamp)


def java_cmd(args, work, cores):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise SystemExit("perfbench: SPARK_HOME is not set")
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    # A heap cap but no floor or pre-touch, so VmHWM follows the memory the
    # program touches. A fixed young generation keeps the collector's
    # adaptive young sizing from moving the peak from run to run.
    return (["java", *opens, f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dderby.system.home=" + str(work / "derby"),
             "-cp", f"{CLASSES}:{spark_home}/jars/*", "perfbench.Main",
             "--work", str(work), "--cores", str(cores)] + args)


LIVE = []


def launch(args, work, cores, deadline):
    """Start the JVM and return (process, seconds until it printed READY).
    A reader thread drains its stdout, so a JVM that hangs before READY
    still meets the deadline."""
    t0 = time.monotonic()
    with open(work / "jvm.log", "ab") as err:
        p = subprocess.Popen(java_cmd(args, work, cores), cwd=work, stdout=subprocess.PIPE,
                             stderr=err, text=True, start_new_session=True)
    LIVE.append(p)
    lines = queue.Queue()

    def read():
        for line in p.stdout:
            lines.put(line.strip())
        lines.put(None)
    threading.Thread(target=read, daemon=True).start()
    while True:
        try:
            line = lines.get(timeout=max(0.0, deadline - time.monotonic()))
        except queue.Empty:
            break
        if line == "READY":
            return p, time.monotonic() - t0
        if line is None:
            break
    stop(p)
    raise SystemExit("perfbench: the JVM was not ready before the deadline or exited")


def stop(p):
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
    p.wait()


def finish(p, deadline):
    """Wait for the JVM; kill it past the deadline."""
    try:
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        stop(p)
        raise SystemExit("perfbench: the run did not finish in time")
    if p.returncode != 0:
        raise SystemExit(f"perfbench: the JVM exited with {p.returncode}")


def oracle_mismatch(con, path, sql):
    """None when the Spark output matches the oracle multiset exactly (rows
    only when there is no oracle SQL), else a reason."""
    con.execute(f"CREATE OR REPLACE VIEW spark_out AS "
                f"SELECT * FROM read_parquet('{path}/*.parquet')")
    n_spark = con.execute("SELECT count(*) FROM spark_out").fetchone()[0]
    if sql is None:
        return None if n_spark > 0 else "no rows"
    sql = sql.strip().rstrip(";")
    cols = sorted((r[0], r[1]) for r in con.execute(f"DESCRIBE ({sql})").fetchall())
    spark_cols = sorted(r[0] for r in con.execute("DESCRIBE spark_out").fetchall())
    if spark_cols != [c for c, _ in cols]:
        return f"columns spark={spark_cols} oracle={[c for c, _ in cols]}"
    n_oracle = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
    if n_spark != n_oracle:
        return f"rows spark={n_spark} oracle={n_oracle}"
    s_sel = ", ".join(f'CAST("{c}" AS {t}) AS "{c}"' for c, t in cols)
    o_sel = ", ".join(f'"{c}"' for c, _ in cols)
    diff = con.execute(f"SELECT count(*) FROM (SELECT {s_sel} FROM spark_out "
                       f"EXCEPT ALL SELECT {o_sel} FROM ({sql}))").fetchone()[0]
    return None if diff == 0 else f"{diff}/{n_spark} rows differ"


def check_outputs(data_dir, checks):
    """Compare each check-pass output with its oracle SQL through DuckDB,
    over the same generated tables. Returns the names that failed."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for entry in sorted(os.listdir(data_dir)):
        if not entry.endswith(".parquet"):
            continue
        t = entry[:-len(".parquet")]
        src = data_dir / entry
        glob = f"{src}/*.parquet" if src.is_dir() else str(src)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    failed = []
    for c in checks:
        if c["path"] is None:  # the JVM already counted the failed run
            continue
        try:
            why = oracle_mismatch(con, c["path"], c["oracle"])
        except Exception as e:  # a query whose output cannot be compared is wrong
            why = f"compare error: {e}"
        if why:
            log(f"check FAIL {c['name']}: {why}")
            failed.append(c["name"])
    return failed


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.FAMILIES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fail-query", default="", help="make this query throw (self-test)")
    a = ap.parse_args()
    if not (ENGINE / "graft" / "SparkEntry.scala").is_file():
        raise SystemExit("perfbench: engine sources not found next to the benchmark")

    BUILD.mkdir(exist_ok=True)
    build()
    deadline = time.monotonic() + FIXED_TIMEOUT_S + 2 * a.seconds
    data_dir, manifest = gen.ensure(a.workload, a.seed, str(BUILD / "data"))
    data_dir = Path(data_dir)
    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))

    setups = []
    for _ in range(SETUPS - 1):
        p, s = launch(["--mode", "setup"], work, cores, deadline)
        stop(p)  # a set-up sample ends at READY
        setups.append(s)
    run_args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", str(data_dir)]
    if a.fail_query:
        run_args += ["--fail-query", a.fail_query]
    p, s = launch(run_args, work, cores, deadline)
    setups.append(s)
    finish(p, deadline)

    res = json.loads((work / "result.json").read_text())
    mismatched = check_outputs(data_dir, res["checks"])
    attempted = res["attempted"]
    failed = len(res["failures"]) + len(mismatched)
    for f in res["failures"]:
        log(f"FAILED {f}")
    # The median pass: each query's median wall over the steady passes,
    # summed, so one query's hiccup in one pass does not move the figure.
    pass_s = sum(median(w) for w in res["steady_walls"].values())
    log(f"{a.workload} seed={a.seed} local[{cores}] data rows={manifest['rows']} "
        f"bytes={manifest['bytes']} fingerprint={manifest['fingerprint'][:16]}")
    log(f"setup samples={[round(x, 3) for x in setups]} first_pass_s={res['first_pass_s']:.3f} "
        f"pass_s={pass_s:.3f} over {len(res['passes'])} passes; failed_ops={failed}/{attempted}")

    if a.trace:
        traced = res["traced_passes"]
        metrics = {k: median([t["metrics"][k] for t in traced]) for k in traced[0]["metrics"]}
        metrics["traced_pass_s"] = median([t["wall_s"] for t in traced])
        metrics["trace_overhead_s"] = metrics["traced_pass_s"] - median(res["passes"])
        metrics["cold_extra_s"] = res["first_pass_s"] - pass_s
        units = PER_LAYER
        log(f"trace written to {work / 'trace.json'}")
    else:
        metrics = {"setup_s": median(setups), "first_pass_s": res["first_pass_s"],
                   "pass_s": pass_s, "peak_rss_mb": res["peak_rss_mb"]}
        units = END_TO_END
    record = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    print(json.dumps(record))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    finally:
        for proc in LIVE:
            stop(proc)
