#!/usr/bin/env python3
"""The graft benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload gmr_cli --seed 1 --seconds 5 --trace 0

Builds the engine and harness from source (perfbench/build.py), runs one
Spark local[N] JVM (N = cores available) that sets up the workload, makes
one untimed warm-up/verification pass, then runs timed passes of the
workload's op mix, one op after another, until --seconds have passed (at
least one pass; a traced run makes three: untraced, traced, untraced).
Outputs are checked: gmr_cli against plain-Scala answers inside the JVM,
surface_mix against the DuckDB oracle here. The last stdout line is one
JSON object:
    {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Exits 1 if any output is wrong, 2 on any other error.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))
sys.path.insert(0, str(ROOT / "tools"))
import build  # noqa: E402
from check_parity import table_key  # noqa: E402

DATA = BENCH / "data" / "sf0.01"
ORACLE_CACHE = BENCH / "oracle" / "duckdb_sf0.01.json"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(work, main_args):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # The heap starts small and grows only when live data needs it (parallel
    # GC without adaptive sizing), so peak_rss_mb follows the program's
    # memory demand. G1's heap growth is driven by GC time, which made peak
    # RSS swing with host speed.
    return (["java", *opens, "-Xms256m", "-Xmx2g", "-XX:+UseParallelGC",
             "-XX:-UseAdaptiveSizePolicy", "-Xss8m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", build.classpath(), "perfbench.Main", *main_args])


def run_jvm(work, main_args):
    """Runs the harness JVM in `work` (its working directory, so the
    engine's derive-once caches and spark-warehouse land there)."""
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(java_cmd(work, main_args), cwd=work,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {JVM_TIMEOUT_S} s (log {work}/jvm.log)")


# -- DuckDB oracle check, with tools/check_parity.py's comparison rules ------

def digest(tbl):
    cols, rows = table_key(tbl)
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
    return {"cols": cols, "rows": len(rows), "sha256": h}


def oracle_answers(sqls):
    """DuckDB answers keyed by a hash of the SQL; misses are computed and
    added to the cache file under perfbench/oracle/."""
    cache = json.loads(ORACLE_CACHE.read_text()) if ORACLE_CACHE.is_file() else {}
    keys = {name: hashlib.sha256(sql.encode()).hexdigest() for name, sql in sqls.items()}
    missing = {n: s for n, s in sqls.items() if keys[n] not in cache}
    if missing:
        import duckdb
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
        for name, sql in missing.items():
            cache[keys[name]] = digest(con.execute(sql).fetch_arrow_table())
        con.close()
        ORACLE_CACHE.parent.mkdir(exist_ok=True)
        ORACLE_CACHE.write_text(json.dumps(cache, indent=1, sort_keys=True) + "\n")
    return {n: cache[k] for n, k in keys.items()}


def check_queries(work, mix):
    """(checked, wrong, unchecked names, wrong names) for the verification
    pass's parquet outputs."""
    import pyarrow.parquet as pq
    sqls = json.loads((work / "oracle_sql.json").read_text())
    unchecked = [n for n in mix if n not in sqls]
    want = oracle_answers({n: sqls[n] for n in mix if n in sqls})
    wrong = []
    for name, w in want.items():
        out = work / "verify" / name
        if not out.is_dir() or digest(pq.read_table(str(out))) != w:
            wrong.append(name)
    return len(want), len(wrong), unchecked, wrong


def metric_names(key):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [(m["name"], m["unit"]) for m in spec[key]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["gmr_cli", "surface_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    e2e_names = metric_names("end_to_end")
    layer_names = metric_names("per_layer")
    build.build(quiet=True)
    work = ROOT / ".bench_build" / "work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result = work / "result.json"
    code = run_jvm(work, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--data", str(DATA), "--work", str(work), "--out", str(result),
                          "--cores", str(cores())])
    if code != 0 or not result.is_file():
        raise SystemExit(f"perfbench: JVM failed with code {code} (log {work}/jvm.log)")
    r = json.loads(result.read_text())

    checked, wrong = r["checked"], r["wrong"]
    if a.workload != "gmr_cli":
        qc, qw, unchecked, wrong_names = check_queries(work, r["mix"])
        checked, wrong = checked + qc, wrong + qw
        if unchecked:
            print(f"perfbench: no oracle, unchecked (not counted as passing): {unchecked}")
        if wrong_names:
            print(f"perfbench: outputs differing from the DuckDB oracle: {wrong_names}")
    if r["failed_ops"]:
        print(f"perfbench: failed ops {r['failed_ops']} (see {work}/jvm.log)")
    print(f"perfbench: {a.workload} passes={r['passes']} ops={r['samples']} "
          f"op_s_tail=p{r['tail_percentile']} over {r['samples']} samples, "
          f"outputs checked={checked} wrong={wrong}")

    if a.trace:
        metrics = {n: {"value": r["layer"].get(n) or 0.0, "unit": u} for n, u in layer_names}
    else:
        e2e = dict(r["e2e"])
        e2e["right_ratio"] = {"value": (checked - wrong) / checked if checked else 0.0,
                              "unit": "ratio"}
        metrics = {n: {"value": e2e[n]["value"], "unit": u} for n, u in e2e_names}
    for heavy in ("verify", "parts", "tmp", "target", "spark-warehouse"):
        shutil.rmtree(work / heavy, ignore_errors=True)
    print(json.dumps({"correct": checked > 0 and wrong == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if checked > 0 and wrong == 0 else 1)


if __name__ == "__main__":
    try:
        main()
    except SystemExit:
        raise
    except BaseException as e:  # any other error: non-zero exit, no result line
        print(f"perfbench: {type(e).__name__}: {e}", file=sys.stderr)
        sys.exit(2)
