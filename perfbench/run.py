"""Benchmark runner: builds the program from source, runs one workload in a
fresh JVM and prints one JSON result line.

    python3 perfbench/run.py --workload build|probe \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. --trace 0 prints the end-to-end metrics,
--trace 1 the per-layer metrics of a traced run (its span tree is written
to .bench_work/<workload>-<N>-1/<workload>-seed<N>-spans.json). --toy 1 shrinks every input
(self-test); --perturb 1 offsets every expected answer by one, so every
correctness check must fail.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("build", "probe")
WORK_DIR = ".bench_work"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def parse():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--toy", type=int, choices=(0, 1), default=0)
    p.add_argument("--perturb", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def declared(root, trace):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def check_catalog(manifest_path):
    """Replays each entry's oracle SQL in DuckDB over the same documents
    table; returns (attempted, failures)."""
    import duckdb
    import pandas as pd
    with open(manifest_path) as f:
        m = json.load(f)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{m['documents']}/*.parquet'")
    failures = []
    for name, e in sorted(m["entries"].items()):
        got = canon(pd.read_parquet(e["result"]))
        want = canon(con.sql(e["sql"]).df())
        if m["perturb"]:
            want = want.iloc[1:] if len(want) else want.reindex(range(1))
        ok = (list(got.columns) == list(want.columns) and len(got) == len(want)
              and all((got[c].values == want[c].values).all() for c in got.columns))
        if not ok:
            failures.append(f"catalog: {name} equals its oracle SQL replayed in DuckDB")
    return len(m["entries"]), failures


def main():
    # a terminated runner stops its JVM too (see the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse()
    root = os.getcwd()
    classes = build.build(root)
    units = declared(root, a.trace)
    work = os.path.join(root, WORK_DIR, f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cores = min(os.cpu_count() or 1, 4)
    heap = "3g"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={cores}",
              "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
              "-Dlog4j2.configurationFile=" + os.path.join(root, "perfbench", "log4j2.properties"),
              "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--toy", str(a.toy),
              "--perturb", str(a.perturb), "--cores", str(cores), "--work", work, "--out", out])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_LOCAL_DIRS=f"{work}/spark-local")
    proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=sys.stderr, env=env)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: workload timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        sys.exit(f"perfbench: workload exited with {rc}")
    with open(out) as f:
        r = json.load(f)
    attempted, failures = r["attempted"], list(r["failures"])
    if r["catalog_check"]:
        n, bad = check_catalog(r["catalog_check"])
        attempted += n
        failures += bad
    # keep the result and the span tree; the inputs and stores are large
    for entry in os.listdir(work):
        if not (entry == "result.json" or entry.endswith("-spans.json")):
            shutil.rmtree(os.path.join(work, entry), ignore_errors=True)
    failed = len(failures)
    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    metrics = dict(r["metrics"])
    if a.trace:
        metrics["checks.failed_frac"] = failed / attempted if attempted else 0.0
    if set(metrics) != set(units):
        sys.exit(f"perfbench: metrics differ from BENCHMARK.json: "
                 f"missing {sorted(set(units) - set(metrics))}, extra {sorted(set(metrics) - set(units))}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
