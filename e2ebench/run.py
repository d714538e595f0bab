"""One run of the benchmark, from the repository root:

    python3 e2ebench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark (see build.py), runs the workload in
one JVM on local[<cores>], checks the outputs and prints, as the last line
of standard output, one JSON object: `correct`, `attempted`, `failed` and
the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`) named in BENCHMARK.json. Inputs, outputs and logs stay under
e2ebench/.work; a run's own outputs are deleted when it ends.
"""
import argparse
import json
import math
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

BENCH = Path(__file__).resolve().parent
STATE = BENCH / ".work"
WORKLOADS = ("etl", "refresh", "neardup")
# A fixed heap, and the client compiler only: a run lasts well under a
# minute, so with C2 it measures the JIT warming up, and three runs of one
# neardup seed read 2334-3082 ms per round; with C1 only they read
# 3827-4114 ms (4 cores, 16 GB).
JVM = ["-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1"]
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (build.sbt uses the same)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def duckdb_sql(spark_sql):
    """OffQueries.sql text for DuckDB: Spark's LATERAL VIEW explode
    becomes a lateral UNNEST."""
    return re.sub(r"LATERAL VIEW explode\(([^)]*)\) (\w+) AS (\w+)",
                  r"CROSS JOIN UNNEST(\1) AS \2(\3)", spark_sql)


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def oracle_check(spec, tmp):
    """Compares each query's rows with DuckDB running OffQueries.sql over
    the same Gold parquet. Returns the mismatches."""
    import duckdb
    con = duckdb.connect(config={"temp_directory": str(tmp)})
    for table, path in spec["tables"].items():
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    bad = []
    for name, path in sorted(spec["results"].items()):
        got = [json.loads(line) for line in Path(path).read_text().splitlines() if line]
        want = [list(r) for r in con.execute(duckdb_sql(spec["sql"][name])).fetchall()]
        if len(got) != len(want):
            bad.append(f"{name}: {len(got)} rows, DuckDB {len(want)}")
            continue
        for i, (g, w) in enumerate(zip(got, want)):
            if not same(g, w):
                bad.append(f"{name} row {i}: {g} != DuckDB {w}")
                break
    con.close()
    return bad


def stop(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    names = json.loads((root / "BENCHMARK.json").read_text())
    wanted = names["per_layer" if args.trace else "end_to_end"]
    classes, compile_s = build.build(root)
    if compile_s:
        print(f"offbench: compiled in {compile_s:.1f} s", file=sys.stderr)

    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    run_dir = STATE / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    for d in ("inputs", "logs", "traces", "records"):
        (STATE / d).mkdir(parents=True, exist_ok=True)
    result = run_dir / "result.json"
    log = STATE / "logs" / f"{tag}.log"
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *JVM, *ADD_OPENS, f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", os.pathsep.join([str(classes), str(build.spark_jars() / "*")]),
           "offbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores),
           "--work", str(run_dir), "--inputs", str(STATE / "inputs"),
           "--result", str(result), "--spans", str(STATE / "traces" / f"{tag}.jsonl")]
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop(proc)
                raise SystemExit(f"offbench: {tag} timed out after {JVM_TIMEOUT_S} s; log {log}")
            finally:
                if proc.poll() is None:
                    stop(proc)
        if code != 0 or not result.is_file():
            tail = log.read_text(errors="replace").splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            raise SystemExit(f"offbench: {tag} failed with exit code {code}; log {log}")
        record = json.loads(result.read_text())
        if args.workload == "etl":
            bad = oracle_check(record["context"]["oracle"], run_dir / "tmp")
            record["checks_failed"] += bad
            record["correct"] = record["correct"] and not bad
        record["context"]["compile_s"] = compile_s
        (STATE / "records" / f"{tag}.json").write_text(json.dumps(record, indent=1))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for line in record["checks_failed"] + record["failures"]:
        print(f"offbench: {line}", file=sys.stderr)
    if args.trace:
        # a per-layer metric the run did not set belongs to a layer the
        # workload leaves idle
        source = {m["name"]: record["layers"].get(m["name"], 0.0) for m in wanted}
    else:
        source = record["metrics"]
        missing = [m["name"] for m in wanted if m["name"] not in source]
        if missing:
            raise SystemExit(f"offbench: {tag} did not measure {missing}")
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


if __name__ == "__main__":
    main()
