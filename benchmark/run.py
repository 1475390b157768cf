#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine plus the harness (sbt, in this directory) when the sources
are newer than the last build, runs the workload in one JVM pinned to
local[4], checks every output outside the engine (DuckDB, pyarrow), and
prints one JSON object: correct, attempted, failed and metrics. Trace 0
reports the end-to-end metrics, trace 1 the per-layer metrics, both as named
in BENCHMARK.json. Each record is also kept under .work/results/ for diff.py.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSPATH = os.path.join(BENCH, "target", "graftbench.classpath")
ARCHIVE = os.path.join(BENCH, "target", "graftbench.jsa")
CATALOG_DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected", "catalog_sf0.01.json")
# the first run builds: compile + priming + the run stay under 900 s
BUILD_TIMEOUT_S = 500
PRIME_TIMEOUT_S = 200
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[benchmark] {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for dirpath, _, files in os.walk(d):
            for f in files:
                yield os.path.join(dirpath, f)
    yield os.path.join(BENCH, "build.sbt")


def java_cmd(cp, *extra):
    return (["java", "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", *extra]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
            + ["-cp", cp, "graftbench.Main"])


def build():
    """Compile engine + harness with sbt and cache the runtime classpath.

    A priming run then records the classes the workloads load into a JVM
    class-data-sharing archive, which later runs map instead of loading
    each class from its jar. Without the archive the runs still work.
    """
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources not found next to the benchmark directory")
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspathAsJars"],
                cwd=BENCH, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out")
    lines = open(log).read().splitlines()
    cp = lines[-1].strip() if lines else ""
    if rc != 0 or "graft-benchmark" not in cp:
        fail(f"build failed, see {log}")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    prime = os.path.join(WORK, "prime")
    shutil.rmtree(prime, ignore_errors=True)
    os.makedirs(os.path.join(prime, "tmp"))
    with open(os.path.join(WORK, "prime.log"), "w") as out:
        try:
            subprocess.run(
                java_cmd(cp, f"-XX:ArchiveClassesAtExit={ARCHIVE}",
                         f"-Djava.io.tmpdir={prime}/tmp")
                + ["--workload", "prime", "--seed", "0", "--seconds", "0",
                   "--trace", "0", "--work", prime, "--data", CATALOG_DATA,
                   "--out", os.path.join(prime, "result.json")],
                stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=PRIME_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            # without a complete archive the runs load classes from the jars
            if os.path.exists(ARCHIVE):
                os.remove(ARCHIVE)
    shutil.rmtree(prime, ignore_errors=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def run_jvm(cp, args, work):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = (java_cmd(cp, *share, f"-Djava.io.tmpdir={tmp}")
           + ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--data", CATALOG_DATA, "--out", result])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=RUN_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail("workload timed out")
    if rc != 0 or not os.path.exists(result):
        tail = open(log).read().splitlines()[-20:]
        fail(f"workload exited with {rc}:\n" + "\n".join(tail))
    with open(result) as f:
        return json.load(f)


def check_erc20(rec):
    """Failed passes: each pass's output, read by DuckDB, against the lake."""
    import duckdb
    c = rec["checks"]
    lake, t0 = c["lake"], c["transfer_topic0"]
    con = duckdb.connect()

    def scan(path):
        return f"read_parquet('{path}/*.parquet')"

    n, amount = con.execute(
        "SELECT count(*), sum(CAST(('0x' || right(hex(data), 16)) AS UBIGINT)::HUGEINT) "
        f"FROM {scan(lake + '/logs.parquet')} WHERE hex(topic0) = upper('{t0}')").fetchone()
    nb, lo, hi = con.execute("SELECT count(*), min(block_number), max(block_number) "
                             f"FROM {scan(lake + '/blocks.parquet')}").fetchone()
    want = (n, int(amount), n, nb, nb, lo, hi, hi, c["slices"])
    bad = 0
    if c["rows_per_pass"] != 2 * n + nb:
        print(f"[benchmark] rows per pass {c['rows_per_pass']} != {2 * n + nb}",
              file=sys.stderr)
        return len(c["passes"])
    for i, p in enumerate(c["passes"]):
        out = p["out"]
        got = con.execute(
            f"SELECT (SELECT count(*) FROM {scan(out + '/transfers')}), "
            f"(SELECT sum(amount_dec) FROM {scan(out + '/transfers')}), "
            f"(SELECT count(*) FROM {scan(out + '/logs')}), "
            f"(SELECT count(*) FROM {scan(out + '/blocks')}), "
            f"(SELECT count(DISTINCT block_number) FROM {scan(out + '/blocks')}), "
            f"(SELECT min(block_number) FROM {scan(out + '/blocks')}), "
            f"(SELECT max(block_number) FROM {scan(out + '/blocks')})").fetchone()
        got = (got[0], int(got[1] or 0), *got[2:], p["watermark"], p["batches"])
        if got != want:
            bad += 1
            print(f"[benchmark] pass {i}: (transfers, amount, logs, blocks, distinct "
                  f"blocks, first, last, watermark, batches) = {got}, want {want}",
                  file=sys.stderr)
    return bad


def frame_hash(df):
    """selfcheck.py's canonical form: columns by name, values as strings."""
    df = df.reindex(sorted(df.columns), axis=1).reset_index(drop=True).astype(str)
    h = hashlib.sha256("\x1f".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(("\n" + "\x1f".join(row)).encode())
    return h.hexdigest()


def check_catalog(rec):
    """Failed queries: each warm-up result hashed against the oracle's hash."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    with open(EXPECTED) as f:
        want = json.load(f)["hashes"]
    c = rec["checks"]
    bad = 0
    for q in c["queries"]:
        if q in c["failed_queries"]:
            continue  # already counted as failed by the harness
        files = sorted(glob.glob(os.path.join(c["out"], q, "*.parquet")))
        got = frame_hash(pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()) \
            if files else None
        if got != want.get(q):
            bad += 1
            print(f"[benchmark] {q}: result hash {got} != oracle {want.get(q)}",
                  file=sys.stderr)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")
    cp = build()

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rec = run_jvm(cp, args, work)
    if args.workload == "catalog_mix":
        wrong = check_catalog(rec)
    else:
        wrong = check_erc20(rec)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    got = rec["metrics"]
    if set(units) != set(got):
        fail(f"metrics {sorted(set(got) ^ set(units))} reported or declared, not both")
    failed = rec["failed"] + wrong
    out = {"correct": failed == 0, "attempted": rec["attempted"], "failed": failed,
           "metrics": {k: {"value": got[k], "unit": u} for k, u in units.items()}}
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    for spans in glob.glob(os.path.join(work, "trace-*.jsonl")):
        shutil.move(spans, os.path.join(results, os.path.basename(spans)))
    shutil.rmtree(work, ignore_errors=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "result": out}, f)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
