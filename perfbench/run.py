#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload {dbt_build,curation_batch,ingest_stream}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. The command builds the checkout's library
together with the harness in perfbench/ (sbt, offline, output under
.bench_build/), makes the inputs from the seed, runs the workload in one JVM,
checks every output, and prints the run record. Its last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}, where metrics are
the end_to_end metrics of BENCHMARK.json with --trace 0 and its per_layer
metrics with --trace 1, each with the unit declared there. A traced run also
writes its spans to .bench_build/traces/<workload>-seed<N>.json.
perfbench/LAYERS.md says what each metric measures.

Inputs: perfbench/data/sf0.01 holds the committed tables. Seed 42 uses them
as they are; any other seed permutes every table's rows, cuts it into one to
four row groups, and moves the ingest_stream batch boundaries.

Each run gets a private root under .bench_build/runs/: the JVM's
java.io.tmpdir, Spark's local and warehouse dirs, the generated inputs and
the outputs checked against the DuckDB oracle. What the library leaves in
the temp dirs is measured (tmp_residue_mb) and the root is removed.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
DATA = os.path.join(HERE, "data", "sf0.01")
# the tables the workloads read
TABLES = ["customer", "documents", "orders"]
WORKLOADS = ["dbt_build", "curation_batch", "ingest_stream"]
DEFAULT_SEED = 42
JVM_TIMEOUT_S = 170

# Figures of the run record printed beside the result, with their units.
RECORD_UNITS = {"fail_ratio": "1", "oracle_mismatches": "count", "tmp_residue_mb": "MB",
                "stored_bytes_per_input_byte": "B/B"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(top)):
            for f in sorted(fs):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compile the library and the harness unless the sources are unchanged."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's state, temp files and native-library cache stay in the checkout
    env = dict(os.environ, COURSIER_MODE="offline", JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp,
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"), "compile"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out,
                            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def make_inputs(seed, dest):
    """The committed tables as they are (the default seed), or each one with
    its rows permuted and cut into one to four row groups. Every table stays
    one file named <table>.parquet: the streaming rigs pick their source
    file by that name."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(dest)
    rng = random.Random(seed)
    for t in TABLES:
        src = os.path.join(DATA, f"{t}.parquet")
        out = os.path.join(dest, f"{t}.parquet")
        if seed == DEFAULT_SEED:
            shutil.copyfile(src, out)
            continue
        tab = pq.read_table(src)
        perm = list(range(tab.num_rows))
        rng.shuffle(perm)
        tab = tab.take(pa.array(perm, type=pa.int64()))
        groups = rng.randint(1, 4)
        pq.write_table(tab, out, row_group_size=max(1, -(-tab.num_rows // groups)))


def du_mb(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total / 1e6


def same(g, w):
    """The oracle gate's cell rule: NULL/NaN match each other; floats compare
    as floats; everything else by its string form."""
    gn = g is None or (isinstance(g, float) and math.isnan(g))
    wn = w is None or (isinstance(w, float) and math.isnan(w))
    if gn or wn:
        return gn and wn
    if isinstance(g, float) or isinstance(w, float):
        return float(g) == float(w)
    return str(g) == str(w)


def check_outputs(inputs, out_dir):
    """Each key's output against its DuckDB oracle over the same inputs
    (columns by name, rows sorted, dtype kinds equal); keys without an
    oracle must return rows. Returns (checked, mismatches, details)."""
    import duckdb
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        src = os.path.join(inputs, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    keys_dir = os.path.join(out_dir, "keys")
    keys = sorted(os.listdir(keys_dir)) if os.path.isdir(keys_dir) else []
    bad = []
    for k in keys:
        files = glob.glob(os.path.join(out_dir, "keys", k, "*.parquet"))
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            if k not in oracle:
                if len(got) == 0:
                    bad.append(f"{k}: no rows")
                continue
            want = con.execute(oracle[k]).fetchdf()
        except Exception as e:  # a failing read or oracle is a mismatch
            bad.append(f"{k}: {str(e)[:200]}")
            continue
        got.columns = [c.lower() for c in got.columns]
        want.columns = [c.lower() for c in want.columns]
        cols = sorted(got.columns)
        if cols != sorted(want.columns):
            bad.append(f"{k}: columns {cols} vs {sorted(want.columns)}")
            continue
        if len(got) != len(want):
            bad.append(f"{k}: rows {len(got)} vs {len(want)}")
            continue
        kind = lambda c: "i" if c in "iu" else c
        dk = [c for c in cols if kind(got[c].dtype.kind) != kind(want[c].dtype.kind)]
        if dk:
            bad.append(f"{k}: dtype kinds differ in {dk}")
            continue
        try:
            got = got[cols].sort_values(by=cols).reset_index(drop=True)
            want = want[cols].sort_values(by=cols).reset_index(drop=True)
        except Exception as e:
            bad.append(f"{k}: sort failed: {str(e)[:200]}")
            continue
        diff = next(((c, i, g, w) for c in cols
                     for i, (g, w) in enumerate(zip(got[c], want[c])) if not same(g, w)), None)
        if diff:
            bad.append(f"{k}: col={diff[0]} row={diff[1]} got={diff[2]!r} want={diff[3]!r}")
    return len(keys), len(bad), bad


def java_cmd(args):
    """The workload JVM: the build's classes plus Spark's jars, with the
    module openings Spark needs outside spark-submit."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME must point at the Spark installation")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    flags = [f for p in opens for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cp = CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")
    # the throughput collector: no concurrent GC threads competing with the
    # task threads, which measured steadier run to run than G1
    return [java, "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + flags + \
        ["-cp", cp] + args


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=9.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala; run from a checkout")
    if not os.path.isdir(DATA):
        fail(f"missing committed tables in {DATA}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        registry = json.load(fh)
    build()

    run_root = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    tmp = os.path.join(run_root, "tmp")
    work = os.path.join(run_root, "work")
    inputs = os.path.join(run_root, "in")
    os.makedirs(tmp)
    os.makedirs(work)
    try:
        make_inputs(a.seed, inputs)
        record_path = os.path.join(run_root, "record.json")
        spans = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
        cmd = java_cmd([f"-Djava.io.tmpdir={tmp}", "graftbench.Main",
                        a.workload, str(a.seed), str(a.seconds), str(a.trace),
                        inputs, work, record_path] + ([spans] if a.trace else []))
        log = os.path.join(run_root, "jvm.log")
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=run_root, stdout=lf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = "timeout"
        if rc != 0 or not os.path.exists(record_path):
            kept = os.path.join(BUILD, f"failed-{a.workload}-seed{a.seed}.log")
            shutil.copyfile(log, kept)
            fail(f"the workload run failed ({rc}); its log is {kept}")
        rec = json.load(open(record_path))

        # what the library left in the run's temp dirs once Spark stopped
        residue = sum(du_mb(os.path.join(p, d)) for p, d in
                      [(run_root, "tmp"), (work, "spark-local"), (work, "warehouse")])
        t0 = time.monotonic()
        checked, mismatches, bad = check_outputs(inputs, os.path.join(work, "out"))
        oracle_s = time.monotonic() - t0
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    failed_checks = [c for c in rec["checks"] if not c["ok"]]
    attempted = rec["attempted"] + checked + len(rec["checks"])
    failed = rec["failed"] + mismatches + len(failed_checks)
    correct = failed == 0
    declared = registry["per_layer" if a.trace else "end_to_end"]
    values = rec["per_layer"] if a.trace else rec
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        fail(f"the run did not report {missing}")
    summary = {
        **{m["name"]: rec[m["name"]] for m in registry["end_to_end"]},
        "fail_ratio": failed / attempted,
        "oracle_mismatches": mismatches,
        "tmp_residue_mb": residue,
        "stored_bytes_per_input_byte": rec.get("stored_bytes_per_input_byte"),
        "op_samples": rec["op_samples"], "op_tail_q": rec["op_tail_q"],
        "passes": rec["passes"], "pass_wall_s": rec["pass_wall_s"],
        "pass_heap_mb": rec["pass_heap_mb"], "setup_pass_s": rec["setup_pass_s"],
        "session_s": rec["session_s"], "warm_pass_s": rec["warm_pass_s"],
        "op_median_ms": rec["op_median_ms"], "oracle_s": oracle_s,
        "probe": rec["probe"], "heap_max_mb": rec["heap_max_mb"], "cpus": rec["cpus"],
    }
    for k, unit in [(m["name"], m["unit"]) for m in registry["end_to_end"]] + \
            list(RECORD_UNITS.items()):
        if summary[k] is not None:
            print(f"{a.workload} {k} = {summary[k]} {unit}")
    for c in failed_checks:
        print(f"check failed: {c['name']}: {c['detail']}")
    for b in bad + rec["errors"]:
        print(f"error: {b}")
    print(json.dumps({"record": summary}, sort_keys=True))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
