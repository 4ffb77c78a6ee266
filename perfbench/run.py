#!/usr/bin/env python3
"""The repository benchmark: one command per workload, run from the root of
a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the harness from source on first use (sbt, into the
checkout), generates the workload's inputs from the seed, runs the harness
JVM, checks every output, and prints the metrics as the last line of
standard output:

    {"correct": true, "attempted": 7, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The exit code is 0 only when every
check passed. See perfbench/README.md for the workloads and metrics.

Maintenance: `--record --seeds 1-10` records, per (workload, size, seed),
the outputs only the engine can compute: for EP1 the merged-document
digest, product count and anomaly count, once the in-memory path
(`MarketEyePipeline.run`) agreed with the staged one on the drop; for
curation each query's result digest, once DuckDB running the catalog's
oracle SQL agreed with it. Later runs on a recorded seed must reproduce
them.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

EXPECTED = os.path.join(HERE, "expected.json")
WARMUP = {"ep1_staged_rescrape": 1, "curation_neardup": 1}
HEAP = "3g"
JVM_TIMEOUT_S = 150
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def newest_mtime(patterns):
    m = 0.0
    for p in patterns:
        for f in glob.glob(os.path.join(ROOT, p), recursive=True):
            m = max(m, os.path.getmtime(f))
    return m


def classpath():
    """Compile the engine and the harness once per checkout and return the
    runtime classpath; rebuild when a source or build file is newer."""
    cp_file = os.path.join(STATE, "classpath.txt")
    sources = ["build.sbt", "project/*.properties", "src/main/**/*.scala",
               "perfbench/build.sbt", "perfbench/project/*.properties",
               "perfbench/src/**/*.scala"]
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest_mtime(sources):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt)")
    t0 = time.time()
    with open(os.path.join(STATE, "build.log"), "w") as blog:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=blog,
                           stdin=subprocess.DEVNULL, text=True, timeout=840)
        blog.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"build failed (see {os.path.join(STATE, 'build.log')})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


# -------------------------------------------------------------- the JVM

def jvm(cp, args, out, tmp, timeout=JVM_TIMEOUT_S):
    cmd = ["java", f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd += ["-cp", cp, "perfbench.Main", "--out", out,
            "--spawn-ms", str(int(time.time() * 1000))] + args
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"harness JVM exceeded {timeout} s")
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"harness JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


# ----------------------------------------------------------------- checks

def size_key(workload):
    params = gen.EP1.get(workload) or gen.CURATION.get(workload)
    blob = json.dumps([params, gen.MALFORMED_RATE, gen.SENTINEL_RATE, gen.OUTLIER_RATE],
                      sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:12]


def recorded(workload, seed):
    if not os.path.exists(EXPECTED):
        return None
    with open(EXPECTED) as f:
        return json.load(f).get(f"{workload}/{size_key(workload)}/{seed}")


def check_ep1(meta, res, rec):
    """Problems with an EP1 run's reference outputs, as a list of strings."""
    ref, exp = res.get("reference") or {}, meta["expected"]
    if not ref:
        return ["no iteration produced outputs"]
    bad = []
    rows = {src: int(ref[f"rows.{src}"]) for src in meta["files"]}
    for src, f in meta["files"].items():
        if rows[src] != f["records"]:
            bad.append(f"{src}: sources kept {rows[src]} rows, the drop has {f['records']} valid")
    dropped = sum(f["lines"] for f in meta["files"].values()) - sum(rows.values())
    if dropped != meta["planted_malformed"]:
        bad.append(f"sources dropped {dropped} rows, {meta['planted_malformed']} were planted")
    if int(ref["total_offers"]) != exp["total_offers"]:
        bad.append(f"total_offers {ref['total_offers']} != {exp['total_offers']}")
    for k in ("min_price", "max_price"):
        if float(ref[k]) != exp[k]:
            bad.append(f"{k} {ref[k]} != {exp[k]}")
    if abs(float(ref["avg_price"]) - exp["avg_price"]) > 1e-9 * exp["avg_price"]:
        bad.append(f"avg_price {ref['avg_price']} != {exp['avg_price']}")
    if ref["sources"] != ",".join(exp["sources"]):
        bad.append(f"sources {ref['sources']} != {exp['sources']}")
    if "crosscheck" in res:
        cross = res["crosscheck"]
        diff = {k: (ref[k], cross[k]) for k in ref.keys() & cross.keys() if ref[k] != cross[k]}
        if diff:
            bad.append(f"in-memory and staged paths disagree: {diff}")
    return bad + check_recorded(ref, rec)


def check_recorded(ref, rec):
    return [f"{k} {ref.get(k)} != recorded {v}" for k, v in (rec or {}).items()
            if ref.get(k) != v]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def check_oracle(in_dir, work):
    """Each query's first-iteration result against DuckDB running the
    catalog's oracle SQL on the same table."""
    import duckdb
    import pandas as pd
    bad = []
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{os.path.join(in_dir, 'documents.parquet')}'")
    for q, sql in oracle.items():
        got = canon(pd.read_parquet(os.path.join(work, "results", q)))
        exp = canon(con.execute(sql).fetchdf())
        if list(got.columns) != list(exp.columns) or len(got) != len(exp):
            bad.append(f"{q}: {len(got)} rows {list(got.columns)} vs oracle "
                       f"{len(exp)} rows {list(exp.columns)}")
            continue
        for c in got.columns:
            a, b = got[c].tolist(), exp[c].tolist()
            diff = [i for i, (x, y) in enumerate(zip(a, b))
                    if not (pd.isna(x) and pd.isna(y)) and x != y]
            if diff:
                bad.append(f"{q}: column {c} differs from the oracle at row {diff[0]}")
                break
    return bad


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(meta, res):
    timed = [i for i in res["iterations"] if i["kind"] == "timed" and i["error"] is None]
    run_s = median([i["wall_s"] for i in timed])
    return {
        "setup_s": (res["setup"]["setup_s"], "s"),
        "run_s": (run_s, "s"),
        "records_per_s": (meta["input_records"] / run_s, "1/s"),
        "cpu_s": (median([i["thread_cpu_s"] for i in timed]), "s"),
    }


def per_layer(spec, res, fail_frac):
    """Median over the traced iterations of every per-layer metric; a layer
    the workload does not run reads 0."""
    its = [i for i in res["iterations"] if i["error"] is None]
    timed = [i for i in its if i["kind"] == "timed"]
    untraced = [i["wall_s"] for i in timed]
    traced = [i["wall_s"] for i in its if i["kind"] == "traced"]
    layers = res.get("layers", [])
    extra = {
        "process.cpu_s": median([i["cpu_s"] for i in timed]),
        "process.peak_heap_mb": median([i["heap_mb"] for i in timed]),
        "setup.cold_s": res["setup"]["cold_setup_s"],
        "setup.session_s": res["setup"]["session_s"],
        "setup.first_job_s": res["setup"]["first_job_s"],
        "trace.overhead_s": median(traced) - median(untraced),
        "trace.overhead_frac": median(traced) / median(untraced) - 1.0,
        "all.fail_frac": fail_frac,
    }
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name in extra:
            v = extra[name]
        else:
            vals = [l[name] for l in layers if name in l]
            v = median(vals) if vals else 0.0
        out[name] = (v, m["unit"])
    return out


# ------------------------------------------------------------------- main

def run_once(args, cp, spec, record=False):
    """One benchmark run; returns (result line dict, reference outputs)."""
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, work, tmp = (os.path.join(run_dir, d) for d in ("in", "work", "tmp"))
    for d in (work, tmp):
        os.makedirs(d)
    try:
        meta = gen.generate(args.workload, args.seed, in_dir)
        log(f"{args.workload} seed {args.seed}: {meta['input_records']} input records, "
            f"{meta['input_bytes']} bytes")
        is_ep1 = args.workload in gen.EP1
        rec = None if record else recorded(args.workload, args.seed)
        if rec is None and not record:
            log(f"seed {args.seed} has no recorded outputs; checking against the "
                f"generator and the family's invariants only")
        res = jvm(cp, [
            "--workload", args.workload, "--in", in_dir, "--work", work,
            "--seconds", str(0 if record else args.seconds), "--trace", str(args.trace),
            "--warmup", str(0 if record else WARMUP[args.workload]),
            "--min-iters", "1" if record else "3",
            "--crosscheck", "1" if record and is_ep1 else "0",
            "--oracle-results", "1" if record and not is_ep1 else "0"],
            os.path.join(run_dir, "result.json"), tmp,
            # recording runs the slow in-memory path or the oracle too
            timeout=900 if record else JVM_TIMEOUT_S)
        ref = res.get("reference") or {}
        if is_ep1:
            problems = check_ep1(meta, res, rec)
        else:
            problems = (["no iteration produced outputs"] if not ref else
                        check_oracle(in_dir, work) if record else check_recorded(ref, rec))
        its = res["iterations"]
        attempted = len(its)
        failed = attempted if problems else sum(1 for i in its if i["error"] is not None)
        for p in problems + sorted({i["error"] for i in its if i["error"]}):
            log(f"CHECK FAILED: {p}")
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "input_records": meta["input_records"],
                          "input_bytes": meta["input_bytes"],
                          "planted_malformed": meta.get("planted_malformed", 0),
                          "setup": res["setup"], "confs": res["confs"]}))
        if args.trace:
            spans = os.path.join(work, "trace_spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(STATE, f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = per_layer(spec, res, failed / attempted)
        else:
            metrics = end_to_end(meta, res)
        line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        return line, ref
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def record(args, cp, spec):
    lo, hi = (int(x) for x in args.seeds.split("-"))
    keys = (("merged_digest", "total_products", "anomalies", "avg_price")
            if args.workload in gen.EP1 else None)
    for seed in range(lo, hi + 1):
        args.seed = seed
        line, ref = run_once(args, cp, spec, record=True)
        if not line["correct"]:
            raise SystemExit(f"seed {seed}: checks failed, nothing recorded")
        book = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                book = json.load(f)
        book[f"{args.workload}/{size_key(args.workload)}/{seed}"] = (
            {k: ref[k] for k in keys} if keys else ref)
        with open(EXPECTED, "w") as f:
            json.dump(book, f, indent=1, sort_keys=True)
        log(f"recorded {args.workload} seed {seed}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--seeds", default="1-30")
    args = ap.parse_args()
    if args.workload not in WARMUP:
        raise SystemExit(f"unknown workload {args.workload}; one of {sorted(WARMUP)}")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("no engine sources next to the benchmark (build.sbt missing)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = classpath()
    if args.record:
        record(args, cp, spec)
        return
    line, _ = run_once(args, cp, spec)
    print(json.dumps(line))
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
