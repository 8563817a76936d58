#!/usr/bin/env python3
"""cosmobench: the repository's benchmark, one workload per invocation.

    python3 cosmobench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine plus the harness from source (sbt, once per source
state), generates the workload's inputs from the seed, runs the harness
JVM, checks every output (pinned hashes, the DuckDB oracle, closed forms),
and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer split.
Extra flags: --keep (keep the run's work dir), --corrupt-pin <query>
(self-test: perturb one pinned hash; the run must then report failures).
Everything the run writes lives under .bench_build/ in the checkout; a
traced run leaves its span dump in .bench_build/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import gen_tables  # noqa: E402
import layers  # noqa: E402

# the registry workload reads the generated star schema at this scale factor
SCALE = {"registry_interactive": 0.01, "monthly_cadence": None}
GEN_REPS = 3
BUDGET_S = 170

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"cosmobench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution found (set SPARK_HOME)")
    return home


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(home):
    """Compile engine + harness with sbt unless the sources are unchanged
    since the last build. Build output goes to stderr."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources (src/main/scala) not found next to the benchmark")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(HERE, "target", "cosmobench.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    sbt = shutil.which("sbt") or die("sbt not found")
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                        "compile"], cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        die("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def generate(work, sf, seed):
    """Generate the tables GEN_REPS times; the copies must be identical.
    Returns (data dir, median generation seconds, deterministic?)."""
    times, digests = [], []
    for i in range(GEN_REPS):
        d = os.path.join(work, f"data{i}")
        t0 = time.perf_counter()
        gen_tables.generate(d, sf, seed)
        times.append(time.perf_counter() - t0)
        h = hashlib.sha256()
        for n in sorted(os.listdir(d)):
            with open(os.path.join(d, n), "rb") as fh:
                h.update(fh.read())
        digests.append(h.hexdigest())
    for i in range(1, GEN_REPS):
        shutil.rmtree(os.path.join(work, f"data{i}"))
    return os.path.join(work, "data0"), statistics.median(times), len(set(digests)) == 1


def run_jvm(classes, home, args, work, data, out, deadline):
    java = shutil.which("java") or die("java not found")
    cp = classes + os.pathsep + os.path.join(home, "jars", "*")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = [java, f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '3g')}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={work}/tmp", *ADD_OPENS, "-cp", cp, "cosmobench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--out", out]
    if args.corrupt_pin:
        cmd += ["--corrupt-pin", args.corrupt_pin]
    log = os.path.join(work, "jvm.log")
    launched = time.time()
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=fh, stderr=fh)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"harness JVM failed ({rc})")
    with open(out) as fh:
        return json.load(fh), launched


def _normalize(df):
    """Columns by name, values stringified, rows sorted: the oracle compare
    must not depend on column order, row order or float repr noise."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and v != v):
            return "NULL"
        if isinstance(v, float):
            return repr(round(v, 9))
        return str(v)
    out = df.map(cell) if hasattr(df, "map") else df.applymap(cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True).astype(str)


def oracle_check(work, data):
    """Compare every registry result saved at set-up with its DuckDB oracle.
    Returns {query: error or None}."""
    import duckdb
    import pandas as pd
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect(config={"threads": 2})
    for f in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
    out = {}
    for name, sql in oracles.items():
        d = os.path.join(work, "results", name)
        try:
            parts = [os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")]
            s = _normalize(pd.concat([pd.read_parquet(p) for p in parts]))
            o = _normalize(con.execute(sql).fetchdf())
            if list(o.columns) != list(s.columns):
                out[name] = f"columns {list(o.columns)} != {list(s.columns)}"
            elif len(o) != len(s):
                out[name] = f"rows {len(o)} != {len(s)}"
            elif not o.equals(s):
                out[name] = "values differ"
            else:
                out[name] = None
        except Exception as e:  # a missing result or oracle error is a failure
            out[name] = f"{type(e).__name__}: {e}"
    con.close()
    return out


def end_to_end(raw, setup_s):
    # one latency per op (query or monitor): the median of its samples, so
    # every op weighs the same however many samples the window gave it
    by_op = {}
    for o in raw["ops"]:
        if o["lat_s"] > 0:  # a monitor that failed before its sink has none
            by_op.setdefault(o["name"], []).append(o)
    lat = [statistics.median(o["lat_s"] for o in v) for v in by_op.values()]
    done = [p for p in raw["passes"] if p["complete"] and not p["traced"]]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(p["wall_s"] for p in done), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in done), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_geomean_s": (math.exp(statistics.fmean(math.log(x) for x in lat)), "s"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-pin",
                    help="self-test: perturb a query's pinned hash or a monitor's closed form")
    ap.add_argument("--keep", action="store_true", help="keep the run's work dir")
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so the JVM and the work dir go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    home = spark_home()
    classes = build(home)
    deadline = time.monotonic() + BUDGET_S
    work = os.path.join(ROOT, ".bench_build", "runs",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        sf = SCALE[args.workload]
        gen_s, deterministic = 0.0, True
        data = os.path.join(work, "data0")
        if sf is not None:
            data, gen_s, deterministic = generate(work, sf, args.seed)
        raw, launched = run_jvm(classes, home, args, work, data,
                                os.path.join(work, "raw.json"), deadline)
        setup_s = gen_s + raw["first_op_ms"] / 1e3 - launched

        checks = list(raw["checks"])
        if sf is not None:
            checks += [{"name": f"oracle:{n}", "ok": not err, "detail": err}
                       for n, err in oracle_check(work, data).items()]
        # a query whose pin or oracle check failed fails every sample
        bad = {c["name"].split(":", 1)[1] for c in checks
               if not c["ok"] and c["name"].startswith(("pin:", "setup:", "oracle:"))}
        ops = raw["ops"]
        failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad)
        broken = [f"{c['name']}: {c['detail']}" for c in checks if not c["ok"]]
        if not deterministic:
            broken.append("table generator is not deterministic for this seed")
        for b in broken[:20]:
            print(f"cosmobench: check failed: {b}", file=sys.stderr)

        if args.trace:
            metrics = layers.per_layer(raw)
            # the span dump outlives the run's work dir
            traces = os.path.join(ROOT, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            run_id = os.path.basename(work)
            with open(os.path.join(traces, f"{run_id}.json"), "w") as fh:
                json.dump({"run": run_id, **raw["trace"]}, fh)
        else:
            metrics = end_to_end(raw, setup_s)
        print(f"cosmobench: {args.workload} seed={args.seed} samples={len(ops)} "
              f"passes={len(raw['passes'])}", file=sys.stderr)
        print(json.dumps({
            "correct": not broken and failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
