#!/usr/bin/env python3
"""The repository's benchmark: one command per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline) into ``.bench_build/``; later runs
reuse that build while the sources are unchanged. Each run then

  1. writes the workload's inputs from ``--seed`` (``gen.py``),
  2. starts one JVM (``graft.perfbench.Harness``) on ``local[4]`` that warms
     the workload up, sets it up several times, and drives its operation in
     a closed loop (one client, the next call only after the previous
     returns) for ``--seconds`` and at least a fixed number of calls,
     taking each call's CPU time (the program's threads, not the JVM's own)
     and wall time,
  3. checks every output against the generator's model (or, for the
     registry rows, against each row's DuckDB oracle SQL), and
  4. prints one JSON line: end-to-end metrics with ``--trace 0``, per-layer
     metrics with ``--trace 1`` (whose run traces half the operations
     and compares them with the others to state the tracing overhead).

Workloads and metrics are listed in ``BENCHMARK.json`` at the root; input
sizes, the settings both commits of a comparison share, metric definitions and
the layer-to-metric map are in ``settings.json`` next to this file.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

SETTINGS = json.load(open(os.path.join(HERE, "settings.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    h.update(open(p, "rb").read())
    h.update(open(os.path.join(HERE, "build.sbt"), "rb").read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the sources match the last build; returns
    the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        cached = json.load(open(cp_file))
        if cached["stamp"] == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=out, stderr=subprocess.STDOUT, timeout=850).returncode
    lines = open(os.path.join(BUILD, "build.log")).read().splitlines()
    cps = [ln for ln in lines if "scala-library" in ln and os.pathsep in ln]
    if rc != 0 or not cps:
        raise SystemExit(f"build failed (exit {rc}); see {BUILD}/build.log")
    json.dump({"stamp": stamp, "classpath": cps[-1].strip()}, open(cp_file, "w"))
    return cps[-1].strip()


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def make_inputs(workload, seed, inputs):
    """Writes the workload's inputs under ``inputs``; returns the harness
    config fields and what the checks need."""
    size = SETTINGS["inputs"][workload]
    rng = np.random.default_rng([seed, sorted(SETTINGS["inputs"]).index(workload)])
    if workload == "b3_full_refresh":
        raw = os.path.join(inputs, "raw")
        rows = gen.gen_v1_history(rng, raw, size["tickers"], size["days"])
        return {"raw": raw, "days": size["days"]}, {"model": gen.model_v1(rows), "raw": raw}
    sf = os.path.join(inputs, "sf")
    gen.gen_registry(rng, sf, size["scale"])
    return {"sf": sf, "rows": SETTINGS["registry_rows"]}, {"sf": sf}


# --------------------------------------------------------------------------
# checks
# --------------------------------------------------------------------------

def close(a, b, rel=1e-9):
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)
    return a == b


def tree_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def read_partitioned(root, keys):
    """Rows of a hive-partitioned parquet root as dicts, partition values
    as strings."""
    import pyarrow.parquet as pq
    rows = []
    for d, _, fs in os.walk(root):
        rel = os.path.relpath(d, root)
        if rel == ".":
            continue
        parts = dict(p.split("=", 1) for p in rel.split(os.sep))
        if list(parts) != keys:
            continue
        for f in fs:
            if f.endswith(".parquet"):
                for r in pq.read_table(os.path.join(d, f)).to_pylist():
                    r.update(parts)
                    rows.append(r)
    return rows


def check_v1_root(root, model):
    """True when the refined root holds exactly the modelled rows."""
    rows = read_partitioned(root, ["code", "reference_date"])
    got = {(r["code"], r["reference_date"]): r for r in rows}
    if len(rows) != len(got) or set(got) != set(model):
        return False
    for k, m in model.items():
        r = got[k]
        if (r["ticker"], r["type"], r["theoricalQty"], r["initial_date"]) != \
                (m["ticker"], m["type"], m["theoricalQty"], m["initial_date"]):
            return False
        if not all(close(r[c], m[f]) for c, f in (("part", "part"), ("mean_part_7_days", "mean"),
                                                   ("max_part_7_days", "max"),
                                                   ("min_part_7_days", "min"))):
            return False
    return True


def check_refresh(res, ctx):
    failed = 0
    for it in res["iterations"]:
        n = len(ctx["model"])
        days = len({d for _, d in ctx["model"]})
        ok = (it["listed"] == n and it["registered"] == n and it["raw_registered"] == days
              and check_v1_root(it["root"], ctx["model"]))
        failed += 0 if ok else 1
    last = res["iterations"][-1]["root"] if res["iterations"] else ctx["raw"]
    return failed, tree_bytes(last) / tree_bytes(ctx["raw"])


def check_registry(res, ctx):
    """Each row's result in every pass (the warm-up and each timed one)
    against its DuckDB oracle SQL over the same generated tables, compared
    as sorted rows. Returns the failing ``pass/row`` names and each row's
    expected row count."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(ctx["sf"])):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{ctx['sf']}/{f}')")
    bad = set(res["row_errors"])
    expected = {}
    for row in SETTINGS["registry_rows"]:
        try:
            exp = con.execute(res["oracle"][row]).fetch_arrow_table()
            cols = sorted(exp.column_names)
            expected[row] = (cols, exp.num_rows, sorted_rows(exp, cols))
        except Exception as e:  # noqa: BLE001 - a failing oracle fails the row
            log(f"{row}: oracle error {e}")
    for p in res["passes"]:
        for row in SETTINGS["registry_rows"]:
            name = f"{p}/{row}"
            if name in bad:
                continue
            if row not in expected:
                bad.add(name)
                continue
            cols, n, want = expected[row]
            got = con.execute(f"SELECT * FROM read_parquet('{res['out']}/{name}/*.parquet')"
                              ).fetch_arrow_table()
            if cols != sorted(got.column_names) or n != got.num_rows:
                log(f"{name}: shape differs")
                bad.add(name)
            elif not all(all(close(x, y) for x, y in zip(a, b))
                         for a, b in zip(want, sorted_rows(got, cols))):
                log(f"{name}: values differ")
                bad.add(name)
    return bad, {row: e[1] for row, e in expected.items()}


def sorted_rows(t, cols):
    return sorted((tuple(r[c] for c in cols) for r in t.select(cols).to_pylist()),
                  key=lambda r: tuple((v is None, str(v)) for v in r))


# --------------------------------------------------------------------------
# run
# --------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"no program sources under {ROOT}/src/main/scala: run from a checkout")

    classpath = build()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        cfg, ctx = make_inputs(args.workload, args.seed, os.path.join(work, "inputs"))
        log(f"inputs written in {time.time() - t0:.1f} s")
        cfg.update(workload=args.workload, work=work, seconds=args.seconds, trace=args.trace)
        cfg_path = os.path.join(work, "config.json")
        json.dump(cfg, open(cfg_path, "w"))
        s = SETTINGS["session"]
        cmd = (["java", f"-Xmx{s['heap']}", f"-Xms{s['heap']}", "-XX:-UsePerfData",
                # a fixed set of JIT compiler threads, so the harness can
                # leave their CPU time out of the operations' (Harness.cpuNs)
                "-XX:-UseDynamicNumberOfCompilerThreads",
                f"-Djava.io.tmpdir={work}/tmp"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "graft.perfbench.Harness", cfg_path])
        t0 = time.time()
        with open(os.path.join(work, "harness.log"), "w") as out:
            proc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                                  timeout=SETTINGS["harness_timeout_s"])
        log(f"harness ran {time.time() - t0:.1f} s")
        res_path = os.path.join(work, "result.json")
        if proc.returncode != 0 or not os.path.exists(res_path):
            sys.stderr.write(open(os.path.join(work, "harness.log")).read()[-4000:])
            raise SystemExit(f"harness exited with {proc.returncode}")
        res = json.load(open(res_path))
        for e in res["errors"]:
            log(f"error: {e}")
        t0 = time.time()
        report(args, res, ctx)
        log(f"checks took {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, res, ctx):
    ops = res["ops_ms"]
    cpu = res["ops_cpu_ms"]
    errors = len(res["errors"])
    if not ops:
        raise SystemExit("no timed operation succeeded")
    attempted = len(res["setup_s"]) + res["warmup_ops"] + res["ops_run"]
    if args.workload == "b3_full_refresh":
        wrong, stored = check_refresh(res, ctx)
    else:
        rows = SETTINGS["registry_rows"]
        bad, sizes = check_registry(res, ctx)
        attempted = len(res["setup_s"]) + len(rows) * len(res["passes"])
        wrong = len(bad)
        for b in sorted(bad):
            log(f"row failed: {b} {res['row_errors'].get(b, '')}")
        stored = statistics.median(res["scratch_bytes_per_pass"]) / tree_bytes(ctx["sf"])
        print("# row CPU times per timed pass (ms): " + ", ".join(
            f"{r} {[round(x) for x in ms]}" for r, ms in res["row_cpu_ms"].items())
              + f"; result rows {sizes}")
    failed = errors + wrong
    print(f"# {args.workload}: {len(ops)} timed operations; setup samples {res['setup_s']}; {res['before_timing_s']:.1f} s of set-up and "
          f"warm-up before timing; failed {failed} of {attempted}; "
          f"CPU times (ms) {[round(x) for x in cpu]}; wall times (ms) {[round(x) for x in ops]}; "
          f"{100 * res['steal_share']:.1f}% of the machine's CPU time stolen while timing")
    if args.trace == 0:
        metrics = {
            "setup_s": statistics.median(res["setup_s"]),
            "op_cpu_ms": statistics.median(cpu),
            "peak_heap_mb": res["heap_peak_mb"],
            "stored_bytes_per_input_byte": stored,
        }
        units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    else:
        layers = dict(res.get("layers", {}))
        traced = res.get("traced_cpu_ms") or []
        if traced:
            layers["trace.overhead_pct"] = 100.0 * (statistics.median(traced) /
                                                    statistics.median(cpu) - 1.0)
        layers["wall.op_p50_ms"] = statistics.median(ops)
        layers["wall.steal_pct"] = 100.0 * res["steal_share"]
        print(f"# traced run: {len(ops)} untraced and {len(traced)} traced operations; "
              f"tracing overhead {layers.get('trace.overhead_pct', 0.0):+.1f}% on the median CPU time")
        units = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
        metrics = {k: layers.get(k, 0.0) for k in units}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
