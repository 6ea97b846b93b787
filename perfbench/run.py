#!/usr/bin/env python3
"""The repo benchmark: one workload, one closed-loop client, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (perfbench/build.py), generates the
input tables once (perfbench/gen_data.py), then runs the workload in
one JVM (graft.perfbench.PerfBench): set-up, a cold pass and enough
later passes to fill `--seconds`. Afterwards,
outside every timed region, it grades the outputs: the last pass's
query results through tools/check.py against each query's DuckDB
oracle, the direct IterativeTrainer result against a DuckDB EMA unroll
over the same seeded batches, and every result's digest against the
same result in every other pass. The last line of stdout is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics, or with `--trace 1` the per-layer ones). See perfbench/README.md.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402

WORKLOADS = ("relational_warm", "curation_cold", "iterative_stream")
# Warm pass length of each workload in seconds, as measured at local[4].
# `--seconds` divided by it gives the number of later passes, so the
# work of a run depends on `--seconds` only, never on the box or seed.
NOMINAL_PASS_S = {"relational_warm": 5.0, "curation_cold": 8.5, "iterative_stream": 7.5}
# Scale factor of each workload's tables: sf0.1 (600,000 lineitem rows,
# 5,000 documents) where the workload's design names it; the iterative
# workload keeps its scanned bytes small at sf0.01.
SCALE = {"relational_warm": 0.1, "curation_cold": 0.1, "iterative_stream": 0.01}
E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "latency_p50_s": "s",
             "latency_tail_s": "s"}
ALPHA = 0.2
MB = 1024.0 * 1024.0


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def split_of(seed):
    """Mirror of graft.perfbench.Split: (a, b, p, k)."""
    return 1 + seed % 997, (seed * 31) % 1009, 1009, 4


def nproc():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) CPU ticks of the whole machine, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def java_cmd(classes, work, heap):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    jars = os.path.join(build.spark_jars(), "*")
    return ["java"] + opens + [
        f"-Xmx{heap}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
        "-Dspark.sql.session.timeZone=UTC", "-cp", f"{classes}{os.pathsep}{jars}",
        "graft.perfbench.PerfBench"]


def run_jvm(cmd, args, work, deadline, stderr_log):
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=f"{work}/scratch")
    env.pop("SPARK_GRAFT_CPUS", None)
    proc = subprocess.Popen(cmd + args, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=stderr_log, text=True)
    timer = threading.Timer(max(10.0, deadline - time.monotonic()), proc.kill)
    timer.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
    finally:
        rc = proc.wait()
        timer.cancel()
    if rc != 0:
        raise RuntimeError(f"benchmark JVM exited with {rc} (killed at the deadline if "
                           f"negative); see {stderr_log.name}")


def canon_rows(rows):
    return sorted(tuple(repr(v) for v in r) for r in rows)


def digest(con, path):
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    h = hashlib.sha256(repr(sorted(rel.columns)).encode())
    order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
    for r in canon_rows([tuple(row[i] for i in order) for row in rel.fetchall()]):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def trainer_expected(con, data, seed):
    a, b, p, k = split_of(seed)
    con.execute(f"CREATE OR REPLACE VIEW li AS SELECT * FROM read_parquet('{data}/lineitem.parquet')")
    w0 = w1 = 0.0
    for i in range(k):
        i0, s = con.sql(
            "SELECT regr_intercept(l_extendedprice, l_quantity), "
            "regr_slope(l_extendedprice, l_quantity) FROM li "
            f"WHERE ((l_orderkey * {a} + {b}) % {p}) % {k} = {i}").fetchone()
        w0, w1 = ALPHA * w0 + (1 - ALPHA) * i0, ALPHA * w1 + (1 - ALPHA) * s
    return w0, w1, k


def grade(result, data, work, seed, stderr_log):
    """Oracle, trainer and digest checks. Returns the names of failed
    requests, each with its reason."""
    import duckdb
    con = duckdb.connect()
    passes = result["passes"]
    failures = {}
    last = os.path.join(work, "out", f"pass{passes[-1]['pass']}")
    oracles = {n: q for n, q in result["oracles"].items()
               if os.path.isdir(os.path.join(last, n))}
    with open(os.path.join(last, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    chk = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, last],
                         stdout=subprocess.PIPE, stderr=stderr_log, text=True, timeout=120)
    graded = set()
    for line in chk.stdout.splitlines():
        if line.startswith("FAIL "):
            name = line[5:].split(":")[0]
            failures[name] = "oracle mismatch: " + line
            graded.add(name)
        elif line.startswith("OK "):
            graded.add(line.split()[1].rstrip(":"))
    for name in oracles:
        if name not in graded:
            failures[name] = "oracle check did not report it"
    outputs = {}
    for ps in passes:
        for r in ps["requests"]:
            if r["error"]:
                failures.setdefault(r["name"], f"pass {ps['pass']}: {r['error']}")
            elif r["kind"] in ("query", "trainer"):
                path = os.path.join(work, "out", f"pass{ps['pass']}", r["name"])
                outputs.setdefault(r["name"], []).append(digest(con, path))
                if r["kind"] == "trainer":
                    got = con.sql(f"SELECT w0, w1, iters FROM read_parquet('{path}/*.parquet')").fetchone()
                    exp = trainer_expected(con, data, seed)
                    if got[2] != exp[2] or any(abs(g - e) > 2e-6 + 1e-9 * abs(e)
                                               for g, e in zip(got[:2], exp[:2])):
                        failures.setdefault(r["name"], f"trainer {got} != EMA unroll {exp}")
    for name, ds in outputs.items():
        if len(set(ds)) != 1:
            failures.setdefault(name, f"result digests differ across passes: {ds}")
    return failures, {n: ds[0] for n, ds in outputs.items()}


def tail_latency(lat):
    """The highest whole percentile with at least 10 samples beyond it,
    as (value, label). Below 40 samples that percentile lies under p75,
    among the body of the distribution rather than its tail, so the
    maximum is reported and labelled so."""
    n, s = len(lat), sorted(lat)
    if n < 40:
        return s[-1], f"max of {n} samples: fewer than 40, so no percentile from p75 up has 10 beyond it"
    pct = math.floor(100 * (n - 10) / n)
    idx = math.ceil(pct / 100 * n) - 1  # nearest rank
    return s[idx], f"p{pct} with {n - idx - 1} of {n} samples beyond it"


def end_to_end(result):
    passes = result["passes"]
    warm = [p for p in passes[1:] if not p["traced"]] or passes[1:]
    lat = [r["latency_s"] for p in warm for r in p["requests"]]
    tail, tail_note = tail_latency(lat)
    m = {"setup_s": result["setup"]["setup_s"], "cold_pass_s": passes[0]["pass_s"],
         "pass_s": median([p["pass_s"] for p in warm]), "latency_p50_s": median(lat),
         "latency_tail_s": tail}
    return m, tail_note


def storage_peak(result):
    return max(p["storage_mb_peak"] for p in result["passes"])


def per_layer(result):
    passes = result["passes"]
    cold = passes[0]
    traced = [p for p in passes[1:] if p["traced"]]
    untraced = [p for p in passes[1:] if not p["traced"]]
    names = sorted(traced[0]["layers"]) if traced else []
    m = {n: median([p["layers"][n] for p in traced]) for n in names}
    m["streaming.chunkstore_build_s"] = cold["layers"]["streaming.chunkstore_build_s"]
    m.update((k, v) for k, v in result["setup"].items() if k.startswith("session."))
    m["tables.scan_probe_s"] = result["scan_probe_s"]
    m["storage_mb_peak"] = storage_peak(result)
    traced_s = median([p["pass_s"] for p in traced])
    untraced_s = median([p["pass_s"] for p in untraced])
    m["kernels.build_share"] = cold["layers"]["kernels.build_s"] / cold["pass_s"]
    m["driver.self_share"] = m["driver.self_s"] / traced_s if traced_s else 0.0
    m["trace.pass_s"] = traced_s
    m["trace.untraced_pass_s"] = untraced_s
    m["trace.overhead_s"] = traced_s - untraced_s
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float,
                    help="scale factor of the generated tables (default: the workload's)")
    a = ap.parse_args()
    a.scale = a.scale or SCALE[a.workload]
    t_start = time.monotonic()
    try:
        build.sources()
        if not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
            raise RuntimeError("tools/check.py not found")
        os.makedirs(build.OUT, exist_ok=True)
        with open(os.path.join(build.OUT, "build.log"), "w") as blog:
            classes = build.build(log=blog)
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: cannot build the engine: {e}", file=sys.stderr)
        return 2
    # a traced run needs 3 later passes: untraced, traced, untraced
    passes = max(3 if a.trace else 2, round(a.seconds / NOMINAL_PASS_S[a.workload]))
    # Kill the JVM if it hangs: 170 s after the build keeps a run of the
    # checked length under 180 s; longer runs get three times their
    # nominal pass time plus set-up and the cold pass.
    deadline = time.monotonic() + max(170.0, 60 + 3 * passes * NOMINAL_PASS_S[a.workload])

    data = os.path.join(build.OUT, "data", f"sf{a.scale:g}")
    gen_stamp = hashlib.sha256(open(gen_data.__file__, "rb").read()).hexdigest()
    stamp_file = os.path.join(data, "generator.stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == gen_stamp):
        shutil.rmtree(data, ignore_errors=True)
        gen_data.generate(data, a.scale)
        with open(stamp_file, "w") as f:
            f.write(gen_stamp)

    work = os.path.join(build.OUT, "run")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "scratch", "out"):
        os.makedirs(os.path.join(work, d))
    with open(os.path.join(build.OUT, "jvm.log"), "w") as jlog:
        try:
            res = os.path.join(work, "result.json")
            ticks0 = cpu_ticks()
            run_jvm(java_cmd(classes, work, "2g"),
                    ["--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
                     "--trace", str(a.trace), "--data", data, "--work", work,
                     "--cpus", str(nproc()), "--result", res], work, deadline, jlog)
            ticks1 = cpu_ticks()
            result = json.load(open(res))
            t_verify = time.time()
            failures, digests = grade(result, data, work, a.seed, jlog)
            verify_s = time.time() - t_verify
        except (RuntimeError, OSError, ValueError, subprocess.SubprocessError) as e:
            print(f"perfbench: run failed: {e}", file=sys.stderr)
            return 1

    attempted = sum(len(p["requests"]) for p in result["passes"])
    errored = sum(1 for p in result["passes"] for r in p["requests"] if r["error"])
    failed = min(attempted, errored + sum(1 for n, why in failures.items()
                                          if not why.startswith("pass ")))
    for name, why in sorted(failures.items()):
        log(f"FAILED {name}: {why}")
    for p in result["passes"]:
        log(f"pass {p['pass']} order: " + " ".join(r["name"] for r in p["requests"]))
    for name in sorted(digests):
        log(f"digest {name} {digests[name]}")
    e2e, tail_note = end_to_end(result)
    for n, v in e2e.items():
        log(f"{n} = {v:.4f} {E2E_UNITS[n]}" + (f"  ({tail_note})" if n == "latency_tail_s" else ""))
    log(f"storage_mb_peak = {storage_peak(result):.4f} MB")
    log(f"error_rate = {failed / attempted:.4f} ratio  ({failed} of {attempted} requests)")
    log(f"verify_s = {verify_s:.3f} s (outside every timed region)")
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        log(f"cpu_steal_share = {(ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]):.4f} "
            "(CPU time the hypervisor gave to other guests while the JVM ran)")
    if a.trace:
        metrics = per_layer(result)
        with open(os.path.join(work, "spans.jsonl"), "a") as f:
            f.write(json.dumps({"name": "verify", "request": "verify",
                                "start_ms": int(t_verify * 1000), "seconds": verify_s}) + "\n")
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(build.OUT, "spans.jsonl"))
        log(f"kernels.build_share = {metrics['kernels.build_share']:.4f} "
            "(kernels.build_s over cold_pass_s: the most a one-pass store build can save)")
        log(f"driver.self_share = {metrics['driver.self_share']:.4f} "
            "(driver.self_s over pass_s: the most driver-side work can save)")
        log(f"trace.overhead_s = {metrics['trace.overhead_s']:.4f} s (traced minus untraced pass_s)")
        units = layer_units()
        for n in sorted(metrics):
            log(f"layer {n} = {metrics[n]:.6g} {units.get(n, '')}")
        out = {n: {"value": v, "unit": units.get(n, "")} for n, v in metrics.items()}
    else:
        out = {n: {"value": v, "unit": E2E_UNITS[n]} for n, v in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    log(f"run_wall_s = {time.monotonic() - t_start:.1f} s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


def layer_units():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    except (OSError, ValueError, KeyError):
        return {}


if __name__ == "__main__":
    sys.exit(main())
