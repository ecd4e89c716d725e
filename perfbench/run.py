#!/usr/bin/env python3
"""CDC file-stream benchmark: one run of one workload.

    python3 perfbench/run.py --workload trickle|stream --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (offline); every run then generates its seeded input
files (cached under .bench_cache/), launches one JVM that loads fresh stores
and pushes the files through the program's public entry points, checks the
final tables against an independent serial application of the same files,
and prints a full report line and, last, the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. See perfbench/README.md for their definitions.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

CACHE = os.path.join(ROOT, ".bench_cache")
WORK = os.path.join(ROOT, ".bench_work")
BUILD_TIMEOUT_S = 840
# a run's limit after the (once per checkout) build
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its own forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


# Each trickle block carries every event kind; a run whose counters show one
# of them missing no longer exercises the layer it is there for.
TRICKLE_COUNTS = ["applied.mor_delta", "applied.columns_added", "redelivered",
                  "redelivery_skipped", "skipped.load", "skipped.not_cdc"]
TRICKLE_LAYERS = ["MergePlanner.route.mor_delta", "MergePlanner.drains",
                  "SchemaEvolution.columns_added", "SchemaEvolution.decimal_gated",
                  "CdcPath.skips.load", "CdcPath.skips.not_cdc",
                  "FileLedger.redelivery_skip_frac"]


def spec():
    """BENCHMARK.json: the metric names and units the result line carries."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_jiffies():
    """(busy, steal, total) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    steal = v[7] if len(v) > 7 else 0
    return sum(v) - idle, steal, sum(v)


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ── build ──────────────────────────────────────────────────────────────────

def sources_digest():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/build.properties", "src/main/**/*.scala", "src/main/**/*.java",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program and benchmark; returns the runtime classpath."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("no build.sbt at the checkout root: the program's sources are missing")
    target = os.path.join(HERE, "target")
    stamp, cp_file = os.path.join(target, "build.stamp"), os.path.join(target, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt writeClasspath)")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    log("built in %.0f s" % (time.time() - t0))
    return open(cp_file).read().strip()


# ── inputs ─────────────────────────────────────────────────────────────────

def sf_dir():
    d = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.exists(os.path.join(d, "lineitem.parquet")):
        raise SystemExit("base tables not found under %s (set SPARK_GRAFT_SF_DIR)" % d)
    return d


def cached(path, make):
    """Build `path` once with make(tmp_dir); concurrent runs never see a
    half-written cache entry."""
    if not os.path.exists(path):
        tmp = "%s.tmp-%d" % (path, os.getpid())
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def inputs(workload, seed, seconds):
    """(base table dir, fixture dir), generated once per seed and generator
    version; the generator must reproduce a fixture byte for byte."""
    holder = {}
    base_dir = os.path.join(CACHE, "base-v%d" % gen.GEN_VERSION)

    def base():
        if "base" not in holder:
            holder["base"] = gen.Base(base_dir if os.path.exists(base_dir) else sf_dir())
        return holder["base"]

    cached(base_dir, lambda d: base().write(d))
    fx = os.path.join(CACHE, "fixture-v%d" % gen.GEN_VERSION, "%s-s%d-t%d" % (workload, seed, seconds))

    def make(d):
        gen.generate(base(), workload, seed, seconds, d)
        again = d + "-again"
        gen.generate(base(), workload, seed, seconds, again)
        same = gen.fixture_digest(d) == gen.fixture_digest(again)
        shutil.rmtree(again, ignore_errors=True)
        if not same:
            raise SystemExit("generator is not deterministic for seed %d" % seed)
        with open(os.path.join(d, "digest"), "w") as f:
            f.write(gen.fixture_digest(d))

    os.makedirs(os.path.dirname(fx), exist_ok=True)
    cached(fx, make)
    return base_dir, fx


# ── oracle and self-tests ──────────────────────────────────────────────────

class CachedBase:
    """The key-unique base tables as gen.Base holds them."""

    def __init__(self, base_dir):
        import pyarrow.parquet as pq
        self.tables = {t: pq.read_table(os.path.join(base_dir, t + ".parquet")) for t in gen.TABLES}


def read_actual(work):
    import pyarrow.parquet as pq
    out = {}
    for t in gen.TABLES:
        files = sorted(glob.glob(os.path.join(work, "actual", t, "*.parquet")))
        out[t] = [r for f in files for r in pq.read_table(f).to_pylist()]
    return out


def pair_keys(fx_dir, manifest):
    """Keys a pair file inserts fresh that the table's next file deletes."""
    import pyarrow.parquet as pq
    keys = {t: set() for t in gen.TABLES}
    for e in manifest["events"]:
        if e.get("pair") in ("delete", "delete+insert"):
            for r in pq.read_table(os.path.join(fx_dir, e["path"])).to_pylist():
                if r["Op"] == "D":
                    keys[e["table"]].add(oracle.key_of(e["table"], r))
    return keys


def self_test_oracle(states, actual):
    """The oracle must reject one flipped value and one resurrected key: the
    changed key must show up among the diverged keys, beside whatever the
    unmodified state already diverges on."""
    import copy

    def diverged_keys(act):
        diverged, unattributed = oracle.compare(states, act)
        return {x for ks in diverged.values() for x in ks} | set(unattributed)

    baseline = diverged_keys(actual)
    problems, flips, resurrections = [], 0, 0
    for t, st in states.items():
        present = [i for i, r in enumerate(actual[t]) if (t, oracle.key_of(t, r)) not in baseline]
        if present:
            flipped = copy.deepcopy(actual)
            victim = flipped[t][present[0]]
            col = next(c for c, _ in st.schema if c not in gen.KEYS[t])
            victim[col] = "flipped" if isinstance(victim[col], str) else (victim[col] or 0) + 1
            flips += 1
            if (t, oracle.key_of(t, victim)) not in diverged_keys(flipped):
                problems.append("oracle missed a flipped value in " + t)
        gone = [k for k in sorted(st.touched, key=repr)
                if st.expected(k) is None and (t, k) not in baseline]
        if gone:
            res = copy.deepcopy(actual)
            res[t].append(dict(zip(gen.KEYS[t], gone[0])))
            resurrections += 1
            if (t, gone[0]) not in diverged_keys(res):
                problems.append("oracle missed a resurrected key in " + t)
    if not flips or not resurrections:
        problems.append("oracle self-test found no row to flip or no deleted key to resurrect")
    return problems


# ── metrics ────────────────────────────────────────────────────────────────

def end_to_end(res, ok_frac):
    u = res["pass"]

    def ratio(a, b):
        return a / b if b else float("nan")

    wall = u["load_wall_s"]
    m = {
        "apply_p50_s": (u["apply"]["p50"], u["apply"]["n"]),
        "apply_tail_s": (u["apply"]["tail"], u["apply"]["n"]),
        "files_per_s": (ratio(u["files_applied"], wall), u["files_applied"]),
        "rows_per_s": (ratio(u["rows_applied"], wall), u["files_applied"]),
        "freshness_p50_s": (u["fresh"]["p50"], u["fresh"]["n"]),
        "freshness_tail_s": (u["fresh"]["tail"], u["fresh"]["n"]),
        "read_p50_s": (u["reads"]["p50"], u["reads"]["n"]),
        "write_amp": (ratio(u["bytes_written"], u["bytes_in"]), u["files_applied"]),
        "space_amp": (ratio(u["space_end"], u["space_start"]), 1),
        "ok_frac": (ok_frac, len(u["records"])),
        "setup_s": (res["setup_s"], 1),
    }
    tails = {"apply_tail_s": u["apply"]["tail_pct"], "freshness_tail_s": u["fresh"]["tail_pct"]}
    return m, tails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["trickle", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    classpath = build()
    t_inputs = time.time()
    base_dir, fx_dir = inputs(a.workload, a.seed, a.seconds)
    t_jvm = time.time()
    with open(os.path.join(fx_dir, "manifest.json")) as f:
        manifest = json.load(f)

    work = os.path.join(WORK, "%s-%d" % (a.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = max(1, min(4, (os.cpu_count() or 1) - 1))
    out_file = os.path.join(work, "result.json")
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false",
            "-cp", classpath, "graft.perfbench.Main",
            "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--fixture", fx_dir, "--base", base_dir, "--work", work, "--cpus", str(cpus),
            "--out", out_file])
    cpu0 = cpu_jiffies()
    try:
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            budget = max(30, RUN_TIMEOUT_S - (time.time() - t_inputs))
            try:
                proc = subprocess.run(cmd, cwd=ROOT, stdout=jlog, stderr=subprocess.STDOUT,
                                      stdin=subprocess.DEVNULL, timeout=budget)
            except subprocess.TimeoutExpired:
                raise SystemExit("benchmark JVM killed after %.0f s" % budget)
        if proc.returncode != 0 or not os.path.exists(out_file):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit("benchmark JVM failed (exit %d)" % proc.returncode)
        with open(out_file) as f:
            res = json.load(f)
        t_eval = time.time()
        report, final = evaluate(a, res, manifest, fx_dir, base_dir, work, cpus)
        report["runner_s"] = {"build": t_inputs - t_start, "inputs": t_jvm - t_inputs,
                              "jvm": t_eval - t_jvm, "evaluate": time.time() - t_eval}
        cpu1 = cpu_jiffies()
        if cpu0 and cpu1 and cpu1[2] > cpu0[2]:
            # a virtual machine's stolen time: the host ran someone else
            report["cpu_steal_frac"] = (cpu1[1] - cpu0[1]) / (cpu1[2] - cpu0[2])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(final))


def evaluate(a, res, manifest, fx_dir, base_dir, work, cpus):
    u = res["pass"]
    states, applied = oracle.oracle(CachedBase(base_dir), fx_dir, u["delivered"])
    actual = read_actual(work)
    diverged, unattributed = oracle.compare(states, actual)
    problems = ["table %s: a row no file touched differs from its base row" % t
                for t, c in res["checks"].items() if not c["untouched_ok"]]
    problems += ["diverged key %s.%s touched by no applied file" % x for x in unattributed]
    problems += self_test_oracle(states, actual)
    # the one known divergence: on `stream`, a fresh key inserted by one file
    # and deleted by the next, both in one micro-batch, ends present
    known = pair_keys(fx_dir, manifest) if a.workload == "stream" else {t: set() for t in gen.TABLES}
    known_div = {}
    for f, ks in diverged.items():
        for t, k in ks:
            st = states[t]
            if k in known[t] and st.expected(k) is None:
                known_div.setdefault(f, []).append((t, k))
            else:
                problems.append("file %s left a wrong row for %s key %s" % (f, t, k))
    failed_files = sorted(set(u["failed"]) | set(diverged))
    attempted = len(u["records"])
    ok_frac = 1.0 - len(failed_files) / attempted
    counts = u["counts"]
    if a.workload == "trickle":
        skips = [r["reason"] for r in u["records"] if r["status"] == "skipped"]
        counts = dict(counts, **{"skipped.load": skips.count("LOAD file"),
                                 "skipped.not_cdc": skips.count("Not a CDC file")})
        problems += ["trickle: %s is zero" % n for n in TRICKLE_COUNTS if not counts.get(n)]
    metrics, tails = end_to_end(res, ok_frac)
    traced = res.get("traced")
    if traced is not None:
        if not traced["replay_equal"]:
            problems.append("the traced replay's final state differs from the untraced run's")
        if a.workload == "trickle":
            problems += ["trickle traced: %s is zero" % n for n in TRICKLE_LAYERS
                         if not traced["layers"][n]]
    bench = spec()
    if a.trace:
        units = traced["layer_units"]
        out_metrics = {m["name"]: {"value": traced["layers"].get(m["name"]), "unit": m["unit"]}
                       for m in bench["per_layer"]}
        problems += ["per-layer metric %s: the JVM reports unit %s" % (n, units.get(n))
                     for n, v in out_metrics.items() if units.get(n) != v["unit"]]
    else:
        out_metrics = {m["name"]: {"value": metrics.get(m["name"], (None,))[0], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
    for n, v in out_metrics.items():
        if v["value"] is None or v["value"] != v["value"]:
            problems.append("metric %s has no value" % n)
    correct = not problems
    report = {
        "report": "perfbench",
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "master": res["master"], "cpus": cpus,
        "params": manifest["params"],
        "end_to_end": {m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"],
                                   "samples": metrics[m["name"]][1],
                                   **({"percentile": tails[m["name"]]} if m["name"] in tails else {})}
                       for m in bench["end_to_end"]},
        "failed_frac": {"value": 1.0 - ok_frac, "failed_files": failed_files,
                        "known_divergence": {f: [list(map(str, x)) for x in ks]
                                             for f, ks in known_div.items()},
                        "insert_then_delete_reproduced": bool(known_div)},
        "setup": {"session_s": res["session_s"], "store_setup_s": res["store_setup_s"],
                  "parts_s": res["setup_parts_s"]},
        "phases_s": res["phases_s"],
        "load_wall_s": u["load_wall_s"], "files_applied": u["files_applied"],
        "rows_applied": u["rows_applied"], "read_failures": u["read_failures"],
        "counts": counts, "checks": res["checks"], "problems": problems,
        "oracle_files_applied": len(applied),
    }
    if traced is not None:
        report["per_layer"] = {n: {"value": v, "unit": traced["layer_units"][n]}
                               for n, v in traced["layers"].items()}
        report["trace_details"] = traced["details"]
    final = {"correct": correct, "attempted": attempted, "failed": len(failed_files),
             "metrics": out_metrics}
    return report, final


if __name__ == "__main__":
    main()
