#!/usr/bin/env python3
"""Benchmark of the graft Spark engine.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the engine and the benchmark client (`perfbench/build.sbt`)
once per source tree, generates the workload's inputs from the seed
(cached per seed), runs the closed-loop client in one JVM, checks every
key's output against DuckDB running the engine's own oracle SQL on the
same inputs, and prints one JSON object as its last line: end-to-end
metrics with `--trace 0`, per-layer metrics with `--trace 1`. Work
files live under `perfbench/.work`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 150

DETECTORS = ["d1_storm", "d3_spike_valley", "d4_data_gap", "d5_flat_line",
             "d6_extreme_value", "d7_extreme_change", "u1_infer_step"]
CORPUS_SMALL = ["cc1_dedup_clusters", "s3_kmeans_ivf", "gr1_global_rank_sql"]

# Each key is charged to the engine module that defines its operator.
MODULE = {k: "operators" for k in DETECTORS}
MODULE["cc1_dedup_clusters"] = "dedup"
MODULE["s3_kmeans_ivf"] = "similarity"
MODULE["gr1_global_rank_sql"] = "queries"
MODULES = ["operators", "dedup", "similarity", "queries"]

# Input tables each key reads, for the traced scan probe.
INPUTS = {k: ["canonical_events"] for k in DETECTORS}
INPUTS["cc1_dedup_clusters"] = ["documents"]
INPUTS["s3_kmeans_ivf"] = ["embeddings"]
INPUTS["gr1_global_rank_sql"] = ["orders"]

STATION_SERIES = 100
STATION_HOURS = 1000

WORKLOADS = {
    "meteo-detectors": {
        "keys": DETECTORS,
        "generate": [(gen.stations, {"n_series": STATION_SERIES, "n_points": STATION_HOURS})],
        # per-series keys are checked on this many series (they are
        # independent per series)
        "subset_series": 8,
    },
    "corpus-small": {
        "keys": CORPUS_SMALL,
        "generate": [(gen.corpus, {"n_docs": 1000, "n_vecs": 400}), (gen.orders, {"sf": 0.02})],
    },
}


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def tree_digest(paths):
    """sha256 over the names and bytes of every file under `paths`."""
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            files = [base]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compiles the engine and the client with sbt once per source tree
    and returns the runtime classpath."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
               os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    cp_file = os.path.join(WORK, "build", "classpath-" + tree_digest(sources))
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True)
    with open(log, "a") as fh:
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not lines:
        die(f"build failed (sbt exit {r.returncode}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def inputs(workload, seed):
    """Generates (once per seed) and returns the workload's input dir."""
    steps = WORKLOADS[workload]["generate"]
    recipe = repr([(fn.__name__, params) for fn, params in steps])
    version = hashlib.sha256((tree_digest([os.path.join(HERE, "gen.py")]) + recipe).encode())
    out = os.path.join(WORK, "data", workload, f"seed{seed}-{version.hexdigest()[:16]}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        for fn, params in steps:
            fn(out, seed, **params)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def _probe_work(_):
    h = hashlib.sha256()
    block = b"x" * (1 << 20)
    for _ in range(32):
        h.update(block)
    return 1


def cpu_probe():
    """Seconds for nproc workers to hash 32 MiB each."""
    n = os.cpu_count() or 1
    t0 = time.perf_counter()
    with ProcessPoolExecutor(n) as ex:
        list(ex.map(_probe_work, range(n)))
    return round(time.perf_counter() - t0, 4)


def steal_s():
    """CPU seconds the hypervisor gave other guests, summed over this
    box's CPUs since boot (0 where /proc/stat has no steal field)."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / os.sysconf("SC_CLK_TCK") if len(f) > 8 else 0.0


def heap_mb():
    with open("/proc/meminfo") as fh:
        total_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return total_kb * 3 // 8 // 1024


def launch(cp, workload, seed, seconds, trace, data, run_dir):
    spec = WORKLOADS[workload]
    keys = spec["keys"]
    subset = []
    if "subset_series" in spec:
        rng = gen.np.random.default_rng(seed)
        subset = sorted(int(s) + 1 for s in rng.choice(STATION_SERIES, spec["subset_series"], replace=False))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # The engine build's collector (default G1) and maximum heap (3/8 of
    # the box's memory, its 48g on 128 GiB). The JIT stops at C1 with
    # the tiered code cache size: under the default tiered JIT the C2
    # threads compile for nearly the whole run (Spark recompiles its
    # generated classes every pass), passes kept getting faster for
    # 90 s, and one run in five was a third faster than the others. A
    # run then times the JIT's progress, not the engine. C1 compiles
    # within the warm-up pass and later passes stay flat; the default
    # 48 MiB C1 code cache filled within four passes and slowed the
    # pass that flushed it.
    cmd = ["java", f"-Xmx{heap_mb()}m", "-XX:-UsePerfData",
           "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
    for p in opens:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dderby.system.home=" + tmp,
            "-cp", cp, "perfbench.Client",
            "--data", data, "--out", run_dir, "--keys", ",".join(keys),
            "--seconds", str(seconds), "--trace", str(trace),
            "--inputs", ";".join(k + "=" + "+".join(INPUTS[k]) for k in keys)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        try:
            subprocess.run(cmd, cwd=run_dir, stdout=log, stderr=log, timeout=JVM_TIMEOUT_S, check=True)
        except subprocess.TimeoutExpired:
            die(f"client exceeded {JVM_TIMEOUT_S} s; see {run_dir}/jvm.log")
        except subprocess.CalledProcessError as e:
            die(f"client exited {e.returncode}; see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh), subset


def tail(values):
    """The highest percentile with at least 10 samples beyond it, with
    that percentile and the sample count; no value when there are 10
    samples or fewer."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return {"value": None, "percentile": None, "samples": n}
    return {"value": s[n - 11], "percentile": round(100.0 * (n - 10) / n, 2), "samples": n}


def tagged(ledger, pred):
    return [e for e in ledger if e["tag"].count("|") == 2 and pred(*e["tag"].split("|"))]


def end_to_end(res, samples):
    ok = [s["build_s"] + s["action_s"] for s in samples if s["ok"]]
    jobs = {}
    for e in tagged(res["ledger"], lambda p, k, ph: p.isdigit()):
        p = int(e["tag"].split("|")[0])
        jobs[p] = jobs.get(p, 0) + e["jobs"]
    m = {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in res["passes"]), "s"),
        "query_p50_s": (statistics.median(ok) if ok else 0.0, "s"),
        "jobs_per_pass": (statistics.median(jobs.get(p["pass"], 0) for p in res["passes"]), "count"),
    }
    return m


def per_layer(res, samples, spans, n_passes, failed, attempted):
    passes = res["passes"]
    timed = tagged(res["ledger"], lambda p, k, ph: p.isdigit())

    def per_pass(entries, field):
        return sum(e[field] for e in entries) / n_passes

    def phase(name, module=None):
        return [e for e in timed if e["tag"].split("|")[2] == name
                and (module is None or MODULE[e["tag"].split("|")[1]] == module)]

    # A build-phase job whose call site is `parquet` infers a table's
    # schema when the key opens its input; the rest are eager barriers
    # and driver collects.
    schema_jobs = sum(n for e in phase("build") for site, n in e["sites"].items()
                      if site.startswith("parquet at ")) / n_passes
    mib = 1 << 20
    m = {
        "sources.scan_s": (sum(s["scan_s"] for s in res["scans"]), "s"),
        "sources.input_rows": (per_pass(timed, "input_rows"), "count"),
        "sources.schema_jobs": (schema_jobs, "count"),
        "Materialize.build_s": (sum(s["build_s"] for s in samples) / n_passes, "s"),
        "Materialize.build_jobs": (per_pass(phase("build"), "jobs") - schema_jobs, "count"),
        "Materialize.blocks_mb": (max(p["blocks_bytes"] for p in passes) / mib, "MiB"),
    }
    for mod in MODULES:
        act = phase("action", mod)
        keys = {e["tag"].split("|")[1] for e in act}
        skews = [e["skew"] for e in act if e["skew"] > 0]
        m[mod + ".action_s"] = (sum(s["action_s"] for s in samples if s["key"] in keys) / n_passes, "s")
        m[mod + ".task_s"] = (per_pass(act, "task_ms") / 1e3, "s")
        m[mod + ".shuffle_mb"] = ((per_pass(act, "shuffle_write") + per_pass(act, "shuffle_read")) / mib, "MiB")
        m[mod + ".spill_mb"] = (per_pass(act, "spill") / mib, "MiB")
        m[mod + ".driver_result_mb"] = (per_pass(act, "result") / mib, "MiB")
        m[mod + ".skew"] = (statistics.median(skews) if skews else 0.0, "ratio")
    traced = [s for s in samples if "analyze_ms" in s]
    n_traced = max(1, len({s["pass"] for s in traced}))
    for name, field in [("plans.analyze_s", "analyze_ms"), ("plans.optimize_s", "optimize_ms"),
                        ("plans.physical_s", "physical_ms")]:
        m[name] = (sum(s[field] for s in traced) / 1e3 / n_traced, "s")
    m["plans.exchanges"] = (sum(s["exchanges"] for s in traced) / n_traced, "count")
    m["plans.rank_rewrites"] = (sum(s["rank_rewrites"] for s in traced) / n_traced, "count")
    wall = sum(p["wall_s"] for p in passes)
    m["spark.jobs"] = (per_pass(timed, "jobs"), "count")
    m["spark.stages"] = (per_pass(timed, "stages"), "count")
    m["spark.tasks"] = (per_pass(timed, "tasks"), "count")
    m["spark.no_job_s"] = (no_job_seconds(res, samples) / n_passes, "s")
    m["spark.core_util"] = (sum(e["task_ms"] for e in timed) / 1e3 / (wall * res["cores"]), "ratio")
    tr = [p["wall_s"] for p in passes if p["traced"]]
    un = [p["wall_s"] for p in passes if not p["traced"]]
    m["peak_rss_mb"] = (res["peak_rss_kb"] / 1024.0, "MiB")
    m["trace.overhead_s"] = (statistics.median(tr) - statistics.median(un), "s")
    m["trace.query_coverage"] = (span_coverage(spans), "ratio")
    m["failed_ratio"] = (failed / attempted, "ratio")
    return m


def no_job_seconds(res, samples):
    """Query wall time during which no Spark job of that query ran."""
    spans = {}
    for e in res["ledger"]:
        parts = e["tag"].split("|")
        if len(parts) == 3 and parts[0].isdigit():
            spans.setdefault((int(parts[0]), parts[1]), []).extend(e["job_spans"])
    total = 0.0
    for s in samples:
        lo, hi = s["start_ms"], s["end_ms"]
        covered, cur = 0, lo
        for a, b in sorted(spans.get((s["pass"], s["key"]), [])):
            a, b = max(a, cur), min(b, hi)
            if b > a:
                covered += b - a
                cur = b
        total += (hi - lo - covered) / 1e3
    return total


def span_coverage(spans):
    """Smallest share of a query span's wall time its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    shares = []
    for s in spans:
        if s["name"] == "query":
            d = s["end_ns"] - s["start_ns"]
            c = sum(k["end_ns"] - k["start_ns"] for k in kids.get(s["id"], []))
            shares.append(c / d if d else 1.0)
    return min(shares) if shares else 0.0


def self_times(spans):
    """Self time per span name: duration minus the children's cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        d = s["end_ns"] - s["start_ns"]
        c = sum(k["end_ns"] - k["start_ns"] for k in kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + (d - c) / 1e9
    return {k: round(v, 6) for k, v in out.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("no engine sources next to perfbench/; run from the root of an engine checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are required")

    box = {"load_before": os.getloadavg(), "cpu_probe_s_before": cpu_probe(), "nproc": os.cpu_count()}
    steal0 = steal_s()
    t0 = time.perf_counter()
    cp = build()
    t1 = time.perf_counter()
    data = inputs(a.workload, a.seed)
    t2 = time.perf_counter()
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res, subset = launch(cp, a.workload, a.seed, a.seconds, a.trace, data, run_dir)
    shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    t3 = time.perf_counter()

    samples = res["samples"]
    # The first timed pass is still slower than the later ones (about
    # 7%): every timing and per-pass figure comes from the later
    # passes; all are checked.
    steady_res = dict(res, passes=[p for p in res["passes"] if p["pass"] >= 1],
                      ledger=[e for e in res["ledger"] if not e["tag"].startswith("0|")])
    steady = [s for s in samples if s["pass"] >= 1]
    n_passes = len(steady_res["passes"])
    verdict = check.compare(res, data, run_dir, subset,
                            os.path.join(WORK, "oracle", a.workload, os.path.basename(data)))
    shutil.rmtree(os.path.join(run_dir, "dump"), ignore_errors=True)
    bad_keys = {k for k, v in verdict.items() if not v["ok"]}
    failed = sum(1 for s in samples if not s["ok"] or s["key"] in bad_keys)
    attempted = len(samples)
    t4 = time.perf_counter()
    box.update({"load_after": os.getloadavg(), "cpu_probe_s_after": cpu_probe(),
                "steal_s": round(steal_s() - steal0, 2)})

    spans = []
    if a.trace:
        with open(os.path.join(run_dir, "spans.json")) as fh:
            spans = json.load(fh)
        metrics = per_layer(steady_res, steady, spans, n_passes, failed, attempted)
    else:
        metrics = end_to_end(steady_res, steady)
    query_tail = tail([s["build_s"] + s["action_s"] for s in steady if s["ok"]])
    manifest = gen.manifest(data)
    rows = sum(t["rows"] for t in manifest.values())
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "keys": WORKLOADS[a.workload]["keys"], "steady_passes": n_passes, "input_rows": rows,
        "data_state": manifest, "box_state": box, "correctness": verdict,
        "stage_s": {"build": t1 - t0, "inputs": t2 - t1, "client": t3 - t2, "check": t4 - t3},
        "metrics": {k: v[0] for k, v in metrics.items()},
        "per_key_median_s": {k: statistics.median(s["build_s"] + s["action_s"] for s in steady
                                                  if s["key"] == k and s["ok"])
                             for k in {s["key"] for s in steady if s["ok"]}},
        "pass_walls_s": [p["wall_s"] for p in res["passes"]],
        "query_tail_s": query_tail,
        "span_self_s": self_times(spans),
    }
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"workload {a.workload} seed {a.seed}: {len(res['passes'])} passes, {attempted} query runs, "
          f"input {rows} rows; box load {box['load_before'][0]:.2f}->{box['load_after'][0]:.2f}, "
          f"cpu probe {box['cpu_probe_s_before']}s->{box['cpu_probe_s_after']}s, "
          f"steal {box['steal_s']} cpu-s")
    if not a.trace:
        print(f"pass_s {metrics['pass_s'][0]:.4f} s over {rows} input rows")
    if query_tail["value"] is None:
        print(f"query_tail_s: none ({query_tail['samples']} samples; no percentile has 10 beyond it)")
    else:
        print(f"query_tail_s {query_tail['value']:.4f} s at p{query_tail['percentile']} "
              f"of {query_tail['samples']} samples")
    for k, v in sorted(verdict.items()):
        if not v["ok"]:
            print(f"FAILED {k}: {v['why']}")
        elif not v["exact"]:
            print(f"INEXACT {k}: equal to the oracle only within the last-place float tolerance")
    print(f"record: {os.path.relpath(run_dir, ROOT)}/record.json")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
