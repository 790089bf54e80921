#!/usr/bin/env python3
"""Benchmark of the graft engine at sf0.1: named workloads of query keys,
end-to-end metrics, and a traced per-module breakdown.

Run from the repository root:

    python3 perfbench/run.py --workload reference_ml --seed 1 --seconds 10 --trace 0

The first run compiles the program and the JVM half of the benchmark
(`perfbench/scala`) with scalac into `.bench_build/perfbench`; later runs
reuse the build while the sources are unchanged. Each run then starts one
JVM directly off that classpath (`graft.Bench`'s session conf, local[4])
with a private, wiped `java.io.tmpdir` and `SPARK_LOCAL_DIRS` under
`.bench_run/`, and removes them when it ends. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}; `--trace 0`
gives the end-to-end metrics, `--trace 1` the per-layer ones.

Inputs: the read-only sf0.1 corpus (`SPARK_GRAFT_SF_DIR`, else the default
`graft.Bench` uses);
the seed fixes the permutation of the key order inside every timed pass.
See perfbench/README.md for the workloads, metrics and measured spread.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

ROOT = Path.cwd()
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
RUN_DIR = ROOT / ".bench_run"
GOLDEN = HERE / "golden.json"
# Fixed rather than nproc: the golden digests of the spark.ml and
# float-summing keys are recorded at this partitioning.
CORES = 4
# A fixed heap and young generation: with G1's default sizing, heap growth
# follows GC timing on the shared host and peak RSS moved by 26% between
# runs of one workload.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
JVM_TIMEOUT_S = 165

# Each workload is one pass over its keys; see README.md for why each was
# chosen and what was left out to fit the run budget.
WORKLOADS = {
    "reference_ml": [
        "scan_csv_typed", "na_drop", "ml_evaluator", "join_asof",
        "heavy_hitters", "split_hash", "sink_csv", "sessionize_batch",
        "anchor_text"],
    "dedup_search": [
        "dedup_simhash_pairs", "sim_search", "lang_id", "mm_decode",
        "contamination_strip", "cluster_assign_batch"],
}

# Timed metrics are divided by the median wall time of the calibration job,
# fixed CPU work run between passes in the same run ("calib" units): the
# shared host's speed moves raw seconds by 20% and more between runs, and the
# ratio cancels most of that. The raw seconds are printed on a diagnostics
# line.
END_TO_END = {
    "setup_s": "s",
    "pass_rel": "calib",
    "query_p50_rel": "calib",
    "proc_cpu_rel": "calib",
    "peak_rss_mb": "MB",
    "cache_mb": "MB",
}

UNITS = {"wall_s": "s", "plan_s": "s", "gap_s": "s", "cpu_s": "s",
         "jobs": "count", "tasks": "count", "exchanges": "count",
         "smj": "count", "shuffle_mb": "MB", "write_mb": "MB",
         "util": "ratio"}
KERNELS = ["wall_s", "cpu_s", "jobs", "tasks", "shuffle_mb"]
OPERATORS = ["wall_s", "plan_s", "jobs", "cpu_s", "exchanges"]
LAYERS = {
    "Curation": ["wall_s", "jobs", "tasks", "gap_s", "cpu_s", "shuffle_mb",
                 "exchanges", "smj"],
    "MLOps": ["wall_s", "jobs", "tasks", "cpu_s", "gap_s", "util"],
    "Relational": OPERATORS,
    "Temporal": OPERATORS,
    "Sketches": OPERATORS,
    "Lifecycle": OPERATORS,
    "Sources": OPERATORS + ["write_mb"],
    "Streams": ["wall_s", "jobs", "tasks", "cpu_s"],
    "Dedup": KERNELS,
    "Similarity": KERNELS,
    "TextAnalysis": KERNELS,
    "Multimodal": KERNELS,
    "Clustering": KERNELS,
    "Graph": KERNELS,
}
# Metrics of the traced run that belong to no single module.
PER_RUN = {
    "LocalFs.landing_s": "s",
    "LocalFs.published_dirs": "count",
    "jvm.gc_s": "s",
    "spill_mb": "MB",
    "pass.jobs": "count",
    "pass.gap_s": "s",
    "trace.build_s": "s",
    "trace.plan_s": "s",
    "trace.exec_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units():
    units = {f"{m}.{k}": UNITS[k] for m, kinds in LAYERS.items()
             for k in kinds}
    units.update(PER_RUN)
    return units


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        fail("SPARK_HOME must name a Spark 4 distribution")
    return Path(home) / "jars"


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def add_opens():
    # what spark-submit adds on JDK 17 (JavaModuleOptions), as in build.sbt
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
            "java.net", "java.nio", "java.util", "java.util.concurrent",
            "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
            "sun.security.action", "sun.util.calendar"]
    return [a for p in pkgs for a in ("--add-opens",
                                      f"java.base/{p}=ALL-UNNAMED")]


def build():
    """Compile src/main and perfbench/scala unless the stamped build is
    current. Returns the classes directory."""
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        fail("no program sources under src/main/scala; run from the "
             "repository root")
    sources = program + sorted((HERE / "scala").glob("*.scala"))
    digest = hashlib.sha256()
    for f in sources:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0")
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    classes, stamp_file = BUILD_DIR / "classes", BUILD_DIR / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    tmp = BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
           # an explicit classpath keeps the working directory (whose
           # perfbench/scala would shadow the scala package) off it
           "-classpath", str(tmp)]
    res = subprocess.run(cmd + [str(f) for f in sources], timeout=800,
                         capture_output=True, text=True)
    if res.returncode != 0:
        fail("compile failed:\n" + (res.stdout + res.stderr)[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


def sf_dir():
    """The corpus directory: SPARK_GRAFT_SF_DIR, else graft.Bench's own
    default, read from its source."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    text = (ROOT / "src/main/scala/graft/Bench.scala").read_text()
    m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', text)
    if not m:
        fail("no SPARK_GRAFT_SF_DIR default in graft.Bench")
    return m.group(1)


def key_modules():
    """Query key -> the module whose public operator function it calls, read
    from the registry in SparkEntry.scala."""
    text = (ROOT / "src/main/scala/graft/SparkEntry.scala").read_text()
    pairs = re.findall(r'"(\w+)"\s*->\s*\(?\s*([A-Z]\w*)\.', text)
    return dict(pairs)


def launch(classes, workload, seed, seconds, trace):
    run = RUN_DIR / f"{workload}-{seed}-{trace}-{os.getpid()}"
    shutil.rmtree(run, ignore_errors=True)
    (run / "tmp").mkdir(parents=True)
    (run / "local").mkdir()
    out, log = run / "records.jsonl", run / "jvm.log"
    cmd = [java(), *add_opens(), *HEAP,
           f"-Djava.io.tmpdir={run / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", f"{classes}:{spark_jars()}/*", "perfbench.PerfBench",
           "keys=" + ",".join(WORKLOADS[workload]), f"sf={sf_dir()}",
           f"seed={seed}", f"seconds={seconds}", f"trace={trace}",
           f"cores={CORES}", f"out={out}"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run / "local"))
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, env=env, stdout=lf, stderr=lf,
                                    cwd=run)
            try:
                rc = proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"JVM exceeded {JVM_TIMEOUT_S}s")
        if rc != 0:
            fail(f"JVM exited {rc}:\n" + log.read_text()[-4000:])
        return [json.loads(line) for line in out.read_text().splitlines()]
    finally:
        shutil.rmtree(run, ignore_errors=True)


def check(records, golden):
    """Failed executions: errors, row counts that differ from the golden
    ones, and (warm-up only) digests that differ."""
    bad = []
    for r in records:
        if r["type"] not in ("warm", "exec"):
            continue
        g = golden.get(r["key"])
        if r["error"]:
            bad.append((r["key"], r["error"]))
        elif g is None:
            bad.append((r["key"], "no golden record"))
        elif r["rows"] != g["rows"]:
            bad.append((r["key"], f"rows {r['rows']} != {g['rows']}"))
        elif r.get("digest") and r["digest"] != g["digest"]:
            bad.append((r["key"], f"digest {r['digest']} != {g['digest']}"))
    return bad


def timed(records):
    """Raw timings of the untraced timed passes, and the median wall of the
    calibration job run between passes."""
    passes = [r for r in records if r["type"] == "pass" and not r["traced"]]
    execs = [r["wall"] for r in records
             if r["type"] == "exec" and not r["traced"]]
    return {
        "pass_s": stats.median([p["wall"] for p in passes]),
        "query_p50_s": stats.hd_median(execs),
        "proc_cpu_s": stats.median([p["cpu"] for p in passes]),
        "calib_s": stats.median([r["wall"] for r in records
                                 if r["type"] == "calib"]),
    }


def end_to_end(records):
    setup = next(r for r in records if r["type"] == "setup")
    end = next(r for r in records if r["type"] == "end")
    t = timed(records)
    return {
        "setup_s": setup["wall"],
        "pass_rel": t["pass_s"] / t["calib_s"],
        "query_p50_rel": t["query_p50_s"] / t["calib_s"],
        "proc_cpu_rel": t["proc_cpu_s"] / t["calib_s"],
        "peak_rss_mb": end["peak_rss_kb"] * 1024 / 1e6,
        "cache_mb": setup["bytes"] / 1e6,
    }


def per_layer(records, modules):
    """Per-module sums over each traced pass, reported as the median over
    the traced passes. Jobs belong to the key running when they started."""
    jobs = sorted((r for r in records if r["type"] == "job"),
                  key=lambda j: j["t0"])
    traced = [r for r in records if r["type"] == "exec" and r["traced"]]
    by_pass = {}
    for e in traced:
        mine = [j for j in jobs if e["t0"] <= j["t0"] <= e["t1"]]
        spans = [(j["t0"], j["t1"] if j["t1"] >= 0 else e["t1"]) for j in mine]
        vals = {
            "wall_s": e["wall"], "plan_s": e.get("plan", 0.0),
            "gap_s": stats.gap_s((e["t0"], e["t1"]), spans),
            "jobs": len(mine), "tasks": sum(j["tasks"] for j in mine),
            "cpu_s": sum(j["cpu"] for j in mine),
            "shuffle_mb": sum(j["shuffle"] for j in mine) / 1e6,
            "spill_mb": sum(j["spill"] for j in mine) / 1e6,
            "write_mb": sum(j["written"] for j in mine) / 1e6,
            "exchanges": e.get("exchanges", 0), "smj": e.get("smj", 0),
            "build_s": e.get("build", 0.0), "exec_s": e.get("exec", 0.0),
        }
        acc = by_pass.setdefault(e["pass"], {})
        for scope in (modules[e["key"]], "pass"):
            tot = acc.setdefault(scope, {})
            for k, v in vals.items():
                tot[k] = tot.get(k, 0) + v

    def med(scope, kind):
        return stats.median([p.get(scope, {}).get(kind, 0)
                             for p in by_pass.values()])

    out = {}
    for m, kinds in LAYERS.items():
        for k in kinds:
            if k == "util":
                wall = med(m, "wall_s")
                out[f"{m}.util"] = (med(m, "cpu_s") / (wall * CORES)
                                    if wall else 0.0)
            else:
                out[f"{m}.{k}"] = med(m, k)

    untraced = [r["wall"] for r in records
                if r["type"] == "pass" and not r["traced"]]
    traced_passes = [r for r in records if r["type"] == "pass" and r["traced"]]
    timed = {}
    for r in records:
        if r["type"] == "exec" and not r["traced"]:
            timed.setdefault(r["key"], []).append(r["wall"])
    warm = [r for r in records if r["type"] == "warm"]
    setup = next(r for r in records if r["type"] == "setup")
    out.update({
        "LocalFs.landing_s": sum(r["wall"] - stats.median(timed[r["key"]])
                                 for r in warm if r["landed"] > 0),
        "LocalFs.published_dirs": setup["published"],
        "jvm.gc_s": stats.median([r["gc"] for r in traced_passes]),
        "spill_mb": med("pass", "spill_mb"),
        "pass.jobs": med("pass", "jobs"),
        "pass.gap_s": med("pass", "gap_s"),
        "trace.build_s": med("pass", "build_s"),
        "trace.plan_s": med("pass", "plan_s"),
        "trace.exec_s": med("pass", "exec_s"),
        "trace.overhead_s": (stats.median([r["wall"] for r in traced_passes])
                             - stats.median(untraced)),
    })
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="first write this run's warm-up rows and "
                         "digests into golden.json")
    a = ap.parse_args()

    classes = build()
    modules = key_modules()
    missing = [k for k in WORKLOADS[a.workload] if k not in modules]
    if missing:
        fail(f"keys not in the SparkEntry registry: {missing}")
    records = launch(classes, a.workload, a.seed, a.seconds, a.trace)

    golden = json.loads(GOLDEN.read_text()) if GOLDEN.exists() else {}
    if a.record_golden:
        for r in records:
            if r["type"] == "warm" and not r["error"]:
                golden[r["key"]] = {"rows": r["rows"], "digest": r["digest"]}
        GOLDEN.write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
    bad = check(records, golden)
    attempted = sum(r["type"] in ("warm", "exec") for r in records)

    for k in WORKLOADS[a.workload]:
        walls = [r["wall"] for r in records
                 if r["type"] == "exec" and r["key"] == k and not r["traced"]]
        print(f"key {k} module={modules[k]} timed_median_s="
              f"{stats.median(walls):.4f} n={len(walls)}")
    execs = [r["wall"] for r in records
             if r["type"] == "exec" and not r["traced"]]
    setup = next(r for r in records if r["type"] == "setup")
    print(f"setup wall_s={setup['wall']:.3f} " + ",".join(
        f"{r['key']}={r['wall']:.3f}" for r in records if r["type"] == "warm"))
    print("passes_s=" + ",".join(f"{r['wall']:.3f}" for r in records
                                  if r["type"] == "pass"))
    print("raw " + " ".join(f"{k}={v:.4f}" for k, v in timed(records).items()))
    print("calib_samples_s=" + ",".join(f"{r['wall']:.4f}" for r in records
                                         if r["type"] == "calib"))
    hp = stats.high_percentile(execs)
    print(f"timed executions={len(execs)} high_percentile="
          f"{'none' if hp is None else f'p{hp[0]:g}={hp[1]:.4f}s'}")
    for key, why in bad:
        print(f"FAILED {key}: {why}")
    print(f"failed_frac={len(bad) / attempted:.6f} ({len(bad)}/{attempted})")

    if a.trace:
        values, units = per_layer(records, modules), per_layer_units()
    else:
        values, units = end_to_end(records), END_TO_END
    assert all(stats.valid_name(n) for n in values), values.keys()
    metrics = {n: {"value": values[n], "unit": units[n]} for n in units}
    print(json.dumps({"correct": not bad, "attempted": attempted,
                      "failed": len(bad), "metrics": metrics}))


if __name__ == "__main__":
    main()
