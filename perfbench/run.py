#!/usr/bin/env python3
"""Lakehouse benchmark: workloads over the engine, one closed-loop
client each, on local[nproc] with spark.sql.shuffle.partitions = nproc.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (perfbench/build.sbt); later runs reuse the build
while the sources are unchanged. The tables are the fixed fixtures under
perfbench/data (sf0.01; the self-tests use sf0.001); the seed shuffles
the dashboard mix and generates the cdc_merge change batches. Expected
results come from DuckDB over the engine's oracle SQL, once per build.
Each run drives the workload in one JVM (perfbench.Main), checks every
output, and prints one JSON object as its last line. Lines before it
record the environment, the CPU and I/O probes and the sample counts.

Workloads and metrics are described in perfbench/METRICS.md.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out"
BUILD = OUT / "build"
DATA = HERE / "data"

WORKLOADS = ("pipeline_build", "dashboard_queries", "cdc_merge")
DATASETS = ("sf0.01", "sf0.001")  # sf0.01: 15k orders, 60k lineitem, 10k events
CDC_BATCHES = 80      # more than a run can apply
CDC_ROWS = 500        # change rows per batch
HEAP = "3g"
# the operation each workload times
OP_KIND = {"pipeline_build": "pass", "dashboard_queries": "query",
           "cdc_merge": "merge"}
# modules as Trace.scala buckets them, and the lake directories of a pass
MODULES = ("streaming", "cdc", "gold", "warehouse", "sources", "ops",
           "pipeline", "other")
LAKE_DIRS = ("bronze", "silver", "gold", "warehouse")

END_TO_END = {  # name -> unit
    "setup_s": "s", "cold_s": "s", "op_ms": "ms", "tail_ms": "ms",
    "work_per_s": "1/s", "read_ms": "ms", "bytes_ratio": "ratio"}


def per_layer_units():
    units = {
        "ops.build_ms": "ms", "spark.plan_ms": "ms", "spark.codegen_ms": "ms",
        "spark.jobs_per_query": "count", "spark.tasks_per_query": "count",
        "spark.exec_ms": "ms", "spark.scan_mb": "MB", "spark.shuffle_mb": "MB",
        "spark.slot_util": "ratio"}
    for m in MODULES + tuple(f"lake.{d}" for d in LAKE_DIRS):
        units.update({f"{m}.busy_s": "s", f"{m}.jobs": "count",
                      f"{m}.shuffle_mb": "MB", f"{m}.written_mb": "MB"})
    units.update({
        "pipeline.driver_gap_s": "s", "pipeline.slot_util": "ratio",
        "pipeline.files_written": "count", "pipeline.codegen_ms": "ms",
        "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
        "trace.overhead_frac": "ratio"})
    return units


PER_LAYER = per_layer_units()

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- statistics ----------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def by_name(samples):
    """{name: median of its samples} for (name, value) pairs."""
    groups = {}
    for name, v in samples:
        groups.setdefault(name, []).append(v)
    return {name: median(vs) for name, vs in groups.items()}


def slow_end(medians, k=5):
    """Mean of the k largest per-item medians: the slow end of a set of
    items, steadier than its slowest member."""
    top = sorted(medians.values())[-k:]
    return sum(top) / len(top) if top else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count). With ten samples or fewer no
    percentile has ten beyond it, and the maximum is reported."""
    n = len(xs)
    if n == 0:
        return 0.0, 100, 0
    s = sorted(xs)
    if n <= 10:
        return s[-1], 100, n
    k = n - 11  # zero-based: exactly ten samples lie above s[k]
    return s[k], int(100 * (k + 1) // n), n


# ---- build ---------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256(str(ROOT).encode())
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main", DATA):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        if f.exists():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def java_cmd(cp, heap, work):
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    # the engine's build gives forked runs these flags
    opts += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.scheduler.mode=FAIR", f"-Xms{heap}", f"-Xmx{heap}",
             "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work / 'tmp'}"]
    return [java] + opts + ["-cp", cp]


def sbt_env():
    """sbt resolves offline, from the local caches only."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compiles the engine and the benchmark unless the sources are the
    ones last built; returns (classpath, oracle SQL by workload)."""
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp = source_stamp()
    cp_file, oracle_file = BUILD / "classpath.txt", BUILD / "oracle_sql.json"
    stamp_file = BUILD / "stamp"
    if not (stamp_file.exists() and stamp_file.read_text() == stamp
            and cp_file.exists() and oracle_file.exists()):
        log("building engine and benchmark (sbt)")
        shutil.rmtree(BUILD / "expected", ignore_errors=True)
        t0 = time.time()
        with open(BUILD / "build.log", "w") as out:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
                text=True, timeout=850)
        (BUILD / "build.out").write_text(r.stdout)
        if r.returncode != 0:
            raise RuntimeError(f"build failed, see {BUILD / 'build.out'}")
        lines = [ln for ln in r.stdout.splitlines()
                 if ".jar" in ln and os.pathsep in ln]
        if not lines:
            raise RuntimeError("build printed no classpath")
        cp_file.write_text(lines[-1].strip())
        work = OUT / "oracle"
        (work / "tmp").mkdir(parents=True, exist_ok=True)
        subprocess.run(java_cmd(lines[-1].strip(), "512m", work)
                       + ["perfbench.Main", "oracle-sql", str(oracle_file)],
                       check=True, timeout=120, stdout=subprocess.DEVNULL)
        stamp_file.write_text(stamp)
        log(f"build done in {time.time() - t0:.1f} s")
    return cp_file.read_text(), json.loads(oracle_file.read_text())


# ---- inputs and expected results ------------------------------------------

def cdc_batches(seed, data, out):
    subprocess.run([sys.executable, str(HERE / "gen.py"), str(out),
                    "--seed", str(seed), "--base", str(data / "orders.parquet"),
                    "--batches", str(CDC_BATCHES), "--rows", str(CDC_ROWS)],
                   check=True, timeout=120)


def expected(dataset, oracle):
    """The expected results over a dataset, computed once per build:
    DuckDB runs the engine's oracle SQL over the tables, writing one
    parquet result per checked query and the expected row counts of the
    pipeline's layers."""
    exp = BUILD / "expected" / dataset
    if (exp / "counts.json").exists():
        return exp
    import duckdb
    shutil.rmtree(exp, ignore_errors=True)
    exp.mkdir(parents=True)
    con = duckdb.connect()
    for f in (DATA / dataset).glob("*.parquet"):
        con.execute(f"CREATE VIEW {f.stem} AS "
                    f"SELECT * FROM read_parquet('{f}')")
    for name, sql in oracle["dashboard"].items():
        con.execute(f"COPY ({sql.strip().rstrip(';')}) TO "
                    f"'{exp / (name + '.parquet')}' (FORMAT PARQUET)")
    counts = {name: con.execute(
        f"SELECT count(*) FROM ({sql.strip().rstrip(';')})").fetchone()[0]
        for name, sql in oracle["pipeline_counts"].items()}
    for t in ("events", "customer"):
        counts[t] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
    con.close()
    (exp / "counts.json").write_text(json.dumps(counts))
    return exp


def plant_fault(workload, batches, exp):
    """Makes one expected result wrong, to prove the checks catch it."""
    import pyarrow.parquet as pq
    if workload == "cdc_merge":
        p = batches / "expected.json"
        e = json.loads(p.read_text())
        e["status_counts"][0]["F"] = e["status_counts"][0].get("F", 0) + 1
        p.write_text(json.dumps(e))
    elif workload == "pipeline_build":
        p = exp / "counts.json"
        c = json.loads(p.read_text())
        c["events"] += 1
        p.write_text(json.dumps(c))
    else:
        p = sorted(exp.glob("*.parquet"))[0]
        t = pq.read_table(p)
        pq.write_table(t.slice(1), p)


# ---- environment probes -----------------------------------------------------

def probes(work):
    """A fixed CPU spin and a 32 MB write+fsync+read, timed; taken before
    and after the run so a contended window shows."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    cpu = time.perf_counter() - t0
    p = work / "io_probe.bin"
    buf = os.urandom(1 << 20)
    t0 = time.perf_counter()
    with open(p, "wb") as f:
        for _ in range(32):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    with open(p, "rb") as f:
        while f.read(1 << 20):
            pass
    io = time.perf_counter() - t0
    p.unlink()
    return {"cpu_spin_s": round(cpu, 4), "io_32mb_s": round(io, 4)}


# ---- metrics ---------------------------------------------------------------

def end_to_end(raw):
    """The end-to-end metrics of an untraced run. Samples are summarised
    per named item first (each query, each lake table), so a value never
    falls between two different items."""
    w = raw["workload"]
    ops = raw["ops"]
    notes = raw["notes"]

    def sel(kind, phase):
        return [o for o in ops if o["kind"] == kind and o["phase"] == phase]

    detail = {"warm_passes": notes.get("warm_passes"),
              "warm_settled": notes.get("warm_settled")}
    if w == "pipeline_build":
        cold, meas = sel("pass", "cold"), sel("pass", "measured")
        cold_s = sum(o["ms"] for o in cold) / 1000
        op_ms = median([o["ms"] for o in meas])
        # each table's build time within a pass, as the engine records it;
        # the four branches build their tables concurrently
        builds = by_name((k[6:], v) for o in meas
                         for k, v in o["extra"].items()
                         if k.startswith("build:"))
        slowest = max(builds, key=builds.get)
        tail_ms = slow_end(builds)
        work_per_s = len(builds) / (sum(builds.values()) / 1000)
        read_ms = median([v for o in meas for k, v in o["extra"].items()
                          if k.startswith("read_ms:")])
        ratio = median([o["extra"]["out_bytes"] / o["extra"]["input_bytes"]
                        for o in meas])
        detail.update({"passes": len(meas), "tables_built": len(builds),
                       "slowest_build": slowest})
    elif w == "dashboard_queries":
        cold, meas = sel("query", "cold"), sel("query", "measured")
        cold_s = sum(o["ms"] for o in cold) / 1000
        per_q = by_name((o["name"], o["ms"]) for o in meas)
        op_ms = geomean(list(per_q.values()))
        slowest = max(per_q, key=per_q.get)
        tail_ms = slow_end(per_q)
        work_per_s = len(per_q) / (sum(per_q.values()) / 1000)
        # q01-q26 are the reference-parity gold and warehouse rollups
        read_ms = geomean([v for k, v in per_q.items()
                           if int(k[1:].split("_")[0]) <= 26])
        passes = len(meas) / len(per_q)
        ratio = (sum(o["extra"]["scan_file_bytes"] for o in meas)
                 / passes / notes["input_bytes"])
        detail.update({"passes": passes, "queries": len(per_q),
                       "slowest_query": slowest})
    else:
        cold, merges = sel("merge", "cold"), sel("merge", "measured")
        cold_s = sum(o["ms"] + o["extra"]["read_ms"] for o in cold) / 1000
        lat = [o["ms"] for o in merges]
        op_ms = median(lat)
        tail_ms, pct, n = tail(lat)
        cycle_s = sum(o["ms"] + o["extra"]["read_ms"] for o in merges) / 1000
        work_per_s = sum(o["extra"]["change_rows"] for o in merges) / cycle_s
        read_ms = median([o["extra"]["read_ms"] for o in merges])
        ratio = (sum(o["extra"]["bytes_added"] for o in merges)
                 / sum(o["extra"]["change_bytes"] for o in merges))
        detail.update({"merges": n, "tail_percentile": pct})
    detail["cold_ops"] = len(cold)
    values = {"setup_s": median(raw["setup_s"]), "cold_s": cold_s,
              "op_ms": op_ms, "tail_ms": tail_ms, "work_per_s": work_per_s,
              "read_ms": read_ms, "bytes_ratio": ratio}
    return values, detail


def per_layer(raw, cores):
    ops = raw["ops"]
    notes = raw["notes"]
    meas = [o for o in ops
            if o["kind"] == OP_KIND[raw["workload"]]
            and o["phase"] == "measured"]
    traced = [o["layers"] for o in meas if "layers" in o]

    def med(key, scale=1.0):
        return median([L.get(key, 0.0) * scale for L in traced])

    def ratio(num, den):
        d = sum(L[den] for L in traced) * cores
        return sum(L[num] for L in traced) / d if d else 0.0

    v = {"ops.build_ms": med("span.ops.build.ms"),
         "spark.plan_ms": med("plan_ms"),
         "spark.codegen_ms": med("codegen_ms"),
         "spark.jobs_per_query": med("jobs"),
         "spark.tasks_per_query": med("tasks"),
         "spark.exec_ms": med("exec_ms"),
         "spark.scan_mb": med("scan_bytes", 1e-6),
         "spark.shuffle_mb": med("shuffle_bytes", 1e-6),
         "spark.slot_util": ratio("task_run_ms", "exec_ms")}

    def mean(key, scale=1.0):
        return sum(L.get(key, 0.0) for L in traced) * scale / len(traced)

    # a module's share of each operation: mean over operations, since in
    # a mix most operations touch only some modules
    for m in MODULES + tuple(f"lake.{d}" for d in LAKE_DIRS):
        v[f"{m}.busy_s"] = mean(f"{m}.busy_ms", 1e-3)
        v[f"{m}.jobs"] = mean(f"{m}.jobs")
        v[f"{m}.shuffle_mb"] = mean(f"{m}.shuffle_bytes", 1e-6)
        v[f"{m}.written_mb"] = mean(f"{m}.written_bytes", 1e-6)
    cold = [o["layers"] for o in ops if o["phase"] == "cold" and "layers" in o]
    v.update({
        "pipeline.driver_gap_s": med("driver_gap_ms", 1e-3),
        "pipeline.slot_util": ratio("task_run_ms", "wall_ms"),
        "pipeline.files_written": median(
            [o["extra"].get("out_files", 0.0) for o in meas]),
        "pipeline.codegen_ms": sum(L["codegen_ms"] for L in cold),
        "jvm.gc_s": notes["gc_ms"] / 1000,
        "jvm.heap_peak_mb": notes["heap_peak_bytes"] / 1e6})
    # traced and untraced operations alternate in a traced run
    on = [o["ms"] for o in meas if "layers" in o]
    off = [o["ms"] for o in meas if "layers" not in o]
    v["trace.overhead_frac"] = (median(on) / median(off) - 1.0
                                if on and off else 0.0)
    return v


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--dataset", choices=DATASETS, default=DATASETS[0],
                    help="fixture under perfbench/data (self-tests: sf0.001)")
    ap.add_argument("--plant-fault", action="store_true",
                    help="corrupt one expected result (self-test)")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no engine sources under {ROOT}; run from a checkout root")
        return 2
    cores = len(os.sched_getaffinity(0)) if hasattr(
        os, "sched_getaffinity") else os.cpu_count()
    cp, oracle = build()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = OUT / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data, batches = DATA / a.dataset, work / "cdc_batches"
    exp = expected(a.dataset, oracle)
    before = probes(work)
    if a.workload == "cdc_merge":
        cdc_batches(a.seed, data, batches)
    if a.plant_fault:
        shutil.copytree(exp, work / "expected")
        exp = work / "expected"
        plant_fault(a.workload, batches, exp)

    raw_file = work / "raw.json"
    cmd = java_cmd(cp, HEAP, work) + [
        "perfbench.Main", "run", f"workload={a.workload}", f"data={data}",
        f"work={work}", f"expected={exp}", f"batches={batches}",
        f"seconds={a.seconds}",
        f"trace={a.trace}", f"seed={a.seed}", f"cores={cores}",
        f"out={raw_file}"]
    t0 = time.time()
    with open(work / "jvm.log", "w") as jl:
        r = subprocess.run(cmd, cwd=work, stdout=jl, stderr=subprocess.STDOUT,
                           timeout=165)
    if r.returncode != 0 or not raw_file.exists():
        log(f"measuring JVM failed (exit {r.returncode}); see {work / 'jvm.log'}")
        return 1
    after = probes(work)
    raw = json.loads(raw_file.read_text())

    counted = [o for o in raw["ops"] if o["kind"] == OP_KIND[a.workload]]
    attempted = len(counted)
    failed = sum(1 for o in counted if not o["ok"])
    if a.workload == "cdc_merge" and not raw["notes"]["final_ok"]:
        failed = attempted  # the merged state as a whole is wrong
    if a.trace:
        values, units, detail = per_layer(raw, cores), PER_LAYER, {}
    else:
        values, detail = end_to_end(raw)
        units = END_TO_END
    notes = raw["notes"]
    env = {"nproc": cores, "master": notes["master"],
           "shuffle_partitions": notes["shuffle_partitions"],
           "scheduler_mode": notes["scheduler_mode"],
           "heap_max_bytes": notes["heap_max_bytes"],
           "jvm_flags": notes["jvm_args"], "dataset": a.dataset, "seed": a.seed,
           "seconds": a.seconds, "jvm_wall_s": round(time.time() - t0, 2),
           "probe_before": before, "probe_after": after}
    if a.workload == "cdc_merge":
        env.update({"cdc_mix": notes["cdc_mix"], "cdc_rows_per_batch": CDC_ROWS,
                    "batches_applied": notes["batches_applied"]})
    summary = {"env": env, "detail": detail,
               "ops_failed_frac": failed / attempted if attempted else 1.0}
    (OUT / "results").mkdir(parents=True, exist_ok=True)
    (OUT / "results" / f"{tag}.json").write_text(json.dumps(
        {"summary": summary, "raw": raw}, indent=1))
    for sub in ("cdc_batches", "expected", "spark-local", "pipeline", "cdc",
                "tmp"):
        shutil.rmtree(work / sub, ignore_errors=True)
    print(json.dumps(summary))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
