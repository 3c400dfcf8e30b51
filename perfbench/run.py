#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one fresh JVM per run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source (skipped while the sources
are unchanged), runs set-up, one cold pass and a fixed number of warm
passes, sized from `--seconds`, over the workload's keys at sf0.1, checks
every key's output, removes what the run left on disk, and prints one JSON
object as the last line of stdout.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. See README.md beside this file.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HARNESS = BENCH / "harness"
WORK = BENCH / ".work"
GOLDEN = ROOT / "src" / "test" / "resources" / "golden_sf0001.json"
# The engine stages tables under hard-coded per-process roots
# /tmp/graft_<name>/<pid>; the run measures and removes its own.
ENGINE_TMP = Path("/tmp")

WORKLOADS = {
    "query_mix": ["b1", "b7", "b8", "c3", "c4", "c10", "d1", "e5", "e9", "f2",
                  "f8", "h1", "i1", "i2"],
    "pipeline_mix": ["a10", "a35", "g3", "g4", "g7", "g25", "m1"],
}
# How many seconds of `--seconds` one warm pass of a workload stands for.
# A run makes ceil(--seconds / this) warm passes, at least three: a fixed
# number, so that outside load cannot change how many passes the median
# is taken over (the passes still get cheaper one after another, as the
# JIT warms). At --seconds 20: 7 passes of query_mix (3.6 s each on 2
# cores) and 4 of pipeline_mix (5 s). query_mix's CPU per pass is still
# falling by its fifth pass; with 5 passes its warm_cpu_s spread 0.17
# over seven runs, with 7 passes 0.11 over ten.
NOMINAL_PASS_S = {"query_mix": 3.0, "pipeline_mix": 5.0}
# The modules a workload key can come from; each gets three per-layer
# metrics, which read 0 on a workload with no key from the module.
MODULES = [
    "operators.ScansFilters", "operators.Joins", "operators.Aggregates",
    "operators.Windows", "operators.SortSetScalar", "operators.EventTime",
    "pipeline.Dedup", "pipeline.Curation", "pipeline.Similarity",
    "pipeline.TextAnalysis", "pipeline.Multimodal", "functions.Udfs",
]
# A fixed heap and young generation: with G1's adaptive sizing the peak
# RSS of identical runs spread by 20%, with these by 3%.
JVM_HEAP = ["-Xms4g", "-Xmx4g", "-Xmn1g"]
# The JVM sees two processors, whatever the machine has: Spark runs
# local[2] with two shuffle partitions, and GC and JIT size their thread
# pools to match. On a shared 4-core machine, a JVM that kept every core
# busy spread by 15-20% from run to run under outside load; with two
# cores it left headroom for its own GC and JIT threads and spread by 4-8%.
CORES = 2
BUILD_TIMEOUT_S = 840
RUN_DEADLINE_S = 170      # the harness JVM is killed after this long
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Failed(Exception):
    """The benchmark could not produce a result."""


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    files += sorted((ROOT / "src" / "main").rglob("*"))
    files += sorted((HARNESS / "src").rglob("*"))
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine and harness with sbt; return the runtime classpath."""
    for f in (ROOT / "build.sbt", ROOT / "src" / "main", GOLDEN):
        if not f.exists():
            raise Failed(f"{f.relative_to(ROOT)} is missing: run from a checkout of the repo")
    WORK.mkdir(exist_ok=True)
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    digest = source_digest()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(WORK / "build.log", "w") as out:
        rc = run_process(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         HARNESS, env, out, BUILD_TIMEOUT_S)
    lines = (WORK / "build.log").read_text().splitlines()
    if rc != 0 or not lines:
        tail = "\n".join(lines[-30:])
        raise Failed(f"sbt build failed (exit {rc}):\n{tail}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


# ---------------------------------------------------------------- processes

def run_process(cmd, cwd, env, out, timeout, started=lambda pid: None):
    """Run `cmd` in its own process group and return its exit code. The
    group is killed on timeout or on any exception, and always waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        started(p.pid)
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise Failed(f"{cmd[0]} did not finish within {timeout:.0f} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def dir_bytes(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def jvm(cp, args, tag):
    """The harness JVM, with a fresh tmp and Spark local dir. Returns its
    record, with `setup_wall_s` and the MB it left on disk (`tmp_mb`), which
    is removed."""
    run_dir = WORK / f"run-{os.getpid()}-{tag}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    (run_dir / "local").mkdir()
    out_file = run_dir / "out.json"
    cmd = ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           *JVM_HEAP, f"-XX:ActiveProcessorCount={CORES}", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp,
           "graftbench.Main", *args, "--out", str(out_file)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"))
    log_file = WORK / f"last-{tag}.log"
    spawn = {}
    try:
        with open(log_file, "w") as out:
            rc = run_process(cmd, ROOT, env, out, RUN_DEADLINE_S,
                             started=lambda pid: spawn.update(pid=pid, t=time.time()))
        if rc != 0 or not out_file.exists():
            tail = "\n".join(log_file.read_text(errors="replace").splitlines()[-30:])
            raise Failed(f"harness JVM ({tag}) exited {rc}; log tail:\n{tail}")
        rec = json.loads(out_file.read_text())
    finally:
        left = [run_dir] + list(ENGINE_TMP.glob(f"graft_*/{spawn.get('pid', 'none')}"))
        tmp_bytes = sum(dir_bytes(d) for d in left)
        for d in left:
            shutil.rmtree(d, ignore_errors=True)
    rec["setup_wall_s"] = rec["ready_epoch_s"] - spawn["t"]
    rec["tmp_mb"] = tmp_bytes / 2**20
    return rec


# ---------------------------------------------------------------- checks

def check(rec):
    """Every failed key execution, by name. A failure is an exception, a
    golden mismatch, rows = 0 or a row count that differs between passes."""
    golden = json.loads(GOLDEN.read_text())
    failures, attempted = [], 0
    first_rows = {}
    for p in rec["passes"]:
        for k in p["keys"]:
            attempted += 1
            key, rows = k["key"], k["rows"]
            where = f"pass {p['pass']} {key}"
            if k["error"] is not None:
                failures.append(f"{where}: {k['error']}")
            elif rows == 0:
                failures.append(f"{where}: 0 rows")
            elif first_rows.setdefault(key, rows) != rows:
                failures.append(f"{where}: {rows} rows, pass 0 had {first_rows[key]}")
    seen = set()
    for key, g in rec["golden"].items():
        attempted += 1
        seen.add(key)
        want = golden.get(key)
        if "error" in g:
            failures.append(f"golden {key}: {g['error']}")
        elif want is None:
            failures.append(f"golden {key}: not in {GOLDEN.name}")
        elif (g["rows"], g["hash"]) != (want["rows"], want["hash"]):
            failures.append(f"golden {key}: rows {g['rows']} hash {g['hash']}, "
                            f"expected rows {want['rows']} hash {want['hash']}")
    timed = {k["key"] for p in rec["passes"] for k in p["keys"]}
    if timed != seen:
        failures.append(f"harness ran {len(timed)} keys and checked {len(seen)}")
    return attempted, failures


# ---------------------------------------------------------------- metrics

def median_by_key(passes, field):
    vals = {}
    for p in passes:
        for k in p["keys"]:
            vals.setdefault(k["key"], []).append(k[field])
    return {key: statistics.median(v) for key, v in vals.items()}


def pass_wall(p):
    return sum(k["wall_s"] for k in p["keys"])


def geomean_ms(passes):
    """Geometric mean over keys of each key's median wall, in ms."""
    per_key = median_by_key(passes, "wall_s")
    return math.exp(statistics.fmean(math.log(v * 1e3) for v in per_key.values()))


def end_to_end(rec):
    # Every time is CPU seconds of the JVM, set-up included, not wall: on a
    # shared machine the hypervisor's steal time stretched a run's wall
    # time by up to 60% at random, and its CPU time by about a third as
    # much (see README.md, "Why CPU time").
    cold, warm = rec["passes"][0], rec["passes"][1:]
    return {
        "setup_s": (rec["setup_cpu_s"], "s"),
        "cold_cpu_s": (cold["cpu_s"], "s"),
        "warm_cpu_s": (statistics.median(p["cpu_s"] for p in warm), "s"),
        "peak_rss_mb": (rec["peak_rss_kb"] / 1024, "MB"),
    }


def spark_layers(p, cores):
    """The Spark-runtime layer metrics of one traced pass."""
    t = {}
    for k in p["keys"]:
        for name, v in k["trace"].items():
            t[name] = max(t.get(name, v), v) if name == "task_skew" else t.get(name, 0) + v
    in_jobs = t["in_jobs_ms"] / 1e3
    run_s = t["run_ms"] / 1e3
    mb = 2 ** 20
    return {
        "plan.analysis_ms": (t["analysis_ms"], "ms"),
        "plan.optimizer_ms": (t["optimizer_ms"], "ms"),
        "plan.physical_ms": (t["physical_ms"], "ms"),
        "plan.queries": (t["queries"], "count"),
        "sched.jobs": (t["jobs"], "count"),
        "sched.stages": (t["stages"], "count"),
        "sched.tasks": (t["tasks"], "count"),
        "sched.in_jobs_s": (in_jobs, "s"),
        "sched.tasks_failed": (t["tasks_failed"], "count"),
        "sched.stages_retried": (t["stages_retried"], "count"),
        "driver.outside_jobs_s": (pass_wall(p) - in_jobs, "s"),
        "exec.run_s": (run_s, "s"),
        "exec.cpu_s": (t["cpu_ns"] / 1e9, "s"),
        "exec.gc_s": (t["gc_ms"] / 1e3, "s"),
        "exec.deser_ms": (t["deser_ms"], "ms"),
        "exec.slot_util": (run_s / (in_jobs * cores) if in_jobs else 0.0, "ratio"),
        "exec.task_skew": (t["task_skew"], "ratio"),
        "shuffle.write_mb": (t["shuffle_write_bytes"] / mb, "MB"),
        "shuffle.write_records": (t["shuffle_write_records"], "count"),
        "shuffle.read_mb": (t["shuffle_read_bytes"] / mb, "MB"),
        "shuffle.fetch_wait_ms": (t["fetch_wait_ms"], "ms"),
        "spill.memory_mb": (t["spill_memory_bytes"] / mb, "MB"),
        "spill.disk_mb": (t["spill_disk_bytes"] / mb, "MB"),
        "io.input_mb": (t["input_bytes"] / mb, "MB"),
        "io.input_records": (t["input_records"], "count"),
        "io.output_mb": (t["output_bytes"] / mb, "MB"),
        "io.output_records": (t["output_records"], "count"),
    }


def warm_passes(seconds, workload, trace):
    n = max(3, math.ceil(seconds / NOMINAL_PASS_S[workload]))
    # traced: warm pass 1 settles, then traced and untraced passes alternate,
    # at least two of each
    return 1 + 2 * max(2, n // 2) if trace else n


def per_layer(rec):
    cores = rec["cores"]
    cold = rec["passes"][0]
    # warm pass 1 settles and counts on neither side
    traced = [p for p in rec["passes"][2:] if p["traced"]]
    untraced = [p for p in rec["passes"][2:] if not p["traced"]]
    out = {f"cold.{n}": v for n, v in spark_layers(cold, cores).items()}
    warm = [spark_layers(p, cores) for p in traced]
    for name, (_, unit) in warm[0].items():
        out[f"warm.{name}"] = (statistics.median(w[name][0] for w in warm), unit)
    out["disk.tmp_mb"] = (rec["tmp_mb"], "MB")
    spawned = rec["ready_epoch_s"] - rec["setup_wall_s"]
    out["setup.jvm_start_s"] = (rec["main_epoch_s"] - spawned, "s")
    out["setup.session_s"] = (rec["session_epoch_s"] - rec["main_epoch_s"], "s")
    out["setup.warmup_s"] = (rec["ready_epoch_s"] - rec["session_epoch_s"], "s")
    out["mem.retained_heap_mb"] = (rec["retained_heap_bytes"] / 2**20, "MB")
    out["check.golden_s"] = (rec["golden_s"], "s")
    out["cold.pass_s"] = (pass_wall(cold), "s")
    out["warm.pass_s"] = (statistics.median(pass_wall(p) for p in untraced), "s")
    out["warm.key_geomean_ms"] = (geomean_ms(untraced), "ms")
    out["host.steal_s"] = (sum(p["steal_s"] for p in rec["passes"]), "s")
    build, action = median_by_key(traced, "build_s"), median_by_key(traced, "action_s")
    warm_wall = median_by_key(traced, "wall_s")
    for m in MODULES:
        keys = [k for k in cold["keys"] if k["module"] == m]
        out[f"{m}.build_s"] = (sum(build[k["key"]] for k in keys), "s")
        out[f"{m}.action_s"] = (sum(action[k["key"]] for k in keys), "s")
        out[f"{m}.cold_extra_s"] = (sum(k["wall_s"] - warm_wall[k["key"]] for k in keys), "s")
    ratio = (statistics.median(pass_wall(p) for p in traced)
             / statistics.median(pass_wall(p) for p in untraced))
    out["trace.overhead_pct"] = ((ratio - 1) * 100, "%")
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keys", help="comma-separated key ids to run instead of the workload's")
    a = ap.parse_args()
    selectors = a.keys.split(",") if a.keys else WORKLOADS[a.workload]
    try:
        cp = build()
        warm = warm_passes(a.seconds, a.workload, a.trace)
        rec = jvm(cp, ["--keys", ",".join(selectors), "--seed", str(a.seed),
                       "--warm", str(warm), "--trace", str(a.trace)],
                  f"{a.workload}-t{a.trace}")
    except Failed as e:
        log(f"error: {e}")
        return 1
    n_keys = len(rec["golden"])
    attempted, failures = check(rec)
    for f in failures:
        log(f"FAILED {f}")
    metrics = per_layer(rec) if a.trace else end_to_end(rec)
    error_rate = len(failures) / attempted
    shown = dict(metrics, error_rate=(error_rate, "fraction"))
    if not a.trace:
        # wall times and steal, for a reader; too noisy to bound
        warm_p = rec["passes"][1:]
        shown.update(setup_wall_s=(rec["setup_wall_s"], "s"),
                     cold_pass_s=(pass_wall(rec["passes"][0]), "s"),
                     warm_pass_s=(statistics.median(pass_wall(p) for p in warm_p), "s"),
                     key_geomean_ms=(geomean_ms(warm_p), "ms"),
                     steal_s=(sum(p["steal_s"] for p in rec["passes"]), "s"))
    print(f"[perfbench] workload={a.workload} seed={a.seed} keys={n_keys} "
          f"passes={len(rec['passes'])} disk.tmp_mb={rec['tmp_mb']:.1f} "
          + " ".join(f"{n}={v:.6g}{'' if u in ('count', 'ratio', 'fraction') else ' ' + u}"
                     for n, (v, u) in shown.items()))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
