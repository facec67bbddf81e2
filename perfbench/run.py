#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script builds the engine and the
harness from source (sbt, offline) the first time, generates the
workload's inputs from the seed, runs the harness JVM, checks every
operation's output, prints one line per metric and, as the last line, one
JSON object {correct, attempted, failed, metrics}. Everything it writes
goes under <checkout>/.perfbench/. See perfbench/README.md.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".perfbench"
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402

# Ingest-heavy data-pipeline queries, one per artifact chain that fits the
# run-length budget; each chain is built by its query in the cold pass and
# read back in the warm passes.
CORPUS = ["dedup_cc_clusters",    # tables shidx -> shord -> shset -> dupcc, model docfp
          "graph_cc_sizes",       # tables coedges -> cclab2, model evfp
          "sim_ivfadc_residual"]  # models kmeans, pq, pqres

# name -> (input kind, operations, typical warm-pass seconds on 4 cores).
# A run makes ceil(seconds / typical pass) warm passes, at least two (three
# traced). The count is fixed before the run: a count that followed the
# clock would take fewer, less-warmed passes exactly when the host is slow.
WORKLOADS = {
    "mapreduce_docs": ("docs", ["mr_read", "mr_task1", "mr_task2", "mr_task3", "mr_wordcount"], 5.5),
    "corpus_index": ("tables", CORPUS, 1.5),
}
ALL_OPS = [op for _, ops, _ in WORKLOADS.values() for op in ops]

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("peak_rss_mb", "MB")]
PER_LAYER_UNITS = {
    "entry.session_s": "s", "entry.warmup_s": "s", "entry.registry_s": "s",
    "sources.read_s": "s", "sources.list_s": "s", "sources.list_tasks": "count",
    "sources.input_mb": "MB", "sources.write_s": "s",
    "functions.char_class_counts_s": "s", "functions.letter_histogram_s": "s",
    "core.ingest_table_writes": "count", "core.ingest_table_write_s": "s",
    "core.ingest_model_s": "s", "core.ingest_disk_mb": "MB", "core.buildlog_sum_s": "s",
    "core.scan_input_mb": "MB",
    "operators.plan_s": "s", "operators.exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_failures": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.core_util": "ratio",
    "spark.no_stage_s": "s", "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.task_skew": "ratio",
    "trace_overhead": "ratio",
}
for _op in ALL_OPS:
    PER_LAYER_UNITS[f"op.{_op}.cold_s"] = "s"
    PER_LAYER_UNITS[f"op.{_op}.warm_s"] = "s"

# A fixed, pre-touched heap: peak RSS then does not depend on when G1
# decides to grow the heap, which made it vary by 10-40 % between runs.
JVM_HEAP = ["-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch"]
DEADLINE_S = 150           # the JVM's share of a run
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --------------------------------------------------------------------------
# build

def _source_files():
    harness = BENCH / "harness"
    files = [ROOT / "build.sbt", harness / "build.sbt"]
    for d in [ROOT / "project", harness / "project"]:
        files += [p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala")]
    for d in [ROOT / "src" / "main", harness / "src"]:
        files += [p for p in d.rglob("*") if p.is_file()]
    return sorted(files)


def _outputs_fingerprint(cp: str) -> str:
    """Hash of (path, size, mtime) of every file in the classpath's
    directories: the class files sbt wrote, which any other compile in the
    checkout overwrites."""
    h = hashlib.sha256()
    for e in cp.split(os.pathsep):
        d = Path(e)
        if d.is_dir():
            for p in sorted(d.rglob("*")):
                if p.is_file():
                    st = p.stat()
                    h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build() -> str:
    """Compile engine + harness (sbt, offline) unless the last build was of
    exactly these sources and its class files are untouched since; returns
    the runtime classpath. The one stamp, build/current.json, holds the
    source hash, the class files' fingerprint and the classpath; on any
    mismatch sbt runs (incrementally) and the stamp is rewritten."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no engine sources (build.sbt, src/main/scala) under {ROOT}")
    h = hashlib.sha256()
    for p in _source_files():
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    sources = h.hexdigest()
    stamp = WORK / "build" / "current.json"
    if stamp.exists():
        last = json.loads(stamp.read_text())
        if last["sources"] == sources and last["outputs"] == _outputs_fingerprint(last["classpath"]):
            return last["classpath"]
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.unlink(missing_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    log = WORK / "build" / "sbt.log"
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            cwd=BENCH / "harness", env=env, stdout=subprocess.PIPE, stderr=f,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
    out = r.stdout.strip().splitlines()
    if r.returncode != 0 or not out:
        sys.stderr.write(r.stdout[-4000:])
        die(f"build failed (exit {r.returncode}); see {log}")
    cp = out[-1].strip()
    missing = [e for e in cp.split(os.pathsep) if not Path(e).exists()]
    if missing:
        die(f"build produced a classpath with missing entries: {missing[:3]}")
    stamp.write_text(json.dumps({"sources": sources, "outputs": _outputs_fingerprint(cp),
                                 "classpath": cp}))
    return cp


# --------------------------------------------------------------------------
# inputs

def inputs(workload: str, seed: int) -> Path:
    """Generate (or reuse) the seed's inputs; keeps the latest few seeds."""
    kind = WORKLOADS[workload][0]
    base = WORK / "data" / kind
    d = base / str(seed)
    if not (d / "DONE").exists():
        shutil.rmtree(d, ignore_errors=True)
        (gen.docs_corpus if kind == "docs" else gen.tables)(seed, d)
        (d / "DONE").write_text("")
    old = sorted((p for p in base.iterdir() if p != d), key=lambda p: p.stat().st_mtime)
    for p in old[:-3]:
        shutil.rmtree(p, ignore_errors=True)
    os.utime(d)
    return d


# --------------------------------------------------------------------------
# JVMs

def _java(cp: str, args, log: Path, tmp: Path):
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory.
    cmd = [str(java), *JVM_HEAP, "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", *args]
    with open(log, "w") as err:
        return subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, cwd=tmp)


def measured_run(cp, kind, ops, data_dir, run_dir, warm_passes, trace):
    """(set-up seconds, result.json) of the harness run. Set-up is the time
    from launch until the JVM prints READY. A watchdog kills the JVM at the
    deadline."""
    out, work = run_dir / "out", run_dir / "work"
    out.mkdir(parents=True)
    work.mkdir(parents=True)
    t0 = time.perf_counter()
    proc = _java(cp, ["run", kind, str(data_dir), str(out), str(work), str(warm_passes),
                      "1" if trace else "0", ",".join(ops)], run_dir / "run.log", work)
    watchdog = threading.Timer(DEADLINE_S, proc.kill)
    watchdog.start()
    setup_s = None
    try:
        for line in proc.stdout:
            if setup_s is None and line.strip() == "READY":
                setup_s = time.perf_counter() - t0
        proc.wait()
    finally:
        watchdog.cancel()
    if proc.returncode != 0 or setup_s is None:
        raise RuntimeError(f"harness JVM exited with {proc.returncode} (a kill means it overran "
                           f"{DEADLINE_S} s); see {run_dir / 'run.log'}")
    shutil.rmtree(work, ignore_errors=True)
    return setup_s, json.loads((out / "result.json").read_text())


# --------------------------------------------------------------------------
# checks

def check(kind, res, data_dir: Path, out: Path, oracle_cache: Path):
    """Failure message per (op, pass) that failed; the rest passed."""
    import oracle  # imports the checkout's tools/check_oracle.py
    fails = {}
    ops = res["ops"]
    if kind == "docs":
        for r in ops:
            key = (r["op"], r["pass"])
            if r["error"]:
                fails[key] = r["error"]
                continue
            want = (data_dir / "expected" / f"{r['op']}.txt").read_bytes()
            if r["op"] == "mr_read":
                msg = "" if r["value"].encode() == want else f"{r['value']} != expected {want.decode()}"
            else:
                msg = oracle.compare_text(Path(r["value"]), want)
            if msg:
                fails[key] = msg
        return fails
    cold_digest = {r["op"]: r["digest"] for r in ops if r["pass"] == "cold" and not r["error"]}
    sqls = {op: sql for op, sql in res["oracle_sql"].items() if sql is not None and op in cold_digest}
    (out / "cold").mkdir(parents=True, exist_ok=True)
    (out / "cold" / "oracle_sql.json").write_text(json.dumps(sqls))
    cold_fails = oracle.check_queries(data_dir, out / "cold", oracle_cache, sorted(sqls),
                                   threads=os.cpu_count() or 1)
    cold_fails.update({op: f"{op} has no oracle SQL" for op in cold_digest if op not in sqls})
    for r in ops:
        key = (r["op"], r["pass"])
        if r["error"]:
            fails[key] = r["error"]
        elif r["op"] not in cold_digest:
            fails[key] = "no cold result to compare with"
        elif r["op"] in cold_fails:
            fails[key] = cold_fails[r["op"]]
        elif r["digest"] != cold_digest[r["op"]]:
            fails[key] = "result differs from the cold pass"
    return fails


# --------------------------------------------------------------------------
# metrics

def assemble(res, setup_s: float, trace: bool):
    """(metrics, units) the run reports: the end-to-end metrics untraced,
    the per-layer ones traced. Every metric is present on every workload;
    an operation that is not part of the workload reads 0."""
    passes = res["passes"]
    if not trace:
        warm = [p["seconds"] for p in passes if p["pass"] != "cold"]
        metrics = {"setup_s": setup_s,
                   "cold_s": next(p["seconds"] for p in passes if p["pass"] == "cold"),
                   "warm_s": statistics.median(warm),
                   "peak_rss_mb": res["metrics"]["peak_rss_mb"]}
        units = dict(END_TO_END)
    else:
        metrics = {k: v for k, v in res["metrics"].items() if k in PER_LAYER_UNITS}
        for op in ALL_OPS:
            for label, pas in (("cold", "cold"), ("warm", "warm2")):
                metrics[f"op.{op}.{label}_s"] = sum(
                    (r["plan_s"] + r["exec_s"] for r in res["ops"]
                     if r["op"] == op and r["pass"] == pas), 0.0)
        units = PER_LAYER_UNITS
    missing = sorted(set(units) - set(metrics))
    if missing:
        die(f"harness did not report {missing}", 3)
    return metrics, units


# --------------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    kind, ops, typical_pass_s = WORKLOADS[a.workload]
    warm_passes = max(3 if a.trace else 2, math.ceil(a.seconds / typical_pass_s))

    cp = build()
    data_dir = inputs(a.workload, a.seed)
    run_dir = WORK / "runs" / a.workload
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    setup_s, res = measured_run(cp, kind, ops, data_dir, run_dir, warm_passes, a.trace)
    fails = check(kind, res, data_dir, run_dir / "out", WORK / "oracle")
    metrics, units = assemble(res, setup_s, a.trace)

    attempted, failed = len(res["ops"]), len(fails)
    for (op, pas), msg in sorted(fails.items()):
        print(f"FAILED {op} [{pas}]: {msg}")
    print(f"workload={a.workload} seed={a.seed} cores={res['cores']} "
          f"passes={','.join(p['pass'] for p in res['passes'])}")
    for name in units:
        print(f"{name} = {metrics[name]:.6g} {units[name]}")
    print(f"fail_frac = {failed / attempted:.6g} ratio ({failed} of {attempted} operation runs)")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
