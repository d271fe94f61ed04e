#!/usr/bin/env python3
"""graft's benchmark: run one workload, check its outputs, print its metrics.

    python3 perfbench/run.py --workload <etl_lifecycle|api_lookup> --seed <n>
                             --seconds <s> --trace <0|1> [--size tiny]

Builds the harness (perfbench/build.sbt, which compiles graft from this
checkout) when its sources changed, runs it in a JVM of its own, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the spans and Spark jobs behind them are left in
perfbench/.work/<workload>/{spans,jobs}.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

import stats

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / ".build"
WORK = HERE / ".work"

WORKLOADS = ("etl_lifecycle", "api_lookup")
RUN_LIMIT_S = 170  # a run must end within 180 s after the build; keep a margin
BUILD_LIMIT_S = 840

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

API_KINDS = ("history", "data", "raw_sql", "raw_join", "missing")
FLOW_SPANS = ("etl", "rot", "avm", "replay")


def per_layer_units():
    """Every per-layer metric, in print order, with its unit."""
    units = {}
    for f in FLOW_SPANS:
        units.update({f"flows.{f}.wall_s": "s", f"flows.{f}.driver_s": "s", f"flows.{f}.jobs": "count",
                      f"flows.{f}.tasks": "count", f"flows.{f}.cpu_s": "s"})
    units.update({"flows.rot.shuffle_bytes": "bytes", "flows.avm.shuffle_bytes": "bytes"})
    units.update({"incremental.slicestore.jobs": "count", "incremental.slicestore.job_s": "s",
                  "incremental.slicestore.bytes_written": "bytes",
                  "incremental.slicestore.write_amp": "ratio",
                  "incremental.watermarks.jobs": "count", "incremental.watermarks.job_s": "s"})
    for k in API_KINDS:
        units.update({f"api.{k}.plan_ms": "ms", f"api.{k}.exec_ms": "ms"})
    units.update({"api.jobs_per_call": "count", "api.tasks_per_call": "count",
                  "api.bytes_scanned_per_call": "bytes", "api.rows_scanned_per_row": "ratio",
                  "sources.bytes_read": "bytes", "sources.rows_read": "count",
                  "trace.pass_s": "s"})
    return units


END_TO_END_UNITS = {"setup_s": "s", "pass_s": "s", "heap_peak_mb": "MB"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".properties", ".sbt"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                          cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not Path(lines[-1].split(os.pathsep)[0]).exists():
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("harness build failed")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


# ------------------------------------------------------------------ run

def run_harness(args, cp, work, limit_s):
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [str(java), "-Xmx2g", "-Duser.timezone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work),
            "--size", args.size]
    with open(work / "java.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"harness exceeded {limit_s:.0f} s; log in {work / 'java.log'}")
    if code != 0 or not (work / "result.json").is_file():
        tail = (work / "java.log").read_text(errors="replace").splitlines()[-30:]
        sys.stderr.write("\n".join(tail) + "\n")
        die(f"harness exited with code {code}")
    return json.loads((work / "result.json").read_text())


def read_lines(path):
    return [json.loads(l) for l in path.read_text().splitlines() if l.strip()]


# ------------------------------------------------------------------ metrics

def pass_seconds(passes):
    """Median over passes of the time spent inside the pass's public calls."""
    return stats.median([sum(o["ms"] for o in p["ops"]) / 1e3 for p in passes])


def end_to_end(res):
    passes = res["passes"]
    return {
        "setup_s": stats.median(res["setup_s"]),
        "pass_s": pass_seconds(passes),
        "heap_peak_mb": max(p["heap_mb"] for p in passes),
    }


FLOW_FIGURES = ("wall_s", "driver_s", "jobs", "tasks", "cpu_s", "shuffle_bytes")


def annotate(spans, jobs):
    """Give every span its self time, its driver time and its Spark jobs
    (`jobs`: those submitted while it, or a span below it, was current)."""
    children, jobs_of = {}, {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for j in jobs:
        jobs_of.setdefault(j["span"], []).append(j)

    def subtree_jobs(s):
        out = list(jobs_of.get(s["id"], []))
        for c in children.get(s["id"], []):
            out += subtree_jobs(c)
        return out

    for s in spans:
        span = (s["start_ms"], s["end_ms"])
        s["jobs"] = subtree_jobs(s)
        s["self_ms"] = stats.self_time(span, [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])])
        s["driver_ms"] = stats.driver_time(span, [(j["start_ms"], j["end_ms"]) for j in s["jobs"]])


def per_layer(res, spans, jobs):
    """Per-layer figures of a traced run from annotated spans; figures
    summed over a pass are reported as their median over the run's passes."""
    passes = [p["index"] for p in res["passes"]]

    def over_passes(fn):
        return stats.median([fn(p) for p in passes])

    def flow_figures(s):
        js = s["jobs"]
        return ((s["end_ms"] - s["start_ms"]) / 1e3, s["driver_ms"] / 1e3,
                len(js), sum(j["tasks"] for j in js), sum(j["cpu_s"] for j in js),
                sum(j["shuffle_bytes"] for j in js))

    out = {n: 0.0 for n in per_layer_units()}
    for f in FLOW_SPANS:
        per_pass = [[sum(x) for x in zip(*([flow_figures(s) for s in spans
                                             if s["pass"] == p and s["name"] == f"flows.{f}"]
                                           or [(0,) * len(FLOW_FIGURES)]))]
                    for p in passes]
        for k, figure in enumerate(FLOW_FIGURES):
            if f"flows.{f}.{figure}" in out:
                out[f"flows.{f}.{figure}"] = stats.median([t[k] for t in per_pass])

    span_pass = {s["id"]: s["pass"] for s in spans}

    def pass_jobs(p, site=None):
        return [j for j in jobs if span_pass.get(j["span"]) == p and site in (None, j["site"])]

    for site in ("incremental.slicestore", "incremental.watermarks"):
        out[f"{site}.jobs"] = over_passes(lambda p: len(pass_jobs(p, site)))
        out[f"{site}.job_s"] = over_passes(
            lambda p: sum(j["end_ms"] - j["start_ms"] for j in pass_jobs(p, site)) / 1e3)
    written = over_passes(lambda p: sum(j["output_bytes"] for j in pass_jobs(p, "incremental.slicestore")))
    sink_bytes = res["extras"].get("final_sink_bytes", 0)
    out["incremental.slicestore.bytes_written"] = written
    out["incremental.slicestore.write_amp"] = written / sink_bytes if sink_bytes else 0.0

    for k in API_KINDS:
        for phase in ("plan", "exec"):
            ds = [s["end_ms"] - s["start_ms"] for s in spans if s["name"] == f"api.{k}.{phase}"]
            out[f"api.{k}.{phase}_ms"] = stats.median(ds) if ds else 0.0
    calls = [s for s in spans if s["name"] in {f"api.{k}" for k in API_KINDS}]
    if calls:
        cj = [j for s in calls for j in s["jobs"]]
        returned = sum(o["rows"] for p in res["passes"] for o in p["ops"] if o["name"].startswith("api."))
        out["api.jobs_per_call"] = len(cj) / len(calls)
        out["api.tasks_per_call"] = sum(j["tasks"] for j in cj) / len(calls)
        out["api.bytes_scanned_per_call"] = sum(j["input_bytes"] for j in cj) / len(calls)
        out["api.rows_scanned_per_row"] = sum(j["input_rows"] for j in cj) / max(1, returned)

    out["sources.bytes_read"] = over_passes(lambda p: sum(j["input_bytes"] for j in pass_jobs(p)))
    out["sources.rows_read"] = over_passes(lambda p: sum(j["input_rows"] for j in pass_jobs(p)))
    out["trace.pass_s"] = pass_seconds(res["passes"])
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="tiny: a seconds-long smoke run of the same code")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die(f"no graft sources next to {HERE.name}/ (expected build.sbt and src/main/scala/graft)")
    cp = classpath()
    work = WORK / args.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    res = run_harness(args, cp, work, RUN_LIMIT_S)
    for d in work.glob("setup*"):
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(work / "spark-local", ignore_errors=True)

    if args.trace:
        spans, jobs = read_lines(work / "spans.jsonl"), read_lines(work / "jobs.jsonl")
        annotate(spans, jobs)
        metrics, units = per_layer(res, spans, jobs), per_layer_units()
        (work / "spans.jsonl").write_text("".join(
            json.dumps(dict(s, jobs=len(s["jobs"]))) + "\n" for s in spans))
    else:
        metrics, units = end_to_end(res), END_TO_END_UNITS
    for f in res["failures"][:20]:
        print(f"perfbench: failed: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
