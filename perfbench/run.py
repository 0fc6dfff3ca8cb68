#!/usr/bin/env python3
"""Benchmark of the KG job (`KGPipeline.runAndWrite` / `KGPipeline.runCheckpointed`).

    python3 perfbench/run.py --workload kg_longpages --seed 1 --seconds 30 --trace 0

Builds the program and the benchmark from source (see build.py), generates the
workload's inputs from the seed once (outside every timed window), then runs the job
in fresh JVMs, one cold job each, back to back until `--seconds` have passed (at
least one). Every job's committed output is checked: fact P/R >= 0.95 against gold,
the hash equal across runs of one seed, and for `kg_resume` the resumed hash equal to
the fresh one. A failed job counts in `failed` and contributes no timing.

`--trace 1` runs one traced JVM instead and reports the per-layer table (see
README.md). The last stdout line is the result JSON; everything the run leaves
behind is under perfbench/.build and perfbench/.work.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import build

BENCH = Path(__file__).resolve().parent
WORK = BENCH / ".work"
RUN_TIMEOUT_S = 170  # a run must end within 180 s, build excluded

JVM_OPTS = [
    *[a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar")
      for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx3g",
]

BENCHMARK = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
END_TO_END = [(m["name"], m["unit"]) for m in BENCHMARK["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in BENCHMARK["per_layer"]]


def java(classpath, main, args, log, timeout, env=None):
    """Run one JVM in its own process group; kill the group on timeout."""
    with open(log, "a") as err:
        proc = subprocess.Popen(["java", *JVM_OPTS, f"-Djava.io.tmpdir={WORK / 'tmp'}",
                                 "-cp", classpath, main, *args],
                                stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True, env=env)
        try:
            out, _ = proc.communicate(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return None, "timed out"
    return proc.returncode, out


def inputs(classpath, workload, seed, log):
    """Generate the workload's inputs for this seed once; reuse them afterwards."""
    path = WORK / "inputs" / f"{workload}-seed{seed}"
    if (path / "meta.json").exists():
        return path
    tmp = path.with_name(path.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    code, out = java(classpath, "perfbench.Gen", [workload, str(seed), str(tmp)], log, 120)
    if code != 0:
        raise RuntimeError(f"input generation failed ({out!r}); see {log}")
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)
    return path


def one_job(classpath, workload, seed, trace, input_dir, log, timeout):
    """One fresh JVM running the job once; returns its RESULT object."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    args = [workload, str(seed), str(trace), str(input_dir), str(WORK), str(time.time_ns())]
    code, out = java(classpath, "perfbench.Main", args, log, timeout, env)
    lines = [l for l in (out or "").splitlines() if l.startswith("RESULT ")]
    if not lines:
        return {"ok": False, "error": f"no result (exit {code}, {out if code is None else ''})"}
    res = json.loads(lines[-1][len("RESULT "):])
    if code != 0:
        res["ok"] = False
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in BENCHMARK["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    start = time.monotonic()  # a build may take longer than one run; count from here
    for d in ("tmp", "spark-local", "logs"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    log = WORK / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    log.write_text("")
    input_dir = inputs(classpath, a.workload, a.seed, log)

    results, measure_start = [], time.monotonic()
    while True:
        left = RUN_TIMEOUT_S - (time.monotonic() - start)
        res = one_job(classpath, a.workload, a.seed, a.trace, input_dir, log, left)
        results.append(res)
        print(json.dumps(res), flush=True)
        if not res["ok"]:
            print(f"job failed: {res.get('error')} (log: {log})", flush=True)
        elapsed = time.monotonic() - measure_start
        per_job = elapsed / len(results)
        if a.trace or elapsed >= a.seconds or \
                RUN_TIMEOUT_S - (time.monotonic() - start) < 1.5 * per_job:
            break

    good = [r for r in results if r["ok"]]
    attempted, failed = len(results), len(results) - len(good)
    wanted = PER_LAYER if a.trace else END_TO_END
    metrics = {}
    if good:
        for name, unit in wanted:
            values = [r[name] for r in good if r.get(name) is not None]
            if values:
                metrics[name] = {"value": statistics.median(values), "unit": unit}
    missing = [n for n, _ in wanted if n not in metrics]
    if good and missing:
        print(f"metrics missing from the run: {missing}", flush=True)
    print(f"error_rate {failed / attempted:.4f} ({failed} failed of {attempted} attempted)")
    print(json.dumps({"correct": failed == 0 and not missing, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
