"""Benchmark entry point.

    python3 perfbench/run.py --workload recipe_gopher --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates (or reuses) the seeded input,
runs one measurement in a fresh worker process (``worker.py``: its own
JVM, ``local[<cores>]``), checks every output, prints each metric with
its unit, and prints as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. Exits 1 when any output check failed and 2 when the run
could not be made.

``--workload all`` runs every workload in turn and prints one JSON line
per workload.

Everything the run writes goes under ``.perfbench/`` in the repository
root: cached inputs, each run's sinks, Spark's scratch space, the worker
log and, with ``--trace 1``, the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 160  # worker budget; with input generation and clean-up the command ends within 180 s


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":  # fields[3] is the session id
            pids.append(int(entry.name))
    return pids


def _stop_session(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (the JVM, Spark's Python
    workers): they share the worker's session. Waits until all are gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _session_pids(proc.pid):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 5
        while time.time() < end:
            if proc.poll() is None:
                time.sleep(0.1)
                continue
            if not _session_pids(proc.pid):
                return
            time.sleep(0.1)
    proc.wait()


def run_one(workload: str, seed: int, seconds: int, trace: int, spec: dict) -> int:
    import gen  # this script's directory is first on sys.path
    from observe import cpu_times, host_info

    if not os.path.isfile(os.path.join(ROOT, "mega_data_factory_spark", "__init__.py")):
        print("perfbench: the mega_data_factory_spark package is not in this checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    t_gen = time.perf_counter()
    input_dir, manifest = gen.ensure_inputs(workload, seed, work)
    gen_s = time.perf_counter() - t_gen
    run_dir = os.path.join(work, "runs", f"{workload}-s{seed}-t{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        SPARK_DRIVER_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    result_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload, "--seconds", str(seconds),
           "--trace", str(trace), "--input", input_dir, "--run-dir", run_dir, "--result", result_path,
           "--repo", ROOT]
    host_before, ticks = host_info(), cpu_times()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(30, DEADLINE_S - gen_s))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _stop_session(proc)
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            lines = f.read().splitlines()[-30:]
        print(f"perfbench: worker {'timed out' if rc is None else f'exited {rc}'}; log tail:", file=sys.stderr)
        print("\n".join(lines), file=sys.stderr)
        return 2
    with open(result_path) as f:
        res = json.load(f)
    host_after = host_info(since=ticks)

    print(f"# workload {workload} seed {seed} trace {trace}: closed loop, 1 client, local[{host_after['cpus']}]")
    print(f"# input: {manifest['rows']} rows, {manifest['input_files']} files, {manifest['input_bytes']} bytes "
          f"(generated in {gen_s:.1f} s, not measured)")
    print(f"# host: {host_after['cpus']} cpus, loadavg before {host_before['loadavg']} after {host_after['loadavg']}, "
          f"CPU busy {host_after['busy_share']:.1%}, steal {host_after['steal_share']:.2%} during the run, "
          f"steal {res['host_timed']['steal_share']:.2%} during the timed operations")
    s = res["setup"]
    print(f"# setup: import {s['import_s']:.3f} s + session {s['session_s']:.3f} s + config {s['config_s']:.3f} s "
          f"+ cold run {s['cold_s']:.3f} s")
    walls = " ".join("%.2f" % w for w in res["walls"])
    print(f"# operations: {walls} s "
          f"(cold, warm-up, then measured); {res['latency_samples']} latency samples, "
          f"tail percentile p{res['tail_percentile']:.1f}")
    q1, q2, q3 = res["docs_per_s_quartiles"]
    print(f"# docs_per_s quartiles: {q1:.1f} / {q2:.1f} / {q3:.1f}")
    print(f"# peak resident memory of the process tree {res['peak_rss_mb']:.1f} MiB")
    print(f"# fail_ratio {res['failed'] / max(1, res['attempted']):.4f} ({res['failed']} of {res['attempted']} operations)")
    for msg in dict.fromkeys(m.splitlines()[-1] for m in res["failures"] if m):
        print(f"# FAILED: {msg}")
    if trace:
        print(f"# spans: {res['spans']}")
        section, values = spec["per_layer"], res["layers"]
    else:
        section, values = spec["end_to_end"], res["e2e"]
    metrics = {}
    for m in section:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']} {v:.6g} {m['unit']}")
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


def main() -> int:
    # SIGTERM unwinds like Ctrl-C, so run_one's clean-up stops the worker
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=names + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    rcs = [run_one(w, a.seed, a.seconds, a.trace, spec) for w in (names if a.workload == "all" else [a.workload])]
    return max(rcs)


if __name__ == "__main__":
    sys.exit(main())
