"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the seeded inputs (cached
under ``.bench_build/perfbench``, outside every timed region), starts the
Spark program in a fresh process (``job.py``) while sampling the peak
resident memory of that process tree, checks the committed outputs
against independent oracles, and prints one JSON line: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its spans and every per-layer number to
``.bench_build/perfbench/trace/<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "accelerated_intelligent_document_processing_on_aws_spark"
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("extract_job", "curation_chain")
# Pinned JVM heap: fits a 15 GB host next to the Python workers, and
# fixed so that peak_rss_mb repeats.
HEAP = "2g"
CHILD_TIMEOUT_S = 150
# Processes peak_rss_mb counts: the job's Python process, the JVM and the
# Python workers. Not the short-lived forks the JVM makes to run chmod, which
# share its pages until they exec.
PROCESSES = ("python3", "python", "java")

UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "turns_per_s": "1/s",
    "dup_recall": "ratio",
    "peak_rss_mb": "MB",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class PeakRss:
    """Samples the peak resident set (``VmHWM``) of every process in a
    session -- the job's Python process, its JVM and the Python workers --
    and sums the per-process peaks."""

    def __init__(self, sid: int, interval: float = 0.25):
        self.sid = sid
        self.interval = interval
        self.peaks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def members(self) -> list[int]:
        pids = []
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # a zombie has already ended
            if fields[0] != "Z" and int(fields[3]) == self.sid:
                pids.append(int(p))
        return pids

    def _sample(self) -> None:
        for pid in self.members():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("Name:") and line.split()[1] not in PROCESSES:
                            break
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.peaks[pid] = max(self.peaks.get(pid, 0), kb)
                            break
            except OSError:
                continue

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        return sum(self.peaks.values()) / 1024.0


def _stop_session(sid: int, probe: PeakRss) -> None:
    """Kill whatever the run's process session left behind and wait
    until every process of it has ended."""
    deadline = time.time() + 30
    while True:
        left = probe.members()
        if not left:
            return
        if time.time() > deadline:
            raise SystemExit(f"perfbench: processes {left} did not end")
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.2)


def _run_job(spec: dict) -> tuple[dict, float]:
    work = spec["work"]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # it would override spark.local.dir
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(spec["cores"])
    env["TMPDIR"] = f"{work}/tmp"
    env["SPARK_WAREHOUSE_DIR"] = f"{work}/warehouse"
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    spec_path = f"{work}/spec.json"
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(f"{work}/job.log", "w") as log:
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "job.py"), spec_path],
            cwd=work,
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        probe = PeakRss(child.pid)
        probe.start()
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            peak_mb = probe.stop()
            _stop_session(child.pid, probe)
            child.wait()
    if code != 0:
        with open(f"{work}/job.log") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: the Spark job {'timed out' if code is None else f'exited {code}'}")
    with open(spec["result"]) as f:
        return json.load(f), peak_mb


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM unwinds like an exit, so the job's processes are still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"perfbench: no {PACKAGE}/ next to perfbench/; run from a checkout")
    sys.path.insert(0, ROOT)
    import checks
    import inputs

    cache = os.path.join(BUILD, "inputs")
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "eventlog", "spark-local", "out"):
        os.makedirs(os.path.join(work, d))

    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cores": _cores(),
        "heap": HEAP,
        "work": work,
        "result": os.path.join(work, "result.json"),
    }
    if args.workload == "extract_job":
        spec.update(inputs.extract_job_input(cache, args.seed))
    else:
        spec.update(inputs.curation_chain_input(cache, args.seed))

    result, peak_mb = _run_job(spec)
    attempted, failed, extra = checks.CHECKS[args.workload](spec, result["reps"])

    if args.trace:
        import layers
        import tracing

        folded = tracing.fold(
            tracing.read_event_log(os.path.join(work, "eventlog")),
            f"{args.workload}-{args.seed}",
        )
        every = layers.per_layer(
            result, folded, layers.kernel_phases(layers.workload_turns(spec), args.seed)
        )
        every["fail_rate"] = failed / attempted
        trace_dir = os.path.join(BUILD, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"metrics": every, "spans": result["spans"]}, f, indent=1)
        metrics = {k: {"value": every[k], "unit": u} for k, u in layers.PRINTED.items()}
    else:
        wall_s = statistics.median(r["wall_s"] for r in result["reps"])
        values = {
            "setup_s": result["setup_s"],
            "wall_s": wall_s,
            "turns_per_s": spec["turns"] / wall_s,
            "dup_recall": extra["dup_recall"],
            "peak_rss_mb": peak_mb,
        }
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )


if __name__ == "__main__":
    main()
