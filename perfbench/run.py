"""Benchmark entry point.

    python3 perfbench/run.py --workload bike_daily --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run:

1. writes the workload's inputs, work plan and expected results from
   the seed into ``.perfbench/run-*`` (deleted when the run ends);
2. runs the workload in a fresh process on ``local[<cpus>]``, timing
   its set-up (process start to session ready) and sampling the
   resident memory of its whole process tree (Python, JVM, Python
   workers) until the measured phase ends;
3. checks the outputs and prints every metric by name with its unit,
   then, as the last line, one JSON object with ``correct``,
   ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with
spans, Spark listeners and an event log and prints the per-layer
metrics instead, including the tracing overhead against the untraced
runs recorded in ``.perfbench/history.jsonl`` for the same sources and
``--seconds``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import queue
import shutil
import signal
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

from metrics import END_TO_END, PER_LAYER, median, render, tail  # noqa: E402

WORKLOADS = ("bike_daily", "status_stream", "query_mix")
RUN_LIMIT_S = 150  # a run must end within 180 s, clean-up included
NO_BASELINE = -1.0  # trace_overhead.* when no untraced run of the same key exists
PAGE = os.sysconf("SC_PAGE_SIZE")


# --- processes --------------------------------------------------------------------


def _group_pids(pgid: int) -> list[int]:
    """Live processes in process group ``pgid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[2] the process group
        if int(fields[2]) == pgid and fields[0] != "Z":
            out.append(int(name))
    return out


def _group_rss(pgid: int) -> int:
    total = 0
    for pid in _group_pids(pgid):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            continue
    return total


def _reap_group(pgid: int, grace: float = 10.0) -> None:
    """Wait for every process of the group to end; kill stragglers."""
    deadline = time.monotonic() + grace
    while _group_pids(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    if _group_pids(pgid):
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while _group_pids(pgid) and time.monotonic() < deadline:
            time.sleep(0.1)


class Child:
    """A worker process in its own process group, with its stdout lines
    delivered through a queue."""

    def __init__(self, args: list[str], env: dict, cwd: str, err_path: str) -> None:
        self.err_path = err_path
        self.err = open(err_path, "ab")
        self.spawned = time.monotonic()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "worker.py"), *args],
            stdout=subprocess.PIPE, stderr=self.err, env=env, cwd=cwd,
            start_new_session=True, text=True,
        )
        self.lines: queue.Queue = queue.Queue()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def next_line(self, timeout: float) -> str | None:
        """The next ``@`` protocol line, or None when the process ended."""
        deadline = time.monotonic() + timeout
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise TimeoutError("worker did not answer in time")
            try:
                line = self.lines.get(timeout=min(left, 0.1))
            except queue.Empty:
                continue
            if line is None or line.startswith("@"):
                return line

    def finish(self, timeout: float) -> int:
        try:
            code = self.proc.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, signal.SIGKILL)
            code = self.proc.wait()
        _reap_group(self.proc.pid)
        self.reader.join(timeout=5)
        self.err.close()
        return code

    def stderr_tail(self, n: int = 40) -> str:
        with open(self.err_path, encoding="utf-8", errors="replace") as f:
            return "".join(f.readlines()[-n:])


def _ready_seconds(child: Child, deadline: float) -> float:
    line = child.next_line(deadline - time.monotonic())
    if not line or not line.startswith("@ready "):
        raise RuntimeError(f"worker failed to start:\n{child.stderr_tail()}")
    return float(line.split()[1]) - child.spawned


# --- environment -------------------------------------------------------------------


def pinned_env(root: str, run_dir: str, trace: bool) -> dict:
    """The measured process's environment: the package importable by
    Spark's Python workers, one task slot per available CPU, Spark's
    scratch space, temp files and the event log inside the run dir."""
    env = dict(os.environ)
    for k in ("SPARK_MASTER", "SPARK_GRAFT_EXTRA_CONF", "PYSPARK_DRIVER_PYTHON",
              "SPARK_GRAFT_SF_DIR", "SPARK_CONF_DIR"):
        env.pop(k, None)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.compress"] = "false"
    env.update(
        PYTHONPATH=os.pathsep.join([root, BENCH_DIR]),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_DRIVER_MEMORY="2g",
        SPARK_GRAFT_EXTRA_CONF=json.dumps(conf),
        TMPDIR=tmp,
        PYTHONHASHSEED="0",
    )
    return env


# --- one run ------------------------------------------------------------------------


def measure(workload: str, seed: int, seconds: int, trace: bool, root: str,
            run_dir: str) -> tuple[dict, float, int, dict]:
    import prepare

    started = time.monotonic()
    deadline = started + RUN_LIMIT_S
    if workload == "query_mix":
        from workloads import measured_queries

        prepare.query_mix(seed, seconds, run_dir, measured_queries(),
                          os.path.join(BENCH_DIR, "data", "sf0.001"))
    else:
        getattr(prepare, workload)(seed, seconds, run_dir)
    env = pinned_env(root, run_dir, trace)
    wall = {"prepare": time.monotonic() - started}
    result_path = os.path.join(run_dir, "result.json")
    child = Child(["--workload", workload, "--run-dir", run_dir,
                   "--trace", str(int(trace)), "--result", result_path],
                  env, run_dir, os.path.join(run_dir, "worker.err"))
    peak = 0
    try:
        setup = _ready_seconds(child, deadline)
        measured = False
        while not measured:
            peak = max(peak, _group_rss(child.proc.pid))
            try:
                line = child.lines.get(timeout=0.1)
            except queue.Empty:
                if time.monotonic() > deadline:
                    raise TimeoutError("measured phase ran past the run limit")
                continue
            if line is None:
                raise RuntimeError(f"worker ended early:\n{child.stderr_tail()}")
            measured = line == "@measured"
        wall["measured"] = time.monotonic() - child.spawned
    finally:
        code = child.finish(deadline - time.monotonic())
    wall["process"] = time.monotonic() - child.spawned
    if code != 0 or not os.path.exists(result_path):
        raise RuntimeError(f"worker exited with {code}:\n{child.stderr_tail()}")
    with open(result_path, encoding="utf-8") as f:
        return json.load(f), setup, peak, wall


def _history(root: str) -> str:
    return os.path.join(root, ".perfbench", "history.jsonl")


def run_key(root: str, seconds: int) -> str:
    """A hash of the program's and the benchmark's Python sources and of
    ``--seconds``: an untraced run is a baseline for the traced run only
    when both measured the same code doing the same amount of work."""
    h = hashlib.sha256(f"seconds={seconds}".encode())
    paths = [os.path.join(root, "__spark_entry__.py")]
    for top in (os.path.join(root, "wroclaw_bike_stats_spark"), BENCH_DIR):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for path in paths:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def end_to_end(res: dict, setup: float) -> dict:
    return {
        "setup_s": setup,
        "cold_s": res["cold_s"],
        "op_p50_s": median(res["ops"]),
        "read_p50_s": median(res["reads"]),
    }


def per_layer(workload: str, res: dict, e2e: dict, peak: int, root: str,
              key: str) -> dict:
    vals = dict.fromkeys(PER_LAYER, 0.0)
    vals.update(res["layers"])
    vals["mem.peak_rss_mb"] = peak / 2**20
    for kind, xs in (("op", res["ops"]), ("read", res["reads"])):
        v, pct, n = tail(xs)
        vals[f"e2e.{kind}_tail_s"], vals[f"e2e.{kind}_tail_pct"] = v, pct
        vals[f"e2e.{kind}_samples"] = n
    failed = len(res["failures"])
    vals["e2e.failed_frac"] = failed / max(res["attempted"], 1)
    base: dict[str, list[float]] = {}
    if os.path.exists(_history(root)):
        with open(_history(root), encoding="utf-8") as f:
            for line in f:
                rec = json.loads(line)
                if rec["workload"] == workload and rec.get("key") == key:
                    for k, v in rec["metrics"].items():
                        base.setdefault(k, []).append(v)
    vals["trace_overhead.baseline_runs"] = len(base.get("setup_s", []))
    for k in ("setup", "cold", "op_p50", "read_p50"):
        traced = e2e[f"{k}_s"]
        vals[f"traced.{k}_s"] = traced
        ref = median(base.get(f"{k}_s", []))
        vals[f"trace_overhead.{k}"] = traced / ref - 1 if ref > 0 else NO_BASELINE
    return vals


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for needed in ("wroclaw_bike_stats_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(root, needed)):
            print(f"perfbench: {needed} not found in {root}; run from the "
                  "root of a checkout", file=sys.stderr)
            return 2
    run_dir = os.path.join(root, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res, setup, peak, wall = measure(args.workload, args.seed, args.seconds,
                                    bool(args.trace), root, run_dir)
        if args.trace:
            trace_src = os.path.join(run_dir, "trace.json")
            if os.path.exists(trace_src):
                dst = os.path.join(root, ".perfbench", "traces",
                                   f"{args.workload}-seed{args.seed}.json")
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.move(trace_src, dst)
    except (RuntimeError, TimeoutError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = end_to_end(res, setup)
    failed = len(res["failures"])
    attempted = max(res["attempted"], 1)
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} attempted={attempted} failed={failed}")
    print("wall time (s): prepare %.1f, measured process %.1f (measurement ends "
          "at %.1f)" % (wall["prepare"], wall["process"], wall["measured"]))
    print("op samples (s): %s; read samples (s): %s; peak RSS %.1f MB" % (
        " ".join(f"{x:.3f}" for x in res["ops"]),
        " ".join(f"{x:.3f}" for x in res["reads"]), peak / 2**20))
    for msg in res["failures"][:10]:
        print(f"FAILED {msg}")
    if args.workload == "query_mix":
        from workloads import WRITES_OUTSIDE_TREE

        print("not run (writes outside the working tree): " + " ".join(WRITES_OUTSIDE_TREE))
    key = run_key(root, args.seconds)
    if args.trace:
        values = per_layer(args.workload, res, e2e, peak, root, key)
        units = PER_LAYER
        if values["trace_overhead.baseline_runs"] == 0:
            print(f"no untraced run of this code with --seconds {args.seconds} in "
                  f"{_history(root)}: trace_overhead.* read {NO_BASELINE}")
    else:
        values, units = e2e, END_TO_END
    if not args.trace and failed == 0:
        os.makedirs(os.path.dirname(_history(root)), exist_ok=True)
        with open(_history(root), "a", encoding="utf-8") as f:
            f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                "key": key, "metrics": e2e}) + "\n")
    for k, u in units.items():
        print(f"{k} {values[k]} {u}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": render(values, units),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
