"""Benchmark command for mofka_spark.

    python3 perfbench/run.py --workload {pubsub_smoke,stream_live,gates} \
        --seed N --seconds S --trace {0,1}

Run it from the repository root. It starts one workload process under a
fresh scratch root inside the checkout (``.perfbench_scratch/``, deleted
at exit), samples the resident set of that process and its JVM, stops
every process the workload started, and prints:

- ``named {...}``: the workload's own end-to-end metrics (events/s,
  flush, delivery and send-lag percentiles, gate sums, peak resident
  set, failed fraction);
- ``provenance {...}``: source digest, git SHA and dirty flag when the
  checkout is a git repository, nproc, Spark's defaultParallelism and
  the host CPU steal share over the run;
- as the last line, one JSON object ``{"correct", "attempted", "failed",
  "metrics"}`` with every end-to-end metric (``--trace 0``) or every
  per-layer metric (``--trace 1``) of BENCHMARK.json.

With ``--trace 1`` it runs the same seed twice, untraced and then traced,
in two processes. The untraced run gives the end-to-end figures, the
traced one the per-layer metrics, and ``trace.overhead.*`` is the traced
run's end-to-end figures minus the untraced run's.

Exit status is non-zero, with no result line, when the checkout holds no
``mofka_spark`` package or the workload fails.
"""

from __future__ import annotations

import os
import time

# Flush the disk writeback earlier processes left, so that it does not
# land inside this run's timings.
os.sync()
T0 = time.time()  # the run's start: every later step counts as set-up

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("pubsub_smoke", "stream_live", "gates")
RUN_LIMIT_S = 170  # a run must end within 180 s
PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """``{pid: (ppid, session id, command name)}`` of live processes."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1: raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2:].split()
        if fields[0] == "Z":
            continue
        out[int(d)] = (int(fields[1]), int(fields[3]), comm)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE / 2**20
    except OSError:
        return 0.0


class RssSampler(threading.Thread):
    """Peak of (workload process + its JVM) resident set, sampled every
    50 ms. Python workers forked by the JVM are not counted."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        jvms: list[int] = []
        tick = 0
        while not self._halt.is_set():
            # walking /proc costs about 2 ms: once a second once the JVM
            # is known, so that the sampler takes little CPU from the run
            if not jvms or tick % 20 == 0:
                jvms = [p for p, (pp, _s, comm) in _proc_table().items()
                        if pp == self.pid and comm == "java"]
            tick += 1
            total = _rss_mb(self.pid) + sum(_rss_mb(p) for p in jvms)
            self.peak = max(self.peak, total)
            self._halt.wait(0.05)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # guest time is already inside user time
    return 100.0 * d[7] / total if total else 0.0


def _stop_session(sid: int) -> None:
    """Stop every process of the workload's session and wait until none
    is left (zombies count as ended)."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = [p for p, (_pp, s, _c) in _proc_table().items() if s == sid]
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while time.time() < deadline:
            if not any(s == sid for _pp, s, _c in _proc_table().values()):
                return
            time.sleep(0.05)
    raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def _provenance() -> dict:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "mofka_spark")
    for d, dirs, fs in os.walk(pkg):
        dirs.sort()
        for f in sorted(fs):
            if f.endswith(".py"):
                path = os.path.join(d, f)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(fh.read())
    sha = dirty = None
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
        dirty = bool(subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=no"],
            cwd=ROOT, capture_output=True, text=True, timeout=10,
            check=True).stdout.strip())
    except (OSError, subprocess.SubprocessError):
        pass
    return {"source_sha256": h.hexdigest(), "git_sha": sha, "dirty": dirty,
            "nproc": len(os.sched_getaffinity(0))}


def _bench_names(key: str) -> list[tuple[str, str]]:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec[key]]


def _run_workload(args, trace: int, t0: float, scratch: str, env: dict):
    """Run the workload process once; return (its result, peak resident
    set in MB), or None after printing why it failed."""
    tag = f"trace{trace}"
    out_path = os.path.join(scratch, f"result-{tag}.json")
    log_path = os.path.join(scratch, f"workload-{tag}.log")
    work = os.path.join(scratch, tag)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    env = dict(env, TMPDIR=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = [sys.executable, "-m", "perfbench.workloads",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace),
           "--scratch", work, "--t0", repr(t0), "--out", out_path]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.time() - T0)))
        except subprocess.TimeoutExpired:
            code = None
        peak = sampler.stop()
        _stop_session(proc.pid)
        proc.wait()
    if code != 0 or not os.path.exists(out_path):
        with open(log_path, errors="replace") as f:
            tail = f.readlines()[-60:]
        sys.stderr.writelines(tail)
        why = "timed out" if code is None else f"exit code {code}"
        print(f"perfbench: workload {args.workload} (--trace {trace}) "
              f"failed ({why})", file=sys.stderr)
        return None
    with open(out_path) as f:
        return json.load(f), peak


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mofka_spark", "__init__.py")):
        print("perfbench: no mofka_spark package in the current directory; "
              "run from the repository root", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_scratch")
    os.makedirs(base, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    env = dict(os.environ)
    # the custom source's Python workers import mofka_spark themselves
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env.pop("SPARK_GRAFT_MASTER", None)
    cpu0 = _cpu_times()
    try:
        # a traced run first makes the untraced run of the same seed: its
        # end-to-end figures are the run's, and the baseline of the
        # tracing overhead
        runs = []
        for trace in (0, 1) if args.trace else (0,):
            if trace:
                os.sync()  # as at the top of this file, for set-up time
            t0 = time.time() if trace else T0
            got = _run_workload(args, trace, t0, scratch, env)
            if got is None:
                return 1
            runs.append(got)
        steal = _steal_pct(cpu0, _cpu_times())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
        os.sync()  # this run's deletes are flushed by this run, not the next

    res, peak = runs[0]
    res["named"]["peak_rss_mb"] = peak
    if args.trace:
        traced = runs[1][0]
        layer = traced["layer"]
        layer["process.peak_rss_mb"] = peak
        for k, v in res["named"].items():
            if f"e2e.{k}" in layer:
                layer[f"e2e.{k}"] = v
        for k, v in res["e2e"].items():
            layer[f"trace.overhead.{k}"] = traced["e2e"][k] - v
        for k in ("attempted", "failed"):
            res[k] += traced[k]
        res["correct"] = res["correct"] and traced["correct"]
        res["failures"] += traced["failures"]
    prov = _provenance()
    prov.update(default_parallelism=res["default_parallelism"],
                steal_pct=round(steal, 3), workload=args.workload,
                seed=args.seed, seconds=args.seconds, trace=args.trace)
    print("named " + json.dumps(
        {k: round(v, 6) for k, v in res["named"].items()}))
    print("info " + json.dumps(res["info"]))
    if res["failures"]:
        print("failures " + json.dumps(res["failures"]))
    print("provenance " + json.dumps(prov))
    if args.trace:
        values, names = layer, _bench_names("per_layer")
    else:
        values, names = res["e2e"], _bench_names("end_to_end")
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in names}
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
