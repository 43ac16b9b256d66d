"""beacon_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload lake_http --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from the seed
once into ``.perfbench-work/seeds`` and copied to a fresh datasets root
for every run, so no run inherits query metrics, managed versions or
caches from another. The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a report with per-class tails, sample counts, the host probe and the
settings used. ``--trace 1`` runs the same seed untraced and then
traced, reports the per-layer metrics of the traced run and the
tracing overhead between the two.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import spec  # noqa: E402
import tracing  # noqa: E402

DRIVER_MEMORY = "2g"
TIME_BUDGET_S = 170.0
KEEP_SEEDS = 4
PR_SET_CHILD_SUBREAPER = 36

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "peak_rss_mb": "MB",
             "op1_p50_ms": "ms", "op2_p50_ms": "ms", "op3_p50_ms": "ms"}


class Run:
    """Child processes of one run: stopped and waited for on exit. The
    run is a child subreaper, so the processes its children leave behind
    (the Spark driver JVMs and their Python daemons) become its children
    and are waited for too."""

    def __init__(self, deadline: float):
        self.deadline = deadline
        self.procs: list[subprocess.Popen] = []
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
        libc.prctl.restype = ctypes.c_int
        if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
            raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    def spawn(self, cmd: list[str], cwd: str, env: dict, log: str) -> subprocess.Popen:
        with open(log, "ab") as f:
            p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=f,
                                 stderr=subprocess.STDOUT)
        self.procs.append(p)
        return p

    def wait(self, p: subprocess.Popen, what: str) -> None:
        rc = p.wait(timeout=max(1.0, self.deadline - time.monotonic()))
        if rc != 0:
            raise RuntimeError(f"{what} exited with {rc}")

    def close(self) -> None:
        for p in self.procs:
            if p.poll() is None:
                p.kill()
            p.wait()
        end = time.monotonic() + 30
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return  # no descendants left
            if pid == 0:
                if time.monotonic() > end:
                    for child, (parent, _) in spec.processes().items():
                        if parent == os.getpid():
                            os.kill(child, signal.SIGKILL)
                time.sleep(0.1)


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _environment(work: str) -> tuple[dict, dict]:
    cpus = len(os.sched_getaffinity(0))
    java_options = f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        # Spark's Python workers import beacon_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (os.getcwd(), env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "BEACON_SPOOL_DIR": tmp,
        # no hsperfdata files outside the work dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # a fixed, pre-touched driver heap: G1's timing-dependent heap
        # growth made the JVM's peak RSS vary by a third between
        # identical runs
        "PYSPARK_SUBMIT_ARGS": (f"--driver-java-options '{java_options}' "
                                "pyspark-shell"),
    })
    return env, {"cpus": cpus, "driver_memory": DRIVER_MEMORY,
                 "driver_java_options": java_options}


def _seed_dir(work: str, workload: str, seed: int, env: dict, run: Run) -> str:
    seeds = os.path.join(work, "seeds")
    os.makedirs(seeds, exist_ok=True)
    path = os.path.join(seeds, f"{workload}-{seed}")
    if not os.path.isdir(path):
        old = sorted((os.path.join(seeds, d) for d in os.listdir(seeds)
                      if d.startswith(workload + "-")), key=os.path.getmtime)
        for d in old[:max(0, len(old) - KEEP_SEEDS + 1)]:
            shutil.rmtree(d, ignore_errors=True)
        p = run.spawn([sys.executable, os.path.join(HERE, "gen.py"), workload,
                       str(seed), path], os.getcwd(), env,
                      os.path.join(work, "gen.log"))
        run.wait(p, "input generation")
    return path


def one_run(args, trace: bool, work: str, env: dict, seed_dir: str,
            run: Run) -> dict:
    run_dir = os.path.join(work, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    root = os.path.join(run_dir, "root")
    log = os.path.join(run_dir, "run.log")
    started = time.time()
    p = run.spawn([sys.executable, os.path.join(HERE, "gen.py"), args.workload,
                   str(args.seed), seed_dir, root], run_dir, env, log)
    run.wait(p, "run preparation")
    res = _workload(args, trace, run_dir, root, env, seed_dir, run)
    if not res["failed"]:
        # a run with failed operations keeps its directory and logs
        shutil.rmtree(run_dir, ignore_errors=True)
    res["phases_s"] = {"prepare": res.pop("spawned") - started,
                       "setup": res["setup_s"], "warmup": res["warmup_s"],
                       "measure": args.seconds,
                       "teardown": time.time() - res["window"][1]}
    return res


def _workload(args, trace: bool, run_dir: str, root: str, env: dict,
              seed_dir: str, run: Run) -> dict:
    log = os.path.join(run_dir, "run.log")
    expect = os.path.join(seed_dir, "expect")
    out = os.path.join(run_dir, "result.json")
    if args.workload != "lake_http":
        spawned = time.time()
        p = run.spawn([sys.executable, os.path.join(HERE, "inproc.py"),
                       args.workload, str(args.seed), str(args.seconds),
                       "1" if trace else "0", repr(spawned), expect, root,
                       out], run_dir, env, log)
        run.wait(p, args.workload)
        with open(out) as f:
            res = json.load(f)
        res["spawned"] = spawned
        return res

    port = _free_port()
    server_args = ["--root", root, "--http-port", str(port),
                   "--flight-port", str(_free_port()),
                   "--master", f"local[{env['SPARK_GRAFT_CPUS']}]"]
    trace_out = os.path.join(run_dir, "trace.json")
    cmd = ([sys.executable, os.path.join(HERE, "launcher.py"), trace_out]
           if trace else [sys.executable, "-m", "beacon_spark.server"])
    spawned, spawned_wall = time.monotonic(), time.time()
    server = run.spawn(cmd + server_args, run_dir, env,
                       os.path.join(run_dir, "server.log"))
    url = f"http://127.0.0.1:{port}/api/health"
    while True:
        if server.poll() is not None:
            raise RuntimeError(f"server exited with {server.returncode}")
        if time.monotonic() > run.deadline:
            raise RuntimeError("server did not become healthy")
        try:
            with urllib.request.urlopen(url, timeout=5) as r:
                if r.status == 200:
                    break
        except OSError:
            time.sleep(0.05)
    setup_s = time.monotonic() - spawned
    p = run.spawn([sys.executable, os.path.join(HERE, "loadgen.py"),
                   str(args.seed), str(args.seconds), str(port), expect, out],
                  run_dir, env, log)
    run.wait(p, "load generator")
    with open(out) as f:
        res = json.load(f)
    res["setup_s"] = setup_s
    res["spawned"] = spawned_wall
    res["peak_rss_mb"] = spec.peak_rss_mb(server.pid)
    server.send_signal(signal.SIGINT)
    server.wait(timeout=max(1.0, run.deadline - time.monotonic()))
    if trace:
        with open(trace_out) as f:
            doc = json.load(f)
        res["layers"] = tracing.layer_metrics(
            doc, {s["op"] for s in res["measured"]}, res["window"])
    return res


def result_metrics(workload: str, res: dict, traced: dict | None) -> dict:
    """The result line's metrics: the end-to-end metrics of the untraced
    run, or with a traced run its per-layer metrics and the overhead."""
    if traced is not None:
        values = dict(traced["layers"])
        values["trace.overhead_pct"] = 100.0 * (
            res["ops_per_s"] / traced["ops_per_s"] - 1.0)
        units = tracing.LAYER_METRICS
    else:
        classes = spec.class_summary(res["measured"])
        values = {"setup_s": res["setup_s"], "ops_per_s": res["ops_per_s"],
                  "peak_rss_mb": sum(res["peak_rss_mb"].values())}
        for i, cls in enumerate(spec.CLASSES[workload], 1):
            values[f"op{i}_p50_ms"] = classes[cls]["p50_ms"]
        units = E2E_UNITS
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join("beacon_spark", "__init__.py")):
        print("run from the root of a beacon_spark checkout", file=sys.stderr)
        return 2

    start = time.monotonic()
    probe_before, cpu_before = spec.host_probe(), spec.cpu_times()
    work = os.path.abspath(".perfbench-work")
    env, settings = _environment(work)
    run = Run(start + TIME_BUDGET_S)
    try:
        seed_dir = _seed_dir(work, args.workload, args.seed, env, run)
        res = one_run(args, False, work, env, seed_dir, run)
        traced = (one_run(args, True, work, env, seed_dir, run)
                  if args.trace else None)
    finally:
        run.close()

    classes = spec.class_summary(res["measured"])
    runs = [res] + ([traced] if traced else [])
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    report = {
        "workload": args.workload, "seed": args.seed, "settings": settings,
        "classes": classes, "warmup_ops": res["warmup_ops"],
        "phases_s": res["phases_s"], "total_s": time.monotonic() - start,
        "peak_rss_mb": res["peak_rss_mb"],
        "failed_pct": 100.0 * failed / max(1, attempted),
        "host_probe_s": [probe_before, spec.host_probe()],
        "host_cpu": spec.host_load(cpu_before, spec.cpu_times()),
        "loadavg": os.getloadavg(),
    }
    if traced:
        report["traced_classes"] = spec.class_summary(traced["measured"])
        report["ops_per_s"] = {"untraced": res["ops_per_s"],
                               "traced": traced["ops_per_s"]}
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": result_metrics(args.workload, res, traced)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
