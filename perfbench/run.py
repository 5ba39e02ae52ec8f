"""Social-graph benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload {serve,batch} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The command generates the workload's
inputs from the seed, sets up four times (the median is ``setup_s``),
repeats whole units of work until ``--seconds`` have passed, checks
every output against an independent reference, prints a report and
ends with one JSON line: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics named in
BENCHMARK.json; ``--trace 1`` wraps the program's public functions in
spans and reports the per-layer metrics instead, with the tracing
overhead against the untraced run of the same seed. Everything the run
writes stays under ``.perfbench/`` in the working directory; every run
is kept there as a JSON record. The exit code is 1 when a check fails.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "social_link_prediction_spark"
SETUPS = 4
DRIVER_MEMORY = "1g"


def pin_environment(root: str, work: str) -> dict:
    """Fix what the run depends on before Spark starts; returns the
    record of it."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_CONF", None)
    # the fuzzy scorer's pandas-UDF workers import the package by name
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "physical_memory_mb": mem_kb // 1024,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.environ["PYTHONPATH"],
        "loadavg_start": os.getloadavg(),
    }


def spark_conf(work: str) -> dict:
    return {
        # no hsperfdata files under /tmp: the run writes only in its checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def versions(spark) -> dict:
    import networkx
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "numpy": numpy.__version__, "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__, "networkx": networkx.__version__,
    }


def _children() -> dict[int, list[int]]:
    """Child pids of every process, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    return children


def _descendants(pid: int) -> list[int]:
    children, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def _alive(pid: int) -> bool:
    """Running, not a zombie waiting for its new parent to reap it."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_jvm(wait_s: float = 30.0) -> None:
    """End the JVM PySpark launched and every process under it (the
    Python workers), and wait until each has exited. SparkSession.stop()
    leaves the JVM running; it exits on its own only after it sees the
    pipe from this process close, which would be after this process has
    ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is None or proc is None:
        return
    tree = _descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:
        pass
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits on end of input
    try:
        proc.wait(timeout=wait_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + wait_s
    rest = [p for p in tree if p != proc.pid]
    while rest:
        rest = [p for p in rest if _alive(p)]
        if rest and time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


class Sampler:
    """Peak resident memory and CPU time of the Spark JVM and its
    descendants (the Python workers), read from /proc, plus the CPU
    time of this process (the PySpark driver side). Memory is sampled
    every 50 ms; ``cpu()`` is the CPU time used so far, less the
    sampling thread's own time."""

    def __init__(self, jvm_pid: int):
        self.jvm = jvm_pid
        self.peak_kb = 0
        self._own_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> tuple[int, float]:
        """(resident KB, CPU seconds incl. reaped children) of the JVM tree."""
        kb, ticks = 0, 0
        for pid in _descendants(self.jvm):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    kb += int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
                with open(f"/proc/{pid}/stat") as f:
                    ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
            except (OSError, IndexError, ValueError):
                pass
        return kb, ticks / os.sysconf("SC_CLK_TCK")

    def cpu(self) -> float:
        t = os.times()
        return self._tree()[1] + t.user + t.system - self._own_s

    def _loop(self) -> None:
        start = time.thread_time()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree()[0])
            self._own_s = time.thread_time() - start
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Ctx:
    def __init__(self, root, work, seed, tracer):
        self.root, self.work, self.seed, self.tracer = root, work, seed, tracer
        self.spark_conf = spark_conf(work)
        self.cpu = lambda: 0.0  # the Sampler's, once Spark runs
        self._req = 0

    def next_request(self) -> int:
        self._req += 1
        return self._req


def measure(workload, seconds: float) -> dict:
    """Set up SETUPS times, then run whole units until ``seconds`` have
    passed; returns the set-up times, the timed ops, and the peak RSS
    and CPU time of the measured units."""
    setups = []
    for i in range(SETUPS):
        if i:
            workload.stop()
        t = time.perf_counter()
        with workload.ctx.tracer.span("bench", "setup"):
            workload.setup()
        setups.append(time.perf_counter() - t)
    jvm = workload.spark._jvm.java.lang.ProcessHandle.current().pid()
    ops, units = [], 0
    with Sampler(jvm) as smp:
        workload.ctx.cpu = smp.cpu
        cpu0, t0 = smp.cpu(), time.perf_counter()
        while True:
            ops += workload.unit()
            units += 1
            elapsed = time.perf_counter() - t0
            if elapsed >= seconds:
                break
        cpu_s = smp.cpu() - cpu0
    return {"setups": setups, "ops": ops, "units": units, "elapsed": elapsed,
            "peak_rss_mb": smp.peak_kb / 1024, "cpu_s": cpu_s}


def end_to_end(name: str, wl, res: dict) -> dict:
    """Every end-to-end metric of BENCHMARK.json, plus the
    workload-specific ones (name -> (value, unit))."""
    ops, elapsed = res["ops"], res["elapsed"]
    specific = wl.metrics(ops, elapsed)
    per_unit = _units(name, ops)
    if name == "serve":
        throughput = specific["requests_per_s"][0]
    else:  # raw bindings carried through the whole pipeline per second
        throughput = sum(o.data.get("bindings", 0) for o in ops if o.ok) / sum(per_unit)
    failed = sum(not o.ok for o in ops)
    common = {
        "setup_s": (statistics.median(res["setups"]), "s"),
        "cold_setup_s": (res["setups"][0], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "throughput_per_s": (throughput, "1/s"),
        "cpu_s_per_op": (res["cpu_s"] / len(per_unit), "s"),
        "latency_p50_s": (statistics.median(per_unit), "s"),
        "error_rate": (failed / max(len(ops), 1), "ratio"),
    }
    return common | specific


def _units(name: str, ops) -> list[float]:
    """Latency of the workload's operation: a request, or a whole
    batch cycle (ETL plus the three batch jobs)."""
    if name == "serve":
        return [o.seconds for o in ops]
    starts = [i for i, o in enumerate(ops) if o.kind == "etl"] + [len(ops)]
    return [sum(o.seconds for o in ops[a:b]) for a, b in zip(starts, starts[1:])]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="social-graph benchmark")
    ap.add_argument("--workload", required=True, choices=("serve", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()
    # a terminated run still stops the JVM (the finally clause below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: no {PKG}/ package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(root, ".perfbench", "results")
    work = os.path.join(root, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    env = pin_environment(root, work)
    sys.path[:0] = [HERE, root]

    import workloads as W
    from spans import LAYER_METRICS, RATIOS, NullTracer, Tracer

    tracer = Tracer() if args.trace else NullTracer()
    ctx = Ctx(root, work, args.seed, tracer)
    wl = W.WORKLOADS[args.workload](ctx)
    try:
        wl.prepare()
        if args.trace:
            tracer.instrument()
        res = measure(wl, args.seconds)
        if args.trace:
            tracer.restore()
        env["versions"] = versions(wl.spark)
        errors = wl.check(res["ops"])
        metrics = end_to_end(args.workload, wl, res)
        if args.trace:
            ratios = wl.ratios(res["ops"])
        wl.stop()
        if args.trace:
            layer = tracer.layer_metrics(env["SPARK_GRAFT_CPUS"])
            jobs, reqs = tracer.request_jobs()
            calls = tracer.calls
            lookups = calls.get("search.fuzzy.fuzzy_lookup", 0)
            ratios["search.fuzzy.exact_hit_ratio"] = (
                1.0 - calls.get("search.fuzzy.rescore", 0) / lookups if lookups else 0.0)
            ratios["application.jobs_per_request"] = jobs / max(reqs, 1)
    finally:
        try:
            wl.stop()
        finally:
            stop_jvm()
            shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = os.getloadavg()
    env["run_s"] = time.perf_counter() - started  # the report and its JSON line excluded
    env["setups_s"] = res["setups"]

    ops = res["ops"]
    attempted = len(ops)
    failed = sum(not o.ok for o in ops)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "units": res["units"],
        "ops": [{"kind": o.kind, "seconds": o.seconds, "cpu_s": o.cpu_s, "ok": o.ok}
                for o in ops],
        "errors": errors, "end_to_end": metrics,
    }
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    stamp = int(time.time())
    if args.trace:
        record["per_layer"] = layer | {k: ratios.get(k, 0.0) for k in RATIOS}
        record["unattributed"] = tracer.unattributed
        record["overhead"] = _overhead(stem, metrics)
        with open(f"{stem}-{stamp}.spans.json", "w") as f:
            json.dump(tracer.dump(), f)
    with open(f"{stem}-{stamp}.json", "w") as f:
        json.dump(record, f, indent=1, default=str)

    _report(record, attempted, failed)
    if args.trace:
        out = {k: {"value": v, "unit": _layer_unit(k, LAYER_METRICS)}
               for k, v in record["per_layer"].items()}
    else:
        out = {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in GATED}
    print(json.dumps({"correct": not errors and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if not errors and failed == 0 else 1


# end-to-end metrics every workload reports, as listed in BENCHMARK.json
GATED = ("setup_s", "peak_rss_mb", "cpu_s_per_op")


def _layer_unit(key: str, units: dict) -> str:
    return units.get(key.rsplit(".", 1)[1], "ratio")


def _overhead(stem: str, traced: dict) -> dict:
    """Traced against the latest untraced record of the same workload
    and seed in this checkout: the ratio of each shared metric."""
    import glob

    prev = sorted(glob.glob(f"{stem[:-1]}0-*.json"))
    if not prev:
        return {"note": "no untraced run of this seed recorded here"}
    with open(prev[-1]) as f:
        base = json.load(f)["end_to_end"]
    keys = GATED + ("throughput_per_s", "latency_p50_s")
    return {k: traced[k][0] / base[k][0] for k in keys if base[k][0]}


def _report(record: dict, attempted: int, failed: int) -> None:
    print(f"workload {record['workload']} seed {record['seed']} trace {record['trace']}: "
          f"{record['units']} units, {attempted} operations attempted, {failed} failed")
    for k, v in record["env"].items():
        print(f"  env {k}: {v}")
    for k, (v, unit) in record["end_to_end"].items():
        print(f"  {k} = {v} {unit}")
    for e in record["errors"]:
        print(f"  CHECK FAILED: {e}")
    if record["trace"]:
        print(f"  tracing overhead (traced / untraced): {record['overhead']}")
        print(f"  jobs outside any span: {record['unattributed']}")


if __name__ == "__main__":
    sys.exit(main())
