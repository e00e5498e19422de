"""Shared plumbing for the benchmark workloads: the pinned environment,
the Spark session, the memory sampler, in-memory spans and the result line.

Everything the benchmark writes goes under ``perfbench/out`` inside the
checkout (fixtures, oracle cache, checkpoints, Spark scratch, spans).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
OUT = os.path.join(BENCH_DIR, "out")
TMP = os.path.join(OUT, "tmp")

with open(os.path.join(BENCH_DIR, "spec.json")) as _f:
    SPEC = json.load(_f)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_env() -> None:
    """Pin the session knobs the numbers depend on (spec.json
    ``environment``) and keep every scratch file inside the checkout. Must
    run before the JVM starts."""
    env = SPEC["environment"]
    os.makedirs(TMP, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(env["shuffle_partitions"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = env["driver_memory"]
    os.environ.pop("SPARK_GRAFT_INITIAL_PARTITIONS", None)
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    os.environ["TMPDIR"] = TMP
    # Every JVM, the spark-submit launcher included, keeps its temp files
    # in the checkout and writes no /tmp/hsperfdata.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"
    # Python workers import the package from the checkout.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_spark(trace_dir: str | None = None):
    """Session through the package factory. The event log is turned on only
    for a traced run, and only through ``extra_conf``."""
    from eventstream_spark.session import get_spark

    heap = SPEC["environment"]["driver_memory"]
    extra = {
        # A fixed, pre-touched heap: resident memory then measures what the
        # engine adds (non-heap, Python workers), not when G1 resized.
        "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
        "spark.local.dir": TMP,
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
        "spark.sql.streaming.stopTimeout": "30s",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace_dir is not None:
        os.makedirs(trace_dir, exist_ok=True)
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": trace_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # the status tracker must still hold every timed job when
                # the counts are read at the end of the run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine since boot, in
    seconds per CPU (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") / os.cpu_count()


class HostSampler:
    """Samples the host every ``interval`` seconds from /proc.

    - Peak memory of this process and its descendants (the driver JVM and
      the Python workers it forks). Each process counts its proportional set
      size, so pages that forked workers share are counted once, not once
      per worker. ``exclude`` names process ids whose subtrees are not the
      system under test (the load generator).
    - Steal: on a shared virtual machine the hypervisor takes the CPUs away
      for seconds at a time, and that lengthens every wall-clock interval.
      ``busy(t0, t1)`` is an interval minus the steal per CPU accrued in it,
      which is what the benchmark reports as time.
    """

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.exclude: set[int] = set()
        self.peak_bytes = 0
        self.steal: list[tuple[float, float]] = []  # (epoch s, steal_s())
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "HostSampler":
        self.mark()
        self._thread.start()
        return self

    def mark(self) -> float:
        """Record the steal now; returns the epoch time of the record."""
        with self._lock:
            t = time.time()
            self.steal.append((t, steal_s()))
        return t

    def stolen(self, t):
        """Steal per CPU accrued by epoch time(s) ``t``, interpolated."""
        import numpy as np

        with self._lock:
            times, values = zip(*self.steal)
        return np.interp(t, times, values)

    def busy(self, t0, t1):
        """Seconds from epoch ``t0`` to ``t1``, less the steal in between;
        either may be an array."""
        return (t1 - t0) - (self.stolen(t1) - self.stolen(t0))

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass
            todo.extend(children.get(pid, ()))
        return total

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        self.mark()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


class Tracer:
    """In-memory spans: name, start, end, parent and the run id shared by
    the spans of one request (a query run, a micro-batch). Written out once,
    at the end, with self time per layer. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, run_id: str) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "run_id": run_id}
        )
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = max(0.0, (s["end"] - s["start"]) - child_time.get(s["id"], 0.0))
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "self_s": self.self_times(), "spans": self.spans}, f)


def emit(result: dict, trace: bool) -> None:
    """Print the human-readable lines, then the contract's one JSON line.

    ``result`` holds ``correct``, ``attempted``, ``failed``, the metric
    values under ``metrics`` and the workload's own named figures under
    ``named`` (name -> (value, unit)), which are printed but are not part
    of the JSON line."""
    kind = "per_layer" if trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in BENCHMARK[kind]}
    metrics = result["metrics"]
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"workload did not measure {sorted(missing)}")
    attempted, failed = result["attempted"], result["failed"]
    for name, (value, unit) in result.get("named", {}).items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"error_rate = {failed / attempted:.6g} (failed {failed} of {attempted} attempted)")
    line = {
        "correct": bool(result["correct"]),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in units},
    }
    print(json.dumps(line), flush=True)
