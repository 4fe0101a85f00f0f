"""Shared plumbing: the run context, session start and warm-up, the
process-tree RSS sampler and the host record."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")


def package_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(
                ROOT, "gcp_data_engineering_workshop_spark")))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Ctx:
    """One benchmark run: where it writes, what it measures and the
    operation tally behind ``attempted``/``failed``."""
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    spark: object = None
    tracer: object = None
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)   # name -> (value, unit)
    notes: dict = field(default_factory=dict)

    def dir(self, *parts: str) -> str:
        """A directory under this run's work dir, created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Count one operation; a false ``ok`` counts it as failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}"[:300])
        return ok

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def measuring(self):
        """Context marking a measured phase: only calls and Spark jobs
        inside one count toward the per-layer metrics."""
        return self.tracer.measuring() if self.tracer else nullcontext()

    def query(self, name: str):
        """Context attributing the Spark jobs inside to query ``name``
        when tracing."""
        return self.tracer.query(name) if self.tracer else nullcontext()


def session_conf(ctx: Ctx, extra: dict | None = None) -> dict:
    """Confs every benchmark session gets: scratch space inside the
    checkout, and the event log when tracing."""
    local = os.path.join(STATE_DIR, "local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.local.dir": local,
        # no hsperfdata files in the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        # the package default (8g) is sized for a dedicated box
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": os.path.join(STATE_DIR, "warehouse"),
        "spark.sql.streaming.checkpointLocation":
            os.path.join(ctx.work, "stream-ckpt"),
    }
    if ctx.trace:
        from perfbench.trace import event_log_conf
        conf.update(event_log_conf(ctx))
    conf.update(extra or {})
    return conf


def start_session(ctx: Ctx, extra: dict | None = None):
    # pandas deprecation chatter from Spark's own Arrow serializer would
    # otherwise flood stderr from every Python worker
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
    # Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from gcp_data_engineering_workshop_spark.session import get_spark

    spark = get_spark(f"perfbench-{ctx.workload}",
                      master=f"local[{nproc()}]",
                      extra_conf=session_conf(ctx, extra))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up_dir() -> str:
    """A small fixed events table for the warm-up query."""
    from perfbench import datagen

    d = os.path.join(STATE_DIR, "warmup")
    if not os.path.exists(os.path.join(d, "events.parquet")):
        datagen.write_tables(d, 0, {"events": 1000})
    return d


def warm_up(spark, sf_dir: str) -> None:
    """Prime JVM codegen and the Python worker pool the way the repo's
    ``bench.py`` does: one dashboard query plus an identity pandas
    UDF over every core."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    import __spark_entry__ as entry_mod

    entry_mod.queries()["dash_tickers"](spark, sf_dir) \
        .write.format("noop").mode("overwrite").save()

    def _ident(s):
        return s

    _ident.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.range(100_000).repartition(nproc()).select(
        pandas_udf(_ident, "bigint")("id")) \
        .write.format("noop").mode("overwrite").save()


def _tree(root_pid: int) -> dict[int, int]:
    """``{pid: RSS kB}`` of ``root_pid`` and all its descendants, from
    /proc (driver Python, its JVM and the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/status") as fh:
                ppid, kb = 0, 0
                for line in fh:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = kb
    out, stack = {}, [root_pid]
    while stack:
        p = stack.pop()
        out[p] = rss.get(p, 0)
        stack.extend(children.get(p, ()))
    return out


def stop_jvm(timeout: float = 60.0) -> None:
    """End the py4j gateway JVM started for this process and wait until
    it and the Python workers it forked have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    left = set(_tree(proc.pid))
    gw.shutdown()
    proc.stdin.close()        # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    end = time.monotonic() + timeout
    while left and time.monotonic() < end:
        left = {p for p in left if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


class RssSampler:
    """Samples the process-tree RSS every ``interval`` seconds on a
    daemon thread; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb,
                               sum(_tree(os.getpid()).values()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _cmd_out(cmd: list[str]) -> str:
    try:
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=20,
                           cwd=ROOT)
        return (r.stdout + r.stderr).strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def host_context() -> dict:
    """What the numbers were measured on."""
    import pyspark

    java = _cmd_out(["java", "-version"]).splitlines()
    commit = _cmd_out(["git", "rev-parse", "HEAD"])
    return {
        "nproc": os.cpu_count(),
        "cores_used": nproc(),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "",
        "commit": commit if len(commit) == 40 else "unknown",
        "platform": platform.platform(),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "argv": sys.argv[1:],
    }
