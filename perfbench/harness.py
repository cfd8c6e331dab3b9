"""Run mechanics shared by every workload: sandbox, session, reps, result.

Everything a run writes stays inside the checkout: scratch data under
``.bench_work/<pid>`` (removed at the end of the run) and result files
under ``.bench_out``. The Spark JVM, its temp files and the engine's
py-files zip are all pointed into the scratch directory before the JVM
starts.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import time
from dataclasses import dataclass, field

HEAP = "2g"  # driver heap: well below the host's RAM, ample for these inputs
YOUNG_GEN = "256m"
SETUP_REPS = 7  # setup_s is the median of this many input builds


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    rank = max(1, int(-(-q * len(s) // 100)))
    return float(s[rank - 1])


@dataclass
class Sandbox:
    """Per-run scratch directory inside the checkout."""

    root: str
    work: str = ""
    out: str = ""

    def __post_init__(self):
        self.work = os.path.join(self.root, ".bench_work", str(os.getpid()))
        self.out = os.path.join(self.root, ".bench_out")
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "local", "events", "data"):
            os.makedirs(os.path.join(self.work, sub), exist_ok=True)
        os.makedirs(self.out, exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        import tempfile

        tempfile.tempdir = tmp

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, "data", *parts)

    def remove(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


@dataclass
class Session:
    """One SparkSession sized for the host, plus its JVM process."""

    spark: object
    cores: int
    start_s: float
    event_dir: str | None
    own_rdds: set = field(default_factory=set)  # persisted by the benchmark

    @staticmethod
    def start(sandbox: Sandbox, cores: int, traced: bool) -> "Session":
        from plwordnet_spark import get_spark

        tmp = os.path.join(sandbox.work, "tmp")
        conf = {
            "spark.driver.memory": HEAP,
            # a fixed heap and young generation: the JVM would otherwise
            # resize both from GC pause times, and with them the resident
            # set, differently from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -Xmn{YOUNG_GEN}"
            ),
            "spark.local.dir": os.path.join(sandbox.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(sandbox.work, "warehouse"),
        }
        event_dir = None
        if traced:
            event_dir = os.path.join(sandbox.work, "events")
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
        )
        return Session(spark, cores, time.perf_counter() - t0, event_dir)

    @property
    def sc(self):
        return self.spark.sparkContext

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid  # noqa: SLF001

    def peak_rss_mb(self) -> float:
        """High-water resident set of the JVM plus this Python process."""
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid()}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def materialise(self, df):
        """``df`` computed now and held in a locally checkpointed frame,
        which the engine's CacheManager never matches against a plan.
        The frame's RDD is recorded as the benchmark's own."""
        out = df.localCheckpoint(eager=True)
        self.own_rdds.add(out._jdf.queryExecution().analyzed().rdd().id())  # noqa: SLF001
        return out

    def persisted_rdds(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet().toArray()}  # noqa: SLF001

    def left_by_program(self, baseline: set[int]) -> int:
        """RDDs persisted since ``baseline`` that the benchmark did not
        materialise itself: caches the engine's calls left behind."""
        return len(self.persisted_rdds() - baseline - self.own_rdds)

    def release_since(self, baseline: set[int]) -> None:
        """Drop every cache made after ``baseline`` was taken: the
        engine's cached plans (CacheManager) and any persisted or locally
        checkpointed RDD."""
        self.spark.catalog.clearCache()
        rdds = self.sc._jsc.getPersistentRDDs()  # noqa: SLF001
        for key in rdds.keySet().toArray():
            if int(key) not in baseline:
                rdds.get(key).unpersist(True)

    def stop(self) -> None:
        self.spark.stop()

    @staticmethod
    def shutdown_jvm() -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway  # noqa: SLF001
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure: make sure it ends
                proc.kill()
                proc.wait(timeout=30)


@dataclass
class Tally:
    """Operations attempted and failed; a wrong output counts as failed."""

    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def ops(self, n: int = 1) -> None:
        self.attempted += n

    def check(self, name: str, ok: bool, weight: int = 1, detail: str = "") -> None:
        if not ok:
            self.failed += weight
            self.notes.append(f"{name}: {detail}" if detail else name)
