"""What every workload shares: the Spark session, timed operations with
their correctness checks, the measured loop, the traced phase, and the
clean shutdown of every process the run started."""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import subprocess
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from pathlib import Path

from perfbench import host, tracing


class Bench:
    def __init__(self, root: Path, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = root / "perfbench" / "_work" / f"{workload}-s{seed}-p{os.getpid()}"
        self.out = root / "perfbench" / "_out"
        self.cores = host.nproc()
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.round_walls: list[float] = []
        self.untraced_round_walls: list[float] = []
        self.notes: list[str] = []
        self.setup_phases: dict[str, float] = {}
        self.peak_rss_mb = 0.0
        self.tracer: tracing.Tracer | None = None
        self.span = tracing.no_span
        self.spark = None

    # -- session -------------------------------------------------------------
    def start_spark(self) -> float:
        """Start a ``local[nproc]`` session whose scratch space, event log
        and temp files all stay inside the run's work directory."""
        for d in ("spark", "tmp", "events", "warehouse"):
            (self.work / d).mkdir(parents=True, exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(self.root), os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = str(self.work / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark")
        conf = {
            "spark.local.dir": str(self.work / "spark"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(self.work / "events"),
                "spark.eventLog.compress": "false",
            })
        from vectra_py_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()  # first job: JVM-side lazy init
        elapsed = self.setup_phases["session"] = time.perf_counter() - t0
        if self.trace:
            self.tracer = tracing.Tracer(self.spark.sparkContext)
            self.span = self.tracer.span
        return elapsed

    def sample_rss(self) -> None:
        self.peak_rss_mb = max(self.peak_rss_mb, host.tree_peak_rss_mb())

    def stop(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for each."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = host.descendants()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        host.wait_gone(kids, timeout=30, kill=signal.SIGKILL)

    # -- operations ----------------------------------------------------------
    def fail(self, kind: str, rid: str, reason: str) -> None:
        self.failed += 1
        self.failures.append({"op": kind, "request": rid, "reason": reason})

    def op(self, kind: str, rid: str, fn: Callable[[dict], object],
           check: Callable[[object], str | None] | None = None, phase: str = "op"):
        """Run one timed operation, then check its output untimed.
        Returns ``(latency_s, result)``; latency is None if it raised.
        Only ``phase="op"`` latencies are samples; ``"warmup"`` calls are
        set-up and ``"probe"`` calls feed only the per-layer metrics."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(f"{phase}.{kind}", rid) as s:
                result = fn(s)
        except Exception:
            self.fail(kind, rid, traceback.format_exc(limit=3).strip().splitlines()[-1])
            return None, None
        dt = time.perf_counter() - t0
        if phase == "op":
            self.samples[kind].append(dt)
        self.verify(kind, rid, lambda: check(result) if check else None, count=False)
        return dt, result

    def verify(self, kind: str, rid: str, fn: Callable[[], str | None], count: bool = True) -> None:
        """A correctness check; a failed one counts as a failed op."""
        if count:
            self.attempted += 1
        try:
            err = fn()
        except Exception:
            err = "check raised: " + traceback.format_exc(limit=3).strip().splitlines()[-1]
        if err:
            self.fail(kind, rid, err)

    # -- the measured loop -----------------------------------------------------
    def measure(self, rounds, run_round: Callable[[int, object], float],
                seconds: float, phases=(contextlib.nullcontext,)) -> list[list[float]]:
        """Run whole rounds until their op latencies add up to ``seconds``
        (checks excluded, so a round's checks never change how many
        rounds a run measures), round ``n`` inside
        ``phases[n % len(phases)]()``; returns each phase's round walls."""
        walls: list[list[float]] = [[] for _ in phases]
        measured = 0.0
        for n, (i, rnd) in enumerate(rounds):
            with phases[n % len(phases)]():
                wall = run_round(i, rnd)
            walls[n % len(phases)].append(wall)
            measured += wall
            self.sample_rss()
            if measured >= seconds and all(walls):
                break
        else:
            self.notes.append("schedule ran out before the time did")
        return walls

    @contextlib.contextmanager
    def setup_phase(self, name: str):
        """A timed, spanned step of set-up (reported, not gated)."""
        t0 = time.perf_counter()
        with self.span(f"setup.{name}"):
            yield
        self.setup_phases[name] = time.perf_counter() - t0

    @contextlib.contextmanager
    def traced(self):
        """Engine-internal spans on, for set-up and traced rounds (the
        benchmark's own spans are on for the whole of a traced run)."""
        if not self.trace:
            yield
            return
        with tracing.instrument(self.tracer, tracing.engine_targets()):
            yield

    @contextlib.contextmanager
    def untraced(self):
        """All spans off, for the untraced rounds of a traced run."""
        saved, self.span = self.span, tracing.no_span
        try:
            yield
        finally:
            self.span = saved

    def run_phases(self, rounds, run_round, probe: Callable[[], None]) -> None:
        """Untraced runs measure for ``seconds``. A traced run alternates
        untraced and traced rounds for twice as long, so warm-up drift
        falls on both alike and their medians give the tracing overhead,
        then runs the layer probes."""
        if not self.trace:
            (self.round_walls,) = self.measure(rounds, run_round, self.seconds)
            return
        self.untraced_round_walls, self.round_walls = self.measure(
            rounds, run_round, 2 * self.seconds, (self.untraced, self.traced))
        with self.traced():
            probe()

    def layer_report(self) -> tuple[dict, dict]:
        """After ``stop``: attach event-log counts to spans, write the span
        file, return (per-layer metrics, per-op breakdown)."""
        groups = tracing.read_event_log(self.work / "events")
        spans = self.tracer.spans
        tracing.attach_spark(spans, groups)
        ops = [s for s in spans if s["name"].startswith("op.")]
        layers = tracing.layer_metrics(spans, self.cores)
        u = statistics.median(self.untraced_round_walls)
        t = statistics.median(self.round_walls)
        layers["trace.overhead_pct"] = (t / u - 1.0) * 100.0
        self.out.mkdir(parents=True, exist_ok=True)
        path = self.out / f"spans-{self.workload}-s{self.seed}.jsonl"
        self.tracer.write(path)
        self.notes.append(f"span file: {path.relative_to(self.root)} ({len(spans)} spans, "
                          f"{len(ops)} ops)")
        return layers, tracing.op_breakdown(spans, self.cores)
