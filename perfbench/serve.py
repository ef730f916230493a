"""The Spark side of one serving run: set up the real front door
(file-log control transport -> plans.bql -> ControlPlane ->
DynamicMultiplexer -> status log), drive it with the generator process,
drain, and collect what the metrics are computed from."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from bullet_spark_spark.session import get_spark
from bullet_spark_spark.streaming.control import (
    ControlPlane,
    FileLogTransport,
    submit_kill,
    submit_query,
)
from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer, QueryState

from perfbench import stats
from perfbench.gen import load_pool, write_events
from perfbench.workloads import EVENT_DDL, WARM_S, QuerySpec, event_file, steady_population

HERE = Path(__file__).resolve().parent
SETUP_REPS = 3  # setup_s is the median; the first also launches the JVM
TRIGGER_MS = 200  # micro-batch trigger of the shared stream
LEAD_S = 1.5  # generator start-up allowance before its first due time
KILL_GAP_S = 0.01  # serve_steady's end-of-run KILLs are spread this far apart
DRAIN_TIMEOUT_S = 60.0
GRACE_S = 20.0  # terminal events must arrive this long after they are due
WARMUP_ROWS = 200
WARMUP_BQL = "SELECT event_type, COUNT(*) AS c FROM STREAM() GROUP BY event_type"
SPARK_CONF = {
    "spark.driver.memory": "2g",
    "spark.sql.streaming.numRecentProgressUpdates": "100000",
}


def wait_for(pred, timeout: float, step: float = 0.05) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(step)
    return pred()


class StatusTail:
    """Incremental reader of the JSON-lines status log."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.events: list[dict] = []
        self.seen: set[tuple[str, str]] = set()  # (query_id, type)
        self._pos = 0
        self._partial = ""

    def poll(self) -> list[dict]:
        try:
            with open(self.path) as fh:
                fh.seek(self._pos)
                chunk = fh.read()
                self._pos = fh.tell()
        except FileNotFoundError:
            return self.events
        lines = (self._partial + chunk).split("\n")
        self._partial = lines.pop()
        for ln in lines:
            if ln.strip():
                e = json.loads(ln)
                self.events.append(e)
                self.seen.add((e.get("query_id"), e.get("type")))
        return self.events

    def has(self, kind: str, *qids: str) -> bool:
        """Whether every query in ``qids`` has an event of type ``kind``."""
        self.poll()
        return all((q, kind) in self.seen for q in qids)


@dataclass
class Rep:
    """One set-up of the serving path."""

    dir: Path
    spark: object
    mux: DynamicMultiplexer
    plane: ControlPlane
    stream: object
    status: StatusTail
    seconds: float = 0.0
    probe_ms: float | None = None
    submit_s: dict[str, float] = field(default_factory=dict)


class ServeRun:
    def __init__(self, workload: str, seed: int, seconds: float, work: Path, pool: str, tracer=None):
        """``work`` is the run directory; the JVM's temporary files go to
        ``work/tmp``."""
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.pool_path = pool
        self.pool = load_pool(pool)
        self.tracer = tracer
        self.population: list[QuerySpec] = (
            steady_population(seed) if workload == "serve_steady" else []
        )

    # -- set-up ---------------------------------------------------------------

    def setup(self, rep_no: int, probe: bool) -> Rep:
        t0 = time.perf_counter()
        d = self.work / f"rep{rep_no}"
        events, ctl = d / "events", d / "control"
        for p in (events, ctl):
            p.mkdir(parents=True)
        status_path = str(d / "status.jsonl")
        conf = {**SPARK_CONF, "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'}"}
        spark = get_spark(app_name="perfbench", master="local[4]", extra_conf=conf)
        probe_ms = None
        if probe:  # host context, measured on the idle session and not timed
            t_probe = time.perf_counter()
            probe_ms = probe_1task_ms(spark)
            t0 += time.perf_counter() - t_probe
        stream_df = spark.readStream.schema(EVENT_DDL).parquet(str(events))
        mux = DynamicMultiplexer(spark)
        if self.tracer is not None:
            transport = self.tracer.transport(str(ctl), status_path)
        else:
            transport = FileLogTransport(str(ctl), status_path)
        plane = ControlPlane(spark, mux, transport=transport)
        if self.tracer is not None:
            self.tracer.install(spark, mux, plane)
        plane.start()
        stream = mux.start(stream_df, trigger_ms=TRIGGER_MS, checkpoint_dir=str(d / "ck"))
        rep = Rep(d, spark, mux, plane, stream, StatusTail(status_path), probe_ms=probe_ms)

        # warm-up: one query sees one small file end to end, then is killed
        submit_query(str(ctl), "warmup", WARMUP_BQL)
        self._must(wait_for(lambda: "warmup" in mux.queries, 30), "warm-up query never registered")
        write_events(self.pool, list(range(WARMUP_ROWS)), -WARMUP_ROWS, str(events / "warmup.parquet"))
        self._must(wait_for(lambda: rep.status.has("WINDOW", "warmup"), 60), "warm-up WINDOW never arrived")
        submit_kill(str(ctl), "warmup")
        self._must(wait_for(lambda: rep.status.has("RESULT", "warmup"), 30), "warm-up RESULT never arrived")
        if self.tracer is not None:
            self.tracer.reset()

        for q in self.population:
            rep.submit_s[q.qid] = time.time()
            submit_query(str(ctl), q.qid, q.bql, duration_ms=q.duration_ms, quantile_width=q.width)
        self._must(
            wait_for(lambda: all(q.qid in mux.queries for q in self.population), 30),
            "population never registered",
        )
        rep.seconds = time.perf_counter() - t0
        return rep

    @staticmethod
    def _must(ok: bool, what: str) -> None:
        if not ok:
            raise RuntimeError(what)

    @staticmethod
    def teardown(rep: Rep) -> None:
        rep.plane.stop()
        rep.mux.stop()
        rep.spark.stop()

    # -- the measured run -------------------------------------------------------

    def run(self) -> dict:
        load_before = stats.host_context()
        reps = []
        for i in range(SETUP_REPS):
            if reps:
                self.teardown(reps[-1])
            reps.append(self.setup(i, probe=i == SETUP_REPS - 1))
        rep = reps[-1]
        spark, mux = rep.spark, rep.mux
        traced = self.tracer is not None
        if traced:
            from perfbench.trace import jvm_gc_ms, jvm_heap_used_mb

        manifest_path = rep.dir / "manifest.json"
        system = [os.getpid()] + stats.descendants(os.getpid())  # this process + JVM
        start = time.time() + LEAD_S
        measured = start + WARM_S
        gen = subprocess.Popen(
            [
                sys.executable, str(HERE / "gen.py"),
                "--workload", self.workload, "--seed", str(self.seed),
                "--seconds", str(self.seconds), "--start", repr(start),
                "--pool", self.pool_path, "--events-dir", str(rep.dir / "events"),
                "--control-dir", str(rep.dir / "control"), "--manifest", str(manifest_path),
            ]
        )
        # sampled every 0.25 s while the generator runs: (time, CPU s of
        # this process + JVM, host steal and total ticks) and (time, RUNNING
        # handles, all handles); JVM heap and GC time over the measured
        # window when traced
        cpu, handles, heap, gc0 = [], [], [], None
        try:
            while gen.poll() is None:
                now = time.time()
                cpu.append((now, stats.cpu_seconds(system), *stats.host_jiffies()))
                handles.append((now, *handle_counts(mux)))
                if traced and now >= measured:
                    gc0 = jvm_gc_ms(spark) if gc0 is None else gc0
                    heap.append(jvm_heap_used_mb(spark))
                time.sleep(0.25)
        finally:
            if gen.poll() is None:
                gen.kill()
            gen.wait()
        if traced:
            gc_ms = jvm_gc_ms(spark) - gc0
        if gen.returncode != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
        with open(manifest_path) as fh:
            manifest = json.load(fh)

        ck = rep.dir / "ck"
        names = {event_file(f["i"]) for f in manifest["files"]}
        drained = wait_for(lambda: drained_through(ck, names), DRAIN_TIMEOUT_S, 0.1)
        kill_ops = []
        if self.population:
            t_kill = time.time() + 0.5
            for i, q in enumerate(self.population):
                due = t_kill + i * KILL_GAP_S
                while time.time() < due:
                    time.sleep(min(due - time.time(), 0.01))
                kill_ops.append({"qid": q.qid, "kind": "kill", "due": due, "start": time.time()})
                submit_kill(str(rep.dir / "control"), q.qid)
            last_due = kill_ops[-1]["due"]
            qids = [q.qid for q in self.population]
        else:
            qids = [op["qid"] for op in manifest["queries"] if op["kind"] == "submit"]
            last_due = start + WARM_S + self.seconds + 5.0
        wait_for(
            lambda: rep.status.has("SIGNAL", *qids),
            max(0.0, last_due - time.time()) + GRACE_S,
            0.25,
        )
        handles_end = len(mux.queries)
        rep.plane.stop()
        rep.mux.stop()
        progress = [json.loads(p.json) for p in rep.stream.recentProgress]
        pids = [os.getpid()] + stats.descendants(os.getpid())
        rss = stats.rss_peak_mb(pids)
        probe_end_ms = probe_1task_ms(spark)
        spark.stop()
        out = {
            "start": start,
            "manifest": manifest,
            "kill_ops": kill_ops,
            "events": rep.status.poll(),
            "progress": progress,
            "file_batches": file_batches(ck),
            "drained": drained,
            "qids": qids,
            "population_submit_s": rep.submit_s,
            "setup_s": [r.seconds for r in reps],
            "probe_1task_ms": rep.probe_ms,
            "probe_1task_ms_end": probe_end_ms,
            "rss_peak_mb": rss,
            "handles": handles,
            "handles_end": handles_end,
            "loadavg_before": load_before["loadavg"],
            "loadavg_after": stats.host_context()["loadavg"],
            "nproc": load_before["nproc"],
            "events_dir": str(rep.dir / "events"),
            "cpu": cpu,
        }
        if traced:
            out["jvm_gc_ms"] = gc_ms
            out["jvm_heap_used_mb"] = max(heap)
        return out


def handle_counts(mux) -> tuple[int, int]:
    """(RUNNING, all) handles the multiplexer holds. Read without its lock,
    which a batch or a tick can hold for seconds; a registry change during
    the read is retried."""
    for _ in range(10):
        try:
            hs = list(mux.queries.values())
        except RuntimeError:  # changed size during iteration
            continue
        return sum(1 for h in hs if h.state is QueryState.RUNNING), len(hs)
    return 0, 0


def file_batches(ck: Path) -> dict[str, int]:
    """Event file name -> the micro-batch that read it, from the file
    source's metadata log in the checkpoint. (``numInputRows`` counts a
    row once per scan, and a batch with RAW queries scans twice.)"""
    out: dict[str, int] = {}
    d = ck / "sources" / "0"
    if not d.is_dir():
        return out
    for f in os.listdir(d):
        if f.startswith("."):
            continue
        with open(d / f) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                out[e["path"].rsplit("/", 1)[-1]] = e["batchId"]
    return out


def drained_through(ck: Path, names: set[str]) -> bool:
    """Every file in ``names`` was read by a committed micro-batch."""
    got = file_batches(ck)
    if not names <= got.keys():
        return False
    commits = [int(f) for f in os.listdir(ck / "commits") if f.isdigit()]
    return bool(commits) and max(got[n] for n in names) <= max(commits)


def probe_1task_ms(spark, n: int = 5) -> float:
    """Median wall time of a warm one-task job: the scheduler/JVM floor of
    the host at the time of the run."""
    sc = spark.sparkContext
    sc.parallelize([1], 1).count()
    samples = []
    for _ in range(n):
        t0 = time.perf_counter()
        sc.parallelize([1], 1).count()
        samples.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(samples)


def batches_in(progress: list[dict], file_batches: dict[str, int], files: list[dict]) -> list[dict]:
    """The micro-batches that read generated event files, each with its
    ``rows`` (from the source log) and trigger ``start`` (epoch s)."""
    rows: dict[int, int] = {}
    for f in files:
        bid = file_batches.get(event_file(f["i"]))
        if bid is not None:
            rows[bid] = rows.get(bid, 0) + f["rows"]
    out = []
    for p in progress:
        if p["batchId"] in rows and p.get("numInputRows", 0) > 0:
            ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            out.append({**p, "rows": rows[p["batchId"]], "start": ts})
    return out


def read_generated(events_dir: str):
    """All rows the generator wrote (the warm-up file excluded)."""
    files = sorted(f for f in os.listdir(events_dir) if f.startswith("ev-"))
    return pa.concat_tables([pq.read_table(os.path.join(events_dir, f)) for f in files]).to_pandas()


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop any live SparkContext and wait for the JVM process to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def clean(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
