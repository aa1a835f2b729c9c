"""The ingest workload over the engine's reference pipeline.

It drives only public functions of ``kinesis_test_spark.streaming.
pipeline``: ``read_staged_stream`` -> drop NULL ``event_id`` ->
``dropDuplicates(["event_id"])`` -> ``partitioned_json_sink``, under
``sized_state(state_partitions_for(stage))``.

* ingest_live: the reference's steady-state loop, an OPEN loop. Arrivals
  are pre-generated; a generator thread renames them into the stage dir
  on a fixed schedule whatever the consumer is doing, and the consumer
  drains whenever arrivals are present, under one checkpoint for the
  whole run. An arrival's latency runs from its scheduled landing time to
  the return of the drain whose micro-batch consumed it; membership is
  read from the checkpoint's file-source log.
* Backlog: a consumer catching up after an outage, a staged 30-day backlog
  (~720 hourly sink dirs) drained from scratch. The traced ingest_live run
  times it on all cores and on one, for the single-core baseline.
"""

from __future__ import annotations

import json
import shutil
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path
from urllib.parse import urlparse

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from kinesis_test_spark.oracle import canon_frame
from kinesis_test_spark.streaming.pipeline import (
    partitioned_json_sink,
    read_staged_stream,
    sized_state,
    state_partitions_for,
)

import gen
from tracing import Progress, Tracer, job_group_stats

# catch-up baseline input: 20k distinct events over 30 days, staged as 24
# arrivals. The warm-up backlog spans the same 720 hours with fewer rows,
# so every sink dir and code path is touched before timing.
BACKLOG = gen.EventSpec(n=20_000, span_s=30 * 86_400.0)
BACKLOG_WARM = gen.EventSpec(n=5_000, span_s=30 * 86_400.0)
BACKLOG_FILES = 24
BACKLOG_DRAINS = 3
# ingest_live input: one arrival every LIVE_INTERVAL_S of LIVE_EVENTS
# events; event time spans a few hours, late events up to 3 h. 667 events/s
# is about half of what the pipeline sustains on 4 cores: at 2000 events/s
# arrival latency grew 40-70 % from the first to the last third of an 18 s
# run, at ~1300 events/s it just held, at 667 events/s it stayed flat. The
# short interval gives >= 100 arrivals, so >= 10 samples past p90, per run.
LIVE_INTERVAL_S = 0.15
LIVE_EVENTS = 100
LIVE_WARM_S = 8.0


@dataclass
class Drain:
    wall_s: float
    ok: bool = True
    runs: list[str] = field(default_factory=list)


@dataclass
class Staged:
    sf_dir: Path  # holds events.parquet: the schema source
    stage: Path
    table: pa.Table
    props: dict[str, float]


def stage_inputs(root: Path, seed: int, spec: gen.EventSpec, parts: int, stage_name="stage") -> Staged:
    """Generate an events stream and cut it into ``parts`` arrival files
    under ``root/<stage_name>`` (``aNNNNN.parquet``, in arrival order)."""
    tbl = gen.events(np.random.default_rng(seed), spec)
    gen.write_tables(root, {"events": tbl})
    stage = root / stage_name
    stage.mkdir(parents=True, exist_ok=True)
    for i, part in enumerate(gen.split(tbl, parts)):
        pq.write_table(part, stage / f"a{i:05d}.parquet")
    return Staged(root, stage, tbl, gen.event_props(tbl))


class Pipeline:
    """One consumer: stage dir -> checkpoint + y/m/d/h JSON sink."""

    def __init__(self, spark, tracer: Tracer, progress: Progress | None, sf_dir: Path, stage: Path, out: Path, cp: Path):
        self.spark, self.tracer, self.progress = spark, tracer, progress
        self.sf_dir, self.stage, self.out, self.cp = sf_dir, stage, out, cp
        self.drains: list[Drain] = []

    def drain(self) -> Drain:
        spark = self.spark
        mark = len(self.progress.started) if self.progress else 0
        t = time.perf_counter()
        ok = True
        with self.tracer.span("pipeline.drain"):
            try:
                stream = (
                    read_staged_stream(spark, str(self.sf_dir), self.stage)
                    .filter(F.col("event_id").isNotNull())
                    .dropDuplicates(["event_id"])
                )
                with sized_state(spark, state_partitions_for(spark, self.stage)):
                    partitioned_json_sink(stream, self.out, self.cp)
            except Exception as e:  # a failed drain is counted, not fatal
                print(f"drain failed: {e!r}", flush=True)
                ok = False
        d = Drain(time.perf_counter() - t, ok)
        if self.progress:
            d.runs = self.progress.runs_since(mark) if ok else self.progress.started[mark:]
        self.drains.append(d)
        return d

    def consumed(self) -> set[str]:
        """Names of the arrival files some committed micro-batch read, from
        the checkpoint's file-source log (``N`` and ``N.compact`` files: a
        version line, then one JSON entry per file)."""
        log = self.cp / "sources" / "0"
        out: set[str] = set()
        if not log.is_dir():
            return out
        for f in log.iterdir():
            if f.name.startswith(".") or f.name.endswith(".tmp"):
                continue
            for line in f.read_text().splitlines()[1:]:
                out.add(Path(urlparse(json.loads(line)["path"]).path).name)
        return out


# -- verification --------------------------------------------------------

TRUTH_SQL = """
SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
       CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h,
       event_type, COUNT(*) AS n
FROM (SELECT DISTINCT * FROM read_parquet({files}) WHERE event_id IS NOT NULL)
GROUP BY 1, 2, 3, 4, 5
"""
MISSING_SQL = """
WITH a AS (SELECT DISTINCT filename, event_id FROM read_parquet({files}, filename = true)
           WHERE event_id IS NOT NULL)
SELECT filename, COUNT(*) FILTER (WHERE s.event_id IS NULL)
FROM a LEFT JOIN (SELECT DISTINCT event_id FROM sink) s USING (event_id)
GROUP BY filename
"""
SINK_SQL = """
CREATE TEMP TABLE sink AS
SELECT CAST(y AS INT) AS y, CAST(m AS INT) AS m, CAST(d AS INT) AS d,
       CAST(h AS INT) AS h, event_type, event_id
FROM read_json('{out}/*/*/*/*/*.json', hive_partitioning = true,
               columns = {{'event_id': 'BIGINT', 'event_type': 'VARCHAR'}})
"""


def verify_sink(out: Path, files: list[Path]) -> tuple[list[str], dict[str, int]]:
    """Sink read back vs DuckDB over the distinct non-NULL-id input rows,
    per (y, m, d, h, event_type) -- the s_reference_pipeline oracle shape --
    plus exactly-once: every sink row carries a distinct event_id.
    Returns the problems and, per input file, how many of its distinct
    event ids are missing from the sink."""
    names = "[" + ",".join(f"'{f}'" for f in files) + "]"
    problems: list[str] = []
    with duckdb.connect() as con:
        con.execute(SINK_SQL.format(out=out))
        rows, ids = con.execute("SELECT COUNT(*), COUNT(DISTINCT event_id) FROM sink").fetchone()
        if rows != ids:
            problems.append(f"sink holds {rows} rows for {ids} distinct event ids")
        truth = con.execute(TRUTH_SQL.format(files=names)).df()
        got = con.execute(
            "SELECT y, m, d, h, event_type, COUNT(*) AS n FROM sink GROUP BY 1, 2, 3, 4, 5"
        ).df()
        if canon_frame(truth) != canon_frame(got):
            problems.append(f"per-hour counts differ: sink {len(got)} groups, DuckDB {len(truth)}")
        missing = dict(con.execute(MISSING_SQL.format(files=names)).fetchall())
    return problems, missing


def sink_layout(out: Path) -> dict[str, float]:
    files = [p for p in out.glob("*/*/*/*/*.json")]
    dirs = {p.parent for p in files}
    return {
        "sink.files": float(len(files)),
        "sink.dirs": float(len(dirs)),
        "sink.bytes": float(sum(p.stat().st_size for p in files)),
        "sink.files_per_dir": len(files) / max(1, len(dirs)),
    }


# -- per-layer metrics from listener progress + job-group status ----------

_DURATIONS = {
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
    "stream.add_batch_ms": "addBatch",
}


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def drain_layers(spark, progress: Progress, drains: list[Drain], files_consumed: int) -> dict[str, float]:
    batches = [p for d in drains for r in d.runs for p in progress.progress.get(r, [])]
    batches = [p for p in batches if p.get("numInputRows", 0) > 0]
    m: dict[str, float] = {
        "pipeline.drain_s": _median([d.wall_s for d in drains]),
        "pipeline.drains": float(len(drains)),
        "pipeline.batches": float(len(batches)),
        "pipeline.arrivals_per_batch": files_consumed / max(1, len(batches)),
    }
    overhead = []
    for d in drains:
        trig = sum(p["durationMs"].get("triggerExecution", 0) for r in d.runs for p in progress.progress.get(r, []))
        overhead.append(d.wall_s * 1000.0 - trig)
    m["pipeline.start_overhead_ms"] = _median(overhead)
    for name, key in _DURATIONS.items():
        m[name] = _median([p["durationMs"].get(key, 0) for p in batches])
    ops = [p["stateOperators"][0] for p in batches if p.get("stateOperators")]
    last = ops[-1] if ops else {"customMetrics": {}}
    cm = last.get("customMetrics", {})
    m.update({
        "state.rows_total": float(last.get("numRowsTotal", 0)),
        "state.memory_bytes": float(last.get("memoryUsedBytes", 0)),
        "state.commit_ms": _median([o.get("commitTimeMs", 0) for o in ops]),
        "state.load_ms": _median([o["customMetrics"].get("rocksdbLoadLatencyMs", 0) for o in ops]),
        "state.replay_changelog_files": float(cm.get("rocksdbNumReplayChangelogFiles", 0)),
        "state.replay_ms": float(cm.get("rocksdbReplayChangeLogLatencyMs", 0)),
        "state.snapshot_last_uploaded": float(
            min((v for k, v in cm.items() if k.startswith("SnapshotLastUploaded")), default=-1)
        ),
        "state.instances": float(last.get("numStateStoreInstances", 0)),
        "state.dropped_duplicates": float(
            sum(o["customMetrics"].get("numDroppedDuplicateRows", 0) for o in ops)
        ),
    })
    totals = {"tasks": 0.0, "failed_tasks": 0.0, "cpu_s": 0.0, "shuffle_bytes": 0.0}
    for d in drains:
        for r in d.runs:
            for k, v in job_group_stats(spark, r).items():
                if k in totals:
                    totals[k] += v
    n = max(1, len(drains))
    m.update({
        "stream.tasks": totals["tasks"] / n,
        "stream.failed_tasks": totals["failed_tasks"] / n,
        "stream.cpu_s": totals["cpu_s"] / n,
        "stream.shuffle_write_bytes": totals["shuffle_bytes"] / n,
    })
    return m


# -- workloads -----------------------------------------------------------


class Backlog:
    """The catch-up baseline of the traced ingest_live run: a staged 30-day
    backlog drained from scratch, with a fresh checkpoint and sink each
    time, after one warm-up drain of a smaller backlog over the same hours.
    Timed on the run's own session and again on a ``local[1]`` one."""

    def __init__(self, work: Path, seed: int, tracer: Tracer):
        self.work, self.tracer = work, tracer
        self.warm = stage_inputs(work / "warm", seed + 7919, BACKLOG_WARM, BACKLOG_FILES)
        self.inp = stage_inputs(work / "timed", seed, BACKLOG, BACKLOG_FILES)
        self.files = sorted(self.inp.stage.glob("*.parquet"))

    def drain_s(self, spark, tag: str) -> tuple[float, bool]:
        """Median wall time of BACKLOG_DRAINS warm drains, and whether every
        drain ran and its sink matches DuckDB."""
        d = self.work / "runs" / f"{tag}-warm"
        warm = Pipeline(spark, self.tracer, None, self.warm.sf_dir, self.warm.stage, d / "out", d / "cp")
        ok = warm.drain().ok
        walls = []
        for i in range(BACKLOG_DRAINS):
            d = self.work / "runs" / f"{tag}{i}"
            p = Pipeline(spark, self.tracer, None, self.inp.sf_dir, self.inp.stage, d / "out", d / "cp")
            drain = p.drain()
            walls.append(drain.wall_s)
            problems = verify_sink(p.out, self.files)[0] if drain.ok else ["raised"]
            if problems:
                print(f"backlog drain {tag}{i}: {problems}", flush=True)
            ok = ok and not problems
        shutil.rmtree(self.work / "runs", ignore_errors=True)
        return _median(walls), ok


class Live:
    """ingest_live: open-loop arrivals, one long-lived consumer."""

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer, progress: Progress | None):
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.progress = tracer, progress

    def _pool(self, root: Path, seed: int, seconds: float) -> Staged:
        n_arr = max(1, int(round(seconds / LIVE_INTERVAL_S)))
        spec = gen.EventSpec(n=n_arr * LIVE_EVENTS, span_s=4 * 3600.0)
        inp = stage_inputs(root, seed, spec, n_arr, stage_name="pending")
        (root / "stage").mkdir()
        return inp

    def generate(self, seconds: float) -> dict[str, float]:
        self.warm = self._pool(self.work / "warm", self.seed + 7919, LIVE_WARM_S)
        self.inp = self._pool(self.work / "timed", self.seed, seconds)
        return self.inp.props

    def _open_loop(self, inp: Staged) -> dict:
        root = inp.sf_dir
        pending = sorted(inp.stage.glob("*.parquet"))
        stage = root / "stage"
        p = Pipeline(self.spark, self.tracer, self.progress, root, stage, root / "out", root / "cp")
        due: dict[str, float] = {}
        landed = [0]
        lag_ms: list[float] = []
        t0 = time.perf_counter() + 0.05

        def generator() -> None:
            for i, f in enumerate(pending):
                at = t0 + i * LIVE_INTERVAL_S
                wait = at - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                due[f.name] = at
                f.rename(stage / f.name)
                lag_ms.append((time.perf_counter() - at) * 1000.0)
                landed[0] = i + 1

        g = threading.Thread(target=generator, daemon=True)
        g.start()
        latency: dict[str, float] = {}
        try:
            while len(latency) < len(pending):
                if landed[0] > len(latency):
                    before = len(latency)
                    p.drain()
                    back = time.perf_counter()
                    for name in p.consumed() - latency.keys():
                        latency[name] = (back - due[name]) * 1000.0
                    # stop on repeated failures, or when everything has
                    # landed and a drain no longer consumes any of it
                    stuck = len(latency) == before and not g.is_alive()
                    if stuck or sum(not d.ok for d in p.drains) >= 3:
                        break
                else:
                    time.sleep(0.005)
        finally:
            g.join()
        return {"pipeline": p, "latency": latency, "lag_ms": lag_ms, "arrivals": pending}

    def warmup(self) -> None:
        self._open_loop(self.warm)

    def measure(self, seconds: float) -> dict:
        r = self._open_loop(self.inp)
        p: Pipeline = r["pipeline"]
        lats = list(r["latency"].values()) or [float("nan")]
        walls = [d.wall_s for d in p.drains]
        distinct = len(np.unique(self.inp.table.column("event_id").drop_null().to_numpy()))
        r.update({
            "events_per_s": distinct / max(1e-9, sum(walls)),
            "latency_p50_ms": float(np.percentile(lats, 50)),
            "latency_p90_ms": float(np.percentile(lats, 90)),
            "latency_samples": len(r["latency"]),
            "pass_s": _median(walls),
            "walls": walls,
            "drains": p.drains,
            "files_consumed": len(r["arrivals"]),
            "gen.lag_p90_ms": float(np.percentile(r["lag_ms"], 90)),
        })
        return r

    def verify(self, r: dict) -> tuple[int, int]:
        """(attempted, failed) over drains and arrivals. An arrival fails if
        no drain consumed it or any of its events is missing from the sink;
        a drain fails if it raised, and every drain fails if the sink as a
        whole differs from DuckDB."""
        p: Pipeline = r["pipeline"]
        arrivals = [p.stage / f.name for f in r["arrivals"]]
        problems, missing = verify_sink(p.out, arrivals)
        if problems:
            print(f"live sink: {problems}", flush=True)
        bad_arrivals = sum(
            1 for f in arrivals if f.name not in r["latency"] or missing.get(str(f), 1) > 0
        )
        bad_drains = len(p.drains) if problems else sum(not d.ok for d in p.drains)
        r["layout"] = sink_layout(p.out)
        return len(p.drains) + len(arrivals), bad_drains + bad_arrivals
