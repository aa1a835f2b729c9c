"""analytics_mix: a closed loop with one client over the registered queries.

Each pass forces every query of ``MIX`` once (``QUERIES[q](spark, dir)``
then ``toPandas``) and checks it against ``registry.ORACLES[q]`` through
``oracle.compare``, untimed. Every pass reads its own copy of the input
directory (hard links to the same files), because the engine's session
caches are keyed by path: a pass must not be served from the previous
pass's persisted relations.
"""

from __future__ import annotations

import os
import time
from pathlib import Path

import numpy as np

from kinesis_test_spark import registry
from kinesis_test_spark.oracle import compare, duck_con

import gen
from tracing import Tracer, job_group_stats

# query -> engine module whose operators it exercises
MIX = {
    "q_flagship": "flagship",
    "q_sessionize": "operators.sessionize",
    "q_window_frame": "operators.windows",
    "q_dedup_minhash": "operators.dedup",
    "q_text_fingerprint": "operators.text",
    "q_pipeline_llm": "operators.text",
    "q_sim_search": "operators.similarity",
}
MODULES = sorted(set(MIX.values()))
# (events, documents, vectors); the warm-up inputs are smaller: what the
# JIT has to see many times is the per-query work (planning, code
# generation, scheduling), not more rows. One warm-up pass left the timed
# passes still falling from ~5 s to ~3 s over a run, and by how much
# differed from run to run; after three the first two timed passes are
# 0-15 % above the median of the rest (31 % once in six runs), which the
# median over the passes absorbs. A fourth
# would cost a pass's time in every run, and on a slow host phase a mix
# run already takes ~80 s.
SIZES = (8_000, 500, 1_000)
WARM_SIZES = (4_000, 300, 500)
WARM_PASSES = 3
# passes per run: --seconds at this nominal pass time (a fixed count, so
# that every run of the workload does the same work; 6 at 20 s)
NOMINAL_PASS_S = 3.3


class _Collected:
    """A result already collected inside the timed region, handed to
    ``oracle.compare`` so the check does not run the query again."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def write_inputs(root: Path, seed: int, sizes: tuple[int, int, int]) -> dict[str, float]:
    n_events, n_docs, n_vectors = sizes
    rng = np.random.default_rng(seed)
    ev = gen.events(rng, gen.EventSpec(n=n_events, span_s=30 * 86_400.0))
    docs, near = gen.documents(rng, n_docs)
    tables = {"events": ev, "documents": docs, "embeddings": gen.embeddings(rng, n_vectors)}
    tables.update(gen.tpch_dims(rng))
    gen.write_tables(root, tables)
    props = gen.event_props(ev)
    props["near_dup_doc_share"] = near
    props["rows"] = float(ev.num_rows + n_docs + n_vectors)
    return props


def linked_copy(src: Path, dst: Path) -> Path:
    dst.mkdir(parents=True)
    for f in src.glob("*.parquet"):
        os.link(f, dst / f.name)
    return dst


class Mix:
    def __init__(self, spark, work: Path, seed: int, tracer: Tracer, progress=None):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        registry.load_all()

    def generate(self, seconds: float) -> dict[str, float]:
        self.warm_dir, self.dir = self.work / "warm", self.work / "timed"
        write_inputs(self.warm_dir, self.seed + 7919, WARM_SIZES)
        self.props = write_inputs(self.dir, self.seed, SIZES)
        return self.props

    def _pass(self, sf_dir: Path, tag: str) -> list[dict]:
        """Run every query once; per query: plan/run seconds, the collected
        result, and the job group its Spark jobs ran under."""
        sc = self.spark.sparkContext
        out = []
        for q in MIX:
            group = f"perfbench-{tag}-{q}"
            sc.setJobGroup(group, q)
            rec = {"q": q, "group": group, "pdf": None, "error": None}
            t = time.perf_counter()
            with self.tracer.span(f"mix.{q}"):
                try:
                    df = registry.QUERIES[q](self.spark, str(sf_dir))
                    rec["plan_s"] = time.perf_counter() - t
                    rec["pdf"] = df.toPandas()
                except Exception as e:  # a failed query is counted, not fatal
                    rec["error"] = repr(e)
            rec["wall_s"] = time.perf_counter() - t
            rec.setdefault("plan_s", rec["wall_s"])
            rec["run_s"] = rec["wall_s"] - rec["plan_s"]
            out.append(rec)
        sc.setJobGroup("perfbench-idle", "")
        return out

    def warmup(self) -> None:
        for i in range(WARM_PASSES):
            self._pass(linked_copy(self.warm_dir, self.work / f"warm_p{i}"), f"warm{i}")

    def measure(self, seconds: float) -> dict:
        passes = [
            self._pass(linked_copy(self.dir, self.work / f"p{i}"), f"p{i}")
            for i in range(max(1, round(seconds / NOMINAL_PASS_S)))
        ]
        walls = [sum(r["wall_s"] for r in recs) for recs in passes]
        lats = [r["wall_s"] * 1000.0 for recs in passes for r in recs]
        return {
            "events_per_s": self.props["rows"] / float(np.median(walls)),
            "latency_p50_ms": float(np.percentile(lats, 50)),
            "latency_p90_ms": float(np.percentile(lats, 90)),
            "pass_s": float(np.median(walls)),
            "walls": walls,
            "passes": passes,
        }

    def verify(self, r: dict) -> tuple[int, int]:
        """(attempted, failed) queries; a query fails if it raised or its
        result differs from its DuckDB oracle."""
        con = duck_con(str(self.dir))
        # One DuckDB thread: the q_sessionize oracle runs lag() and a running
        # SUM() as two windows over ORDER BY ts, event_id, and a redelivered
        # event is an exact tie on that key. DuckDB's parallel sort may order
        # the tied copies differently in the two windows and then splits one
        # session in two (seen 1 in 8 runs on the same input); the engine
        # computes both windows over one sort and does not.
        con.execute("SET threads = 1")
        try:
            oracles = {q: con.execute(registry.ORACLES[q]).df() for q in MIX}
        finally:
            con.close()
        failed = 0
        for recs in r["passes"]:
            for rec in recs:
                problems = [rec["error"]] if rec["error"] else compare(_Collected(rec["pdf"]), oracles[rec["q"]])
                if problems:
                    print(f"{rec['q']}: {problems[:3]}", flush=True)
                    failed += 1
                rec["pdf"] = None
        return sum(len(recs) for recs in r["passes"]), failed

    def layers(self, passes: list[list[dict]]) -> dict[str, float]:
        """Per engine module, per pass (medians over passes): plan/run
        seconds and the Spark work its queries' job groups did."""
        per: dict[str, list[dict[str, float]]] = {m: [] for m in MODULES}
        for recs in passes:
            acc = {m: {"plan_s": 0.0, "run_s": 0.0, "tasks": 0.0, "stages": 0.0,
                       "shuffle_bytes": 0.0, "cpu_s": 0.0, "failed_tasks": 0.0} for m in MODULES}
            for r in recs:
                a = acc[MIX[r["q"]]]
                a["plan_s"] += r["plan_s"]
                a["run_s"] += r["run_s"]
                for k, v in job_group_stats(self.spark, r["group"]).items():
                    a[k] += v
            for m in MODULES:
                per[m].append(acc[m])
        return {
            f"{m}.{k}": float(np.median([a[k] for a in per[m]]))
            for m in MODULES
            for k in per[m][0]
        }
