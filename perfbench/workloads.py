"""The benchmark's workloads.

Each workload generates its inputs from the seed, stores them to
parquet, warms up, and then either measures its operations with
tracing off (``measure``) or runs them untraced and traced in turn
(``trace``). Every operation's output is checked; a failed check or an
exception counts as a failed operation.

- ``build_bcast``: ``build_dataset`` with default arguments (the dim is
  small, so it is broadcast), forced to a complete ``docs_out``.
- ``docs_resume``: ``from_docs`` with a shuffled dim, written through
  ``StageStore.run_stage`` into a fresh store; a fixed quarter of the
  buckets is then dropped and the stage resumed.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from georip_spark import pipeline, synth
from georip_spark.lineage import StageStore
from georip_spark.oracle import pandas_ref

from tracing import Tracer, counters

_H = 1 << 32

# every per-layer metric: (name, unit); a workload that does not use a
# layer reports 0 for it
LAYER_METRICS = {
    "session.start_s": "s",
    "tiling.self_s": "s",
    "tiling.tiles_out": "count",
    "tiling.gc_s": "s",
    "joins.prepare.self_s": "s",
    "joins.prepare.regions_kept": "count",
    "joins.cell_join.self_s": "s",
    "joins.cell_join.pairs_out": "count",
    "joins.cell_join.shuffle_bytes": "bytes",
    "pipeline.build_labels.self_s": "s",
    "pipeline.build_labels.labels_out": "count",
    "pipeline.build_labels.clip_yield": "ratio",
    "pipeline.assemble.self_s": "s",
    "pipeline.assemble.shuffle_bytes": "bytes",
    "pipeline.plan_s": "s",
    "spark.jobs_per_run": "count",
    "lineage.write_s": "s",
    "lineage.bytes_written": "bytes",
    "lineage.resume.recompute_ratio": "ratio",
    "lineage.resume.exec_ratio": "ratio",
    "spark.gc_share": "ratio",
    "spark.spill_bytes": "bytes",
    "spark.tasks_failed": "count",
    "trace.overhead_s": "s",
}

# the engine functions each pipeline workload traces, as named in the
# module that calls them: (module, attribute, span name)
_PIPELINE_CALLS = (
    (pipeline, "build_dataset", "pipeline.build_dataset"),
    (pipeline, "from_docs", "pipeline.from_docs"),
    (pipeline, "tile_grid", "tiling"),
    (pipeline, "tiles_from_docs", "tiling"),
    (pipeline, "prepare_regions", "joins.prepare"),
    (pipeline, "spatial_join_tiles_regions", "joins.cell_join"),
    (pipeline, "build_labels", "pipeline.build_labels"),
    (pipeline, "assemble_docs", "pipeline.assemble"),
)
_LINEAGE_CALLS = _PIPELINE_CALLS + (
    (StageStore, "run_stage", "lineage.run_stage"),
)


def docs_digest(docs: DataFrame) -> tuple[int, int, int, int]:
    """(docs, spans, h1, h2): two sums of per-doc hashes over doc_id and
    the span array. A doc's hash changes with any span or span order;
    the sums do not depend on how the rows are partitioned."""
    r = docs.select(
        F.count(F.lit(1)),
        F.sum(F.size("spans")),
        F.sum(F.pmod(F.xxhash64("doc_id", "spans"), F.lit(_H))),
        F.sum(F.pmod(F.xxhash64(F.lit(1), "doc_id", "spans"), F.lit(_H))),
    ).first()
    return tuple(int(v or 0) for v in r)


class Workload:
    """Shared run state: the session, the seed, a work directory, and
    the tally of attempted and failed operations."""

    name = ""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {"op": [], "op2": []}
        self.rows = 0

    def store(self, df: DataFrame, name: str) -> DataFrame:
        path = os.path.join(self.work, "inputs", name)
        df.write.parquet(path)
        return self.spark.read.parquet(path)

    def attempt(self, fn, *args):
        """Run one operation; its check result or exception is tallied.
        Returns the operation's value, or None if it failed."""
        self.attempted += 1
        try:
            ok, value = fn(*args)
        except Exception:  # an operation that fails is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ok, value = False, None
        if not ok:
            self.failed += 1
            print(f"{self.name}: {getattr(fn, '__name__', fn)} failed its check",
                  file=sys.stderr)
        return value if ok else None

    def measure(self, seconds: float) -> None:
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline or (
                not all(self.samples.values()) and i < 3):
            self.round(i)
            i += 1
        if not all(self.samples.values()):
            raise RuntimeError(f"{self.name}: no operation of some kind succeeded")
        self.final_checks()

    def make_inputs(self) -> None:
        """Generate the inputs from the seed and store them."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """Run the operations until their times settle."""
        raise NotImplementedError

    def round(self, i: int) -> None:
        """Run and time the i-th round of operations."""
        raise NotImplementedError

    def final_checks(self) -> None:
        """Checks run once after the measured rounds."""

    def trace(self, tr: Tracer) -> dict:
        """Operations untraced and traced in turn; returns per-layer metrics."""
        raise NotImplementedError


class BuildBcast(Workload):
    """build_dataset over stored rasters + regions; dim broadcast."""

    name = "build_bcast"
    N_DOCS = 1000
    POLYS = 3
    ORACLE_DOCS = 6

    def make_inputs(self) -> None:
        self.rasters = self.store(synth.synth_rasters(self.spark, self.N_DOCS), "rasters")
        self.regions = self.store(
            synth.synth_regions(self.spark, self.rasters, self.POLYS), "regions")

    def warm_up(self) -> None:
        ids = sorted(r[0] for r in self.rasters.select("doc_id").collect())
        self.oracle_ids = random.Random(self.seed).sample(ids, self.ORACLE_DOCS)
        # two warm-up builds (the first takes about three times as long
        # as later ones); every later digest must match the first's
        _, _, self.expected, out = self._build()
        self.warm_docs = out["docs_out"]
        self.attempt(self.build)

    def _build(self):
        t = time.perf_counter()
        out = pipeline.build_dataset(self.rasters, self.regions)
        plan_s = time.perf_counter() - t
        digest = docs_digest(out["docs_out"])
        return time.perf_counter() - t, plan_s, digest, out

    def build(self):
        total, plan_s, digest, out = self._build()
        return digest == self.expected, (total, plan_s, digest, out)

    def round(self, i: int) -> None:
        r = self.attempt(self.build)
        if r:
            self.samples["op"].append(r[0])
            self.samples["op2"].append(r[1])
            self.rows = r[2][1]

    def final_checks(self) -> None:
        self.attempt(self.oracle)

    def oracle(self):
        """Spans of a seeded sample of docs equal the pandas oracle's."""
        docs = self.warm_docs
        got = {
            r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"])
                          for s in r["spans"]]
            for r in docs.filter(F.col("doc_id").isin(self.oracle_ids)).collect()
        }
        rast = self.rasters.filter(F.col("doc_id").isin(self.oracle_ids)).toPandas()
        keys = rast[["region", "start_year", "end_year"]]
        regs = self.regions.filter(
            F.col("region").isin(sorted(set(keys["region"])))
        ).toPandas().merge(keys, on=["region", "start_year", "end_year"])
        tiles = pandas_ref.tile_grid_pd(rast)
        want = pandas_ref.assemble_docs_pd(tiles, pandas_ref.build_labels_pd(tiles, regs))
        return got == want and len(got) == self.ORACLE_DOCS, None

    def trace(self, tr: Tracer) -> dict:
        def op():
            r = self.attempt(self.build)
            return r[3] if r else None

        m, calls, out = traced_ops(tr, op, _PIPELINE_CALLS)
        m.update(pipeline_layers(tr, calls, out))
        return m


def traced_ops(tr: Tracer, op, targets):
    """Run ``op`` untraced, then with ``targets`` traced. Returns the
    untraced op's job count, the tracing overhead (traced minus
    untraced time of the same op), and the traced op's calls and value."""
    with tr.span("untraced", "op") as plain:
        op()
    with tr.span("traced", "op") as traced, tr.patched(targets) as calls:
        out = op()
    if out is None:
        raise RuntimeError("the traced operation failed")
    m = {
        "spark.jobs_per_run": tr.counters_of(plain["id"]).jobs,
        "trace.overhead_s": tr.duration(traced["id"]) - tr.duration(plain["id"]),
    }
    return m, calls, out


def pipeline_layers(tr: Tracer, calls, out: dict) -> dict:
    """Per-layer metrics of one traced build_dataset / from_docs call
    (its calls and returned dict).

    A layer's self time excludes the forced time of these inputs:
    tiling and joins.prepare none (they start from the stored inputs),
    joins.cell_join the tiles and the prepared regions, build_labels
    the cell join's output, assemble the labels alone: docs_out reuses
    the tiles branch the labels already ran (forced docs_out is no
    slower than forced labels), so subtracting the tiles as well would
    count them twice."""
    by: dict[str, list] = {}
    for c in calls:
        by.setdefault(c.name, []).append(c)
    joined = by["joins.cell_join"][-1].out
    layers = {
        "tiling": (out["tiles"], []),
        "joins.prepare": (out["regions_prepared"], []),
        "joins.cell_join": (joined, [out["tiles"], out["regions_prepared"]]),
        "pipeline.build_labels": (out["labels"], [joined]),
        "pipeline.assemble": (out["docs_out"], [out["labels"]]),
    }
    m = {}
    top = next(c for c in calls if c.name in ("pipeline.build_dataset", "pipeline.from_docs"))
    with tr.span("physical_plan") as rec:
        out["docs_out"]._jdf.queryExecution().executedPlan()
    m["pipeline.plan_s"] = top.call_s + tr.duration(rec["id"])
    for name, (df, inputs) in layers.items():
        lay = tr.layer(by[name], df, inputs)
        m[f"{name}.self_s"] = lay["self_s"]
        c = lay["counters"]
        if name == "tiling":
            m["tiling.tiles_out"] = lay["rows"]
            m["tiling.gc_s"] = c.gc_s
        elif name == "joins.prepare":
            m["joins.prepare.regions_kept"] = lay["rows"]
        elif name == "joins.cell_join":
            m["joins.cell_join.pairs_out"] = lay["rows"]
            m["joins.cell_join.shuffle_bytes"] = c.shuffle_bytes
        elif name == "pipeline.build_labels":
            m["pipeline.build_labels.labels_out"] = lay["rows"]
        else:
            m["pipeline.assemble.shuffle_bytes"] = c.shuffle_bytes
    pairs = m["joins.cell_join.pairs_out"]
    m["pipeline.build_labels.clip_yield"] = (
        m["pipeline.build_labels.labels_out"] / pairs if pairs else 0.0)
    return m


class DocsResume(Workload):
    """from_docs with a shuffled dim, checkpointed and resumed."""

    name = "docs_resume"
    N_DOCS = 1000
    POLYS = 6
    BUCKETS = 16
    DROPPED = (0, 1, 2, 3)  # a fixed quarter of the buckets

    def make_inputs(self) -> None:
        self.rasters = self.store(synth.synth_rasters(self.spark, self.N_DOCS), "rasters")
        self.regions = self.store(
            synth.synth_regions(self.spark, self.rasters, self.POLYS), "regions")
        self.docs = self.store(synth.synth_docs(self.spark, self.rasters), "docs")

    def warm_up(self) -> None:
        # build_dataset of the same inputs is the reference; it takes the
        # same shuffled join as from_docs, so it also warms that path up
        self.expected = docs_digest(pipeline.build_dataset(
            self.rasters, self.regions, broadcast_regions=False)["docs_out"])

    def _stage(self, store: StageStore) -> DataFrame:
        out = pipeline.from_docs(
            self.docs, self.rasters, self.regions, broadcast_regions=False)
        return store.run_stage(out["docs_out"], "docs_out", "doc_id", self.BUCKETS)

    def full(self, store: StageStore):
        t = time.perf_counter()
        stage = self._stage(store)
        dt = time.perf_counter() - t
        digest = docs_digest(stage)
        return digest == self.expected, (dt, digest)

    def drop(self, store: StageStore) -> int:
        """Drop the fixed quarter of buckets; returns the rows dropped."""
        done = store.manifest("docs_out")["buckets"]
        for b in self.DROPPED:
            store.drop_bucket("docs_out", b)
        return sum(done[str(b)]["rows"] for b in self.DROPPED if str(b) in done)

    def resume(self, store: StageStore):
        self.drop(store)
        t = time.perf_counter()
        stage = self._stage(store)
        dt = time.perf_counter() - t
        return docs_digest(stage) == self.expected, dt

    def round(self, i: int) -> None:
        """Write the stage in full into a fresh store, then drop the
        fixed quarter of its buckets and resume it."""
        path = os.path.join(self.work, "stages", str(i))
        store = StageStore(path)
        r = self.attempt(self.full, store)
        if r:
            self.samples["op"].append(r[0])
            self.rows = r[1][1]
            dt = self.attempt(self.resume, store)
            if dt is not None:
                self.samples["op2"].append(dt)
        shutil.rmtree(path, ignore_errors=True)

    def trace(self, tr: Tracer) -> dict:
        stores = iter(("untraced", "traced"))

        def op():
            store = StageStore(os.path.join(self.work, "stages", next(stores)))
            return store if self.attempt(self.full, store) else None

        m, calls, store = traced_ops(tr, op, _LINEAGE_CALLS)
        write = next(c for c in calls if c.name == "lineage.run_stage")
        m["lineage.write_s"] = write.own_s
        m["lineage.bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(store.stage_dir("docs_out")) for f in files)
        dropped = self.drop(store)
        with tr.patched(_LINEAGE_CALLS) as resume_calls:
            stage = self._stage(store)
        self.attempt(lambda: (docs_digest(stage) == self.expected, None))
        done = store.manifest("docs_out")["buckets"]
        redone = sum(done[str(b)]["rows"] for b in self.DROPPED)
        m["lineage.resume.recompute_ratio"] = redone / dropped if dropped else 0.0
        resume = next(c for c in resume_calls if c.name == "lineage.run_stage")
        full_run = tr.counters_of(write.span).run_s
        m["lineage.resume.exec_ratio"] = (
            tr.counters_of(resume.span).run_s / full_run if full_run else 0.0)
        out = next(c for c in calls if c.name == "pipeline.from_docs").out
        m.update(pipeline_layers(tr, calls, out))
        return m


WORKLOADS = {w.name: w for w in (BuildBcast, DocsResume)}


def spark_totals(spark, tr: Tracer) -> dict:
    """Whole-run Spark counters over every job the run started."""
    c = counters(spark, [None, *tr.groups])
    return {
        "spark.gc_share": c.gc_s / c.run_s if c.run_s else 0.0,
        "spark.spill_bytes": c.spill_bytes,
        "spark.tasks_failed": c.tasks_failed,
    }
