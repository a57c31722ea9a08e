"""The benchmark's workloads.

Each workload has the same shape, driven by ``run.py``:

* ``stage()``   -- set-up: generate the inputs from the seed and stage
  them the way a user would before running the engine; repeated, timed;
* ``warm_up()`` -- one untimed pass over the engine's code path, so JIT
  and worker start-up do not land in the first measured pass;
* ``run_pass(i, tracer)`` -- one measured pass, returning a ``Pass``;
* ``check(passes)`` -- output checks, outside the timed region.

Workloads:

* ``tier_backfill``: ``checkpoint.run_pipeline`` (raw -> 1m -> 1h -> 1d
  with Gorilla-packed turn_count streams) over a bucketed fact table
  written by ``sources.catalog.write_transcripts(precompute_gaps=True)``.
  One operation is one bucket.
* ``ingest_refresh``: turns arrive as event-time batches on top of an
  already loaded history. Per batch: ``incremental.append_transcripts``,
  ``incremental.refresh_tiers(dates=...)``, one
  ``realtime.realtime_rollup(tier="1h").count()``. The pass ends with
  ``retention.compact_fact_table`` + ``compact_tier_tables``. One
  operation is one append, refresh, query or the compaction.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

TIERS = ("1m", "1h", "1d")
BACKFILL_BUCKETS = 1
INGEST_BUCKETS = 2


@dataclass(frozen=True)
class Scale:
    backfill_turns: int
    ingest_turns: int
    # event-time cut points, as shares of the turns: every part but the
    # last is history loaded in the warm-up, the last is the measured batch
    ingest_cuts: tuple


SCALES = {
    "full": Scale(3000, 4000, (0.88, 0.94)),
    # for the benchmark's own smoke test
    "tiny": Scale(300, 300, (0.8, 0.9)),
}


@dataclass
class Pass:
    """What one measured pass did. ``op_latencies`` holds one wall time
    per bucket (backfill) or per batch's append-to-refresh (ingest)."""

    wall_s: float
    turns: int
    ops_failed: int = 0
    op_latencies: list = field(default_factory=list)
    op_cpu: list = field(default_factory=list)  # CPU seconds per operation
    stored_bytes_per_turn: float = 0.0
    layer: dict = field(default_factory=dict)  # traced per-layer numbers
    out_dir: str = ""


def parquet_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f)) for f in files if f.endswith(".parquet")
        )
    return total


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    rows = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return rows


def parquet_files(path: str) -> int:
    n = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def gen_turns(n_turns: int, seed: int) -> pd.DataFrame:
    """The first ``n_turns`` turns of ``datagen.gen_transcripts(seed=...)``
    (the last conversation may be cut short). A fixed turn count keeps
    sizes, and so bytes per turn, comparable across seeds."""
    from gmql_spark.datagen import gen_transcripts

    n_conv = max(n_turns // 10, 1)
    while True:
        pdf = gen_transcripts(n_conv, seed=seed)
        if len(pdf) >= n_turns:
            return pdf.iloc[:n_turns].reset_index(drop=True)
        n_conv *= 2


def to_spark(spark, pdf: pd.DataFrame):
    """``pdf`` as a Spark DataFrame with the generator's schema."""
    from gmql_spark.datagen import transcripts_spark

    return spark.createDataFrame(pdf, schema=transcripts_spark(spark, 1).schema)


# ------------------------------------------------------------ output checks


def _normalize(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]")
        elif s.dtype == object and s.map(lambda x: isinstance(x, (list, np.ndarray))).any():
            # parquet maps read back as lists of (key, value) pairs
            df[c] = s.map(lambda x: None if x is None else dict(list(x)))
    return df.sort_values(keys, kind="mergesort").reset_index(drop=True)


def frame_problems(got: pd.DataFrame, exp: pd.DataFrame, keys: list[str]) -> list[str]:
    """Exact, order-insensitive comparison; floats are compared bit for
    bit after float64 normalisation, NaN equal to NaN."""
    if set(got.columns) != set(exp.columns):
        return [f"columns {sorted(got.columns)} != {sorted(exp.columns)}"]
    if len(got) != len(exp):
        return [f"rows {len(got)} != {len(exp)}"]
    g = _normalize(got, keys)[list(exp.columns)]
    e = _normalize(exp, keys)
    problems = []
    for c in e.columns:
        gv, ev = g[c], e[c]
        if pd.api.types.is_float_dtype(ev) or pd.api.types.is_float_dtype(gv):
            a, b = gv.astype(float).to_numpy(), ev.astype(float).to_numpy()
            bad = ~((a == b) | (np.isnan(a) & np.isnan(b)))
        elif ev.map(lambda x: isinstance(x, dict)).any():
            bad = np.array([dict(x or {}) != dict(y or {}) for x, y in zip(gv, ev)])
        else:
            bad = ~(gv.eq(ev) | (gv.isna() & ev.isna())).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            problems.append(f"{c}: {int(bad.sum())} diffs, e.g. {gv[i]!r} vs {ev[i]!r}")
    return problems


def read_tier(path: str) -> pd.DataFrame:
    """A tier table as pandas, without its partition columns."""
    df = pd.read_parquet(path)
    return df.drop(columns=[c for c in ("bucket", "window_date") if c in df.columns])


def tier_problems(out_dir: str, expected: dict) -> list[str]:
    """Differences between the tier tables under ``out_dir`` and the
    expected frames, one string per differing column."""
    return [
        f"{t} {x}"
        for t in TIERS
        for x in frame_problems(
            read_tier(f"{out_dir}/rollup_{t}"), expected[t], ["conv_id", "window_start"]
        )
    ]


def event_time_cuts(ts_us: np.ndarray, fracs) -> list[int]:
    """Cut points (epoch microseconds) at the given shares of the turns
    in event-time order. Part ``j`` holds ``cuts[j-1] <= ts < cuts[j]``,
    so rows with equal timestamps always land in the same part, and every
    row of a part is strictly later than its conversation's rows in
    earlier parts."""
    ts = np.sort(ts_us)
    return [int(ts[int(f * len(ts))]) for f in fracs]


# ------------------------------------------------------------ workloads


class TierBackfill:
    name = "tier_backfill"

    def __init__(self, ctx, scale: Scale):
        self.ctx, self.scale = ctx, scale
        self.dir = os.path.join(ctx.work, self.name)
        self.raw = os.path.join(self.dir, "raw")
        self.ops_per_pass = BACKFILL_BUCKETS

    def input_frame(self):
        from gmql_spark.sources.catalog import read_transcripts

        return read_transcripts(self.ctx.spark, self.raw)

    def named_metrics(self, e2e: dict, passes: list[Pass]) -> dict:
        """The end-to-end metrics under this workload's own names."""
        return {
            "backfill_s": (e2e["pass_s"], "s"),
            "backfill_cpu_s": (e2e["pass_cpu_s"], "s"),
            "backfill_turns_per_s": (e2e["turns_per_s"], "1/s"),
            "bucket_p50_s": (e2e["op_p50_s"], "s"),
            "stored_bytes_per_turn": (e2e["stored_bytes_per_turn"], "B"),
        }

    def stage(self) -> None:
        from gmql_spark.sources.catalog import write_transcripts

        sdf = to_spark(self.ctx.spark, gen_turns(self.scale.backfill_turns, self.ctx.seed))
        write_transcripts(
            sdf, self.raw, n_buckets=BACKFILL_BUCKETS, precompute_gaps=True
        )
        self.turns = parquet_rows(self.raw)

    def _pipeline(self, raw: str, nb: int, out_dir: str, tracer) -> tuple[dict, list]:
        from gmql_spark.checkpoint import run_pipeline

        bucket_spans = [tracer.begin("checkpoint.bucket")]

        def on_bucket_done(_entry: dict) -> None:
            tracer.end(bucket_spans[-1])
            if len(bucket_spans) < nb:
                bucket_spans.append(tracer.begin("checkpoint.bucket"))

        res = run_pipeline(
            self.ctx.spark,
            None,
            out_dir,
            tiers=TIERS,
            n_buckets=nb,
            raw_path=raw,
            compress=True,
            on_bucket_done=on_bucket_done,
        )
        return res, bucket_spans

    def warm_up(self, tracer) -> None:
        """One pipeline run like a pass, so JIT compilation and Python
        worker start-up happen here."""
        self._pipeline(self.raw, BACKFILL_BUCKETS, os.path.join(self.dir, "warm"), tracer)

    def run_pass(self, i: int, tracer) -> Pass:
        out = os.path.join(self.dir, f"pass{i}")  # fresh: a reused dir would resume
        nb = BACKFILL_BUCKETS
        with tracer.span("checkpoint.run_pipeline") as sp:
            res, buckets = self._pipeline(self.raw, nb, out, tracer)
        p = Pass(wall_s=sp.wall_s, turns=self.turns, out_dir=out)
        p.op_latencies = [b.wall_s for b in buckets]
        p.op_cpu = [b.cpu_s for b in buckets]
        if res != {"ran": nb, "skipped": 0, "buckets": nb}:
            p.ops_failed = nb
            self.ctx.log(f"run_pipeline did not run every bucket: {res}")
        tiers_b = sum(parquet_bytes(f"{out}/rollup_{t}") for t in TIERS)
        gor_b = sum(parquet_bytes(f"{out}/gorilla_{t}") for t in TIERS)
        p.stored_bytes_per_turn = (tiers_b + gor_b) / self.turns
        if tracer.enabled:
            st = tracer.subtree_stats(sp)
            p.layer.update(
                {
                    "checkpoint.bucket_p50_s": statistics.median(p.op_latencies),
                    "checkpoint.jobs": st.jobs,
                    "checkpoint.stages": st.stages,
                    "checkpoint.tasks": st.tasks,
                    "checkpoint.driver_only_s": tracer.driver_only_s(sp),
                    "checkpoint.shuffle_write_bytes": st.shuffle_write_bytes,
                    "checkpoint.spill_bytes": st.spill_bytes,
                    "checkpoint.executor_cpu_s": st.executor_cpu_s,
                    "checkpoint.gc_s": st.gc_s,
                    "compression.gorilla.bytes_ratio": gor_b
                    / parquet_bytes(f"{out}/rollup_1m"),
                }
            )
        return p

    def check(self, passes: list[Pass]) -> int:
        """Every tier of every pass equals the pandas oracle on the same
        input; the 1m Gorilla streams decode to the 1m turn_count series."""
        from gmql_spark.compression.gorilla import decompress_series
        from gmql_spark.oracle.rollup import oracle_rollup

        pdf = gen_turns(self.scale.backfill_turns, self.ctx.seed)
        expected = {t: oracle_rollup(pdf, t) for t in TIERS}
        keys = ["conv_id", "window_start"]
        series = expected["1m"][keys + ["turn_count"]].rename(columns={"turn_count": "value"})
        series["value"] = series["value"].astype("float64")
        failed = 0
        for p in passes:
            problems = tier_problems(p.out_dir, expected)
            packed = self.ctx.spark.read.parquet(f"{p.out_dir}/gorilla_1m").drop("bucket")
            got = decompress_series(packed, keys=["conv_id"]).toPandas()
            problems += [f"gorilla {x}" for x in frame_problems(got, series, keys)]
            if problems:
                failed += self.ops_per_pass - p.ops_failed
                self.ctx.log(f"{p.out_dir}: " + "; ".join(problems[:4]))
        return failed


class IngestRefresh:
    name = "ingest_refresh"

    def __init__(self, ctx, scale: Scale):
        self.ctx, self.scale = ctx, scale
        self.dir = os.path.join(ctx.work, self.name)
        self.landing = os.path.join(self.dir, "landing")
        self.base = os.path.join(self.dir, "base")
        self.ops_per_pass = 4  # append, refresh, query, compaction

    def input_frame(self):
        return self.ctx.spark.read.parquet(f"{self.landing}/b*")

    def named_metrics(self, e2e: dict, passes: list[Pass]) -> dict:
        """The end-to-end metrics under this workload's own names."""
        rt = statistics.median(p.layer["realtime.query_p50_s"] for p in passes)
        return {
            "freshness_p50_s": (e2e["op_p50_s"], "s"),
            "freshness_worst_s": (e2e["op_worst_s"], "s"),
            "freshness_cpu_s": (e2e["op_cpu_s"], "s"),
            "realtime_query_p50_s": (rt, "s"),
            "ingest_turns_per_s": (e2e["turns_per_s"], "1/s"),
            "stored_bytes_per_turn": (e2e["stored_bytes_per_turn"], "B"),
        }

    def stage(self) -> None:
        """Generate the turns and land the history and each batch as a
        parquet file, as an upstream producer would (written with
        pyarrow: producing the files is not the engine's work)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        pdf = gen_turns(self.scale.ingest_turns, self.ctx.seed)
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        cuts = event_time_cuts(ts_us, self.scale.ingest_cuts)
        part = np.searchsorted(np.asarray(cuts), ts_us, side="right")
        table = pa.Table.from_pandas(pdf, preserve_index=False)
        # tz-aware, so Spark reads the column back as TIMESTAMP, not NTZ
        table = table.set_column(
            table.schema.get_field_index("ts"),
            "ts",
            pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        )
        shutil.rmtree(self.landing, ignore_errors=True)
        for j in range(len(cuts) + 1):
            os.makedirs(f"{self.landing}/b{j}")
            pq.write_table(table.filter(pa.array(part == j)), f"{self.landing}/b{j}/part-0.parquet")
        self.ingest_turns = len(pdf)
        self.n_history = len(cuts)
        self.batch_turns = int((part == self.n_history).sum())

    def _batch(self, j: int):
        return self.ctx.spark.read.parquet(f"{self.landing}/b{j}")

    def _apply(self, parts, fact: str, tiers: str, tracer) -> dict:
        """The body of a pass: append each landed part in turn, refresh the
        tiers of every date they touched, query, then compact the fact and
        tier tables."""
        from gmql_spark.incremental import append_transcripts, refresh_tiers
        from gmql_spark.realtime import realtime_rollup
        from gmql_spark.retention import compact_fact_table, compact_tier_tables

        spark, nb = self.ctx.spark, INGEST_BUCKETS
        out = {"appends": [], "fact_files": []}
        dates = set()
        for j in parts:
            with tracer.span("incremental.append_transcripts") as a:
                dates.update(append_transcripts(spark, self._batch(j), fact, n_buckets=nb))
            out["appends"].append(a)
            out["fact_files"].append(parquet_files(fact))
        with tracer.span("incremental.refresh_tiers") as r:
            refresh_tiers(spark, fact, tiers, dates=sorted(dates), tiers=TIERS)
        with tracer.span("realtime.realtime_rollup") as q:
            realtime_rollup(spark, fact, tiers, tier="1h").count()
        with tracer.span("retention.compact") as c:
            # min_files=1: rewrite every leaf the appends fragmented
            rewritten = compact_fact_table(spark, fact, min_files=1)
            rewritten.update(compact_tier_tables(spark, tiers, tiers=TIERS, min_files=1))
        out.update(refresh=r, query=q, compact=c, files_rewritten=sum(rewritten.values()))
        return out

    def warm_up(self, tracer) -> None:
        """The history load into the base tables every pass starts from,
        through the pass body: the first part is appended to an empty
        table and every later one onto existing state, as in a pass, so
        each step of a pass has run once."""
        shutil.rmtree(self.base, ignore_errors=True)
        self._apply(range(self.n_history), f"{self.base}/fact", f"{self.base}/tiers", tracer)

    def run_pass(self, i: int, tracer) -> Pass:
        root = os.path.join(self.dir, f"pass{i}")
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.base, root)
        fact, tiers = f"{root}/fact", f"{root}/tiers"
        with tracer.span("ingest_refresh.pass") as sp:
            o = self._apply([self.n_history], fact, tiers, tracer)
        (a,), r, q = o["appends"], o["refresh"], o["query"]
        p = Pass(wall_s=sp.wall_s, turns=self.batch_turns, out_dir=tiers)
        # freshness: append start to refresh done
        p.op_latencies = [r.end - a.start]
        p.op_cpu = [a.cpu_s + r.cpu_s]
        p.stored_bytes_per_turn = parquet_bytes(tiers) / self.ingest_turns
        p.layer["realtime.query_p50_s"] = q.wall_s
        if tracer.enabled:
            ast, rst, qst = (tracer.subtree_stats(x) for x in (a, r, q))
            p.layer.update(
                {
                    "incremental.append_p50_s": a.wall_s,
                    "incremental.refresh_p50_s": r.wall_s,
                    "incremental.append_jobs": ast.jobs,
                    "incremental.refresh_jobs": rst.jobs,
                    "incremental.refresh_input_bytes": rst.input_bytes,
                    "incremental.driver_only_s": tracer.driver_only_s(a)
                    + tracer.driver_only_s(r),
                    "realtime.query_jobs": qst.jobs,
                    "realtime.input_bytes": qst.input_bytes,
                    "sources.catalog.fact_files": max(o["fact_files"]),
                    "retention.compact_s": o["compact"].wall_s,
                    "retention.files_rewritten": o["files_rewritten"],
                }
            )
        return p

    def check(self, passes: list[Pass]) -> int:
        """The final tiers of every pass are bit-equal to a one-shot
        ``rollup_all_tiers`` of all turns (history plus every batch)."""
        from gmql_spark.operators.rollup import rollup_all_tiers

        tiers = rollup_all_tiers(self.input_frame(), tiers=TIERS)
        expected = {t: df.toPandas() for t, df in tiers.items()}
        failed = 0
        for p in passes:
            problems = tier_problems(p.out_dir, expected)
            if problems:
                failed += self.ops_per_pass - p.ops_failed
                self.ctx.log(f"{p.out_dir}: " + "; ".join(problems[:4]))
        return failed


WORKLOADS = {w.name: w for w in (TierBackfill, IngestRefresh)}
