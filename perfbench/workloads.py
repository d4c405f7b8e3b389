"""The benchmark's workloads: seeded input staging, closed-loop invocation
of the real job entrypoints, and the output checks behind ``error_rate``.

Every workload is closed loop with one client: land the next input, call
the jobs' ``main(argv)``, wait, check what they did, repeat. Inputs come
from :func:`datagen.generate_transcripts` with the workload seed as the
generator seed and are staged as files before timing. The jobs see only
those files.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

# Sizes are small because every invocation is dominated by per-Spark-job
# overhead, not rows, and a run must fit the benchmark's time budget on a
# 4-core host; README.md gives the reasoning.
SIZES = {
    "backfill": {"n_convs": 600, "buckets": 8},
    "hourly": {"n_convs": 800, "drops": 24, "drop_share": 0.005, "dim_every": 5},
}


def load_job(name: str):
    """Import ``jobs/<name>.py`` from the checkout as a module."""
    path = os.path.join("jobs", f"{name}.py")
    spec = importlib.util.spec_from_file_location(f"perfbench_job_{name}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def parquet_files(path: str) -> list[str]:
    return [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".parquet")]


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in parquet_files(path))


def write_parquet(pdf, path: str) -> None:
    """Write a pandas frame as one parquet file with the column types the
    transcript schema has (timestamps in microseconds, UTC-adjusted)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {
        "conv_id": pa.string(),
        "turn_idx": pa.int32(),
        "role": pa.string(),
        "text": pa.string(),
        "tool": pa.string(),
        "ts": pa.timestamp("us", tz="UTC"),
        "tier": pa.int32(),
    }
    schema = pa.schema([(c, types[c]) for c in pdf.columns])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), path)


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in parquet_files(path))


def fingerprint(df) -> tuple:
    """Order-insensitive multiset fingerprint: row count plus two sums of
    independent 64-bit row hashes."""
    cols = sorted(df.columns)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h1"),
        F.sum(F.xxhash64(F.lit(17), *cols).cast("decimal(38,0)")).alias("h2"),
    ).first()
    return (int(row["n"]), str(row["h1"]), str(row["h2"]))


def duplicate_keys(df, keys: list[str]) -> int:
    return df.groupBy(*keys).count().where(F.col("count") > 1).count()


@dataclass
class Result:
    """What one invocation (one closed-loop step) did."""

    ok: bool
    calls: list  # the job calls it made, in order
    turns: int  # new input turns it processed
    rows_written: int  # rows it wrote to storage
    input_bytes: int  # bytes of the new input it was given
    batch_ms: list[float] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # per-layer counts the workload reads itself

    @property
    def wall_s(self) -> float:
        return sum(c.wall_s for c in self.calls)

    @property
    def t0(self) -> float:  # epoch seconds, for matching Spark's event log
        return self.calls[0].t0

    @property
    def t1(self) -> float:
        return self.calls[-1].t1


@dataclass
class Call:
    code: int
    line: dict  # the job's last JSON line
    wall_s: float  # wall time of the job's main(argv)
    t0: float
    t1: float


class Workload:
    """Subclasses define stage() (inputs and whatever state the first
    invocation needs), warm_up() (one untimed invocation), has_next(),
    land() (put the next input in place; untimed), run(landed) -> Result,
    and final_check() -> one verdict per invocation (or a single verdict
    for all of them)."""

    name = ""

    def __init__(self, spark, seed: int, root: str) -> None:
        self.spark, self.seed, self.root = spark, seed, root
        self.sizes = dict(SIZES[self.name])
        os.makedirs(root, exist_ok=True)

    # set by the runner around a traced invocation: a context manager
    # factory that opens a job's root span
    around = staticmethod(contextlib.nullcontext)

    def call(self, job, argv: list[str]) -> Call:
        """Run ``job.main(argv)`` with its stdout captured."""
        buf = io.StringIO()
        with self.around(job.__name__), contextlib.redirect_stdout(buf):
            t0, p0 = time.time(), time.perf_counter()
            try:
                code = job.main(argv)
            except SystemExit as e:  # the jobs exit this way on refused input
                code = e.code if isinstance(e.code, int) else 1
            wall = time.perf_counter() - p0
            t1 = time.time()
        lines = [l for l in buf.getvalue().splitlines() if l.startswith("{")]
        return Call(int(code or 0), json.loads(lines[-1]) if lines else {}, wall, t0, t1)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def transcripts(self):
        from acoustic_feature_extractor_spark.datagen import generate_transcripts

        return generate_transcripts(self.spark, n_convs=self.sizes["n_convs"], seed=self.seed)

    def describe(self) -> dict:
        return {"workload": self.name, "seed": self.seed, "sizes": self.sizes}


class Backfill(Workload):
    """``run_turn_features.py`` at its default bucket count over staged
    parquet, with a fresh output directory per invocation."""

    name = "backfill"

    def stage(self) -> None:
        self.job = load_job("run_turn_features")
        self.input = self.path("input")
        self.transcripts().write.parquet(self.input)
        self.n_turns = parquet_rows(self.input)
        self.sizes.update(turns=self.n_turns, input_bytes=parquet_bytes(self.input))
        self.outputs: list[str] = []
        self.warmed = 0

    def _call(self, out: str, *extra: str) -> Call:
        return self.call(self.job, ["--input", self.input, "--output", out, *extra])

    def warm_up(self) -> None:
        self.warmed += 1
        self._call(self.path(f"warmup{self.warmed}"))

    def has_next(self) -> bool:
        return True

    def land(self) -> str:
        self.outputs.append(self.path("out", str(len(self.outputs))))
        return self.outputs[-1]

    def run(self, out: str) -> Result:
        c = self._call(out)
        with open(os.path.join(out, "_manifest", "manifest.json")) as f:
            buckets = json.load(f)["partitions"]
        rows = int(c.line.get("rows_written", -1))
        return Result(
            ok=c.code == 0 and rows == self.n_turns and len(buckets) == self.sizes["buckets"],
            calls=[c],
            turns=self.n_turns,
            rows_written=rows,
            input_bytes=self.sizes["input_bytes"],
            batch_ms=[p["seconds"] * 1000.0 for p in buckets],
        )

    def _rows(self, out: str):
        return self.spark.read.parquet(out).drop("bucket")

    def final_check(self) -> list[bool]:
        """Each output's row set must equal a 1-bucket run on the same input."""
        ref = self.path("ref")
        want = fingerprint(self._rows(ref)) if self._call(ref, "--buckets", "1").code == 0 else None
        return [want is not None and fingerprint(self._rows(o)) == want for o in self.outputs]


def _tokens(text: str) -> int:
    return len(re.split(r"\s+", text.strip().lower()))


class Hourly(Workload):
    """The hourly maintenance step: a drop of new last turns for about
    0.5% of the conversations lands, in time order, as a file in the
    watched directory of ``stream_turn_features.py --drain --dimension``
    and as a commit to the snapshot source of ``incremental_features.py``;
    both jobs then run, one after the other."""

    name = "hourly"

    def stage(self) -> None:
        import numpy as np
        import pandas as pd

        from acoustic_feature_extractor_spark.sources import snapshots

        self.snapshots = snapshots
        self.stream_job = load_job("stream_turn_features")
        self.incr_job = load_job("incremental_features")
        sz = self.sizes
        t = self.transcripts().toPandas()
        t["ts"] = t["ts"].dt.tz_localize("UTC")  # the session time zone
        rng = np.random.default_rng(self.seed)
        convs = t["conv_id"].unique()
        picked = rng.choice(convs, round(len(convs) * sz["drop_share"] * sz["drops"]), replace=False)
        last = t.groupby("conv_id")["turn_idx"].transform("max") == t["turn_idx"]
        held = last & t["conv_id"].isin(picked)
        base = t[~held]
        # drops in time order: the held-back last turns, chunked by timestamp;
        # the stream copy of each drop repeats its first row, which the
        # watermarked dedup must drop
        order = t[held].sort_values(["ts", "conv_id"])
        cuts = np.linspace(0, len(order), sz["drops"] + 1).astype(int)
        self.drops = [order.iloc[a:b] for a, b in zip(cuts[:-1], cuts[1:])]
        for d in ("drops", "staged", "incoming", "base", "dim"):
            os.makedirs(self.path(d))
        for k, drop in enumerate(self.drops):
            write_parquet(drop, self.path("drops", f"{k}.parquet"))
            write_parquet(pd.concat([drop, drop.iloc[:1]]), self.path("staged", f"d{k:04d}.parquet"))
        write_parquet(base, self.path("base", "part-0.parquet"))
        # the dimension: a (conv_id, ts) history with a payload, taken from
        # the turns before the drops
        dim = base.loc[base["turn_idx"] % sz["dim_every"] == 0, ["conv_id", "ts"]].copy()
        dim["tier"] = rng.integers(0, 4, len(dim)).astype("int32")
        write_parquet(dim, self.path("dim", "part-0.parquet"))
        self.src, self.feat, self.out = self.path("source"), self.path("features"), self.path("stream")
        snapshots.commit(self.spark.read.parquet(self.path("base")), self.src)
        self.landed = 0
        sz.update(base_turns=len(base), drop_turns=[len(d) for d in self.drops])

    def _incremental(self) -> Call:
        return self.call(self.incr_job, ["--source", self.src, "--features", self.feat])

    def _stream(self) -> tuple[Call, list[dict]]:
        """Drain once; also return the micro-batch progress of the query."""
        from pyspark.sql.streaming import readwriter

        queries = []
        start = readwriter.DataStreamWriter.start

        def capture(writer, *a, **kw):
            queries.append(start(writer, *a, **kw))
            return queries[-1]

        argv = ["--input", self.path("incoming"), "--output", self.out, "--dimension", self.path("dim"), "--drain"]
        readwriter.DataStreamWriter.start = capture
        try:
            c = self.call(self.stream_job, argv)
        finally:
            readwriter.DataStreamWriter.start = start
        return c, [json.loads(p.json) for q in queries for p in q.recentProgress]

    def has_next(self) -> bool:
        return self.landed < len(self.drops)

    def land(self) -> tuple[int, int, int]:
        """Land the next drop in both places: (drop, source snapshot, bytes)."""
        k = self.landed
        self.landed += 1
        name = f"d{k:04d}.parquet"
        shutil.move(self.path("staged", name), self.path("incoming", name))
        head = self.snapshots.commit(self.spark.read.parquet(self.path("drops", f"{k}.parquet")), self.src)
        return k, head.snapshot_id, os.path.getsize(self.path("incoming", name))

    def warm_up(self) -> None:
        """One step on the next drop. On the first drop the incremental job
        makes the initial full commit of the features table."""
        self.land()
        self._stream()
        c = self._incremental()
        if c.code != 0 or c.line.get("noop") is not False:
            raise RuntimeError(f"warm-up step failed: {c.code} {c.line}")

    def run(self, landed: tuple[int, int, int]) -> Result:
        k, head, size = landed
        n_new = len(self.drops[k])
        stream, progress = self._stream()
        before = self.snapshots.current_snapshot_id(self.feat)
        incr = self._incremental()
        hist = self.snapshots.history(self.feat)
        rows_of = {f"data/snap-{s.snapshot_id}": s.rows for s in hist}
        new = [s for s in hist if s.snapshot_id > before]
        rewritten = [d for s in new for d in s.lineage.get("rewritten_dirs", [])]
        sink_rows = int(stream.line.get("sink_rows", -1))
        return Result(
            ok=stream.code == 0
            and incr.code == 0
            and sink_rows == n_new
            and incr.line.get("noop") is False
            and incr.line.get("source_snapshot") == head
            and incr.line.get("touched_convs") == n_new,
            calls=[stream, incr],
            turns=n_new,
            rows_written=sink_rows + int(incr.line.get("rows_written", -1)),
            input_bytes=size,
            batch_ms=[float(p["durationMs"]["triggerExecution"]) for p in progress],
            progress=progress,
            layer={
                "jobs.stream_s": stream.wall_s,
                "jobs.incremental_s": incr.wall_s,
                "snapshots.rows_written": sum(s.rows for s in new),
                "snapshots.rows_rewritten": sum(rows_of.get(d, 0) for d in rewritten),
                "snapshots.dirs_rewritten": len(rewritten),
            },
        )

    def final_check(self) -> list[bool]:
        return [self._features_match() and self._sink_matches()]

    def _features_match(self) -> bool:
        """The features table must equal a from-scratch recompute of the
        final source under the pinned stats, with no duplicate keys."""
        from acoustic_feature_extractor_spark.plans.pipeline import turn_features

        snap = self.snapshots
        got = snap.read(self.spark, self.feat)
        pinned = snap.history(self.feat)[0].lineage["stats"]
        want = turn_features(snap.read(self.spark, self.src), frozen_stats=pinned)
        return duplicate_keys(got, ["conv_id", "turn_idx"]) == 0 and fingerprint(got) == fingerprint(
            want.select(*got.columns)
        )

    def _sink_matches(self) -> bool:
        """The stream sink must hold each landed row once, with
        ``text_len``, ``n_tokens`` and the as-of payload that a batch
        recomputation gives."""
        import pandas as pd

        sink = self.spark.read.parquet(os.path.join(self.out, "features")).toPandas()
        dim = self.spark.read.parquet(self.path("dim")).toPandas()
        if len(sink) != sum(len(d) for d in self.drops[: self.landed]):
            return False
        if sink.duplicated(["conv_id", "turn_idx"]).any():
            return False
        exp = pd.merge_asof(
            sink[["conv_id", "turn_idx", "ts"]].sort_values("ts"),
            dim.rename(columns={"ts": "ts_exp"}).sort_values("ts_exp"),
            left_on="ts",
            right_on="ts_exp",
            by="conv_id",
            direction="backward",
        ).set_index(["conv_id", "turn_idx"])
        got = sink.set_index(["conv_id", "turn_idx"]).loc[exp.index]
        return bool(
            (got["text_len"] == got["text"].str.len()).all()
            and (got["n_tokens"] == got["text"].map(_tokens)).all()
            and got["tier_dim"].fillna(-1).astype("int64").eq(exp["tier"].fillna(-1).astype("int64")).all()
            and got["ts_dim"].fillna(pd.Timestamp(0)).eq(exp["ts_exp"].fillna(pd.Timestamp(0))).all()
        )


WORKLOADS = {w.name: w for w in (Backfill, Hourly)}
