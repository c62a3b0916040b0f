"""The three benchmark workloads. Each has a timed ``run_pass`` that
drives the engine's public API exactly as a user would, a ``check``
against the oracle, and a ``traced_pass`` that runs the same pipeline
layer by layer under :class:`tracing.Tracer`.

``run_pass`` returns the raw user-visible result; ``check`` (outside the
timer) returns a list of problems, empty when the output is correct.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import data
from timeseriesfuser_spark import (
    BatchEveryIntervalHandler,
    SourceConfig,
    TimeSeriesFuser,
    asof_join,
    forward_fill,
    replay,
    resample_last_interval,
    write_batched,
)
from timeseriesfuser_spark.sinks import write_time_partitioned
from timeseriesfuser_spark.sources.readers import build_source_df

SAMPLE_ROWS = 256  # boundaries compared cell by cell per check


def _market_sources(d: str):
    return [
        SourceConfig(name="trades", path=os.path.join(d, "trades"), fmt="csv",
                     schema={"Timestamp": int, "Price": float, "Size": float,
                             "IsBuyerMaker": int}),
        SourceConfig(name="quotes", path=os.path.join(d, "quotes"), fmt="csv",
                     schema={"Timestamp": int, "BidPrice": float, "AskPrice": float,
                             "Price": float}),
        SourceConfig(name="book", path=os.path.join(d, "book"), fmt="parquet",
                     schema={"Timestamp": int, "Imbalance": float, "Size": float}),
    ]


def _same(a, b) -> bool:
    """Cell equality with null == null (values are copied, never computed,
    so exact float equality is the right test)."""
    a_null = a is None or (isinstance(a, float) and math.isnan(a))
    b_null = b is None or (isinstance(b, float) and math.isnan(b))
    if a_null or b_null:
        return a_null and b_null
    return a == b


def _compare_frames(got: pd.DataFrame, want: pd.DataFrame, rng, what: str):
    """Row count, exact boundary axis, then SAMPLE_ROWS rows cell by cell."""
    problems = []
    if len(got) != len(want):
        return [f"{what}: {len(got)} rows, expected {len(want)}"]
    if not np.array_equal(got.index.to_numpy(), want.index.to_numpy()):
        return [f"{what}: boundary labels differ from the expected grid"]
    missing = [c for c in want.columns if c not in got.columns]
    if missing:
        return [f"{what}: missing columns {missing}"]
    idx = rng.choice(len(want), size=min(SAMPLE_ROWS, len(want)), replace=False)
    g, w = got.iloc[idx], want.iloc[idx]
    for c in want.columns:
        bad = [i for i, (x, y) in enumerate(zip(g[c].tolist(), w[c].tolist()))
               if not _same(x, y)]
        if bad:
            problems.append(f"{what}: column {c} differs on {len(bad)} sampled rows, "
                            f"first at boundary {w.index[bad[0]]}")
    return problems


class Workload:
    name = ""
    interval, step_ms = "", 0  # the resample grid, as the engine and the oracle spell it

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.out_dir = os.path.join(work_dir, "out")
        self.seed = seed
        self.arrays = data.load_arrays(data_dir)
        self.passes = 0
        self._expected = None

    def expected(self):
        """The oracle's answer, computed on first use (outside timers).
        The generator's arrays are dropped after it, so they do not count
        toward the peak memory of later passes."""
        if self._expected is None:
            self._expected = self.oracle()
            self.arrays = None
        return self._expected

    def reset_output(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def _rng(self):
        self.passes += 1
        return np.random.default_rng([self.seed, self.passes])


class BatchFuseResample(Workload):
    name = "batch_fuse_resample"
    interval, step_ms = "1s", 1_000
    FFILL = ["Price", "BidPrice", "AskPrice"]

    def __init__(self, *a):
        super().__init__(*a)
        self.sources = _market_sources(self.data_dir)
        ts = np.concatenate([self.arrays[f"{s}.Timestamp"] for s in data.SOURCE_ORDER])
        self.start, self.end = int(data.T0_MS), int(ts.max())  # covers all data
        self.rows_in = len(ts)

    def _fuser(self, **kw):
        # The batch job knows its window, so it skips the data-derived
        # window probes; backtest_replay measures them.
        return TimeSeriesFuser(self.sources, procstart=self.start, procend=self.end,
                               derive_window=False, **kw)

    def run_pass(self):
        fuser = self._fuser(forward_fill=True)
        fused = fuser.fused(self.spark)
        keys = fuser.remap_keys(self.spark, self.FFILL)
        out = resample_last_interval(fused, self.interval, ffill_keys=keys)
        return write_batched(out, self.out_dir, fmt="parquet")

    def oracle(self):
        ev = data.market_events(self.arrays)
        keys = [c for c in ev.columns if c.split("||")[0] in self.FFILL]
        return data.resample_last(ev, self.step_ms, keys, forward_fill=True)

    def check(self, result):
        got = pq.read_table(result.files).to_pandas()
        got = got.sort_values("__timestamp").set_index("__timestamp")
        return _compare_frames(got, self.expected(), self._rng(), self.name)

    def traced_pass(self, tr):
        # The pinned scans serve the fuser's source plans from the cache.
        tr.readers(self.sources, probe=False)
        fuser = self._fuser(forward_fill=False)
        with tr.span("fuse.build"):
            fused = fuser.fused(self.spark)
        keys = fuser.remap_keys(self.spark, self.FFILL)
        fused = tr.exec_span("fuse.exec", fused)
        fill_cols = [c for c in fused.columns if not c.startswith("__")]
        with tr.span("fill.build"):
            filled = forward_fill(fused, fuser.sort_cols(), fill_cols)
        filled = tr.exec_span("fill.exec", filled)
        with tr.span("resample.build"):
            out = resample_last_interval(filled, self.interval, ffill_keys=keys)
        out = tr.exec_span("resample.exec", out)
        with tr.span("sinks.write") as s:
            res = write_batched(out, self.out_dir, fmt="parquet")
        s.count("files", len(res.files))
        return res


class BacktestReplay(Workload):
    name = "backtest_replay"
    interval, step_ms = "1s", 1_000

    def __init__(self, *a):
        super().__init__(*a)
        self.sources = _market_sources(self.data_dir)
        ts = np.concatenate([self.arrays[f"{s}.Timestamp"] for s in data.SOURCE_ORDER])
        lo, hi = int(ts.min()), int(ts.max())
        quarter = (hi - lo) // 4  # the middle half of the files
        self.start, self.end = lo + quarter, hi - quarter
        self.rows_in = int(((ts >= self.start) & (ts <= self.end)).sum())

    def _fuser(self):
        return TimeSeriesFuser(self.sources, procstart=self.start, procend=self.end)

    def run_pass(self):
        handler = CheckedHandler(self.interval)
        status = replay(self._fuser().fused(self.spark, sort=True), handler)
        return status, handler

    def oracle(self):
        ev = data.market_events(self.arrays)
        return data.replay_expected(ev, self.start, self.end, self.step_ms)

    def check(self, result):
        status, handler = result
        n_events, grid = self.expected()
        problems = []
        if status.rows != n_events:
            problems.append(f"{self.name}: {status.rows} events replayed, "
                            f"expected {n_events}")
        if handler.out_of_order:
            problems.append(f"{self.name}: {handler.out_of_order} events arrived "
                            "with a decreasing timestamp")
        got = pd.DataFrame(handler.rows)
        if len(got):
            got = got.set_index("__timestamp")
        return problems + _compare_frames(got, grid, self._rng(), self.name)

    def traced_pass(self, tr):
        # The pinned scans serve the fuser's source plans from the cache.
        tr.readers(self.sources, probe=True)
        with tr.span("fuse.build"):
            fused = self._fuser().fused(self.spark, sort=True)
        fused = tr.exec_span("fuse.exec", fused)
        handler = TimedHandler(self.interval)
        with tr.span("replay") as s:
            status = replay(fused, handler)
        s.count("rows", status.rows)
        tr.add("handlers.process_s", handler.process_s)
        tr.add("handlers.rows_out", len(handler.rows))
        tr.add("replay.spark_wait_s", s.seconds - handler.process_s)
        tr.add("replay.first_event_s", handler.first_at - s.start)
        tr.add("replay.events_per_s",
               (status.rows - 1) / (handler.done_at - handler.first_at))
        return status, handler


class UniverseAsof(Workload):
    name = "universe_asof"
    interval, step_ms = "10s", 10_000
    TOLERANCE_MS = 5_000
    RIGHT = ["BidPrice", "AskPrice", "BidSize", "AskSize"]
    FFILL = ["Price", "BidPrice", "AskPrice"]

    def __init__(self, *a):
        super().__init__(*a)
        d = self.data_dir
        self.sources = [
            SourceConfig(name="trades", path=os.path.join(d, "trades"), fmt="csv",
                         schema={"Timestamp": int, "Symbol": str, "Price": float,
                                 "Size": float}),
            SourceConfig(name="quotes", path=os.path.join(d, "quotes"), fmt="csv",
                         schema={"Timestamp": int, "Symbol": str, "BidPrice": float,
                                 "AskPrice": float, "BidSize": float, "AskSize": float}),
        ]
        self.rows_in = len(self.arrays["trades.Timestamp"]) + len(self.arrays["quotes.Timestamp"])

    def _asof(self, trades, quotes):
        return asof_join(trades, quotes, keys=["Symbol"], right_cols=self.RIGHT,
                         tolerance_ms=self.TOLERANCE_MS)

    def _resample(self, joined):
        return resample_last_interval(joined, self.interval, keys=["Symbol"],
                                      ffill_keys=self.FFILL)

    def run_pass(self):
        trades, quotes = (build_source_df(self.spark, s, i) for i, s in enumerate(self.sources))
        out = self._resample(self._asof(trades, quotes))
        return write_time_partitioned(out, self.out_dir, granularity="hour")

    def oracle(self):
        return data.universe_expected(self.arrays, self.step_ms, self.TOLERANCE_MS,
                                      self.FFILL)

    def check(self, result):
        import pyarrow.dataset as ds

        got = ds.dataset(result.output_path, format="parquet",
                         partitioning="hive").to_table().to_pandas()
        want = self.expected()
        n_want = sum(len(f) for f in want.values())
        if len(got) != n_want:
            return [f"{self.name}: {len(got)} rows, expected {n_want} "
                    f"({len(want)} symbols x boundaries)"]
        rng = self._rng()
        problems = []
        got["__k"] = got["Symbol"].str[1:].astype(int)
        for k in rng.choice(sorted(want), size=8, replace=False):
            g = got[got["__k"] == k].sort_values("__timestamp").set_index("__timestamp")
            problems += _compare_frames(g, want[int(k)], rng, f"{self.name} S{k:03d}")
        return problems

    def traced_pass(self, tr):
        trades, quotes = tr.readers(self.sources, probe=False)
        with tr.span("asof.build"):
            joined = self._asof(trades, quotes)
        joined = tr.exec_span("asof.exec", joined)
        with tr.span("resample.build"):
            out = self._resample(joined)
        out = tr.exec_span("resample.exec", out)
        with tr.span("sinks.write") as s:
            res = write_time_partitioned(out, self.out_dir, granularity="hour")
        s.count("files", len(res.files))
        return res


class CheckedHandler(BatchEveryIntervalHandler):
    """The workload's interval handler, plus the one thing the output check
    cannot see afterwards: how many events arrived with a decreasing
    timestamp."""

    def __init__(self, interval: str):
        super().__init__(interval)
        self.out_of_order = 0
        self._last_ts = None

    def process(self, ts, msg):
        if self._last_ts is not None and ts < self._last_ts:
            self.out_of_order += 1
        self._last_ts = ts
        super().process(ts, msg)


class TimedHandler(CheckedHandler):
    """Traced variant: the time spent inside process, and the instants of
    the first delivery and of finalize (right after the last one)."""

    def __init__(self, interval: str):
        super().__init__(interval)
        self.process_s = 0.0
        self.first_at = self.done_at = None

    def process(self, ts, msg):
        t = time.perf_counter()
        if self.first_at is None:
            self.first_at = t
        super().process(ts, msg)
        self.process_s += time.perf_counter() - t

    def finalize(self):
        self.done_at = time.perf_counter()
        super().finalize()


WORKLOADS = {w.name: w for w in (BatchFuseResample, BacktestReplay, UniverseAsof)}
