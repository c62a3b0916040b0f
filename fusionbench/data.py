"""Seeded input generator and the independent NumPy/pandas oracle.

Every workload's inputs are a pure function of ``(workload, seed, size)``.
The generator writes the source files the engine reads and keeps the raw
arrays next to them (``arrays.npz``); the oracle recomputes the expected
outputs from those arrays alone, never from anything Spark produced.

Input properties the engine branches on, present in every seed:

- equal timestamps across sources: a fixed share of quote and book rows
  reuse a trade's exact millisecond, so the (ts, source id, arrival) tie
  order decides which row an interval keeps;
- quiet gaps longer than the resample interval, where no source has a
  row, so the resampler emits gap-filled blank boundaries;
- a column name carried by two sources (``Price`` in trades and quotes,
  ``Size`` in trades and book), so the fuser renames ``col||source``;
- for ``universe_asof``, Zipf(1.0) key skew over 64 symbols: symbol k
  gets a share proportional to 1/(k+1), so the hottest symbol holds about
  21% of the rows and the coldest about 0.3%.

Within one source (and one symbol) timestamps are strictly increasing,
so arrival order never has to break a tie the oracle cannot see.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

T0_MS = 1_704_153_600_000  # 2024-01-02T00:00:00Z
SOURCE_ORDER = ("trades", "quotes", "book")  # source id = position


@dataclass(frozen=True)
class MarketShape:
    """Single-instrument market data: trades (CSV), quotes (CSV.gz) and
    book snapshots (Parquet) over ``hours`` with quiet gaps."""

    hours: int
    trades: int
    quotes: int
    book: int
    gaps: int  # number of quiet gaps
    gap_ms: tuple = (2_500, 15_000)  # gap length range
    tie_share: float = 0.05  # quote/book rows that reuse a trade timestamp


@dataclass(frozen=True)
class UniverseShape:
    """Many-symbol trades + quotes (both CSV) with Zipf key skew."""

    hours: int
    symbols: int
    trades: int
    quotes: int
    zipf_s: float = 1.0
    tie_share: float = 0.05


# Sizes are part of the cache key; change the label when a shape changes.
# README.md ("Input sizes") gives how they were chosen.
SHAPES = {
    "batch_fuse_resample": ("m8", MarketShape(hours=12, trades=240_000, quotes=240_000,
                                              book=90_000, gaps=120)),
    "backtest_replay": ("m8", MarketShape(hours=8, trades=160_000, quotes=160_000,
                                          book=60_000, gaps=60)),
    "universe_asof": ("u8", UniverseShape(hours=4, symbols=64, trades=160_000,
                                          quotes=160_000)),
}


def _gapped_times(rng, n: int, span_ms: int, gaps):
    """``n`` distinct sorted offsets in [0, span_ms) avoiding ``gaps``
    (a sorted list of (start, end) half-open intervals)."""
    free = span_ms - sum(e - s for s, e in gaps)
    pos = np.sort(rng.choice(free, size=n, replace=False)).astype(np.int64)
    for s, e in gaps:  # gaps sorted: shift every later position past it
        pos[pos >= s] += e - s
    return pos


def _make_gaps(rng, shape: MarketShape, span_ms: int):
    lo, hi = shape.gap_ms
    lengths = rng.integers(lo, hi, size=shape.gaps)
    # Place gaps in the compressed timeline, then expand: never overlapping.
    free = span_ms - int(lengths.sum())
    starts = np.sort(rng.choice(free - 120_000, size=shape.gaps, replace=False)) + 60_000
    gaps, shift = [], 0
    for s, ln in zip(starts, lengths):
        gaps.append((int(s) + shift, int(s) + shift + int(ln)))
        shift += int(ln)
    return gaps


def _walk(rng, n: int, start: float, tick: float) -> np.ndarray:
    """Random walk rounded to cents (exact decimal text round-trip)."""
    steps = rng.integers(-3, 4, size=n) * tick
    return np.round(start + np.cumsum(steps), 2)


def _with_ties(rng, n: int, share: float, trade_pos, fresh_pool):
    """``n`` strictly increasing offsets: ``share`` of them copied from the
    trade offsets (cross-source ties), the rest from ``fresh_pool``."""
    k = int(n * share)
    tied = rng.choice(trade_pos, size=k, replace=False)
    fresh = rng.choice(fresh_pool, size=n - k, replace=False)
    return np.sort(np.concatenate([tied, fresh]))


def gen_market(seed: int, shape: MarketShape) -> dict:
    rng = np.random.default_rng(seed)
    span = shape.hours * 3_600_000
    gaps = _make_gaps(rng, shape, span)
    n_fresh = shape.trades + shape.quotes + shape.book
    pool = _gapped_times(rng, n_fresh, span, gaps)
    rng.shuffle(pool)
    t_pos = np.sort(pool[: shape.trades])
    rest = pool[shape.trades:]
    q_pos = _with_ties(rng, shape.quotes, shape.tie_share, t_pos, rest[: shape.quotes])
    b_pos = _with_ties(rng, shape.book, shape.tie_share, t_pos, rest[shape.quotes:])
    mid = _walk(rng, shape.quotes, 100.0, 0.01)
    spread = rng.integers(1, 6, size=shape.quotes) * 0.01
    return {
        "trades": {
            "Timestamp": T0_MS + t_pos,
            "Price": _walk(rng, shape.trades, 100.0, 0.01),
            "Size": np.round(rng.exponential(2.0, shape.trades) + 0.01, 3),
            "IsBuyerMaker": rng.integers(0, 2, size=shape.trades).astype(np.int64),
        },
        "quotes": {
            "Timestamp": T0_MS + q_pos,
            "BidPrice": np.round(mid - spread / 2, 3),
            "AskPrice": np.round(mid + spread / 2, 3),
            "Price": mid,
        },
        "book": {
            "Timestamp": T0_MS + b_pos,
            "Imbalance": np.round(rng.uniform(-1, 1, shape.book), 4),
            "Size": np.round(rng.exponential(20.0, shape.book), 2),
        },
    }


def gen_universe(seed: int, shape: UniverseShape) -> dict:
    rng = np.random.default_rng(seed)
    span = shape.hours * 3_600_000
    w = 1.0 / np.arange(1, shape.symbols + 1) ** shape.zipf_s
    w /= w.sum()
    out = {"trades": [], "quotes": []}
    for k in range(shape.symbols):
        nt = max(2, int(round(shape.trades * w[k])))
        nq = max(2, int(round(shape.quotes * w[k])))
        # First and last trade pinned to the window edges: every symbol
        # spans the same boundary grid (rows = symbols x boundaries).
        inner = rng.choice(span - 2, size=nt - 2 + nq, replace=False) + 1
        t_pos = np.sort(np.concatenate([[0, span - 1], inner[: nt - 2]]))
        q_pos = _with_ties(rng, nq, shape.tie_share, t_pos, inner[nt - 2:])
        mid = _walk(rng, nq, 20.0 + 3 * k, 0.01)
        spread = rng.integers(1, 6, size=nq) * 0.01
        out["trades"].append(pd.DataFrame({
            "Timestamp": T0_MS + t_pos,
            "Symbol": f"S{k:03d}",
            "Price": _walk(rng, nt, 20.0 + 3 * k, 0.01),
            "Size": np.round(rng.exponential(2.0, nt) + 0.01, 3),
        }))
        out["quotes"].append(pd.DataFrame({
            "Timestamp": T0_MS + q_pos,
            "Symbol": f"S{k:03d}",
            "BidPrice": np.round(mid - spread / 2, 3),
            "AskPrice": np.round(mid + spread / 2, 3),
            "BidSize": np.round(rng.exponential(5.0, nq) + 0.1, 2),
            "AskSize": np.round(rng.exponential(5.0, nq) + 0.1, 2),
        }))
    # Files are time-ordered across symbols; ties across symbols keep the
    # symbol order (stable sort), which the engine never relies on.
    return {
        name: pd.concat(parts, ignore_index=True)
        .sort_values(["Timestamp", "Symbol"], kind="stable", ignore_index=True)
        for name, parts in out.items()
    }


def _split_by_hour(df: pd.DataFrame, hours: int):
    """Chronological file chunks, one per hour (cut points are hour
    marks, so equal timestamps never straddle two files)."""
    hour = (df["Timestamp"].to_numpy() - T0_MS) // 3_600_000
    for h in range(hours):
        yield h, df[hour == h]


def _write_csv_dir(df, path, hours, stem, gz):
    import pyarrow as pa
    import pyarrow.csv as pacsv

    os.makedirs(path)
    for h, part in _split_by_hour(df, hours):
        name = os.path.join(path, f"{stem}-{h:03d}.csv" + (".gz" if gz else ""))
        with pa.output_stream(name, compression="gzip" if gz else None) as out:
            out.write((",".join(part.columns) + "\n").encode())
            pacsv.write_csv(pa.Table.from_pandas(part, preserve_index=False), out,
                            pacsv.WriteOptions(include_header=False, quoting_style="none"))


def _write_parquet_dir(df, path, hours, stem, files):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    # Whole hours per file and never an empty file: the engine probes the
    # first and last file, and skips a source whose last file is empty.
    file_of = (df["Timestamp"].to_numpy() - T0_MS) // 3_600_000 * files // hours
    for i in np.unique(file_of):
        part = df[file_of == i]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(path, f"{stem}-{i:03d}.parquet"))


def materialize(workload: str, seed: int, cache_root: str) -> str:
    """Generate (or reuse) the inputs of ``workload`` at ``seed``; return
    the data directory. Writes into a temp dir and renames, so a cut run
    never leaves a half-written cache entry."""
    label, shape = SHAPES[workload]
    kind = "universe" if isinstance(shape, UniverseShape) else "market"
    d = os.path.join(cache_root, f"{workload}-{label}-seed{seed}")
    if os.path.exists(os.path.join(d, "meta.json")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "market":
        g = gen_market(seed, shape)
        frames = {s: pd.DataFrame(g[s]) for s in SOURCE_ORDER}
        _write_csv_dir(frames["trades"], os.path.join(tmp, "trades"), shape.hours,
                       "trades", gz=False)
        _write_csv_dir(frames["quotes"], os.path.join(tmp, "quotes"), shape.hours,
                       "quotes", gz=True)
        _write_parquet_dir(frames["book"], os.path.join(tmp, "book"), shape.hours,
                           "book", files=3)
        arrays = {f"{s}.{c}": v for s in SOURCE_ORDER for c, v in g[s].items()}
    else:
        g = gen_universe(seed, shape)
        for name, df in g.items():
            _write_csv_dir(df, os.path.join(tmp, name), shape.hours, name, gz=False)
        arrays = {f"{n}.{c}": (df[c].to_numpy() if c != "Symbol"
                               else df[c].str[1:].astype(np.int64).to_numpy())
                  for n, df in g.items() for c in df.columns}
    np.savez(os.path.join(tmp, "arrays.npz"), **arrays)
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump({"workload": workload, "seed": seed, "label": label,
                   "shape": shape.__dict__}, fh, default=list)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def load_arrays(data_dir: str) -> dict:
    with np.load(os.path.join(data_dir, "arrays.npz")) as z:
        return {k: z[k] for k in z.files}


# --------------------------------------------------------------------- #
# Oracle


def _label(ts, step):
    """Next grid point strictly after ts (an event on a boundary belongs
    to the next interval)."""
    return (ts // step) * step + step


def market_events(arrays: dict) -> pd.DataFrame:
    """The fused stream as the engine defines it: every source row, in
    (ts, source id, arrival) order, colliding columns renamed."""
    cols = {s: sorted({k.split(".", 1)[1] for k in arrays if k.startswith(s + ".")})
            for s in SOURCE_ORDER}
    seen: dict = {}
    for s in SOURCE_ORDER:
        for c in cols[s]:
            seen[c] = seen.get(c, 0) + 1
    frames = []
    for sid, s in enumerate(SOURCE_ORDER):
        f = pd.DataFrame({
            (c if c == "Timestamp" or seen[c] == 1 else f"{c}||{s}"): arrays[f"{s}.{c}"]
            for c in cols[s]
        })
        f["__src_id"] = sid
        f["__seq"] = np.arange(len(f))
        frames.append(f)
    ev = pd.concat(frames, ignore_index=True)
    ev = ev.rename(columns={"Timestamp": "__timestamp"})
    return ev.sort_values(["__timestamp", "__src_id", "__seq"], kind="stable",
                          ignore_index=True)


def resample_last(ev: pd.DataFrame, step: int, ffill_keys, forward_fill: bool):
    """Last event per interval on the full spine [label(first), label(last)];
    blank boundaries carry ``ffill_keys`` of the previous event only."""
    value_cols = [c for c in ev.columns if c not in ("__timestamp", "__src_id", "__seq")]
    if forward_fill:
        ev = ev.copy()
        ev[value_cols] = ev[value_cols].ffill()
    labels = _label(ev["__timestamp"].to_numpy(), step)
    last = ev.assign(__label=labels).groupby("__label", sort=True).tail(1)
    last = last.set_index("__label")[value_cols]
    spine = np.arange(labels[0], labels[-1] + step, step, dtype=np.int64)
    out = last.reindex(spine)
    # A blank boundary carries the previous event's values as they were,
    # nulls included: carry the row position, not per-column non-nulls.
    blank = ~np.isin(spine, last.index.to_numpy())
    src = np.maximum.accumulate(np.where(blank, -1, np.arange(len(spine))))
    for k in ffill_keys:
        col = out[k].to_numpy(copy=True)
        col[blank] = col[src[blank]]
        out[k] = col
    out.index.name = "__timestamp"
    return out


def universe_expected(arrays: dict, step: int, tolerance_ms: int, ffill_keys):
    """Keyed as-of join (trade -> latest quote at or before, same symbol,
    within tolerance) followed by the keyed last-per-interval resample.
    Returns {symbol: DataFrame indexed by boundary}."""
    t_sym, q_sym = arrays["trades.Symbol"], arrays["quotes.Symbol"]
    out = {}
    for k in np.unique(t_sym):
        tm, qm = t_sym == k, q_sym == k
        tts, qts = arrays["trades.Timestamp"][tm], arrays["quotes.Timestamp"][qm]
        j = np.searchsorted(qts, tts, side="right") - 1
        hit = (j >= 0) & (qts[np.maximum(j, 0)] >= tts - tolerance_ms)
        ev = pd.DataFrame({"__timestamp": tts,
                           "Price": arrays["trades.Price"][tm],
                           "Size": arrays["trades.Size"][tm]})
        ev["__timestamp_right"] = np.where(hit, qts[np.maximum(j, 0)], np.nan)
        for c in ("BidPrice", "AskPrice", "BidSize", "AskSize"):
            ev[c] = np.where(hit, arrays[f"quotes.{c}"][qm][np.maximum(j, 0)], np.nan)
        ev["__src_id"], ev["__seq"] = 0, np.arange(len(ev))
        out[int(k)] = resample_last(ev, step, ffill_keys, forward_fill=False)
    return out


def replay_expected(ev: pd.DataFrame, start: int, end: int, step: int):
    """The number of events inside [start, end] and the handler's interval
    rows (BatchEveryIntervalHandler without ffill keys, final flush on)."""
    ts = ev["__timestamp"].to_numpy()
    win = ev[(ts >= start) & (ts <= end)].reset_index(drop=True)
    grid = resample_last(win, step, ffill_keys=(), forward_fill=False)
    return len(win), grid
