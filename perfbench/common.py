"""Pure helpers of the CDC apply benchmark: percentiles and drain times,
span arithmetic, LSN segment cutting, oracle comparators, the backlog
check and host state.

Nothing here starts Spark, so the helpers are unit-tested on their own
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np
import pandas as pd

# ------------------------------------------------------------ percentiles

MIN_BEYOND = 10  # samples a reported percentile must have beyond it


def samples_beyond(n: int, p: float) -> int:
    """Samples ranked strictly above the ``p``-th percentile of ``n``."""
    return n - math.ceil(p / 100.0 * n)


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile. Raises ``ValueError`` when
    fewer than ``MIN_BEYOND`` samples lie beyond it: a tail figure read
    off a handful of samples is noise, so the benchmark refuses to report
    it instead of reporting it quietly."""
    vals = sorted(values)
    n = len(vals)
    if n == 0 or samples_beyond(n, p) < MIN_BEYOND:
        raise ValueError(
            f"p{p:g} needs {MIN_BEYOND} samples beyond it; have {n} samples"
        )
    pos = p / 100.0 * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def median(values) -> float:
    return float(statistics.median(values))


def drain_time(commits: list[tuple[float, int]], lo: int, hi: int, q: float) -> float:
    """When a share ``q`` of a backlog of LSNs ``[lo, hi)`` was visible.
    ``commits`` is ``[(seconds since the drain began, committed
    boundary), ...]`` in commit order; a boundary ``b`` covers every LSN
    below ``b``. Not a sampled percentile: with the whole backlog landed
    at once, it is a point on the drain's progress curve."""
    need = lo + math.ceil(q * (hi - lo))  # boundary that covers the share
    for t, b in commits:
        if b >= need:
            return t
    raise ValueError(f"the backlog [{lo}, {hi}) never reached {q:.0%}")


# ----------------------------------------------------------- span arithmetic


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``.
    Overlapping children (concurrent stage threads) are counted once."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: its duration minus the part of it its child spans
    cover. A span is ``{"id", "parent", "start", "end", ...}``."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


# ------------------------------------------------------------- segments


def cut_segments(events: pd.DataFrame, lo: int, hi: int, seg_lsns: int) -> list[tuple[int, int, pd.DataFrame]]:
    """Cut the events with ``lo <= lsn < hi`` into segments of
    ``seg_lsns`` consecutive LSNs: ``[(seg_lo, seg_hi, frame), ...]``.

    Each segment carries EVERY delivered row of its LSN range, in delivery
    order — redelivered duplicates and delivery disorder stay inside the
    segment. That is the binlog contract the incremental driver relies
    on: once a segment has landed, no event below its upper LSN is still
    to come."""
    if seg_lsns < 1:
        raise ValueError("seg_lsns must be >= 1")
    lsn = events["lsn"].to_numpy()
    mask = (lsn >= lo) & (lsn < hi)
    sub = events[mask]
    seg = (sub["lsn"].to_numpy() - lo) // seg_lsns
    order = np.argsort(seg, kind="stable")  # stable keeps delivery order
    sub = sub.iloc[order]
    seg = seg[order]
    out = []
    bounds = np.searchsorted(seg, np.arange((hi - lo + seg_lsns - 1) // seg_lsns + 1))
    for i in range(len(bounds) - 1):
        s_lo = lo + i * seg_lsns
        out.append((s_lo, min(s_lo + seg_lsns, hi), sub.iloc[bounds[i]:bounds[i + 1]]))
    return out


# ---------------------------------------------------------------- oracles


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, np.generic):
        return v.item()
    return v


def index_state(frame: pd.DataFrame, keys: list[str], cols: list[str]) -> dict:
    """A table or oracle frame as ``{key tuple: column tuple}``, values
    normalised (NaN and None -> None, numpy scalars -> Python)."""
    return {
        tuple(_norm(x) for x in r[: len(keys)]): tuple(_norm(x) for x in r[len(keys):])
        for r in frame[keys + cols].itertuples(index=False, name=None)
    }


def compare_state(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], cols: list[str]) -> dict:
    """Column-exact comparison of a table's final state against an
    oracle frame: counts of keys missing from ``got``, extra in ``got``,
    and present in both with any of ``cols`` different (null == null)."""
    g = index_state(got, keys, cols)
    w = index_state(want, keys, cols)
    both = g.keys() & w.keys()
    return {
        "compared": len(w.keys() | g.keys()),
        "missing": len(w.keys() - g.keys()),
        "extra": len(g.keys() - w.keys()),
        "mismatched": sum(1 for k in both if g[k] != w[k]),
    }


def state_failures(cmp: dict) -> int:
    return cmp["missing"] + cmp["extra"] + cmp["mismatched"]


def lookup_matches(rows: dict, keys, states) -> bool:
    """True when ONE of ``states`` explains every key of a lookup.
    ``rows`` maps key -> column tuple (absent keys missing); each state
    is the oracle's ``{key: column tuple}`` at one commit visible during
    the call. A point read sees one snapshot, so all keys must agree on
    the same commit."""
    return any(all(rows.get(k) == st.get(k) for k in keys) for st in states)


# ---------------------------------------------------------------- backlog

BACKLOG_GROWTH = 3.0


def backlog_steady(lags: list[int]) -> bool:
    """True unless the backlog left after the last apply cycle (produced
    minus committed LSNs) exceeds ``BACKLOG_GROWTH`` times the smallest
    an earlier cycle left. A cycle applies everything landed before it
    started, so its backlog is what arrived while it ran: a steady loop's
    cycles stay near its fixed cost (a compaction cycle reaches ~2x),
    while a loop that cannot keep up leaves more each cycle."""
    if len(lags) < 2:
        return True
    return lags[-1] <= BACKLOG_GROWTH * min(lags[:-1])


# -------------------------------------------------------------- host state


def mem_probe_gbps(seconds: float = 0.5, mb: int = 64) -> float:
    """Sustained single-process copy bandwidth (GB/s). Both buffers are
    faulted in before the timed loop, which then copies in place (the
    legacy harness's probe, with smaller buffers and no wait loop)."""
    src = np.full(mb * 1024 * 1024, 7, dtype=np.uint8)
    dst = src.copy()
    t0 = time.perf_counter()
    n = 0
    while time.perf_counter() - t0 < seconds:
        np.copyto(dst, src)
        n += 1
    return n * mb / 1024 / (time.perf_counter() - t0)


def host_state() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "mem_probe_gbps": round(mem_probe_gbps(), 3),
    }


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, MB; 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
