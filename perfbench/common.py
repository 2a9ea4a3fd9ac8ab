"""Pieces every workload shares: the run result, set-up timing, and the
end-to-end and per-layer summaries."""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Tuple

import numpy as np

from remote import GET, META, PUT

SETUP_REPS = 3


class ShapeError(Exception):
    """The run broke its workload's stated shape; it is not a number."""


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    end_to_end: Dict[str, float] = field(default_factory=dict)
    per_layer: Dict[str, float] = field(default_factory=dict)
    # the workload's own end-to-end figures (such as read_p99_ms or
    # query_warm_s), printed in every run but not part of the JSON
    # result: each BENCHMARK.json metric must hold on every workload
    figures: Dict[str, float] = field(default_factory=dict)
    table: str = ""


@dataclass
class Op:
    """One user op of the closed loop: its kind, latency, the remote
    requests it caused by class, and whether it was traced."""
    kind: str
    seconds: float
    remote: Dict[str, int]
    traced: bool = False
    ok: bool = True

    @property
    def moved_data(self) -> bool:
        return bool(self.remote[GET] or self.remote[PUT])


def timed_setup(make: Callable[[int], object],
                discard: Callable[[object], None]) -> Tuple[object, float]:
    """Build the client ``SETUP_REPS`` times from scratch; keep the last
    one and return it with the median build time."""
    took, kept = [], None
    for rep in range(SETUP_REPS):
        if kept is not None:
            discard(kept)
        t0 = time.perf_counter()
        kept = make(rep)
        took.append(time.perf_counter() - t0)
    return kept, statistics.median(took)


_UNITS = (("_mb_s", "MiB/s"), ("_ops_s", "1/s"),
          ("_ms", "ms"), ("_s", "s"), ("_pct", "%"), ("_rate", "ratio"), ("_bytes", "B"))


def unit_of(name: str) -> str:
    """Unit of a figure, read from its name's suffix."""
    for suffix, unit in _UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


def percentile_ms(seconds: List[float], q: float) -> float:
    return float(np.percentile(seconds, q)) * 1e3 if seconds else 0.0


def median_ms(seconds: List[float]) -> float:
    if not seconds:
        raise ShapeError("no samples for a median")
    return statistics.median(seconds) * 1e3


def disk_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except FileNotFoundError:
                pass
    return total


def end_to_end(setup_s: float, misses: List[float], rate: float,
               requests_per_op: float, stored: int,
               user_bytes: int) -> Dict[str, float]:
    """The end-to-end metrics every workload reports. ``misses`` are
    latencies of ops that moved data to or from the remote; ``rate`` is
    the closed loop's steady-state ops per second."""
    return {
        "setup_s": setup_s,
        "miss_ms": median_ms(misses),
        "ops_per_s": rate,
        "remote_requests_per_op": requests_per_op,
        "stored_bytes_per_user_byte": stored / user_bytes,
    }


def fs_end_to_end(ops: List[Op], window: float, setup_s: float,
                  stored: int, user_bytes: int) -> Dict[str, float]:
    return end_to_end(
        setup_s, [o.seconds for o in ops if o.moved_data], len(ops) / window,
        sum(sum(o.remote.values()) for o in ops) / len(ops), stored,
        user_bytes)


def overhead_pct(ops: List[Op], moved_data: bool) -> float:
    """Median latency of traced ops over untraced ops of the same class
    (the traced run alternates them), as a percentage."""
    on = [o.seconds for o in ops if o.traced and o.moved_data == moved_data]
    off = [o.seconds for o in ops
           if not o.traced and o.moved_data == moved_data]
    if not on or not off:
        return 0.0
    return (statistics.median(on) / statistics.median(off) - 1.0) * 100.0


LAYERS = ("client", "manager", "streams", "engine", "functions", "spark")


def shares(times: Dict[str, dict], wall_s: float) -> Dict[str, float]:
    """Each layer's self time as a percentage of traced op wall time."""
    out = {f"{layer}.self_pct": 0.0 for layer in LAYERS}
    for name, t in times.items():
        key = name.split(".")[0] + ".self_pct"
        if key in out:
            out[key] += t["self_s"] / wall_s * 100.0
    return out


def cache_layers(mgr, s0: dict, user_read: int, misses: int) -> dict:
    """Tier counters of the driver-side manager over a window that began
    at stats snapshot ``s0``; ``user_read`` is what the reads that went
    remote asked for."""
    s = {k: v - s0[k] for k, v in mgr.stats.snapshot().items()}
    reads = s["total_read_requests"]
    wc = mgr.write_cache
    return {
        "pages.hit_ratio": (s["total_read_requests_from_data_cache"] / reads
                            if reads else 0.0),
        "pages.prefetch_bytes_per_miss": (
            max(0, s["total_bytes_read_remote"] - user_read) / misses
            if misses else 0.0),
        "pages.resident_bytes": mgr.pages.size_bytes(),
        "write_cache.read_share": (s["total_bytes_read_write_cache"]
                                   / s["total_bytes_read"]
                                   if s["total_bytes_read"] else 0.0),
        "write_cache.resident_bytes": wc.size_bytes() if wc else 0,
        "write_cache.pending_monikers": wc.moniker_count() if wc else 0,
        "mirror.resident_bytes": mgr.mirror.size_bytes(),
    }


def remote_layers(m: dict, n_ops: int, user_bytes: int) -> dict:
    """Wire traffic of a window, per op and per byte the user asked for."""
    return {
        "fs.remote_get_per_op": m[GET] / n_ops,
        "fs.remote_meta_per_op": m[META] / n_ops,
        "fs.remote_put_per_op": m[PUT] / n_ops,
        "fs.remote_bytes_per_user_byte": m["get_bytes"] / user_bytes,
    }
