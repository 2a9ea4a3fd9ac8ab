"""In-memory spans around the calls the benchmark makes into each layer.

A span holds a name, start, end, parent span and op id. Spans stay in
memory and are summarised when the run ends. A layer's self time is its
span's duration minus the part covered by its child spans.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from typing import Dict, List


class Tracer:
    """Span recorder for one client thread; while disabled, ``span``
    records nothing."""

    def __init__(self) -> None:
        self.enabled = False
        self.op_id = 0
        # [name, start, end, parent index, op id]
        self.spans: List[list] = []
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op_id]
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def next_op(self) -> None:
        self.op_id += 1

    def self_times(self) -> Dict[str, dict]:
        """{span name: {count, self_s, median_ms}} over closed spans."""
        child = [0.0] * len(self.spans)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None and t1 is not None:
                child[parent] += t1 - t0
        durs: Dict[str, List[float]] = {}
        selfs: Dict[str, float] = {}
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            if t1 is None:
                continue
            durs.setdefault(name, []).append(t1 - t0)
            selfs[name] = selfs.get(name, 0.0) + (t1 - t0) - child[i]
        return {name: {"count": len(d), "self_s": selfs[name],
                       "median_ms": statistics.median(d) * 1e3}
                for name, d in durs.items()}

    def median_ms(self, name: str) -> float:
        """Median duration of the named span, 0.0 if it never ran."""
        d = [t1 - t0 for n, t0, t1, _, _ in self.spans
             if n == name and t1 is not None]
        return statistics.median(d) * 1e3 if d else 0.0


def layer_table(workload: str, times: Dict[str, dict],
                overhead: Dict[str, float], named: Dict[str, float]) -> str:
    """Markdown table of per-span self time, grouped by layer (the part
    of the span name before the first dot), then the workload's named
    layer metrics and the tracing overhead."""
    lines = [f"# {workload}: per-layer self time (traced run)", "",
             "| layer | span | count | self s | median ms |",
             "|---|---|---|---|---|"]
    for name in sorted(times, key=lambda n: (n.split(".")[0], n)):
        t = times[name]
        lines.append(f"| {name.split('.')[0]} | {name} | {t['count']} | "
                     f"{t['self_s']:.4f} | {t['median_ms']:.3f} |")
    lines += ["", "| metric | value |", "|---|---|"]
    lines += [f"| {k} | {v:.6g} |" for k, v in named.items()]
    lines += ["", "Tracing overhead (traced over untraced ops of the same "
              "run, alternating):", ""]
    lines += [f"- {k}: {v:.4f}" for k, v in overhead.items()]
    return "\n".join(lines) + "\n"
