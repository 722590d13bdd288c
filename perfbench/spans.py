"""Pure helpers: spans, self time, tail percentiles and stage diffs.

Nothing here touches Spark, so the unit tests in ``perfbench/tests``
exercise it directly.
"""

from __future__ import annotations

import json
import math
import time
from collections.abc import Iterable


class Tracer:
    """In-memory span recorder.

    ``span(name, **attrs)`` is a context manager; spans nest by the
    order they are opened, and each records its parent's id. A disabled
    tracer records nothing and costs one attribute check per span.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.record: dict | None = None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            self.record = {
                "id": len(t.spans),
                "parent": t._stack[-1] if t._stack else None,
                "name": self.name,
                "start": time.perf_counter(),
                "end": None,
                **self.attrs,
            }
            t.spans.append(self.record)
            t._stack.append(self.record["id"])
        return self

    def set(self, **attrs) -> None:
        """Attach counts to the span (no-op when tracing is off)."""
        if self.record is not None:
            self.record.update(attrs)

    def __exit__(self, *exc):
        if self.record is not None:
            self.record["end"] = time.perf_counter()
            self.tracer._stack.pop()
        return False


def covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(children.get(s["id"], []))
        for s in spans
    }


def tail_percentile(values: list[float], min_beyond: int = 10):
    """The highest percentile with at least ``min_beyond`` samples above it.

    Returns ``(value, percentile, n)``. The percentile is the largest
    whole number ``p`` with ``n * (100 - p) / 100 >= min_beyond``, and the
    value is the nearest-rank sample at ``p``. With too few samples for
    any such ``p``, the maximum is reported as percentile 100.
    """
    n = len(values)
    if n == 0:
        raise ValueError("no samples")
    ordered = sorted(values)
    if n <= min_beyond:
        return ordered[-1], 100, n
    p = math.floor(100 * (n - min_beyond) / n)
    rank = max(1, math.ceil(p / 100 * n))
    return ordered[rank - 1], p, n


def stage_diff(stages: list[dict], last_seen: int) -> dict:
    """Sum the stages newer than stage id ``last_seen``.

    Each stage is a dict of the status store's fields (``stage_id``,
    ``status``, ``tasks``, ``run_ms``, ``cpu_ns``, ``input_bytes``,
    ``shuffle_read_bytes``, ``shuffle_write_bytes``, ``spill_bytes``);
    retried attempts of a stage are separate entries. Skipped stages ran
    no tasks and are not counted.
    """
    out = {
        "stages": 0, "tasks": 0, "exec_run_s": 0.0, "exec_cpu_s": 0.0,
        "input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        "spill_bytes": 0,
    }
    for st in stages:
        if st["stage_id"] <= last_seen or st["status"] == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st["tasks"]
        out["exec_run_s"] += st["run_ms"] / 1e3
        out["exec_cpu_s"] += st["cpu_ns"] / 1e9
        for k in ("input_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            out[k] += st[k]
    return out


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


def parse_metric(text: str | None) -> float:
    """Numeric value of one SQL status-store metric string.

    Sum metrics read ``"60,000"``; size and timing metrics read
    ``"total (min, med, max ...)\\n1887.5 KiB (...)"``. Sizes come back
    in bytes; an absent or unparseable metric is 0.
    """
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    parts = line.replace(",", "").split()
    try:
        value = float(parts[0])
    except (IndexError, ValueError):
        return 0.0
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value
