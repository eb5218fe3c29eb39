"""Pure arithmetic of the benchmark: percentiles, the tail rule, span self
time, spreads, and the syntax checks for metric names and BENCHMARK.json.

No Spark and no third-party imports, so ``test_stats.py`` runs anywhere.
"""

from __future__ import annotations

import math
import re
import statistics

#: percentiles the tail rule may pick, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
#: samples that must lie beyond the reported tail percentile
TAIL_MIN_BEYOND = 10

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH_RE = re.compile(r"^[A-Za-z0-9_.\-/]{1,200}$")


def rank(n: int, p: float) -> int:
    """1-based nearest-rank index of percentile ``p`` in ``n`` sorted samples."""
    if n < 1:
        raise ValueError("rank of an empty sample")
    # rounded first: 99.9 / 100 * 10000 is 9990.000000000002 in floating point
    return min(n, max(1, math.ceil(round(p * n / 100.0, 9))))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: an observed value, never an interpolation."""
    s = sorted(values)
    return s[rank(len(s), p) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ``TAIL_MIN_BEYOND``
    samples strictly beyond it, or None when ``n`` is too small for any."""
    for p in TAIL_LADDER:
        if n >= 1 and n - rank(n, p) >= TAIL_MIN_BEYOND:
            return p
    return None


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, sample count) of the tail, or None."""
    p = tail_percentile(len(values))
    if p is None:
        return None
    return percentile(values, p), p, len(values)


def median(values: list[float]) -> float:
    return statistics.median(values)


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median, over runs."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval its children cover.

    Spans are dicts with ``id``, ``start``, ``end`` and ``parent`` (None for
    a root). Overlapping children are merged first, and a child that spills
    past its parent counts only inside the parent's interval.
    """
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def check_metric(name: str, unit: str) -> None:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad unit {unit!r} for {name}")


def _keys(obj: dict, want: set, where: str) -> None:
    if not isinstance(obj, dict) or set(obj) != want:
        got = sorted(obj) if isinstance(obj, dict) else type(obj).__name__
        raise ValueError(f"{where}: keys must be {sorted(want)}, got {got}")


def _str(v, limit: int, where: str) -> None:
    if not isinstance(v, str) or not v or len(v) > limit or "\n" in v:
        raise ValueError(f"{where}: want one line of at most {limit} characters")


def validate_benchmark(doc: dict) -> None:
    """Raise ValueError unless ``doc`` is a well-formed BENCHMARK.json."""
    _keys(
        doc,
        {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"},
        "BENCHMARK.json",
    )
    cmd = doc["command"]
    if not isinstance(cmd, list) or not 1 <= len(cmd) <= 32:
        raise ValueError("command: 1 to 32 strings")
    for c in cmd:
        _str(c, 200, "command")
        if c.startswith("/") or ".." in c.split("/"):
            raise ValueError(f"command: {c!r} leaves the checkout")
    paths = doc["paths"]
    if not isinstance(paths, list) or not 1 <= len(paths) <= 16:
        raise ValueError("paths: 1 to 16 directories")
    for p in paths:
        if not isinstance(p, str) or not PATH_RE.match(p) or p.startswith("/"):
            raise ValueError(f"paths: bad directory {p!r}")
        if ".." in p.split("/"):
            raise ValueError(f"paths: {p!r} leaves the checkout")
    rs = doc["run_seconds"]
    if not isinstance(rs, int) or isinstance(rs, bool) or not 1 <= rs <= 60:
        raise ValueError("run_seconds: a whole number from 1 to 60")
    wl = doc["workloads"]
    if not isinstance(wl, list) or not 2 <= len(wl) <= 8:
        raise ValueError("workloads: 2 to 8")
    seen: set[str] = set()

    def name(n: str, where: str) -> None:
        if not isinstance(n, str) or not NAME_RE.match(n):
            raise ValueError(f"{where}: bad name {n!r}")
        if n in seen:
            raise ValueError(f"{where}: name {n!r} used twice")
        seen.add(n)

    for w in wl:
        _keys(w, {"name", "why"}, "workload")
        name(w["name"], "workload")
        _str(w["why"], 200, f"workload {w['name']} why")
    e2e = doc["end_to_end"]
    if not isinstance(e2e, list) or not 1 <= len(e2e) <= 16:
        raise ValueError("end_to_end: 1 to 16 metrics")
    for m in e2e:
        _keys(m, {"name", "unit", "better", "bound"}, "end_to_end metric")
        name(m["name"], "end_to_end")
        check_metric(m["name"], m["unit"])
        if m["better"] not in ("lower", "higher"):
            raise ValueError(f"{m['name']}: better must be lower|higher")
        b = m["bound"]
        if not isinstance(b, (int, float)) or isinstance(b, bool) or not 0 < b <= 0.25:
            raise ValueError(f"{m['name']}: bound must be in (0, 0.25]")
    setup = [m for m in e2e if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower":
        raise ValueError("end_to_end needs setup_s in s, better lower")
    pl = doc["per_layer"]
    if not isinstance(pl, list) or not 1 <= len(pl) <= 128:
        raise ValueError("per_layer: 1 to 128 metrics")
    for m in pl:
        _keys(m, {"name", "unit", "better"}, "per_layer metric")
        name(m["name"], "per_layer")
        check_metric(m["name"], m["unit"])
        if m["better"] not in ("lower", "higher"):
            raise ValueError(f"{m['name']}: better must be lower|higher")
