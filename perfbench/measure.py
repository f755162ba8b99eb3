"""Latency statistics, the block loop, memory high-water marks and result
hashing."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import time


def percentile(values: list[float], pct: float) -> float:
    """Percentile (pct in 0..100) of a non-empty sample, interpolated
    linearly between order statistics (NumPy's default). It moves
    smoothly with the latencies, not in jumps from one op to the next."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = pct / 100.0 * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


TAIL_MIN_BEYOND = 10  # samples a tail percentile must leave above it
TAIL_CAP = 90.0


def tail_percentile(n: int) -> float:
    """Highest whole percentile (<= ``TAIL_CAP``) that leaves at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples strictly above its nearest rank.

    With 100 or more samples this is p90; smaller samples get a lower
    percentile, down to p50, below which no tail is claimed.
    """
    for pct in range(int(TAIL_CAP), 49, -1):
        if n - math.ceil(pct / 100.0 * n) >= TAIL_MIN_BEYOND:
            return float(pct)
    return 50.0


def run_blocks(blocks, deadline: float, op) -> list[tuple[str, float, bool]]:
    """Closed loop over whole blocks of ops until the window is used up.

    ``op(op_id, item)`` returns ``(kind, latency, ok)``. A block always
    runs to its end; the next one starts only if, at the mean block time
    so far, it would end less than half a block after ``deadline``. So a
    window holds a whole number of blocks and ends within half a block of
    the deadline on average; with identical block mixes every run times
    the same mix.
    """
    ops: list[tuple[str, float, bool]] = []
    t0 = time.perf_counter()
    for n, block in enumerate(blocks):
        now = time.perf_counter()
        if n and now + (now - t0) / n / 2 >= deadline:
            break
        for item in block:
            ops.append(op(len(ops), item))
    return ops


def reset_peak_rss() -> None:
    """Reset this process's ``VmHWM`` to its current resident set, so the
    benchmark's own input generation is not counted in the peak."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the ``VmHWM`` (peak resident set) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)) or type(v).__module__ == "numpy":
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return "%.17g" % f
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted.

    Numbers are compared by value (an integral double equals the same
    integer), which is how the engine's DuckDB oracle checks compare.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\x1d" + line.encode())
    return h.hexdigest()


def rss_pids(spark) -> list[int]:
    """This Python process plus the driver JVM behind ``spark``."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return [os.getpid(), jvm_pid]
