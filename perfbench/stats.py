"""Summary statistics, metric naming and run stamps. No Spark imports."""

from __future__ import annotations

import math
import re
import statistics

# BENCHMARK.json's name rule: a letter or digit first, at most 64 of
# letters, digits, '_', '.' and '-'.
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# A tail percentile is reported only with at least this many samples
# beyond it; otherwise the tail is not supported by the sample.
MIN_BEYOND = 10


def check_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}: must match {NAME_RE.pattern}")
    return name


def median(values) -> float:
    return float(statistics.median(values))


def round_figures(ops: dict[str, list[float]]) -> dict[str, float]:
    """The end-to-end figures of a run, from the seconds each kind of
    operation took: ``round_s``, the sum over kinds of each kind's median
    (one typical round of every operation), and ``op_geomean_ms``, the
    geometric mean of those medians, in which every kind weighs alike."""
    meds = [median(v) for v in ops.values()]
    return {"round_s": sum(meds),
            "op_geomean_ms": math.exp(statistics.fmean(math.log(m) for m in meds)) * 1e3}


def tail_supported(n: int, q: float) -> bool:
    """True when ``n`` samples leave at least MIN_BEYOND beyond quantile ``q``."""
    return n * (1.0 - q) >= MIN_BEYOND - 1e-9


def min_samples(q: float) -> int:
    return math.ceil(MIN_BEYOND / (1.0 - q) - 1e-9)


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile; refuses an unsupported tail (q > 0.5)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    if q > 0.5 and not tail_supported(len(xs), q):
        raise ValueError(
            f"p{round(q * 100)} needs >= {min_samples(q)} samples, got {len(xs)}"
        )
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# -- stamps -----------------------------------------------------------------
# Every artifact carries a stamp. Two artifacts are comparable only when
# their stamps agree on every key except the ones a comparison is *about*:
# the program (git_sha and the digest of its sources, source) for an A/B,
# trace for the tracing overhead.

STAMP_KEYS = ("workload", "sf", "cpus", "seed", "seconds", "trace", "spark", "git_sha", "source")


class StampMismatch(ValueError):
    pass


def check_comparable(a: dict, b: dict, vary: tuple[str, ...] = ("git_sha", "source")) -> None:
    missing = [k for k in STAMP_KEYS if k not in a or k not in b]
    if missing:
        raise StampMismatch(f"stamp lacks {missing}")
    diff = {k: (a[k], b[k]) for k in STAMP_KEYS if k not in vary and a[k] != b[k]}
    if diff:
        raise StampMismatch(f"refusing to compare unlike runs: {diff}")
