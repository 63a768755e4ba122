"""Statistics and output helpers shared by run.py and its tests."""
import json
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name):
    """A metric or workload name: letters, digits, '_', '.', '-', at most 64."""
    return bool(NAME_RE.match(name))


def quantile(sorted_xs, p):
    """Nearest-rank p-th percentile (0 < p <= 100) of an ascending list."""
    n = len(sorted_xs)
    if n == 0:
        raise ValueError("no samples")
    idx = max(0, math.ceil(p / 100.0 * n) - 1)
    return sorted_xs[min(idx, n - 1)]


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail(samples, cap=99.0):
    """The highest percentile (at most `cap`, at least 50) that has at least
    ten samples beyond it, with its value and the sample count: (p, value, n).

    With the nearest-rank rule, p leaves n - ceil(p*n/100) samples above it,
    so p = 100*(n-10)/n, rounded down to 0.1, is the highest that leaves ten.
    """
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        raise ValueError(f"{n} samples: no percentile from p50 up has ten beyond it")
    p = min(cap, math.floor(1000.0 * (n - 10) / n) / 10.0)
    while n - math.ceil(p * n / 100.0) < 10:  # guard float rounding
        p = round(p - 0.1, 1)
    if p <= 50.0:  # twenty samples: the tail is the median itself
        return 50.0, median(xs), n
    return p, quantile(xs, p), n


def final_line(stdout_text):
    """Parse the result object from the last non-empty line of stdout."""
    lines = [ln for ln in stdout_text.splitlines() if ln.strip()]
    if not lines:
        raise ValueError("empty output")
    obj = json.loads(lines[-1])
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(obj)}")
    return obj
