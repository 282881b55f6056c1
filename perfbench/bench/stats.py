"""Percentiles with a minimum sample count, and the row hash the ingest
checks share with the JVM harness."""
import hashlib
import math

MASK64 = (1 << 64) - 1

# Samples a percentile should have strictly above it: ten, so p90 rests on
# 100 operations. A run inside the benchmark's time budget times 20 to 40
# operations, so it accepts MIN_TAIL_SAMPLES and records the count it had.
TAIL_SAMPLES = 10
MIN_TAIL_SAMPLES = 2


def min_samples(q, tail=TAIL_SAMPLES):
    """Smallest sample count for which percentile `q` (0 < q < 1) has
    `tail` samples beyond it."""
    return math.ceil(tail / (1.0 - q) - 1e-9)


def rank(n, q):
    """1-based nearest rank of percentile q among n samples."""
    return max(1, math.ceil(q * n - 1e-9))


def percentile(values, q, tail=TAIL_SAMPLES):
    """Nearest-rank percentile of `values`; None when there are fewer than
    min_samples(q, tail) of them."""
    if not 0.0 < q < 1.0:
        raise ValueError("q must be in (0, 1)")
    n = len(values)
    if n < min_samples(q, tail):
        return None
    return sorted(values)[rank(n, q) - 1]


def hash64(text):
    """First 8 bytes of the SHA-256 of the UTF-8 text, big-endian."""
    return int.from_bytes(hashlib.sha256(text.encode("utf-8")).digest()[:8], "big")


def row_hash(rows):
    """(count, hex hash) of canonical row strings, independent of order:
    the wrapping sum of each row's hash64 (RowHash.combine in the harness)."""
    total = 0
    n = 0
    for r in rows:
        total += hash64(r)
        n += 1
    return n, format(total & MASK64, "x")
