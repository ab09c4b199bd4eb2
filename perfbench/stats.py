"""Summary statistics of one run's artifact."""
import math
import statistics

# A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def tail(samples):
    """The highest percentile that still has TAIL_BEYOND samples beyond it.

    With n sorted samples and nearest-rank percentiles, the value at rank
    r (1-based) is the p-th percentile for p = 100 * r / n, and n - r
    samples lie beyond it. The highest p with n - r >= TAIL_BEYOND is
    r = n - TAIL_BEYOND. Returns (percentile, value, n, beyond).
    """
    n = len(samples)
    if n <= TAIL_BEYOND:
        raise ValueError(f"need more than {TAIL_BEYOND} samples for a tail, got {n}")
    s = sorted(samples)
    rank = n - TAIL_BEYOND
    return 100.0 * rank / n, s[rank - 1], n, n - rank


def summarize(art):
    """End-to-end metrics (name -> (value, unit)) of an untraced artifact."""
    t = art["timed"]
    lat = t["latencies_ms"]
    ops = len(lat) + len(t["extra_ms"])
    pct, tail_v, n, _ = tail(lat)
    return {
        "setup_s": (art["setup"]["setup_s"], "s"),
        "p50_ms": (statistics.median(lat), "ms"),
        "tail_ms": (tail_v, "ms"),
        "ops_per_s": (ops / t["wall_s"], "1/s"),
        "cpu_s_per_op": (t["cpu_s"] / ops, "s"),
        "heap_mb": (art["heap_mb"], "MB"),
        "bytes_stored_per_user_byte": (art["bytes_stored_per_user_byte"], "ratio"),
        "write_amp": (art["write_amp"], "ratio"),
        "recall_at_10": (art["recall_at_10"], "ratio"),
    }, f"p{pct:.1f} of n={n}"


def summarize_layers(art):
    """Per-layer metrics (name -> (value, unit)) of a traced artifact.

    Names and units come from the artifact's `layer_table`, the one list
    of per-layer figures (perfbench/scala/perfbench/Layers.scala)."""
    out = {}
    for row in art["layer_table"]:
        v = art["layers"][row["name"]]
        out[row["name"]] = (float(v) if v is not None and math.isfinite(v) else 0.0, row["unit"])
    return out
