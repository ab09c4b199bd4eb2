"""Self-checks of the benchmark, run with `python3 perfbench/run.py --selftest`.

1. The tail rule: the percentile `stats.tail` picks always leaves at least
   TAIL_BEYOND samples beyond it, and no higher percentile does.
2. Determinism: two traced runs with one seed give identical counts (files
   kept per op, input and output bytes, metadata bytes, compactions,
   recall) and identical generated inputs; a run with another seed
   generates different inputs.

Exit code 0 when every check passes.
"""
import json
import random
import sys

import run
import stats

SECONDS = 1  # each workload then runs its minimum op count


def check_tail_rule():
    rng = random.Random(7)
    for _ in range(2000):
        n = rng.randint(stats.TAIL_BEYOND + 1, 3000)
        # few distinct values, so ties are common
        samples = [rng.choice([1.0, 2.0, 3.0, rng.random()]) for _ in range(n)]
        pct, value, got_n, beyond = stats.tail(samples)
        s = sorted(samples)
        rank = round(pct * n / 100.0)
        assert got_n == n and beyond == n - rank >= stats.TAIL_BEYOND, (n, pct, beyond)
        assert s[rank - 1] == value, (n, pct)
        # one rank higher would leave fewer than TAIL_BEYOND beyond it
        assert n - (rank + 1) < stats.TAIL_BEYOND, (n, pct)
    for n in range(0, stats.TAIL_BEYOND + 1):
        try:
            stats.tail([1.0] * n)
        except ValueError:
            continue
        raise AssertionError(f"tail of {n} samples must be refused")
    print("selftest: tail rule ok")


def counts(art):
    """The figures that must repeat exactly for one seed."""
    lay = art["layers"]
    c = {
        "attempted": art["timed"]["attempted"],
        "failed": art["timed"]["failed"],
        "inputs_digest": art["inputs_digest"],
        "storage.meta_bytes": lay["storage.meta_bytes"],
        "storage.compactions": lay["storage.compactions"],
        "storage.compact_bytes_rewritten": lay["storage.compact_bytes_rewritten"],
        "spark.exec.input_bytes_per_op": lay["spark.exec.input_bytes_per_op"],
        "spark.exec.output_bytes_per_op": lay["spark.exec.output_bytes_per_op"],
        "recall_at_10": art["recall_at_10"],
        "bytes_stored_per_user_byte": art["bytes_stored_per_user_byte"],
    }
    if art["workload"] == "scan":
        c["files_kept"] = [r["files_kept"] for r in art["per_op"]]
        c["input_bytes"] = [r["input_bytes"] for r in art["per_op"]]
    return c


def check_determinism(workload, seed):
    a, _ = run.run_jvm(workload, seed, SECONDS, 1)
    b, _ = run.run_jvm(workload, seed, SECONDS, 1)
    c, _ = run.run_jvm(workload, seed + 1, SECONDS, 1)
    ca, cb = counts(a), counts(b)
    diff = {k: (ca[k], cb[k]) for k in ca if ca[k] != cb[k]}
    assert not diff, f"{workload}: seed {seed} did not repeat: {json.dumps(diff)[:2000]}"
    assert a["timed"]["failed"] == 0, f"{workload}: failures {a['timed']['failures']}"
    mismatch = [r["op"] for r in a.get("per_op", []) if not r["static_matches_pruner"]]
    assert not mismatch, f"{workload}: graftFilesPrunedStatic != files_total - files_kept on {mismatch}"
    assert a["inputs_digest"] != c["inputs_digest"], f"{workload}: seed {seed + 1} repeated the inputs"
    assert a["repeat_share"] == 0.0 and c["repeat_share"] == 0.0, f"{workload}: repeated inputs"
    print(f"selftest: {workload} repeats for seed {seed} and changes for seed {seed + 1}")


def main(workloads=run.WORKLOADS):
    check_tail_rule()
    for w in workloads:
        check_determinism(w, 101)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
