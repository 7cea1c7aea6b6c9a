"""Exact set-join saturation-guard soak (VERDICT r9 #5): run the
guarded operators with ``n='auto'`` on a scale fixture and pin every
guard decision — (width, probe volume, cap, verdict) per tried width —
plus the end-to-end wall time of the admitted width.

The gate queries pin fixed n=3 (their DuckDB twins must hash-match),
so on a saturated corpus the gates REFUSE at scale (tools/soak_scale.py
records those refusals); THIS harness pins the deploy path — auto
escalation 3→5→… until the probed candidate volume fits the budget —
so a regression in the probe's bound (e.g. a tokenizer change
shrinking the token space) shows up as a changed (volume, chosen_n)
artifact row, not a wall-clock blowup.

Usage: python tools/soak_setjoin_auto.py [sf10]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "sf10"
    from bunsen_spark.operators.dedup import containment_pairs, jaccard_pairs
    from bunsen_spark.operators.setjoin import GUARD_TRACE
    from bunsen_spark.session import get_spark

    spark = get_spark("soak_setjoin_auto")
    docs = spark.read.parquet(str(REPO / "scale_testdata" / sf / "documents.parquet"))
    docs.count()  # warm the scan

    for name, run in (
        ("jaccard_pairs", lambda: jaccard_pairs(docs, n="auto")),
        ("containment_pairs", lambda: containment_pairs(docs, n="auto")),
    ):
        GUARD_TRACE.clear()
        t0 = time.time()
        n_rows = run().count()
        dt = time.time() - t0
        for d in GUARD_TRACE:
            verdict = "ADMIT" if d["admitted"] else "escalate"
            print(
                f"  guard[{name} @ {sf}]: n={d['width']} "
                f"probe_volume={d['volume']:,} cap={d['cap']:,} {verdict}",
                flush=True,
            )
        chosen = next(d["width"] for d in GUARD_TRACE if d["admitted"])
        print(
            f"{name:24s} {sf} n=auto -> chose n={chosen}; "
            f"{dt:7.1f}s ({n_rows} pairs)",
            flush=True,
        )


if __name__ == "__main__":
    main()
