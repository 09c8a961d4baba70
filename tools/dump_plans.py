"""Dump the FULL `.explain("formatted")` output of bench queries into
OUT_DIR/<query>_<tag>.txt — before/after evidence for an optimization
write-up (e.g. `plans/r13/`, which OPTIMIZATION_r13.md references).

Usage: python tools/dump_plans.py OUT_DIR TAG [sf_dir] [query ...]

TAG is typically "before" or "after". Without a query list every bench
query is dumped; an explicit list may also name gate-only queries.
Unlike tools/plan_snapshots.py (canonicalized, test-pinned), these
files keep the raw explain output — expression ids, statistics and
all — so a reader sees exact plan shapes (Exchange count, join
strategy, PushedFilters, codegen spans).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bike_data_flow_spark.queries import load_all  # noqa: E402
from bike_data_flow_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir, tag = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    only = set(sys.argv[4:])
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    for q in load_all().values():
        if only:
            if q.name not in only:
                continue
        elif not q.bench:
            continue
        try:
            df = q.fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as e:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {e}\n"
        path = os.path.join(out_dir, f"{q.name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {q.name} ({tag}) at {sf_dir}\n")
            fh.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
