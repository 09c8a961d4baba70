"""Order-independent fingerprints of query outputs, and the tool that
stores them.

A fingerprint is the row count plus the value hash of
``tools/check.py`` (columns sorted by name, rows sorted, md5), taken
after that tool's ``normalize`` and after rounding floats to 9
significant digits, so that a sum accumulated in another order still
matches.

Regenerate the stored fingerprints (and cross-check each against the
query's DuckDB oracle where it has one) with:

    python3 perfbench/fingerprint.py

Run it only when the generated inputs or a query's defined output
change; a mismatch in a benchmark run otherwise means a wrong result.
"""

from __future__ import annotations

import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STORE = os.path.join(HERE, "fingerprints.json")


def _check_module():
    sys.path.insert(0, os.path.join(REPO, "tools"))
    try:
        import check  # tools/check.py: the oracle gate's comparison
    finally:
        sys.path.pop(0)
    return check


def _round(x):
    if isinstance(x, float) and math.isfinite(x):
        return float(f"{x:.9g}")
    return x


def fingerprint(pdf) -> dict:
    """{"rows": n, "hash": md5} of a pandas frame, order-independent."""
    check = _check_module()
    df = check.normalize(pdf)
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].map(_round)
    return {"rows": len(df), "hash": check.value_hash(df)}


def load() -> dict:
    with open(STORE, encoding="utf-8") as fh:
        return json.load(fh)


def main() -> int:
    import duckdb

    import run

    ctx = run.Context(workload="fingerprints", seed=0, seconds=0, trace=False)
    try:
        spark = ctx.start_spark()
        sf_dir = ctx.make_inputs()
        from bike_data_flow_spark.queries import load_all
        from bike_data_flow_spark.tables import TABLES

        registry = load_all()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in sorted({q for qs in run.BATCH_QUERIES.values() for q in qs}):
            q = registry[name]
            fp = fingerprint(q.fn(spark, sf_dir).toPandas())
            # the second call sees whatever state the first left behind
            # (stores under the temp dir), as warm passes do
            again = fingerprint(q.fn(spark, sf_dir).toPandas())
            fp["repeatable"] = again == fp
            if q.oracle is None:
                fp["oracle"] = "none"
            else:
                ofp = fingerprint(con.execute(q.oracle).fetchdf())
                fp["oracle"] = "match" if ofp == {k: fp[k] for k in ofp} else "MISMATCH"
            print(name, fp, flush=True)
            out[name] = fp
        with open(STORE, "w", encoding="utf-8") as fh:
            json.dump(
                {"sf": run.SF, "data_seed": run.datagen.DATA_SEED, "queries": out},
                fh,
                indent=1,
                sort_keys=True,
            )
            fh.write("\n")
        return 0 if all(v["oracle"] != "MISMATCH" and v["repeatable"] for v in out.values()) else 1
    finally:
        ctx.close()


if __name__ == "__main__":
    sys.exit(main())
