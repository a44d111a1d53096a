#!/usr/bin/env python3
"""Re-pin ``fingerprints.json`` for every query the batch workloads run.

    python3 perfbench/pin.py

Writes the benchmark's tables (``datagen``), then for each query:

* with an oracle in ``registry.oracle_sql()``: the fingerprint of the
  DuckDB oracle's rows, through ``testing.duckdb_connection``; the
  Spark result is fingerprinted as well and any disagreement printed;
* without one (rows-only): the fingerprint of the current Spark result.

Only re-pin after a deliberate change to the data or the query set,
and review the diff: a pin taken from a wrong result hides the defect.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import batch, datagen, fingerprint  # noqa: E402
from perfbench.run import OUT, SF, _setup_env  # noqa: E402


def main() -> int:
    _setup_env()
    sf_dir = datagen.write_tables(os.path.join(OUT, "data", f"sf{SF}"), SF)
    from unimib_simpss_spark.operators.caching import release_result
    from unimib_simpss_spark.plans import registry
    from unimib_simpss_spark.session import get_spark
    from unimib_simpss_spark.testing import duckdb_connection

    spark = get_spark(app_name="perfbench-pin")
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracle = registry.queries(), registry.oracle_sql()
    con = duckdb_connection(sf_dir)
    pins, disagree = {}, []
    for name in batch.resolve(batch.LAZY_ALL + batch.EAGER_ALL):
        df = qs[name](spark, sf_dir)
        got = fingerprint.of_dataframe(df)
        release_result(df)
        if name in oracle:
            rel = con.sql(oracle[name])
            want = fingerprint.fingerprint(list(rel.columns), rel.fetchall())
            pins[name] = {**want, "source": "oracle"}
            if want != got:
                disagree.append(name)
        else:
            pins[name] = {**got, "source": "seed"}
        print(name, pins[name], "" if name not in disagree else f"SPARK {got}", flush=True)
    doc = {"sf": SF, "data_seed": datagen.DATA_SEED, "queries": pins}
    with open(fingerprint.PINNED, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
    if disagree:
        print("Spark disagrees with the oracle on:", disagree, file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
