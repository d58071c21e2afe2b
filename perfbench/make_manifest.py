"""Pin the expected result of every benchmark lane from its DuckDB oracle.

Runs each lane's ``oracle_sql`` on DuckDB over the benchmark's fixture
copies and writes ``manifest.json``: per scale, per lane, the row count,
sorted column names and canonical hash (``canon.py``). The oracles are too
slow to run on every benchmark run, so they run once, here.

Usage, from the repository root:
    python3 perfbench/make_manifest.py [sf0.1 sf0.001 ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from perfbench.canon import frame_hash  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402
from shortvideohybridanalyticslakehouse_spark.plans.registry import (  # noqa: E402
    load_all,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import (  # noqa: E402
    TPCH_TABLES,
)

MANIFEST = os.path.join(HERE, "manifest.json")


def oracle_hashes(sf_dir: str, lanes: list[str]) -> dict:
    registry = load_all()
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for lane in lanes:
        t0 = time.time()
        out[lane] = frame_hash(con.sql(registry[lane][1]).df())
        print(f"{lane}: {out[lane]} [{time.time() - t0:.1f}s]", flush=True)
    return out


def main() -> int:
    scales = sys.argv[1:] or ["sf0.1", "sf0.001"]
    lanes = [lane for w in WORKLOADS.values() for lane in w.lanes]
    manifest = {}
    if os.path.exists(MANIFEST):
        with open(MANIFEST) as fh:
            manifest = json.load(fh)
    for sf in scales:
        manifest[sf] = oracle_hashes(os.path.join(HERE, "data", sf), lanes)
    with open(MANIFEST, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
