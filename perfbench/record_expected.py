"""Record the (rows, checksum) each catalog entry must produce.

    python3 perfbench/record_expected.py

For every scale a catalog workload uses, generates its tables, then runs
each entry against its DuckDB oracle (``tools/check_correctness.compare``)
and materializes it three times.  An entry's values are written to
``perfbench/expected.json`` only if it matched the oracle and its checksum
repeated; every other entry is reported and left out.
"""

from __future__ import annotations

import json
import sys

import run as bench
import workloads as wl
from measure import checksum_frame, collect_checksum


def main() -> int:
    sys.path.insert(0, str(bench.ROOT / "tools"))
    import duckdb
    from check_correctness import compare

    scales = sorted({bench.WORKLOADS[w]["sf"] for w in wl.CATALOG})
    session = bench.Run("record", 0, trace=False)
    recorded: dict[str, dict[str, list[int]]] = {}
    bad = []
    try:
        session.prepare()
        session.start_session()
        from aicoe_osc_demo_spark.plans import ORACLE, QUERIES

        spark = session.spark
        for sf in scales:
            data = str(session.work / f"data_sf{sf}")
            bench.datagen.write_tables(data, sf, bench.DATA_SEED)
            con = duckdb.connect()
            for t in bench.datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            names = sorted({n for w, ns in wl.CATALOG.items()
                            if bench.WORKLOADS[w]["sf"] == sf for n in ns})
            values = {}
            for name in names:
                err = "no oracle"
                if name in ORACLE:
                    err = compare(QUERIES[name](spark, data).toPandas(),
                                  con.execute(ORACLE[name]).fetchdf())
                spark.catalog.clearCache()
                sums = set()
                for _ in range(3):
                    sums.add(collect_checksum(checksum_frame(QUERIES[name](spark, data))))
                    spark.catalog.clearCache()
                if len(sums) != 1:
                    err = f"checksum did not repeat: {sorted(sums)}"
                if err:
                    bad.append(f"sf{sf} {name}: {err}")
                else:
                    values[name] = list(sums.pop())
                print(f"sf{sf} {name}: {'ok' if not err else err}", flush=True)
            con.close()
            recorded[str(sf)] = values
    finally:
        session.close()
    (bench.HERE / "expected.json").write_text(json.dumps(recorded, indent=1, sort_keys=True) + "\n")
    for line in bad:
        print(f"NOT RECORDED {line}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
