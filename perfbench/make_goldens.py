#!/usr/bin/env python3
"""Regenerate ``perfbench/goldens.json``, the expected result of every
query in the mix.

    python3 perfbench/make_goldens.py

For each query the Spark result over ``perfbench/data/sf0.01`` is
collected and compared, row for row and order-insensitively, with the
query's DuckDB oracle; the golden is recorded only when they agree. The
stored figures are the row count and the row hash that
``workloads.observe_hash`` computes while the query runs, so the benchmark
checks results without a second execution. The mix is then re-run at 1
and at 16 shuffle partitions, and the goldens are written only if every
hash is the same there, so they hold on machines with other core counts;
``goldens.json`` records the counts checked.
"""

from __future__ import annotations

import datetime
import json
import math
import os
import sys
from decimal import Decimal
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
CHECK_PARTITIONS = (1, 16)


def _normalize(v):
    if isinstance(v, Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, datetime.datetime):
        return "ts:" + v.isoformat()
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "b:" + bytes(v).hex()
    if v is None:
        return "null"
    return f"{type(v).__name__}:{v}"


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_normalize(r[i]) for i in idx) for r in rows)


def main() -> int:
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = str(ROOT)  # Python workers import the package

    import duckdb

    from graphsense_ethereum_etl_spark.queries import REGISTRY, TABLES
    from graphsense_ethereum_etl_spark.session import get_spark
    from perfbench.workloads import (
        DATA_DIR, GOLDENS, MIX, TRACED_ONLY, drop_persisted, observe_hash,
        observed_result,
    )

    spark = get_spark(app_name="perfbench-goldens", driver_memory="2g")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')"
        )
    goldens = {}
    for name in MIX + TRACED_ONLY:
        q = REGISTRY[name]
        sdf = q.fn(spark, str(DATA_DIR))
        srows = [tuple(r) for r in sdf.collect()]
        drop_persisted(spark)
        res = con.execute(q.oracle)
        dcols = [d[0] for d in res.description]
        if sorted(sdf.columns) != sorted(dcols) or _rowset(sdf.columns, srows) != _rowset(
            dcols, res.fetchall()
        ):
            print(f"{name}: Spark result differs from the DuckDB oracle", file=sys.stderr)
            return 1
        df, obs = observe_hash(q.fn(spark, str(DATA_DIR)))
        df.write.mode("overwrite").format("noop").save()
        goldens[name] = {**observed_result(obs), "checked_against": "duckdb-oracle"}
        drop_persisted(spark)
        print(name, goldens[name], flush=True)
    checked = [int(spark.conf.get("spark.sql.shuffle.partitions"))]
    for n in CHECK_PARTITIONS:
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        for name in MIX + TRACED_ONLY:
            df, obs = observe_hash(REGISTRY[name].fn(spark, str(DATA_DIR)))
            df.write.mode("overwrite").format("noop").save()
            got = observed_result(obs)
            drop_persisted(spark)
            if got["hash"] != goldens[name]["hash"] or got["rows"] != goldens[name]["rows"]:
                print(f"{name}: hash differs at {n} shuffle partitions", file=sys.stderr)
                return 1
        checked.append(n)
        print(f"all hashes equal at {n} shuffle partitions", flush=True)
    GOLDENS.write_text(json.dumps(
        {"data": "perfbench/data/sf0.01", "queries": goldens,
         "shuffle_partitions_checked": checked}, indent=1, sort_keys=True
    ) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
