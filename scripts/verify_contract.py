#!/usr/bin/env python
"""Drive the grading driver's contract end-to-end: run every queries() entry
through Spark at sf0.01 and hash-compare against its oracle_sql() DuckDB twin
(exactly the external driver's compare: sort columns, stringify, sort rows,
md5). SPARK_GRAFT_ORACLE_SF_DIR, which points the fixture-backed twins at a
scale, moves the Spark side and the SQL tables there too. It first prints
the md5 of all oracle_sql() texts with the source-keyed oracle and fixture
directories replaced by placeholders, which changes only when some twin's
SQL does. Usage:

    python scripts/verify_contract.py              # all queries
    python scripts/verify_contract.py q1 dedup_exact   # just these
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from robokop_build_spark.datagen.fixtures import source_key  # noqa: E402
from robokop_build_spark.datagen.oracle_fixtures import oracle_dir  # noqa: E402
from robokop_build_spark.plans.benchmark_queries import (  # noqa: E402
    DRIVER_SF,
    DRIVER_SF_DIR,
    _fixture_dir_for,
    _kg_work_dir,
)
from robokop_build_spark.session import get_spark  # noqa: E402

SF = DRIVER_SF_DIR
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def vhash(df):
    df = df[sorted(df.columns)]
    rows = sorted(
        tuple(str(v) for v in row) for row in df.itertuples(index=False)
    )
    return hashlib.md5(str(rows).encode()).hexdigest()


def oracle_texts_md5(oracles: dict[str, str]) -> str:
    """md5 of the oracle texts, in name order, with this source's keyed
    oracle and fixture directories replaced by placeholders."""
    text = "\0".join(f"{name}\0{oracles[name]}" for name in sorted(oracles))
    text = text.replace(oracle_dir(DRIVER_SF), "<oracle_dir>")
    text = text.replace(_fixture_dir_for(SF), "<fixture_dir>")
    return hashlib.md5(text.encode()).hexdigest()


def main() -> int:
    only = set(sys.argv[1:])
    print(f"source_key {source_key()}, kg_* workdir {_kg_work_dir(SF)}")
    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    print(
        f"oracle_sql: {len(oracles)} texts, "
        f"placeholder md5 {oracle_texts_md5(oracles)}"
    )
    failed = []
    for name, fn in qs.items():
        if only and not any(name.startswith(o) for o in only):
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {e!r}")
            failed.append(name)
            continue
        from robokop_build_spark.caching import release_operator_caches

        release_operator_caches()
        spark.catalog.clearCache()
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(sdf)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        odf = con.execute(oracles[name]).df()
        ok_rows = len(sdf) == len(odf)
        ok_schema = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = ok_schema and vhash(sdf) == vhash(odf)
        if ok_rows and ok_schema and ok_hash:
            print(f"ok   {name}: {len(sdf)} rows hash-green [{time.time()-t0:.1f}s]")
        else:
            print(
                f"FAIL {name}: rows {len(sdf)}/{len(odf)} schema_match="
                f"{ok_schema} hash_match={ok_hash}"
            )
            failed.append(name)
    print(f"\n{'FAILED: ' + ', '.join(failed) if failed else 'ALL GREEN'}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
