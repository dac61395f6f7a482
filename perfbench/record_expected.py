#!/usr/bin/env python3
"""Record the query_mix expectations in perfbench/expected.json.

For every query in ``run.QUERIES`` and ``run.TRACED_QUERIES`` this runs the package's query on the
committed sf0.01 tables and its DuckDB oracle SQL (``queries.registry()``)
on the same files, and refuses to write unless both give the same row count,
columns and value hash.  The file keeps the hash, the row count and, for
pair-valued results, the pairs that ``dup_pair_recall`` is scored against.

    python3 perfbench/record_expected.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

import run  # noqa: E402


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple]]:
    # via pandas, as tools/check_oracle.py does, so integer/float drift shows
    df = con.execute(sql).df()
    rows = [
        tuple(
            None
            if v is None or (isinstance(v, float) and math.isnan(v))
            else (v.item() if hasattr(v, "item") else v)
            for v in row
        )
        for row in df.itertuples(index=False, name=None)
    ]
    return list(df.columns), rows


def main() -> int:
    import duckdb

    scratch = HERE.parent / ".perfbench_tmp"
    scratch.mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(prefix="record-", dir=scratch) as tmp:
        run.configure_env(Path(tmp))
        from datasketches_pig_spark.queries import registry
        from datasketches_pig_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        spark = get_spark(
            "perfbench-record", cores=cores, shuffle_partitions=2 * cores,
            extra_conf={"spark.local.dir": f"{tmp}/local", "spark.sql.warehouse.dir": f"{tmp}/warehouse"},
        )
        con = duckdb.connect()
        for table in ("lineitem", "documents", "embeddings", "events"):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{run.DATA_DIR / table}.parquet')")
        reg = registry()
        out, bad = {}, []
        try:
            for q in run.QUERIES + run.TRACED_QUERIES:
                fn, sql = reg[q]
                df = fn(spark, str(run.DATA_DIR))
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                o_cols, o_rows = oracle_rows(con, sql)
                got, want = run.value_hash(cols, rows), run.value_hash(o_cols, o_rows)
                ok = sorted(cols) == sorted(o_cols) and len(rows) == len(o_rows) and got == want
                print(f"{'ok  ' if ok else 'FAIL'} {q}: {len(rows)} rows, hash {got} (oracle {want})")
                if not ok:
                    bad.append(q)
                pairs = run.result_pairs(cols, rows)
                out[q] = {
                    "value_hash": got,
                    "rows": len(rows),
                    "pairs": sorted([list(p) for p in pairs]) if pairs is not None else None,
                }
        finally:
            run.stop_session(spark)
    if bad:
        print(f"not written: {', '.join(bad)} disagree with the DuckDB oracle")
        return 1
    doc = {
        "source": "perfbench/record_expected.py: seed-code results on perfbench/data/sf0.01, "
                  "each equal to its DuckDB oracle (row count, columns, value hash)",
        "queries": out,
    }
    (HERE / "expected.json").write_text(json.dumps(doc, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
