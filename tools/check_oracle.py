"""Replicate the driver's correctness gate: run every queries() entry and its
oracle_sql() on the same parquet tables at sf0.01, compare row count, schema
(column names), and a value hash over column-name-sorted, row-sorted output.

Queries run in a session configured like a caller's default one (ANSI on, AQE
partition coalescing on, 200 shuffle partitions), not in get_spark's tuned
settings: tuning flags may change speed, never results.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def _type_class(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, (list, tuple)):
        return "list"
    return type(v).__name__


def type_mismatches(s_cols, s_rows, o_cols, o_rows):
    """Per-column value-type classes that differ between Spark and oracle."""

    def classes(cols, rows):
        out = {}
        for i, c in enumerate(cols):
            seen = {_type_class(r[i]) for r in rows} - {None}
            out[c] = seen
        return out

    sc, oc = classes(s_cols, s_rows), classes(o_cols, o_rows)
    bad = []
    for c in sc:
        if sc[c] and oc.get(c) and sc[c] != oc[c]:
            bad.append(f"{c}: spark={sorted(sc[c])} oracle={sorted(oc[c])}")
    return "; ".join(bad)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from datasketches_pig_spark.session import get_spark

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("oracle-check").newSession()
    spark.conf.set("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )

    passed, failed, rows_only = [], [], []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failed.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error: {str(e)[:300]}")
            continue
        sql = oracles.get(name)
        if sql is None:
            rows_only.append((name, len(s_rows)))
            print(f"rows-only  {name}: {len(s_rows)} rows")
            continue
        try:
            res = con.execute(sql)
            # Fetch via pandas: DuckDB HUGEINT becomes float64 here (as it
            # would for any pandas-based harness), whereas fetchall() would
            # hand back a Python int and hide the type drift.
            o_df = res.df()
            o_cols = list(o_df.columns)
            o_rows = [
                tuple(
                    None
                    if v is None or (isinstance(v, float) and math.isnan(v))
                    else (v.item() if hasattr(v, "item") else v)
                    for v in row
                )
                for row in o_df.itertuples(index=False, name=None)
            ]
        except Exception as e:  # noqa: BLE001
            failed.append((name, f"ORACLE ERROR: {e}"))
            print(f"FAIL  {name}: oracle error: {str(e)[:300]}")
            continue
        problems = []
        if sorted(s_cols) != sorted(o_cols):
            problems.append(f"schema {sorted(s_cols)} vs {sorted(o_cols)}")
        else:
            # Dtype parity: the driver's canonicalization may distinguish
            # int 5 from float 5.0 (DuckDB HUGEINT -> pandas float64), so a
            # type-class mismatch is a latent hash failure even when our own
            # %.6g formatting collapses the difference.
            tmis = type_mismatches(s_cols, s_rows, o_cols, o_rows)
            if tmis:
                problems.append(f"dtype {tmis}")
        if len(s_rows) != len(o_rows):
            problems.append(f"rows {len(s_rows)} vs {len(o_rows)}")
        if not problems:
            sh, oh = value_hash(s_cols, s_rows), value_hash(o_cols, o_rows)
            if sh != oh:
                problems.append(f"value-hash {sh} vs {oh}")
        if problems:
            failed.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            passed.append(name)
            print(f"ok    {name} ({len(s_rows)} rows)")

    print(
        f"\n{len(passed)} passed, {len(failed)} failed, "
        f"{len(rows_only)} rows-only"
    )
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
