"""Driver-canonicalizer simulation: representation-level parity audit.

The local parity suite (tests/parity.py) compares Python values from
``spark_df.collect()`` against DuckDB ``fetchall()`` — both yield
``decimal.Decimal`` for decimal columns, so it is blind to the trap the
driver's t2 gate actually hashes: the driver round-trips BOTH results
through pandas, where DuckDB decimals become ``float64`` while Spark
decimals stay ``Decimal`` objects, and the hash of ``Decimal('0.8559900')``
differs from ``0.85599`` even though the values are numerically equal
(r2 ``f_map_funcs``, r3 ``embed_centroid_stats``).

This tool runs every oracled query at sf0.01 through a pandas-level
canonicalization on both engines — sort columns by name, sort rows,
stringify each cell after pandas dtype coercion — and reports any query
whose representations diverge. A query flagged here would hash-mismatch
in the driver window even if value-level parity is green.

Usage:  python tools/canon_check.py [name ...]   (default: all oracles)
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from real_time_streaming_system_with_apache_kafka_spark import registry
from real_time_streaming_system_with_apache_kafka_spark.schemas import STAR_TABLES
from real_time_streaming_system_with_apache_kafka_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def _cell_repr(v) -> str:
    """One cell's canonical string, the way a pandas-based hasher sees it."""
    if v is None or v != v:  # None / NaN / NaT
        return "<null>"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        # pandas keeps Decimal objects in object columns; str() preserves
        # the scale ('0.8559900'), which is exactly what diverges from the
        # float64 the other engine may produce.
        return str(v)
    if isinstance(v, dt.datetime):
        # A midnight datetime normalizes to its date: Spark DateType
        # collects as datetime.date while DuckDB's fetchdf widens DATE
        # to datetime64[ns]; the driver's hasher treats these as equal
        # (date-valued queries hash-passed the r1/r2 windows), so
        # flagging them here would be a false positive.
        v = v.replace(tzinfo=None)
        if v.time() == dt.time(0, 0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell_repr(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(v)
    return repr(v)


def _canon(df: pd.DataFrame) -> list[tuple[str, ...]]:
    cols = sorted(df.columns)
    rows = [
        tuple(_cell_repr(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort()
    return rows


def spark_pandas(spark_df) -> pd.DataFrame:
    rows = spark_df.collect()
    return pd.DataFrame([r.asDict() for r in rows], columns=spark_df.columns)


def duck_pandas(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    out = con.execute(sql).fetchdf()
    con.close()
    return out


def main(argv: list[str]) -> int:
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    names = argv or sorted(oracles)
    spark = get_session("canon_check")
    bad: list[str] = []
    for name in names:
        try:
            s = _canon(spark_pandas(queries[name](spark, SF_DIR)))
            o = _canon(duck_pandas(oracles[name], SF_DIR))
        except Exception as exc:  # noqa: BLE001
            print(f"ERR   {name}: {type(exc).__name__}: {exc}")
            bad.append(name)
            continue
        if s == o:
            print(f"ok    {name} ({len(s)} rows)")
            continue
        bad.append(name)
        print(f"DIFF  {name}: {len(s)} spark rows vs {len(o)} oracle rows")
        for i, (rs, ro) in enumerate(zip(s, o)):
            if rs != ro:
                print(f"      first diff at sorted-row {i}:")
                print(f"        spark : {rs}")
                print(f"        oracle: {ro}")
                break
    print(f"\n{len(names) - len(bad)}/{len(names)} representation-clean")
    if bad:
        print("FLAGGED:", " ".join(bad))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
