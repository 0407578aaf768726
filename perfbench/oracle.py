"""Expected outputs for the benchmark's correctness check.

Results are compared as an order-insensitive multiset of canonical rows,
following the rules of the repository's DuckDB correctness gate
(``tools/check_oracle.py``): columns sorted by name, floats by ``repr``,
decimals without trailing zeros, timestamps as naive ISO strings. The
rules are restated here rather than imported, because that tool pins a
fixed checkout on ``sys.path`` and would make the benchmark measure the
wrong tree.

``expected.json`` is generated once from the registry's DuckDB oracle
SQL (``QuerySpec.oracle``) over the benchmark's own input tables; no
Spark result goes into it. Regenerate it after an input or oracle change:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"
EXPECTED = HERE / "expected.json"

# The refresh reads four months of the sf0.01 lineitem feed so that
# bootstrap plus two steady-state refreshes fit one run's budget. The
# mart still lands one ``ride_date`` partition per day (about 260 files
# per snapshot), so the refresh stays bound by file count like the full
# feed (2,289 days, about 55 s per refresh at 4 cores).
REFRESH_SF = "sf0.01"
REFRESH_WINDOW = (dt.datetime(1998, 1, 1), dt.datetime(1998, 5, 1))
REFRESH_MODELS = ("location_dim", "stage_rides", "mart_borough_daily")


def canon_value(v: object) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s or "0"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    """Hash of the sorted column names and the sorted canonical rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(",".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def make_refresh_input(dst: str, sf: str) -> str:
    """Write the refresh's source tables (the lineitem window of ``sf``,
    nation, region) under ``dst`` and return ``dst``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    src = DATA / sf
    t = pq.read_table(src / "lineitem.parquet")
    ts = t.schema.field("l_shipdate").type
    lo, hi = (pa.scalar(x, ts) for x in REFRESH_WINDOW)
    keep = pc.and_(pc.greater_equal(t["l_shipdate"], lo), pc.less(t["l_shipdate"], hi))
    pq.write_table(t.filter(keep), os.path.join(dst, "lineitem.parquet"))
    for name in ("nation", "region"):
        shutil.copy(src / f"{name}.parquet", dst)
    return dst


def _duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sf_dir}/{f}'")
    return con


def _query_expectations(specs: dict, sf_dir: str) -> dict:
    con = _duck(sf_dir)
    out = {}
    for name, spec in specs.items():
        if spec.oracle is None:
            continue  # no expectation: the entry fails its check
        try:
            rel = con.sql(spec.oracle)
            out[name] = result_hash(list(rel.columns), rel.fetchall())
        except Exception as exc:  # noqa: BLE001 - recorded, the entry then fails its check
            print(f"oracle error {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
    return out


def _refresh_expectations(specs: dict, tmp: str, sf: str) -> dict:
    con = _duck(make_refresh_input(tmp, sf))
    rides = specs["stage_rides"].oracle
    count = lambda sql: con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]  # noqa: E731
    return {
        "location_dim": count(specs["location_dim"].oracle),
        "stage_rides": count(rides),
        "mart_borough_daily": count(
            f"SELECT DISTINCT CAST(pickup_ts AS DATE), pickup_borough FROM ({rides})"
        ),
    }


def main() -> int:
    import tempfile

    sys.path.insert(0, str(ROOT))
    from nycitibike_data_transform_spark.queries import all_queries

    specs = all_queries()
    sfs = sorted(p.name for p in DATA.iterdir())
    expected = {"queries": {}, "refresh": {}}
    for sf in sfs:
        expected["queries"][sf] = _query_expectations(specs, str(DATA / sf))
        with tempfile.TemporaryDirectory() as tmp:
            expected["refresh"][sf] = _refresh_expectations(specs, tmp, sf)
        print(f"{sf}: {len(expected['queries'][sf])} query hashes, refresh rows {expected['refresh'][sf]}")
    EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
