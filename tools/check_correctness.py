"""Local mirror of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted, values
canonicalized to strings).

Usage: python tools/check_correctness.py [--no-arrow] [sf_dir] [query ...]

``--no-arrow`` runs the whole gate with
``spark.sql.execution.arrow.pyspark.enabled=false`` — the driver's session
does NOT enable Arrow pandas conversion, so ``createDataFrame(pandas)``
sites take the non-Arrow ``_inferSchemaFromList`` path there, which cannot
infer e.g. list-of-numpy-float64 cells (the round-4 ``ann_ivf_delta`` /
``ann_filtered`` red rows diverged from the local gate exactly this way).
Running one ``--no-arrow`` leg keeps the local gate honest against the
driver environment.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as E
from gis_shapefile_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _dtype_class(s: pd.Series) -> str:
    """Coarse dtype class used to detect cross-engine widening bugs.

    DuckDB widens sum(BIGINT) to HUGEINT, which pandas materializes as
    float64 while Spark returns int64; the ``%.9g`` float canon renders
    both identically below 1e9, masking the divergence the driver's gate
    catches (round-2 ``running_windows``). An int-vs-float class split
    between engines is therefore itself a failure, EXCEPT when one side
    is float solely because pandas promotes nullable ints — detected by
    the caller via NaN presence.
    """
    if s.dtype == object:
        return "obj"
    if np.issubdtype(s.dtype, np.floating):
        return "float"
    if np.issubdtype(s.dtype, np.integer):
        return "int"
    if np.issubdtype(s.dtype, np.bool_):
        return "bool"
    return str(s.dtype)


def canon(df: pd.DataFrame) -> tuple[int, list[str], str, dict[str, str]]:
    cols = sorted(df.columns)
    df = df[cols].copy()
    classes: dict[str, str] = {}
    for c in cols:
        s = df[c]
        cls = _dtype_class(s)
        if cls == "float" and len(s) and not s.isna().any():
            # float64 with no NaN cannot be a nullable-int promotion of a
            # genuinely null column; flag it as float so an int twin on
            # the other engine is a hard dtype mismatch.
            classes[c] = "float"
        elif cls == "float":
            classes[c] = "float?"  # possibly promoted nullable int
        else:
            classes[c] = cls
        if s.dtype == object:
            df[c] = s.astype(str)
        elif np.issubdtype(s.dtype, np.floating):
            df[c] = s.map(lambda v: f"{v:.9g}")
        else:
            df[c] = s.astype(str)
    rows = ["\x1f".join(r) for r in df.itertuples(index=False, name=None)]
    rows.sort()
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]
    return len(df), cols, h, classes


def dtype_mismatches(cs: dict[str, str], co: dict[str, str]) -> list[str]:
    """Columns where the Spark and oracle frames disagree on dtype class.

    ``float?`` (all-NaN-bearing float: possibly a pandas nullable-int
    promotion) is compatible with both int and float; a hard ``float``
    against a hard ``int`` is the HUGEINT-widening bug class and fails.
    """
    bad = []
    for c in set(cs) & set(co):
        a, b = cs[c], co[c]
        if a == b:
            continue
        if "float?" in (a, b) and {a, b} <= {"float?", "float", "int"}:
            continue
        bad.append(f"{c}:{a}!={b}")
    return sorted(bad)


def register_views(con, sf_dir: str) -> None:
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def check_queries(spark, con, sf_dir: str, only=None, verbose=True,
                  records: list | None = None) -> list[str]:
    """Run the gate for the named queries (all when ``only`` is falsy);
    returns the list of failure descriptions (empty == all green).
    Reused by tests/test_cross_engine_fuzz.py so the pytest suite pins
    the same dtype-class + value-hash contract the driver checks.

    ``records``, when given, gets one dict per query run: ``name``,
    ``ok`` (None when the query has no oracle), ``build_s`` (seconds
    until the query function returned its DataFrame), ``spark_s`` (that
    plus collecting it), ``spark_rows`` and ``oracle_rows`` (None where
    that side failed)."""
    qs, oracles = E.queries(), E.oracle_sql()
    failures: list[str] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {"name": name, "ok": False, "build_s": None, "spark_s": None,
               "spark_rows": None, "oracle_rows": None}
        if records is not None:
            records.append(rec)
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            rec["build_s"] = round(time.time() - t0, 3)
            sdf = df.toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: spark error: {exc}")
            if verbose:
                print(f"FAIL  {failures[-1]}")
            continue
        t_spark = time.time() - t0
        rec.update(spark_s=round(t_spark, 3), spark_rows=len(sdf))
        if name not in oracles:
            rec["ok"] = None
            if verbose:
                print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{t_spark:.1f}s]")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            failures.append(f"{name}: duckdb error: {exc}")
            if verbose:
                print(f"FAIL  {failures[-1]}")
            continue
        rec["oracle_rows"] = len(odf)
        ns, cs, hs, kls = canon(sdf)
        no, co, ho, klo = canon(odf)
        dt_bad = dtype_mismatches(kls, klo)
        ok = (ns == no) and (cs == co) and (hs == ho) and not dt_bad
        rec["ok"] = ok
        if not ok:
            failures.append(
                f"{name}: rows {ns}/{no}, cols "
                f"{'=' if cs == co else f'{cs} vs {co}'}, hash "
                f"{'=' if hs == ho else 'MISMATCH'}"
                f"{', dtype ' + ';'.join(dt_bad) if dt_bad else ''}"
            )
        if verbose:
            status = "OK  " if ok else "FAIL"
            print(f"{status}  {name}: spark {ns} rows / oracle {no} rows, "
                  f"cols {'=' if cs == co else f'{cs} vs {co}'}, "
                  f"hash {'=' if hs == ho else f'{hs} vs {ho}'}"
                  f"{', dtype ' + ';'.join(dt_bad) if dt_bad else ''} "
                  f"[{t_spark:.1f}s]")
            if not ok and ns and no:
                scols = sorted(sdf.columns)
                a = sdf[scols].sort_values(scols).head(3)
                b = odf[sorted(odf.columns)].sort_values(sorted(odf.columns)).head(3)
                print("  spark head:", a.to_dict("records"))
                print("  oracle head:", b.to_dict("records"))
    return failures


def split_args(args: list[str]) -> tuple[list[str], set[str], bool]:
    """([sf_dir] or [], query names, no_arrow) from the command line.

    The first argument is the data directory only when it is an existing
    directory; otherwise it is a query name and the default directory is
    used, so ``check_correctness.py pip_anti`` checks ``pip_anti`` instead
    of reading ``pip_anti`` as a data path.
    """
    no_arrow = "--no-arrow" in args
    rest = [a for a in args if a != "--no-arrow"]
    n_dir = 1 if rest and os.path.isdir(rest[0]) else 0
    return rest[:n_dir], set(rest[n_dir:]), no_arrow


def main() -> int:
    argv, only, no_arrow = split_args(sys.argv[1:])
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    conf = {"spark.ui.showConsoleProgress": "false"}
    if no_arrow:
        conf["spark.sql.execution.arrow.pyspark.enabled"] = "false"
    spark = get_spark(shuffle_partitions=8, extra_conf=conf)
    con = duckdb.connect()
    register_views(con, sf_dir)
    records: list[dict] = []
    failures = check_queries(spark, con, sf_dir, only=only, records=records)
    print(json.dumps(records))
    for key in ("build_s", "spark_s"):
        print(f"SUM {key}: {sum(r[key] or 0 for r in records):.1f}")
    print("FAILURES:", len(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
