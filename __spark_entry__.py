"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship point-in-polygon spatial join at
sf0.001. ``queries()`` / ``oracle_sql()`` expose every oracle-checked
operator: each ``q_<name>`` in gis_shapefile_spark/entry_queries*.py is
the query ``<name>`` and ``q_<name>_oracle()`` builds its DuckDB SQL (see
entry_queries.py for the cross-engine determinism design).
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gis_shapefile_spark import entry_queries as EQ  # noqa: E402
from gis_shapefile_spark import entry_queries_pipeline as EQP  # noqa: E402

ARTIFACT_DIR = Path(__file__).resolve().parent

# The driver's correctness gate enumerates only the first DRIVER_CAP
# queries() entries. The flagship anchors always lead; the rest follow
# oldest driver-green first, so each new artifact rotates the cap.
DRIVER_CAP = 50
ANCHORS = frozenset({
    "pip_grid_join", "tile_pyramid", "geocode_forward", "merge_upsert",
    "ann_ivfpq", "image_tiling", "corpus_curation", "seq_pack",
})


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return EQ.q_pip_grid_join(spark, "/root/testdata/sf0.001")


def _registry() -> dict[str, tuple[Callable, Callable[[], str]]]:
    """name -> (query, oracle builder), module by module in definition
    order. Raises on a query without an oracle, an oracle without a query
    and a name defined in both modules."""
    reg: dict[str, tuple[Callable, Callable[[], str]]] = {}
    for mod in (EQ, EQP):
        fns = {k: v for k, v in vars(mod).items()
               if k.startswith("q_") and callable(v)}
        for fn_name, fn in fns.items():
            if fn_name.endswith("_oracle"):
                if fn_name[: -len("_oracle")] not in fns:
                    raise RuntimeError(f"{fn_name} has no query")
                continue
            name = fn_name[2:]
            if f"{fn_name}_oracle" not in fns:
                raise RuntimeError(f"query {name} has no {fn_name}_oracle")
            if name in reg:
                raise RuntimeError(f"query {name} is defined in both modules")
            reg[name] = (fn, fns[f"{fn_name}_oracle"])
    return reg


def cap_order(names: list[str], artifact_dir: Path = ARTIFACT_DIR) -> list[str]:
    """Sort by (not an anchor, last green round, registry position).

    A query's last green round is the newest ``CORRECTNESS_r<N>.json`` in
    ``artifact_dir`` with rows, schema and hash all matching for it; 0 if
    none, so never-green queries come right after the anchors."""
    last_green: dict[str, int] = {}
    for path in artifact_dir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:
            continue
        for name, row in json.loads(path.read_text()).items():
            if row.get("rows_match") and row.get("schema_match") and row.get("hash_match"):
                last_green[name] = max(last_green.get(name, 0), int(m.group(1)))
    # sorted() is stable, so ties keep registry order
    return sorted(names, key=lambda n: (n not in ANCHORS, last_green.get(n, 0)))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    reg = _registry()
    return {name: reg[name][0] for name in cap_order(list(reg))}


def oracle_sql() -> dict[str, str]:
    reg = _registry()
    return {name: reg[name][1]() for name in cap_order(list(reg))}
