"""Driver-contract guards.

The driver's correctness gate enumerates only the first
``__spark_entry__.DRIVER_CAP`` (50) entries of ``queries()``.  Round 2
lost 18 flagship rows (including ``image_tiling``) to that cap. The
order is derived from the artifacts (``__spark_entry__.cap_order``) and
these tests pin its invariants: the flagship anchors and every query
that has never had a driver-green artifact row sit inside the cap, and
everything past the cap has a prior driver-green row.
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as E  # noqa: E402
from tools.check_correctness import canon, dtype_mismatches, split_args  # noqa: E402

# Driver-green ledger, read from the checked-in artifacts themselves: a
# query is "driver-green" if any CORRECTNESS_r*.json records rows +
# schema + value-hash matches for it. This file enforces the
# invariants on the derived order: (a) everything past the cap has a
# REAL driver-green row, (b) everything never driver-verified sits
# inside the cap, (c) the 8 flagship anchors stay in-cap.


def driver_green() -> set[str]:
    import json

    root = Path(__file__).resolve().parents[1]
    seen: set[str] = set()
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        d = json.loads(f.read_text())
        seen |= {
            k
            for k, v in d.items()
            if v.get("rows_match")
            and v.get("schema_match")
            and v.get("hash_match", True)
        }
    return seen


# flagship anchors that must stay driver-sampled every round regardless
# of rotation (one per SURVEY / pipeline family)
MUST_BE_IN_CAP = {
    # bbox_join rotated out late round 4 (triple-green; the bbox
    # predicate is load-bearing inside every in-cap spatial join and the
    # PBSM overlays)
    # knn3 rotated out late round 4 (triple-green; the kNN family
    # stays in-cap via knn_self/geo_knn_self/nearest_road top-k windows)
    "pip_grid_join", "tile_pyramid",
    # ann_ivf rotated out mid-round-5 for ann_rerank (r4-green; the IVF
    # probe machinery stays in-cap via the composed ann_ivfpq +
    # ann_ivf_delta/ann_filtered/ann_recall) — the family anchor is now
    # the composed index
    "geocode_forward", "merge_upsert", "ann_ivfpq", "image_tiling",
    # caption_curation rotated out late round 4 (r3-green; the joint
    # image+text curation family stays in-cap via image_tiling +
    # corpus_curation + image_quality)
    # sessionize rotated out late round 4 (triple-green; temporal
    # windows stay in-cap via trajectory/trajectory_geo/stay_points/
    # od_matrix)
    "corpus_curation",
    # splits/packing family anchor (the family stays in-cap via
    # seq_pack)
    "seq_pack",
}


def test_registry_is_consistent():
    qs = E.queries()
    os_ = E.oracle_sql()
    # every query currently has a value-hash oracle; when a genuinely
    # non-SQL-expressible op is added, relax to <= AND list it here so
    # the weaker rows-only check is a documented decision, not a typo
    assert set(os_) == set(qs)
    # ordering helper raises on drift; reaching here means no drift
    assert len(qs) == len(set(qs))


def test_flagships_inside_driver_cap():
    names = list(E.queries())
    in_cap = set(names[: E.DRIVER_CAP])
    missing = MUST_BE_IN_CAP - in_cap
    assert not missing, f"flagship queries pushed past the driver cap: {missing}"


def test_overflow_only_prior_green():
    names = list(E.queries())
    overflow = set(names[E.DRIVER_CAP:])
    unvouched = overflow - driver_green() - ROUND5_QUEUE
    assert not unvouched, (
        f"queries past the driver cap without a prior driver-green row: "
        f"{unvouched}"
    )


# Round-5 rotation emptied the queue: every never-driver-green query
# (the 2 round-4 red ANN rows + the 7 queued statistics/caption
# queries) now sits in-cap. Any NEW query landing past the cap without
# a driver-green row fails the guard below — add it here only as an
# explicit, temporary decision.
ROUND5_QUEUE: set[str] = set()


def test_never_green_queries_inside_cap():
    """The rotation's fixed point: any query lacking a driver-green row
    must occupy one of the 50 gate slots (so the NEXT artifact covers
    it) — or be explicitly named in ROUND5_QUEUE."""
    names = list(E.queries())
    in_cap = set(names[: E.DRIVER_CAP])
    never = set(names) - driver_green()
    outside = never - in_cap
    assert outside == ROUND5_QUEUE, (
        f"never-driver-verified queries stuck past the cap without a "
        f"queue entry: {outside - ROUND5_QUEUE}; stale queue names: "
        f"{ROUND5_QUEUE - outside}"
    )


def _write_artifact(root: Path, rnd: int, rows: dict[str, bool]) -> None:
    import json

    (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps({
        name: {"rows_match": True, "schema_match": True, "hash_match": ok}
        for name, ok in rows.items()
    }))


def test_cap_order_from_artifacts(tmp_path):
    """Anchors first, then never-green queries (no row, or red rows
    only), then oldest last-green round first; ties keep registry
    order. Anchors sort among themselves by the same key. A green row
    naming a query no longer in the registry stays out of the order."""
    import json

    names = ["late", "pip_grid_join", "old_b", "red_only", "absent",
             "old_a", "mid", "seq_pack"]
    _write_artifact(tmp_path, 1, {"late": True, "old_b": True, "old_a": True,
                                  "mid": True, "red_only": False,
                                  "token_count": True})  # deleted query
    _write_artifact(tmp_path, 2, {"mid": True, "old_b": False, "red_only": False})
    _write_artifact(tmp_path, 10, {"late": True, "pip_grid_join": True})
    # a schema mismatch is red even when rows and hash match
    (tmp_path / "CORRECTNESS_r11.json").write_text(json.dumps({
        "old_a": {"rows_match": True, "schema_match": False, "hash_match": True},
    }))
    assert E.cap_order(names, tmp_path) == [
        "seq_pack", "pip_grid_join",  # anchors: never green, r10
        "red_only", "absent",         # never green
        "old_b", "old_a",             # last green r01, registry order
        "mid",                        # r02
        "late",                       # r10
    ]


def test_cap_order_without_artifacts(tmp_path):
    names = ["b", "image_tiling", "a", "pip_grid_join", "c"]
    assert E.cap_order(names, tmp_path) == [
        "image_tiling", "pip_grid_join", "b", "a", "c"]


def test_registry_raises_on_orphans_and_duplicates(monkeypatch):
    """The registry is derived from ``q_<name>`` / ``q_<name>_oracle``
    pairs; a half pair or a name in both modules fails loudly instead of
    dropping a query from the value-hash gate."""
    from types import SimpleNamespace

    import pytest

    def q(spark, sf_dir):
        return None

    def sql():
        return "SELECT 1"

    pair = SimpleNamespace(q_x=q, q_x_oracle=sql)
    monkeypatch.setattr(E, "EQ", pair)
    monkeypatch.setattr(E, "EQP", SimpleNamespace(q_y=q, q_y_oracle=sql))
    assert list(E.queries()) == ["x", "y"]
    assert E.oracle_sql() == {"x": "SELECT 1", "y": "SELECT 1"}
    for other, msg in (
        (SimpleNamespace(q_y=q), "has no q_y_oracle"),
        (SimpleNamespace(q_y_oracle=sql), "q_y_oracle has no query"),
        (pair, "defined in both modules"),
    ):
        monkeypatch.setattr(E, "EQP", other)
        with pytest.raises(RuntimeError, match=msg):
            E.queries()


def test_docs_match_registry():
    """Doc-drift guard (round-3 verdict item 8): every oracle-query name
    COVERAGE.md cites must exist in ``queries()``, and the query counts
    README.md / COVERAGE.md advertise must equal the real registry size."""
    import re

    qs = set(E.queries())
    root = Path(__file__).resolve().parents[1]
    coverage = (root / "COVERAGE.md").read_text()
    readme = (root / "README.md").read_text()

    cited = set()
    for group in re.findall(r"oracles? ((?:`[a-z0-9_]+`(?:, ?)?)+)", coverage):
        cited.update(re.findall(r"`([a-z0-9_]+)`", group))
    assert cited, "COVERAGE.md oracle-name extraction regressed to empty"
    ghost = cited - qs
    assert not ghost, f"COVERAGE.md cites oracle queries not in queries(): {ghost}"

    n = len(qs)
    for doc, pattern in (
        ("COVERAGE.md", r"With (\d+) oracle-checked queries"),
        ("COVERAGE.md", r"All (\d+) remain runnable"),
        ("README.md", r"queries\(\)` \((\d+)"),
        ("README.md", r"ALL (\d+) with DuckDB value-hash oracles"),
    ):
        text = coverage if doc == "COVERAGE.md" else readme
        counts = re.findall(pattern, text)
        assert counts, f"{doc}: count pattern {pattern!r} no longer matches"
        for c in counts:
            assert int(c) == n, (
                f"{doc} claims {c} oracle queries; registry has {n}"
            )


def test_canon_catches_int_float_split():
    """The local mirror must fail on the round-2 running_windows class:
    identical rendered values but int64 on one engine, float64 on the
    other (DuckDB HUGEINT widening)."""
    a = pd.DataFrame({"k": [1, 2], "v": np.array([10, 20], dtype=np.int64)})
    b = pd.DataFrame({"k": [1, 2], "v": np.array([10.0, 20.0])})
    na, ca, ha, kla = canon(a)
    nb, cb, hb, klb = canon(b)
    assert (na, ca, ha) == (nb, cb, hb)  # the old mirror saw no difference
    assert dtype_mismatches(kla, klb) == ["v:int!=float"]


def test_canon_allows_nullable_int_promotion():
    """float64 *with NaN* may be a pandas nullable-int promotion on
    either engine — must stay compatible with int and with float."""
    a = pd.DataFrame({"v": np.array([1, 2], dtype=np.int64)})
    b = pd.DataFrame({"v": np.array([1.0, np.nan])})
    _, _, _, kla = canon(a)
    _, _, _, klb = canon(b)
    assert dtype_mismatches(kla, klb) == []


def test_gate_cli_first_argument_is_sf_dir_only_when_a_directory(tmp_path):
    """A query name in first position is a query, not the data path."""
    sf = str(tmp_path)
    assert split_args([sf, "pip_anti", "--no-arrow"]) == ([sf], {"pip_anti"}, True)
    assert split_args(["pip_anti", "zonal_stats"]) == (
        [], {"pip_anti", "zonal_stats"}, False)
    assert split_args(["--no-arrow"]) == ([], set(), True)
    assert split_args([]) == ([], set(), False)


def test_gate_records_one_machine_readable_row_per_query(spark, monkeypatch):
    """check_queries fills one record per query beside its failures
    list: a green query, a value mismatch and a query with no oracle."""
    from types import SimpleNamespace

    import duckdb

    from tools import check_correctness as CC

    monkeypatch.setattr(CC, "E", SimpleNamespace(
        queries=lambda: {
            name: (lambda spark, sf_dir: spark.range(3).toDF("x"))
            for name in ("green", "red", "unchecked")
        },
        oracle_sql=lambda: {
            "green": "SELECT range AS x FROM range(3)",
            "red": "SELECT range AS x FROM range(2)",
        },
    ))
    con = duckdb.connect()
    records: list[dict] = []
    failures = CC.check_queries(spark, con, "", verbose=False, records=records)
    assert [f.split(":")[0] for f in failures] == ["red"]
    for rec in records:
        build_s, spark_s = rec.pop("build_s"), rec.pop("spark_s")
        assert isinstance(build_s, float) and isinstance(spark_s, float)
        assert build_s <= spark_s
    assert records == [
        {"name": "green", "ok": True, "spark_rows": 3, "oracle_rows": 3},
        {"name": "red", "ok": False, "spark_rows": 3, "oracle_rows": 2},
        {"name": "unchecked", "ok": None, "spark_rows": 3, "oracle_rows": None},
    ]
