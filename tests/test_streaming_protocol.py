"""Structural guard: one module owns the micro-batch commit protocol.

Pure Python (a text search, no Spark). ``streaming/sink.py`` is the only
place in ``gis_shapefile_spark/`` that starts a streaming query
(``availableNow``, ``checkpointLocation``, ``foreachBatch``), and no
other streaming module reads a committed stage behind ``except
KeyError`` — sinks fold through ``sink.fold_sink`` or
``sink.committed_stage`` instead of hand-copying the protocol.
"""

from __future__ import annotations

from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "gis_shapefile_spark"
SINK = PACKAGE / "streaming" / "sink.py"


def _files_containing(token: str, paths) -> list[str]:
    return sorted(str(p.relative_to(PACKAGE)) for p in paths if token in p.read_text())


def test_only_sink_module_starts_streaming_queries():
    paths = [p for p in PACKAGE.rglob("*.py") if p != SINK]
    for token in ("availableNow", "checkpointLocation", "foreachBatch"):
        assert _files_containing(token, paths) == [], token
        assert token in SINK.read_text(), token


def test_no_streaming_module_catches_key_error():
    paths = [p for p in (PACKAGE / "streaming").glob("*.py") if p != SINK]
    assert _files_containing("except KeyError", paths) == []
