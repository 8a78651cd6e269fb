"""Iceberg-style checkpoint/lineage table layer (north rule: resumable
pipelines with per-partition lineage + row-count/byte metrics).

No Iceberg runtime jar exists in this sandbox (SURVEY.md §4.2), so this is
an Iceberg-*style* implementation over plain Parquet with the same commit
discipline, kept behind a small API so a real catalog drops in:

* a table root holds ``data/<stage>-<fingerprint>/`` Parquet directories
  and ``_manifests/v{N}.json`` manifest files;
* a commit is one atomic ``os.rename`` of a complete manifest (readers
  resolve the highest committed version — half-written state is invisible);
* each stage entry records its input ``fingerprint``, row count, byte
  size, per-partition row counts (lineage), and the wall time of the
  producing run.

Resume semantics: ``stage(name, fingerprint, fn)`` short-circuits to the
committed Parquet when the fingerprint matches — the recompute is skipped
entirely (kill/restart test in tests/test_checkpoint.py). A changed
fingerprint (new inputs/params) invalidates that stage only; downstream
stages naturally recompute because their fingerprints chain.

Scale notes: the manifest is O(stages + partitions) JSON — driver-side
metadata, never a data-path bottleneck; data stays columnar Parquet so
downstream stages get pushdown/pruning on the checkpointed output.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- manifest I/O ------------------------------------------------------

    def _manifest_versions(self) -> list[int]:
        d = os.path.join(self.root, "_manifests")
        out = []
        for fn in os.listdir(d):
            if fn.startswith("v") and fn.endswith(".json"):
                try:
                    out.append(int(fn[1:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def manifest(self, version: int | None = None) -> dict:
        """The committed manifest — latest, or a specific ``version``
        (time travel: every commit is an immutable snapshot)."""
        vs = self._manifest_versions()
        if not vs:
            if version is not None:
                raise KeyError(f"no committed manifest v{version} (have none)")
            return {"version": 0, "stages": {}}
        if version is None:
            version = vs[-1]
        elif version not in vs:
            raise KeyError(f"no committed manifest v{version} (have {vs})")
        with open(os.path.join(self.root, "_manifests", f"v{version}.json")) as f:
            return json.load(f)

    def _commit(self, manifest: dict) -> None:
        """Atomic copy-on-write commit: write complete tmp file, rename."""
        v = manifest["version"]
        d = os.path.join(self.root, "_manifests")
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, os.path.join(d, f"v{v}.json"))

    # -- stages ------------------------------------------------------------

    def _stage_dir(self, name: str, fingerprint: str) -> str:
        # fingerprints are free-form (may embed paths) — hash for the dir
        # name; the manifest keeps the full string for auditability
        fp = hashlib.md5(fingerprint.encode()).hexdigest()[:12]
        return os.path.join(self.root, "data", f"{name}-{fp}")

    def completed(self, name: str, fingerprint: str) -> bool:
        st = self.manifest()["stages"].get(name)
        return bool(st) and st["fingerprint"] == fingerprint

    def read_stage(self, name: str, version: int | None = None) -> DataFrame:
        """Read a committed stage — from the latest manifest or, with
        ``version``, as of that snapshot (time travel)."""
        st = self.manifest(version)["stages"].get(name)
        if not st:
            raise KeyError(f"stage {name!r} not committed"
                           + (f" as of v{version}" if version else ""))
        return self.spark.read.parquet(st["path"])

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Remove data directories not referenced by the ``keep_versions``
        most recent manifests, and manifests older than those — the
        Iceberg expire-snapshots + remove-orphans maintenance pass.
        Returns the deleted paths. The latest manifest is never touched,
        so readers of the current snapshot are unaffected.

        MAINTENANCE OP — run quiescent/single-writer only: a stage whose
        data dir has been renamed into place but whose manifest commit has
        not yet landed (the window inside ``stage()``) is referenced by no
        manifest and would be reclaimed as an orphan, failing that
        stage's commit. (Same contract as Iceberg's remove-orphan-files,
        which requires an ``older_than`` horizon for exactly this race.)"""
        vs = self._manifest_versions()
        keep = set(vs[-max(keep_versions, 1):])
        live = set()
        for v in keep:
            for st in self.manifest(v)["stages"].values():
                live.add(os.path.realpath(st["path"]))
        removed = []
        data_dir = os.path.join(self.root, "data")
        for d in os.listdir(data_dir):
            if d.startswith(".tmp-"):
                continue  # in-flight stage write — never a vacuum target
            full = os.path.realpath(os.path.join(data_dir, d))
            if os.path.isdir(full) and full not in live:
                shutil.rmtree(full)
                removed.append(full)
        for v in vs:
            if v not in keep:
                os.remove(os.path.join(self.root, "_manifests", f"v{v}.json"))
        return removed

    @staticmethod
    def _footer_lineage(path: str) -> tuple[dict, int]:
        """Per-file (rows, bytes) from parquet FOOTER METADATA — a
        driver-side metadata read (KBs per file), never a second Spark
        pass over the data (at 100 TB a re-count scan would double the
        stage's read cost)."""
        import pyarrow.parquet as pq

        part_rows = {}
        n_bytes = 0
        for f in os.listdir(path):
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(path, f)
            part_rows[f] = pq.ParquetFile(full).metadata.num_rows
            n_bytes += os.path.getsize(full)
        return part_rows, n_bytes

    def compact(self, name: str, target_bytes: int = 128 * 1024 * 1024) -> dict:
        """Small-file compaction for a committed stage (Iceberg
        rewrite-data-files): rewrite the stage's parquet into
        ``ceil(bytes / target_bytes)`` right-sized files and commit a new
        manifest version pointing the SAME stage (same fingerprint —
        content is identical, only the file layout changes). Prior
        versions keep time-travel access to the old layout until
        ``vacuum`` expires them.

        Micro-batch streaming sinks and per-core task parallelism both
        breed KB-scale files; at 10^12 rows the resulting footer/open
        overhead dominates scans. Compaction is a SHUFFLE-FREE
        read->write of the stage: ``coalesce`` merges input splits
        without an exchange (compaction only ever reduces the file
        count), which matters because stages may hold binary image
        payloads — repartitioning those measured 10x slower
        (BENCH/BASELINE.md). Safe to run any time the table is quiescent
        (same single-writer contract as ``vacuum``). Returns the new
        manifest entry.
        """
        st = self.manifest()["stages"].get(name)
        if not st:
            raise KeyError(f"stage {name!r} not committed")
        n_files = max(1, -(-st["bytes"] // target_bytes))
        t0 = time.time()
        df = self.spark.read.parquet(st["path"]).coalesce(n_files)
        fp = st["fingerprint"]
        # unique dir per compaction run: re-compacting must not clobber a
        # prior layout that older manifest versions still time-travel to
        final = self._stage_dir(name, f"{fp}#compact-{uuid.uuid4().hex[:8]}")
        tmp = os.path.join(self.root, "data", f".tmp-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, final)
        part_rows, n_bytes = self._footer_lineage(final)
        if sum(part_rows.values()) != st["rows"]:
            raise RuntimeError(
                f"compaction row drift for {name!r}: "
                f"{sum(part_rows.values())} != {st['rows']}"
            )
        m = self.manifest()
        m["version"] += 1
        entry = dict(
            st,
            path=final,
            bytes=int(n_bytes),
            partitions=part_rows,
            wall_s=round(time.time() - t0, 3),
            committed_at_version=m["version"],
        )
        m["stages"][name] = entry
        self._commit(m)
        return entry

    def stage(self, name: str, fingerprint: str, fn, metrics=None,
              lineage: str | None = None) -> DataFrame:
        """Run-or-resume one pipeline stage.

        ``fn() -> DataFrame`` is executed only when no committed version of
        (name, fingerprint) exists; its output is written to Parquet, the
        lineage metrics are collected, and a new manifest version commits
        atomically before the stage is visible.

        ``metrics`` (optional ``{label: Column}`` of aggregate expressions,
        e.g. ``{"n_null_geom": F.sum(F.col("shape_type").isNull()
        .cast("long"))}``) are observed IN-FLIGHT during the write via
        Spark's Observation API — data-quality numbers land in the
        manifest without a second pass over the data.

        ``lineage`` (optional) names the stream lineage that committed
        the stage; the entry records it (``streaming/sink.py::fold_sink``).
        """
        if self.completed(name, fingerprint):
            return self.read_stage(name)

        t0 = time.time()
        df = fn()
        observed = {}
        obs = None
        if metrics:
            from pyspark.sql import Observation

            obs = Observation(f"{name}-metrics")
            df = df.observe(obs, *[c.alias(k) for k, c in metrics.items()])
        final = self._stage_dir(name, fingerprint)
        tmp = os.path.join(self.root, "data", f".tmp-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(tmp)
        if obs is not None:
            observed = {k: (int(v) if isinstance(v, (int, bool)) else v)
                        for k, v in obs.get.items()}
        if os.path.exists(final):
            shutil.rmtree(final)  # stale uncommitted attempt
        os.rename(tmp, final)

        part_rows, n_bytes = self._footer_lineage(final)
        m = self.manifest()
        m["version"] += 1
        m["stages"][name] = {
            "fingerprint": fingerprint,
            "path": final,
            "rows": int(sum(part_rows.values())),
            "bytes": int(n_bytes),
            "partitions": part_rows,
            "wall_s": round(time.time() - t0, 3),
            "committed_at_version": m["version"],
            "metrics": observed,
            "lineage": lineage,
        }
        self._commit(m)
        return self.spark.read.parquet(final)

    def lineage(self) -> DataFrame:
        """The metrics/lineage table as a DataFrame (A5-style count sink)."""
        m = self.manifest()
        rows = [
            (
                name,
                st["fingerprint"],
                st["rows"],
                st["bytes"],
                len(st["partitions"]),
                st["wall_s"],
            )
            for name, st in m["stages"].items()
        ]
        return self.spark.createDataFrame(
            rows,
            "stage string, fingerprint string, rows long, bytes long, "
            "n_partitions int, wall_s double",
        )
