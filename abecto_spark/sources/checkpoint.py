"""Per-stage snapshot checkpoints with lineage metrics.

Production target is an Iceberg catalog (each stage = one snapshot; resume
= read the last committed snapshot). The Iceberg runtime jars are not in
this environment, so the store implements the same contract over plain
parquet directories + a JSON manifest per stage:

    <root>/<stage>/data/*.parquet
    <root>/<stage>/_manifest.json   {stage, config_token, row_count,
                                     partition_rows, written_at_stage_seq}

``config_token`` invalidates a snapshot when the pipeline configuration
changed; ``partition_rows`` is the per-partition lineage record demanded
by the north rule (rows written per partition).
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "_manifest.json")

    def has(self, stage: str, config_token: str = "") -> bool:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as fh:
                m = json.load(fh)
            return m.get("config_token", "") == config_token and m.get("complete", False)
        except (json.JSONDecodeError, OSError):
            return False

    def write(self, df: DataFrame, stage: str, config_token: str = "") -> dict:
        d = self._dir(stage)
        data = os.path.join(d, "data")
        if os.path.exists(d):
            shutil.rmtree(d)
        df.write.mode("overwrite").parquet(data)
        # per-partition lineage from the parquet footers (driver-side
        # metadata read — no extra Spark job / full re-scan of the stage)
        part_rows = {}
        try:
            import pyarrow.parquet as pq

            for f in sorted(os.listdir(data)):
                if f.startswith("part-") and f.endswith(".parquet"):
                    part_rows[f.split("-")[1]] = pq.ParquetFile(
                        os.path.join(data, f)
                    ).metadata.num_rows
        except Exception:
            part_rows = {"all": self.spark.read.parquet(data).count()}
        manifest = {
            "stage": stage,
            "config_token": config_token,
            "row_count": int(sum(part_rows.values())),
            "partition_rows": part_rows,
            "complete": True,
        }
        tmp = self._manifest_path(stage) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, self._manifest_path(stage))
        return manifest

    def read(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self._dir(stage), "data"))

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as fh:
            return json.load(fh)

    def stage(
        self,
        stage: str,
        config_token: str,
        build: Callable[[], DataFrame],
        resume: bool = True,
    ) -> tuple[DataFrame, dict]:
        """Resume-or-compute one stage: with ``resume`` and a complete
        snapshot under ``config_token``, return it unbuilt; otherwise
        ``build()`` the frame, write it and return the read-back
        snapshot. Either way the caller continues from parquet, never
        from the lazy build plan. Returns ``(frame, manifest)``."""
        if resume and self.has(stage, config_token):
            return self.read(stage), self.manifest(stage)
        manifest = self.write(build(), stage, config_token)
        return self.read(stage), manifest
