"""Zoned lake layout, file lifecycle, and the table seam of a zone.

Replaces the reference's S3 zone conventions and boto3 copy+delete moves
(docs/s3_layout.md, lambda_validator.py:98-101, glue_job_raw_to_processed.py:64-88,
398-407) with a filesystem-agnostic layout object and atomic renames.

A parquet zone (silver, gold) is opened through :func:`open_table`, which
reads the zone's commit protocol from what the zone already holds: a
:class:`DirectTable` (hive ``date=`` directories written through Spark's
committer) or a :class:`~retail_aws_etl_pipeline_spark.lake_manifest.ManifestedTable`
(object-store-safe manifest commits). Both offer the same write surface,
including the rollback of a failed run's partial append — the reference's
broken K7 rollback (glue_job_raw_to_processed.py:421-443, SURVEY.md §2.1)
made to work: the direct table purges the run's task-committed rows, the
manifested table reclaims the never-published staging files.
"""

from __future__ import annotations

import logging
import os
import re
import shutil
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from retail_aws_etl_pipeline_spark.lake_manifest import MANIFEST_DIR, ManifestedTable

log = logging.getLogger(__name__)

DATE_PARTITION_RE = re.compile(r"date=(\d{4}-\d{2}-\d{2})$")


@dataclass(frozen=True)
class LakeLayout:
    """Directory layout mirroring docs/s3_layout.md:3-49."""

    root: str

    @property
    def raw(self) -> str:
        return os.path.join(self.root, "raw")

    @property
    def validated(self) -> str:
        return os.path.join(self.root, "validated")

    @property
    def processed(self) -> str:
        return os.path.join(self.root, "processed")

    @property
    def gold(self) -> str:
        return os.path.join(self.root, "gold", "fact_sales")

    def rejected(self, kind: str) -> str:
        # kind ∈ {system, structural, data_quality/json, data_quality/csv}
        return os.path.join(self.root, "rejected", kind)

    @property
    def audit(self) -> str:
        return os.path.join(self.root, "audit", "gold_compaction")

    def archive(self, zone: str) -> str:
        return os.path.join(self.root, "archive", zone)


def lineage_name(source_file: str, ingest_run_id: str, now: datetime | None = None) -> str:
    """``<file>_<YYYYMMDDTHHMMSS>_<ingest_run_id>`` archive naming
    (glue_job_raw_to_processed.py:398-400, README.md:74)."""
    ts = (now or datetime.now(timezone.utc)).strftime("%Y%m%dT%H%M%S")
    return f"{source_file}_{ts}_{ingest_run_id}"


def move_file(src: str, dst_dir: str, dst_name: str | None = None) -> str:
    """Atomic move (rename) of one file into a zone directory."""
    os.makedirs(dst_dir, exist_ok=True)
    dst = os.path.join(dst_dir, dst_name or os.path.basename(src))
    os.replace(src, dst)
    return dst


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def list_date_partitions(path: str) -> list[str]:
    """Sorted date partition values under a hive-layout directory (S6, fixed)."""
    if not os.path.isdir(path):
        return []
    out = []
    for name in os.listdir(path):
        m = DATE_PARTITION_RE.search(name)
        if m and os.path.isdir(os.path.join(path, name)):
            out.append(m.group(1))
    return sorted(out)


class DirectTable:
    """A ``date``-partitioned parquet table whose visible state is its hive
    directory listing. Writes go through Spark's committer, which is atomic
    enough on local FS/HDFS where rename is atomic — but fileoutputcommitter
    v2 makes task output visible at TASK commit, so a failed job can leave
    partial rows behind (see :meth:`discard_runs`)."""

    def __init__(self, root: str):
        self.root = root

    def exists(self) -> bool:
        """True once the zone holds data (Spark ignores ``_``/``.`` entries,
        e.g. a crashed job's ``_temporary``)."""
        return os.path.isdir(self.root) and any(
            not name.startswith(("_", ".")) for name in os.listdir(self.root)
        )

    def partitions(self) -> list[str]:
        return list_date_partitions(self.root)

    def read(self, spark: SparkSession) -> DataFrame:
        # One listing of the root — NOT one read per date directory (500
        # explicit paths = 500 listings + plan bloat); ``date`` is a
        # partition column, so ``date IN (...)`` filters prune directories.
        return spark.read.parquet(self.root)

    def append(self, df: DataFrame) -> None:
        df.write.mode("append").partitionBy("date").parquet(self.root)

    def overwrite_partitions(self, df: DataFrame) -> None:
        """Dynamic-partition overwrite: partitions present in ``df`` are
        replaced wholesale; all other partitions keep their files (K2). The
        mode is a write option, so no session setting is read or changed —
        a session-wide static mode would drop every other partition."""
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date")
            .parquet(self.root)
        )

    def discard_runs(self, spark: SparkSession, run_ids: list[str]) -> int:
        """Remove any task-committed rows of ``run_ids`` from the table.

        The session's committer (fileoutputcommitter v2) makes task output
        visible at TASK commit, so an append that fails mid-job can leave
        some of its rows behind. This rewrites exactly the date partitions
        holding those rows (dynamic partition overwrite), deleting
        partitions left empty outright; rows of other runs in those
        partitions are preserved. Returns the number of rows removed.

        Failure-path only — the scan to locate debris costs one table read,
        paid exclusively when a write has already crashed.
        """
        if not self.exists():
            return 0  # nothing was committed
        rows = self.read(spark)
        if "ingest_run_id" not in rows.columns:
            return 0
        debris = rows.filter(F.col("ingest_run_id").isin(run_ids))
        dates = [r["date"] for r in debris.select("date").distinct().collect()]
        if not dates:
            return 0
        n_debris = debris.count()
        keep = rows.filter(F.col("date").isin(dates)).filter(
            ~F.col("ingest_run_id").isin(run_ids)
        )
        # dynamic overwrite only rewrites partitions PRESENT in the new data —
        # dates whose every row came from the failed runs are deleted by path
        keep_dates = {r["date"] for r in keep.select("date").distinct().collect()}
        if keep_dates:
            self.overwrite_partitions(
                keep.repartition(spark.sparkContext.defaultParallelism, "date")
            )
        for d in set(dates) - keep_dates:
            shutil.rmtree(os.path.join(self.root, f"date={d}"), ignore_errors=True)
        log.warning("discarded %d partial rows of failed runs %s", n_debris, run_ids)
        return n_debris


def open_table(root: str, commit_protocol: str | None = None) -> DirectTable | ManifestedTable:
    """The table of a parquet zone, under the commit protocol the zone holds.

    A zone that holds ``_manifests/`` is manifested, one that holds data
    directories is direct; ``commit_protocol`` (``"direct"`` or
    ``"manifest"``) only chooses the protocol of an empty zone, and
    defaults to direct. Raises ValueError when it names a protocol other
    than the one the zone holds: readers of a zone see only its own
    protocol's commits, so a write under the other would be invisible.
    """
    if commit_protocol is not None and commit_protocol not in ("direct", "manifest"):
        raise ValueError(f"commit_protocol must be direct|manifest, got {commit_protocol!r}")
    if os.path.isdir(os.path.join(root, MANIFEST_DIR)):
        held = "manifest"
    elif DirectTable(root).exists():
        held = "direct"
    else:
        held = None
    if held is not None and commit_protocol is not None and commit_protocol != held:
        raise ValueError(
            f"{root} holds a {held} table; commit_protocol={commit_protocol!r} disagrees"
        )
    if (held or commit_protocol) == "manifest":
        return ManifestedTable(root, partition_col="date")
    return DirectTable(root)
