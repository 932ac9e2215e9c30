"""Checkpoint + lineage storage layer: the one state store and the one
commit protocol.

The north rule requires per-stage checkpointing with resume from the last
committed snapshot (the reference's analogue is its validation-batch
pickle cache, src/spel/utils.py:116-137, re-read at
src/spel/model.py:206-208).  ``CheckpointStore`` holds the state of both
modes: the batch pipeline's fingerprinted stages and incremental ER's
(streaming/incremental.py) epoch-partitioned tables.  Both commit the same
way: write the data, then atomically swap a ``_LATEST`` JSON manifest.  A
commit IS the manifest swap, so a crash leaves the previous commit intact
plus orphan files no manifest names.  Layout under ``base_dir``:

  <name>/<fp>/          batch stage ``name`` computed under fingerprint
                        ``fp`` (a hash of its inputs and config, see
                        pipeline.py); ``_LATEST`` maps each committed stage
                        to its fingerprint — resume reuses a stage only on
                        a match
  <table>/epoch=<e>/    epoch ``e``'s partition of an incremental table;
                        that mode's ``_LATEST`` names the live epochs
  _lineage/             the lineage rows

An Iceberg backend (same semantics: a metadata-pointer swap) waits for its
runtime jars.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MARKER = "_LATEST"


def _read_marker(state_dir: str) -> dict | None:
    """The ``_LATEST`` commit manifest of ``state_dir``, or None when none
    was ever committed.  An unreadable manifest raises ValueError: guessing
    what was committed could serve another run's data."""
    p = os.path.join(state_dir, _MARKER)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        try:
            return json.load(f)
        except json.JSONDecodeError as exc:
            raise ValueError(
                f"corrupt {_MARKER} manifest in {state_dir!r} ({exc}) — "
                "the commit record is unreadable; restore it from a backup "
                "or start a fresh state dir"
            ) from exc


def _write_marker(state_dir: str, marker: dict) -> None:
    """Atomic manifest swap (POSIX rename — on an object store this is
    the catalog's atomic metadata-pointer update).  The temp file is
    fsync'd before the rename (and the directory after) so a power loss
    cannot leave an empty/truncated manifest behind the commit point."""
    os.makedirs(state_dir, exist_ok=True)
    p = os.path.join(state_dir, _MARKER)
    tmp = p + ".__tmp__"
    with open(tmp, "w") as f:
        json.dump(marker, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, p)
    try:
        dfd = os.open(state_dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # directory fsync unsupported on some filesystems — best effort


@dataclass
class CheckpointStore:
    """Stage-output store: fingerprinted directories committed through the
    ``_LATEST`` manifest."""

    spark: SparkSession
    base_dir: str

    def _path(self, *parts: str) -> str:
        return os.path.join(self.base_dir, *parts)

    # -- commit protocol -------------------------------------------------
    def committed(self, name: str) -> str | None:
        """Fingerprint stage ``name`` is committed under, or None."""
        return (_read_marker(self.base_dir) or {}).get(name)

    def write(self, df: DataFrame, name: str, fp: str) -> None:
        """Write stage ``name`` under fingerprint ``fp`` and commit it."""
        marker = _read_marker(self.base_dir) or {}
        if marker.pop(name, None) == fp:
            # rewriting the committed directory in place: uncommit it first
            # so a crash mid-write never leaves the manifest naming a
            # half-written directory
            _write_marker(self.base_dir, marker)
        df.write.mode("overwrite").parquet(self._path(name, fp))
        _write_marker(self.base_dir, {**marker, name: fp})
        # retention after the commit: a crash here leaves only orphans
        for entry in os.listdir(self._path(name)):
            if entry != fp:
                shutil.rmtree(self._path(name, entry), ignore_errors=True)

    def read(self, name: str) -> DataFrame:
        """The committed output of stage ``name``."""
        fp = self.committed(name)
        if fp is None:
            raise ValueError(f"stage {name!r} has no commit in {self.base_dir!r}")
        path = self._path(name, fp)
        if not os.path.isdir(path):
            raise ValueError(
                f"{_MARKER} manifest commits stage {name!r} as {path!r} but "
                "that directory is missing — store corrupted or partially deleted"
            )
        return self.spark.read.parquet(path)

    # -- epoch-partitioned tables ---------------------------------------
    def write_epoch(self, df: DataFrame, name: str, epoch: int) -> None:
        """Write ``df`` as partition ``epoch=<epoch>`` of table ``name``.
        Dynamic partition overwrite replaces only that partition, so a
        retried epoch replaces its own rows and nothing else."""
        path = self._path(name)
        (
            df.withColumn("epoch", F.lit(int(epoch)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(path)
        )
        # a zero-row epoch writes NO partition dir under dynamic overwrite,
        # which would make "legitimately empty" indistinguishable from
        # "partition pruned/deleted behind the manifest's back".  Creating
        # the (possibly empty) partition dir pins the invariant read_epochs
        # relies on: a listed partition that is MISSING is always
        # corruption (on an object store: a zero-byte marker object).
        os.makedirs(self._path(name, f"epoch={int(epoch)}"), exist_ok=True)

    def _table(self, name: str, ddl: str) -> DataFrame:
        # explicit schema: a zero-row epoch leaves a file-less partition
        # that inference cannot read.  A missing table raises here
        return self.spark.read.schema(f"{ddl}, epoch int").parquet(self._path(name))

    def read_epochs(self, name: str, ddl: str, epochs: list[int]) -> DataFrame:
        """The rows of ``epochs`` in table ``name`` (schema ``ddl`` plus
        the ``epoch int`` column): a partition-pruned scan, no job at plan
        time.  A listed partition that is missing raises — someone pruned
        state a manifest still references, and reading it as empty would
        silently drop its rows."""
        for e in epochs:
            if not os.path.isdir(self._path(name, f"epoch={e}")):
                raise ValueError(
                    f"state manifest references epoch {e} of "
                    f"{self._path(name)!r} but that partition is missing — "
                    "state dir corrupted or partially deleted"
                )
        return self._table(name, ddl).filter(F.col("epoch").isin(epochs))

    def read_log(self, name: str, ddl: str, before: int) -> DataFrame:
        """Every row of append-only table ``name`` written by an epoch
        below ``before``.  Excluding the current epoch keeps a retried
        epoch deterministic: its own partial partition is never an input."""
        return self._table(name, ddl).filter(F.col("epoch") < int(before))

    def prune_epochs(self, name: str, keep: set[int]) -> None:
        """Delete the partitions of table ``name`` whose epoch is not in
        ``keep`` (retention; on an object store/Iceberg this is snapshot
        expiry).  Run it AFTER the manifest swap: a crash mid-prune then
        leaves only orphans no manifest references, which the next
        commit's prune removes."""
        path = self._path(name)
        for entry in os.listdir(path):
            head, _, ep = entry.partition("=")
            if head == "epoch" and ep.isdigit() and int(ep) not in keep:
                shutil.rmtree(os.path.join(path, entry), ignore_errors=True)

    # -- lineage ---------------------------------------------------------
    N_HIST_BUCKETS = 10

    def lineage_frame(
        self,
        stage: str,
        df: DataFrame,
        extra: dict | None = None,
        score_col: str | None = None,
    ) -> DataFrame:
        """The per-partition lineage rows for a stage, as a DataFrame
        (callers choose the write discipline: append_lineage for batch
        stages, per-epoch dynamic overwrite for retried streaming
        epochs).

        Schema: stage, partition_id, rows, score_histogram ARRAY<BIGINT>,
        backend (always "parquet"), wall_ts (float epoch seconds), extra
        JSON blob (SURVEY §1.4 / north rule: "per-partition lineage rows
        ... score histograms").  When ``score_col`` names a [0,1] double
        column, the histogram is 10 equal-width bucket counts (last bucket
        closed); otherwise an empty array.
        """
        if score_col is not None and score_col in df.columns:
            bucket = F.least(
                F.floor(F.col(score_col) * self.N_HIST_BUCKETS).cast("int"),
                F.lit(self.N_HIST_BUCKETS - 1),
            )
            hist = F.array(
                *[
                    F.sum((bucket == i).cast("long")).alias(f"h{i}")
                    for i in range(self.N_HIST_BUCKETS)
                ]
            )
        else:
            hist = F.array().cast("array<bigint>")
        return (
            df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.count(F.lit(1)).alias("rows"), hist.alias("score_histogram"))
            .withColumn("stage", F.lit(stage))
            .withColumn("backend", F.lit("parquet"))
            .withColumn("wall_ts", F.lit(float(time.time())))
            .withColumn("extra", F.lit(json.dumps(extra or {})))
            .select(
                "stage", "partition_id", "rows", "score_histogram",
                "backend", "wall_ts", "extra",
            )
        )

    def append_lineage(
        self,
        stage: str,
        df: DataFrame,
        extra: dict | None = None,
        score_col: str | None = None,
    ) -> None:
        """Append per-partition lineage rows for a committed stage (see
        :meth:`lineage_frame` for the schema)."""
        per_part = self.lineage_frame(stage, df, extra=extra, score_col=score_col)
        per_part.write.mode("append").parquet(self._path("_lineage"))

    def read_lineage(self) -> DataFrame:
        return self.spark.read.parquet(self._path("_lineage"))
