"""Checkpoint sink + per-partition lineage + resume (BASELINE.json B15).

North rule: "every stage checkpoints to Iceberg with per-partition
lineage rows (partition id, cell range, row count, digest) so a killed
job resumes from the last committed snapshot". No Iceberg jar exists in
this environment (SURVEY.md §8), so the layer reproduces the property
that matters — **atomic, all-or-nothing snapshot commits with readable
metadata** — on plain parquet:

- stage data is written to ``<base>/<stage>/data.tmp-<token>`` and
  atomically ``rename()``d to ``<base>/<stage>/data`` (POSIX rename is
  atomic within a filesystem; on HDFS/S3 the same role is played by the
  Iceberg/commit-protocol swap — the call site is isolated in
  ``_commit`` so swapping in ``df.writeTo(...).createOrReplace()`` is a
  one-function change);
- the manifest (``manifest.json``) is written *after* the data rename,
  also via temp+rename. Its presence is the committed marker: a crash
  at any point leaves either the previous snapshot or a committed new
  one, never a partial-visible state;
- lineage rows are computed from the data as re-read from the committed
  files (digests attest the bytes on disk, not the pre-write plan);
- snapshots are VERSIONED: a forced rebuild retires the current
  snapshot into ``snapshots/<id>/`` where it remains readable
  (``read_snapshot`` = Iceberg ``VERSION AS OF`` time travel;
  ``snapshots`` = the snapshot log; ``expire_snapshots`` = retention).

Lineage buckets are **deterministic in row content** (hash of a key
column, or the cell range), never ``spark_partition_id()`` — the same
input yields the same lineage at any parallelism, which is what makes
digest comparison across local[8]/local[32] runs meaningful (SURVEY.md
§7.2 exactness-under-parallelism).

Reference parity: o2g's sink is a GTFS zip written once at the end
(SURVEY.md §2.A A12 [o2g-PK]); the graft upgrades this to per-stage
resumable snapshots.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def lineage_df(
    df: DataFrame,
    key_col: str,
    n_buckets: int = 32,
    cell_col: str | None = None,
    portable: bool = False,
) -> DataFrame:
    """Per-bucket lineage as a DataFrame: bucket id, row count,
    order-insensitive digest, and the covered cell range (if a cell
    column exists).

    digest = bit_xor over a per-row hash — commutative, so identical
    data in any partition order or task placement digests identically.
    Two row-hash flavors:

    - default (``portable=False``): xxhash64 over the canonical JSON row
      encoding — the cheap JVM hash, right for the production hot path
      (Spark↔Spark resume/audit comparisons);
    - ``portable=True``: the shared 60-bit md5 hash over a unit-separator
      join of the stringified columns, with md5-bucketing of the key —
      every term recomputable OUTSIDE Spark (DuckDB/Python), which is
      what puts B15's lineage invariant under the driver's value-hash
      gate and enables cross-engine warehouse audits. Caller must ensure
      the columns stringify identically across engines (ints/strings do;
      float formatting differs).
    """
    from ..functions.text import md5_hash60  # THE shared 60-bit hash

    cols = [F.col(c) for c in df.columns]
    if portable:
        canon = md5_hash60(
            F.concat_ws("\x1f", *[c.cast("string") for c in cols])
        )
        bucket = F.pmod(
            md5_hash60(F.col(key_col).cast("string")), F.lit(n_buckets)
        ).alias("partition_id")
    else:
        canon = F.xxhash64(F.to_json(F.struct(*cols)))
        bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).alias(
            "partition_id"
        )
    aggs = [
        F.count("*").alias("row_count"),
        F.expr("bit_xor(__h)").alias("digest"),
    ]
    if cell_col is not None:
        aggs += [
            F.min(cell_col).alias("cell_range_start"),
            F.max(cell_col).alias("cell_range_end"),
        ]
    return (
        df.withColumn("__h", canon)
        .groupBy(bucket)
        .agg(*aggs)
        .orderBy("partition_id")
    )


def lineage_rows(
    df: DataFrame,
    key_col: str,
    n_buckets: int = 32,
    cell_col: str | None = None,
) -> list[dict]:
    """Driver-side lineage rows (the manifest payload): collect of
    :func:`lineage_df` — bounded at ``n_buckets`` rows by construction."""
    return [r.asDict() for r in lineage_df(df, key_col, n_buckets, cell_col).collect()]


class CheckpointManager:
    """Stage runner with snapshot commit + resume.

    >>> ckpt = CheckpointManager(spark, "/tmp/warehouse/run1")
    >>> pts = ckpt.run_stage("geotag", lambda: geotag(pages, gaz),
    ...                      key_col="url", cell_col="cell_r7")

    If ``<base>/geotag/manifest.json`` already exists, ``build_fn`` is
    never invoked — the committed snapshot is read back instead (the
    resume path). Stale uncommitted temp data is discarded.
    """

    def __init__(self, spark: SparkSession, base_dir: str, n_buckets: int = 32):
        self.spark = spark
        self.base_dir = base_dir
        self.n_buckets = n_buckets
        os.makedirs(base_dir, exist_ok=True)

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def manifest(self, stage: str) -> dict | None:
        path = os.path.join(self._stage_dir(stage), "manifest.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def is_committed(self, stage: str) -> bool:
        m = self.manifest(stage)
        return bool(m and m.get("committed"))

    # ---------------------------------------------- snapshot history

    def _history_entries(self, stage: str) -> list[str]:
        """Retired-snapshot dir names, oldest first. Names carry a
        monotonic zero-padded ordinal prefix (``00001-<id>``) — uuid
        snapshot ids are random, so the ordinal, not the id, defines
        the log order (and survives expiry of older entries)."""
        hist_dir = os.path.join(self._stage_dir(stage), "snapshots")
        if not os.path.isdir(hist_dir):
            return []
        return sorted(os.listdir(hist_dir))

    def snapshots(self, stage: str) -> list[dict]:
        """All committed snapshots of a stage, oldest first, current
        last — the Iceberg snapshot-log analogue. Each entry is the
        manifest dict (with its ``snapshot_id``)."""
        hist_dir = os.path.join(self._stage_dir(stage), "snapshots")
        out: list[dict] = []
        for name in self._history_entries(stage):
            mp = os.path.join(hist_dir, name, "manifest.json")
            if os.path.exists(mp):
                with open(mp) as f:
                    out.append(json.load(f))
        cur = self.manifest(stage)
        if cur and cur.get("committed"):
            out.append(cur)
        return out

    def _history_dir_for(self, stage: str, snapshot_id: str) -> str | None:
        for name in self._history_entries(stage):
            if name.endswith(f"-{snapshot_id}"):
                return os.path.join(self._stage_dir(stage), "snapshots", name)
        return None

    def _read(self, data_dir: str, manifest: dict) -> DataFrame:
        """Committed data, read with the schema its manifest records: a
        partitioned write of no rows leaves no file to infer one from."""
        reader = self.spark.read
        if manifest.get("schema"):
            reader = reader.schema(StructType.fromJson(manifest["schema"]))
        return reader.parquet(data_dir)

    def read_snapshot(self, stage: str, snapshot_id: str | None = None) -> DataFrame:
        """Time travel: read a stage AS OF a snapshot id (default: the
        current snapshot). Retired snapshots stay readable until
        :meth:`expire_snapshots` removes them — the Iceberg
        ``VERSION AS OF`` analogue."""
        sdir = self._stage_dir(stage)
        cur = self.manifest(stage)
        if snapshot_id is None or (cur and cur.get("snapshot_id") == snapshot_id):
            if not (cur and cur.get("committed")):
                raise FileNotFoundError(f"stage {stage!r} has no committed snapshot")
            return self._read(os.path.join(sdir, "data"), cur)
        hist = self._history_dir_for(stage, snapshot_id)
        if hist is None or not os.path.isdir(os.path.join(hist, "data")):
            raise FileNotFoundError(
                f"stage {stage!r} has no snapshot {snapshot_id!r}; "
                f"known: {[m['snapshot_id'] for m in self.snapshots(stage)]}"
            )
        with open(os.path.join(hist, "manifest.json")) as f:
            return self._read(os.path.join(hist, "data"), json.load(f))

    def expire_snapshots(self, stage: str, keep: int = 1) -> int:
        """Drop all but the newest ``keep`` RETIRED snapshots (the
        current one is never touched). Ordinal prefixes define age —
        uuid ids sort randomly. Returns the number removed."""
        names = self._history_entries(stage)
        hist_dir = os.path.join(self._stage_dir(stage), "snapshots")
        victims = names[: max(0, len(names) - keep)]
        for name in victims:
            shutil.rmtree(os.path.join(hist_dir, name))
        return len(victims)

    def _retire_current(self, stage: str) -> None:
        """Move the current snapshot into snapshots/<ord>-<id>/ before
        a new commit. Two renames, manifest first: after the manifest
        moves, is_committed() is False, so a crash between the renames
        resumes by rebuilding — and run_stage's rescue step completes
        the interrupted data move so the retired snapshot is preserved,
        never left as a manifest-only phantom."""
        m = self.manifest(stage)
        if not (m and m.get("committed")):
            return
        sdir = self._stage_dir(stage)
        names = self._history_entries(stage)
        next_ord = 1 + max(
            (int(n.split("-", 1)[0]) for n in names if n.split("-", 1)[0].isdigit()),
            default=0,
        )
        dst = os.path.join(sdir, "snapshots", f"{next_ord:05d}-{m['snapshot_id']}")
        os.makedirs(dst, exist_ok=True)
        os.rename(os.path.join(sdir, "manifest.json"), os.path.join(dst, "manifest.json"))
        os.rename(os.path.join(sdir, "data"), os.path.join(dst, "data"))

    def run_stage(
        self,
        stage: str,
        build_fn: Callable[[], DataFrame],
        key_col: str,
        cell_col: str | None = None,
        force: bool = False,
        partition_by: str | None = None,
        manifest_extra: dict | None = None,
    ) -> DataFrame:
        """Run (or resume) a stage. ``force=True`` rebuilds even when a
        committed snapshot exists: the old snapshot is RETIRED into the
        history (still readable via :meth:`read_snapshot`) and the new
        one becomes current — Iceberg's createOrReplace semantics.

        ``partition_by`` hive-partitions the snapshot on that column —
        readers that filter on it get DIRECTORY-level pruning (the IVF
        serving index partitions its corpus by coarse bucket so a probe
        scans only the probed buckets' files).

        ``manifest_extra`` merges caller keys into the committed
        manifest ATOMICALLY with the snapshot (same tmp+rename write) —
        the mechanism for cross-stage consistency stamps (the IVF
        corpus records which quantizer snapshot it was built from, so a
        crash between two related commits is detectable, never silently
        served). Caller keys must not collide with the built-ins."""
        sdir = self._stage_dir(stage)
        data_dir = os.path.join(sdir, "data")
        if self.is_committed(stage):
            if not force:
                return self._read(data_dir, self.manifest(stage))
            self._retire_current(stage)

        # rescue an interrupted retire: a manifest-only history entry
        # means the crash hit between _retire_current's two renames —
        # the stage-level `data` dir is still that retired snapshot's
        # data (the replacement write had not started), so complete the
        # move before cleanup deletes it. Only the HIGHEST-ordinal entry
        # can be such a victim (retires are strictly ordered); an older
        # manifest-only entry is corrupt/expired for some other reason
        # (e.g. a crash mid expire_snapshots rmtree) and attaching
        # current data to it would resurrect the wrong snapshot.
        names = self._history_entries(stage)
        if names:
            hdir = os.path.join(sdir, "snapshots", names[-1])
            if (
                os.path.exists(os.path.join(hdir, "manifest.json"))
                and not os.path.exists(os.path.join(hdir, "data"))
                and os.path.exists(data_dir)
            ):
                os.rename(data_dir, os.path.join(hdir, "data"))

        # discard any uncommitted leftovers from a killed run,
        # preserving retired snapshot history
        if os.path.exists(sdir):
            for name in os.listdir(sdir):
                if name != "snapshots":
                    p = os.path.join(sdir, name)
                    shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        os.makedirs(sdir, exist_ok=True)

        token = uuid.uuid4().hex[:12]
        tmp_data = os.path.join(sdir, f"data.tmp-{token}")
        built = build_fn()
        writer = built.write.mode("overwrite")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.parquet(tmp_data)
        os.rename(tmp_data, data_dir)  # atomic snapshot swap

        if any(f.endswith(".parquet") for _, _, fs in os.walk(data_dir) for f in fs):
            committed = self.spark.read.parquet(data_dir)
        else:
            # no rows under partition_by: no file to infer from, so take
            # the built schema with the partition column last (where a
            # partitioned read puts it)
            fields = sorted(built.schema.fields, key=lambda f: f.name == partition_by)
            committed = self.spark.read.schema(StructType(fields)).parquet(data_dir)
        lineage = lineage_rows(committed, key_col, self.n_buckets, cell_col)
        manifest = {
            "stage": stage,
            "snapshot_id": token,
            "committed": True,
            "row_count": int(sum(r["row_count"] for r in lineage)),
            "n_buckets": self.n_buckets,
            "key_col": key_col,
            "cell_col": cell_col,
            "schema": committed.schema.jsonValue(),
            "lineage": lineage,
            **(manifest_extra or {}),
        }
        tmp_manifest = os.path.join(sdir, f"manifest.tmp-{token}")
        with open(tmp_manifest, "w") as f:
            json.dump(manifest, f, indent=1, default=str)
        os.rename(tmp_manifest, os.path.join(sdir, "manifest.json"))
        return committed
