"""Persisted video frame-hash index + incremental near-dup pairing.

``video.video_near_dup_pairs`` re-decodes every clip's frames on
every run — and the decode (container walk + per-frame unpack +
dHash) dominates at media scale. This module persists each clip's
DISTINCT frame-dHash set once through the checkpoint layer — payload
bytes are touched exactly once per clip, EVER — and pairs a NEW
batch against it with work proportional to the batch:

    shared     = new × index (frame-hash join)  ∪  new × new
    jaccard    = shared / (n_a + n_b − shared)  from persisted SIZES
                 (full distinct-frame counts — the cap below never
                 shrinks a denominator, matching the batch operator)

Output pairs are EXACTLY ``video_near_dup_pairs_from_hashes(old ∪
new)`` restricted to pairs touching ≥1 new clip (pinned by test and
the driver-gate SQL twin): frame hashes are a pure function of the
payload bytes, so splitting the corpus cannot change any pair's
shared count or sizes. The ``max_df`` hot-frame cap is computed over
the UNION of index and new frame rows, so the excluded-hash set also
matches the full run exactly.

Storage: ``video_frames`` (did, dhash, fpart) hive-partitioned by
``fpart = pmod(dhash, 64)`` — a pure function of the join key, so
the incremental read prunes to the ≤64 partitions the new batch's
hashes actually land in (an explicit ``isin`` filter, bounded by the
partition count, not the corpus) — plus ``video_sizes`` (did, n)
for the jaccard denominators, one small row per clip, derived from the
committed frames. Build, O(batch) delta merges, compaction and the
codec-rev check are the shared lifecycle of :mod:`._delta_index`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _delta_index as D

FRAMES_STAGE = "video_frames"
SIZES_STAGE = "video_sizes"

N_FPART = 64


def _frame_rows(
    df: DataFrame, id_col: str, payload_col: str, every_k: int
) -> DataFrame:
    """(did, dhash, fpart) — one row per DISTINCT sampled-frame hash
    per clip (set semantics, like the batch operator); undecodable
    payloads contribute nothing. The decode UDF evaluates behind a
    repartition boundary so the one expensive pass runs once per row
    (CLAUDE.md rule 8)."""
    from .video import video_frame_dhash_udf

    sig_udf = video_frame_dhash_udf(every_k)
    src = df.filter(F.col("kind") == "video") if "kind" in df.columns else df
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        src.repartition(par, id_col)
        .select(
            F.col(id_col).alias("did"),
            sig_udf(F.col(payload_col)).alias("__fh"),
        )
        .filter(F.col("__fh").isNotNull())
        .select("did", F.explode("__fh").alias("dhash"))
        .withColumn("fpart", F.pmod(F.col("dhash"), F.lit(N_FPART)))
    )


def _size_rows(frames: DataFrame, params: dict) -> DataFrame:
    """(did, n) — distinct-frame count per clip (no param needed)."""
    return frames.groupBy("did").agg(F.count("*").alias("n"))


SPEC = D.IndexSpec(
    label="video", build_fn="video_index_build",
    first=FRAMES_STAGE, first_part="fpart",
    second=SIZES_STAGE, second_part=None,
    param_keys=("every_k", "id_col"),
    derive=_size_rows, codec_rev=True,
)


def video_index_build(
    spark: SparkSession,
    base_dir: str,
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    every_k: int = 1,
    force: bool = False,
) -> None:
    """Build (or resume) the persisted video index at ``base_dir``:
    frame hashes hive-partitioned by fpart plus the per-clip size
    table. Idempotent; ``force=True`` retires the old snapshots."""
    SPEC.build(spark, base_dir, {"every_k": every_k, "id_col": id_col},
               lambda: _frame_rows(media, id_col, payload_col, every_k),
               force)


def video_near_dup_incremental(
    spark: SparkSession,
    base_dir: str,
    new_media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    threshold: float = 0.5,
    max_df: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs touching ≥1 NEW clip, against the persisted
    index: (new × index) ∪ (new × new) shared-frame counts, jaccard
    from persisted sizes. Output schema identical to
    ``video.video_near_dup_pairs`` — (id_a, id_b, jaccard ≥
    threshold), id_a < id_b. Decode params come from the index
    manifests (caller cannot mismatch them). New ids must not collide
    with indexed ids (re-crawled urls go through dedup_keep_latest
    first)."""
    ckpt, p = SPEC.open(spark, base_dir)
    new_frames, new_sizes, idx_frames, idx_sizes = SPEC.batch(
        ckpt, p, _frame_rows(new_media, id_col, payload_col, p["every_k"]))

    # explicit partition pruning: the index read narrows to the ≤64
    # fpart dirs the new batch's hashes land in (pure function of the
    # join key, so every possible shared hash survives the pruning)
    touched = [r.fpart for r in new_frames.select("fpart").distinct().collect()]
    idx_frames = idx_frames.filter(
        F.col("fpart").isin(touched) if touched else F.lit(False)
    )
    shared = (
        D.candidate_pairs(new_frames, idx_frames, ["dhash"], max_df)
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )

    # denominators: FULL distinct-frame counts (never reduced by the
    # cap — the batch operator's exact semantics), old from the index,
    # new fresh; an id resolves from exactly one side
    jac = F.round(
        F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6)
    return (
        D.with_sides(shared, idx_sizes.unionByName(new_sizes), ["n"])
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def video_index_merge(
    spark: SparkSession,
    base_dir: str,
    new_media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> None:
    """Fold a paired batch INTO the index (the post-increment step) as
    an LSM DELTA — O(batch) work, never an O(corpus) rewrite.
    Idempotent: each delta carries the batch's id-set digest, so
    re-merging an already-merged batch re-finds the existing delta
    instead of duplicating rows."""
    SPEC.merge(spark, base_dir, lambda p: _frame_rows(
        new_media, id_col, payload_col, p["every_k"]))


def video_index_compact(spark: SparkSession, base_dir: str) -> int:
    """Fold all live deltas into the base snapshots (the one O(corpus)
    operation — run on YOUR schedule) and GC them. Returns the number
    of deltas folded per stage. Reader output is unchanged by
    construction (pinned by test)."""
    return SPEC.compact(spark, base_dir)
