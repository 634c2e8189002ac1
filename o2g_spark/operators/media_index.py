"""Persisted perceptual-media index + incremental near-dup pairing.

``media_dedup.hamming_pairs`` re-decodes and re-pairs the WHOLE corpus every run — and for media the re-decode is the
dominant cost (BENCH §media near-dup: the signature pass IS the
payload decode). This module persists each row's 64-bit perceptual
signature once through the checkpoint layer — payload bytes are
touched exactly once per media row, EVER — and pairs a NEW batch
against it with work proportional to the batch:

    candidates = new × index (band-key join)  ∪  new × new (self-join)
    verify     = exact bit_count(xor) ≤ max_hamming (new signatures
                 fresh, old from the index — no re-decode)

Output pairs are EXACTLY ``hamming_pairs(old ∪ new)`` restricted to
pairs touching ≥1 new row (pinned by test and the driver-gate SQL
twin): the signature is a pure function of the payload bytes
(dhash_from_rgb / audio_fp_from_samples) and band keys are pure
shifts of the signature, so splitting the corpus cannot change any
pair's candidacy or hamming. The ``max_bucket`` hot-bucket cap is
computed over the UNION of index and new band rows, so the
excluded-bucket set also matches the full run exactly.

One index per MODALITY (``kind`` is an index parameter like the
embedding index's ``dim``): image dHashes and audio fingerprints
share the int64 space, and a mixed index would pair across
modalities on accidental band collisions.

Storage: ``media_bands`` (did, band, key) hive-partitioned BY BAND —
the incremental join's probe prefix, pruning index reads to the
band/bucket partitions the new batch actually touches — plus
``media_sigs`` (did, sig) for verification, 16 bytes a row; the bands
derive from the committed signatures. Build, O(batch) delta merges,
compaction and the codec-rev check are the shared lifecycle of
:mod:`._delta_index`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _delta_index as D
from .media_dedup import _banded, media_signature_udf

BANDS_STAGE = "media_bands"
SIGS_STAGE = "media_sigs"


def _sig_rows(
    df: DataFrame, kind: str, id_col: str, payload_col: str,
    frame_samples: int,
) -> DataFrame:
    """(did, sig) — one decoded signature per media row of ``kind``;
    undecodable / sub-grid / sub-2-frame rows band to nothing. The
    decode UDF evaluates behind a repartition boundary so the one
    expensive pass runs once per row (CLAUDE.md rule 8)."""
    sig_udf = media_signature_udf(kind, frame_samples)
    src = df.filter(F.col("kind") == kind) if "kind" in df.columns else df
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        src.repartition(par, id_col)
        .select(
            F.col(id_col).alias("did"),
            sig_udf(F.col(payload_col)).alias("sig"),
        )
        .filter(F.col("sig").isNotNull())
    )


def _band_rows(sigs: DataFrame, params: dict) -> DataFrame:
    """(did, band, key) — the operator's own band keys
    (media_dedup._banded) over a (did, sig) frame."""
    s = sigs.select(F.col("did").alias("__id"), F.col("sig").alias("__sig"))
    return _banded(s, params["chunks"], params["band_chunks"]).select(
        F.col("__id").alias("did"),
        F.col("__b.idx").alias("band"),
        F.col("__b.val").alias("key"),
    )


SPEC = D.IndexSpec(
    label="media", build_fn="media_index_build",
    first=SIGS_STAGE, first_part=None,
    second=BANDS_STAGE, second_part="band",
    param_keys=("kind", "chunks", "band_chunks", "frame_samples", "id_col"),
    derive=_band_rows, codec_rev=True,
)


def media_index_build(
    spark: SparkSession,
    base_dir: str,
    media: DataFrame,
    kind: str = "image",
    id_col: str = "media_id",
    payload_col: str = "payload",
    chunks: int = 8,
    band_chunks: int = 2,
    frame_samples: int = 256,
    force: bool = False,
) -> None:
    """Build (or resume) the persisted media index at ``base_dir``:
    band keys hive-partitioned by band plus the signature table.
    Idempotent; ``force=True`` retires the old snapshots."""
    params = {"kind": kind, "chunks": chunks, "band_chunks": band_chunks,
              "frame_samples": frame_samples, "id_col": id_col}
    SPEC.build(spark, base_dir, params, lambda: _sig_rows(
        media, kind, id_col, payload_col, frame_samples), force)


def media_near_dup_incremental(
    spark: SparkSession,
    base_dir: str,
    new_media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_hamming: int | None = None,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-dup pairs touching ≥1 NEW media row, against the persisted
    index: (new × index) ∪ (new × new) candidates, exact
    bit_count(xor) verified. Output schema identical to
    ``media_dedup.hamming_pairs`` — (id_a, id_b, hamming ≤
    max_hamming), id_a < id_b. Banding/decode params come from the
    index manifests (caller cannot mismatch them); ``max_hamming``
    defaults to the pigeonhole recall bound chunks − band_chunks.
    New ids must not collide with indexed ids (re-crawled urls go
    through dedup_keep_latest first)."""
    ckpt, p = SPEC.open(spark, base_dir)
    bound = p["chunks"] - p["band_chunks"]
    if max_hamming is None:
        max_hamming = bound
    if max_hamming > bound:
        raise ValueError(
            "pigeonhole recall needs max_hamming <= chunks - band_chunks"
        )
    new_sigs, new_banded, idx_sigs, idx_banded = SPEC.batch(
        ckpt, p, _sig_rows(new_media, p["kind"], id_col, payload_col,
                           p["frame_samples"]))
    pairs = D.candidate_pairs(
        new_banded, idx_banded, ["band", "key"], max_bucket
    ).dropDuplicates(["id_a", "id_b"])
    # verification signatures: old from the index, new fresh — an id
    # resolves from exactly one side (ids disjoint by contract)
    return (
        D.with_sides(pairs, idx_sigs.unionByName(new_sigs), ["sig"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def media_index_merge(
    spark: SparkSession,
    base_dir: str,
    new_media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> None:
    """Fold a paired batch INTO the index (the post-increment step) as
    an LSM DELTA — O(batch) work, never an O(corpus) rewrite. Params
    come from the existing manifests, so a merge can never change
    them. Idempotent: each delta carries the batch's id-set digest, so
    re-merging an already-merged batch re-finds the existing delta
    instead of duplicating rows."""
    SPEC.merge(spark, base_dir, lambda p: _sig_rows(
        new_media, p["kind"], id_col, payload_col, p["frame_samples"]))


def media_index_compact(spark: SparkSession, base_dir: str) -> int:
    """Fold all live deltas into the base snapshots (the one O(corpus)
    operation — run on YOUR schedule) and GC them. Returns the number
    of deltas folded per stage. Reader output is unchanged by
    construction (pinned by test)."""
    return SPEC.compact(spark, base_dir)
