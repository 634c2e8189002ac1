"""Persisted embedding-LSH index + incremental near-dup pairing.

``embedding_near_dup_pairs`` re-bands and re-pairs the WHOLE corpus
every run — O(corpus) work per increment, which stops existing at
100 TB. This module persists each vector once through the checkpoint
layer, with its hyperplane band keys derived from the committed
vectors, and pairs a NEW batch against it with work proportional to
the batch:

    candidates = new × index (band-key join)  ∪  new × new (self-join)
    verify     = exact cosine (new vectors fresh, old from the index —
                 no re-banding of the corpus)

Output pairs are EXACTLY ``embedding_near_dup_pairs(old ∪ new)``
restricted to pairs touching ≥1 new vector (pinned by test and by the
driver-gate SQL twin): the hyperplane matrix is a pure function of
(dim, bands, bits_per_band, seed) — all recorded in the index
manifests — so banding is per-vector deterministic and splitting the
corpus cannot change any pair's candidacy or cosine. The hot-bucket
``max_bucket`` cap is computed over the UNION of index and new band
rows, so the excluded-bucket set also matches the full run exactly.

Band-key formula is IDENTICAL to ``similarity.lsh_band_keys_udf`` —
the same (bands × bits_per_band) sign-bit packing the batch operator
and the embedding streaming funnel use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _delta_index as D
from .similarity import cosine_prenormed, lsh_band_keys_udf, norm, vector_dim

BANDS_STAGE = "emb_bands"
VECS_STAGE = "emb_vecs"


def _vec_rows(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(did, vec); the repartition keeps the banding UDF parallel
    even when a small input arrives as one split."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, id_col).select(
        F.col(id_col).alias("did"), F.col(vec_col).alias("vec"))


def _band_rows(vecs: DataFrame, params: dict) -> DataFrame:
    """(did, band, key) — one row per (vector, band). One Arrow matmul
    per batch; posexplode runs on a materialized UDF output column, so
    the generator never re-evaluates the UDF."""
    keys_udf = lsh_band_keys_udf(params["dim"], params["bands"],
                                 params["bits_per_band"], params["seed"])
    return vecs.select("did", keys_udf(F.col("vec")).alias("__keys")).select(
        "did", F.posexplode("__keys").alias("band", "key"))


SPEC = D.IndexSpec(
    label="embedding", build_fn="emb_index_build",
    first=VECS_STAGE, first_part=None,
    second=BANDS_STAGE, second_part="band",
    param_keys=("bands", "bits_per_band", "seed", "dim", "id_col"),
    derive=_band_rows,
)


def emb_index_build(
    spark: SparkSession,
    base_dir: str,
    vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 8,
    bits_per_band: int = 12,
    seed: int = 42,
    dim: int | None = None,
    force: bool = False,
) -> None:
    """Build (or resume) the persisted embedding index at ``base_dir``:
    band keys hive-partitioned BY BAND (the incremental join's probe
    key prefix) and the vectors for cosine verification. Idempotent;
    ``force=True`` retires the old snapshots (createOrReplace)."""
    if dim is None:
        dim = vector_dim(vecs, vec_col)
        if dim == 0:
            # the width is stored in the index params: it cannot be guessed
            raise ValueError(
                f"no non-null vector in {vec_col!r} to take the index width "
                "from: pass dim=")
    params = {"bands": bands, "bits_per_band": bits_per_band,
              "seed": seed, "dim": dim, "id_col": id_col}
    SPEC.build(spark, base_dir, params,
               lambda: _vec_rows(vecs, id_col, vec_col), force)


def embedding_near_dup_incremental(
    spark: SparkSession,
    base_dir: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_threshold: float = 0.95,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Near-dup pairs touching ≥1 NEW vector, against the persisted
    index: (new × index) ∪ (new × new) candidates, exact-cosine
    verified. Output schema identical to ``embedding_near_dup_pairs``
    — (id_a, id_b, sim ≥ threshold), id_a < id_b. Banding params come
    from the index manifests (caller cannot mismatch them); the
    ``max_bucket`` hot-bucket cap is evaluated over index ∪ new band
    rows so the drop set equals the full run's. New ids must not
    collide with indexed ids (re-crawled urls go through
    dedup_keep_latest first)."""
    ckpt, p = SPEC.open(spark, base_dir)
    new_v, new_banded, idx_v, idx_banded = SPEC.batch(
        ckpt, p, _vec_rows(new_vecs, id_col, vec_col))
    pairs = D.candidate_pairs(
        new_banded, idx_banded, ["band", "key"], max_bucket
    ).dropDuplicates(["id_a", "id_b"])
    # verification vectors: old from the index, new fresh — an id
    # resolves from exactly one side (ids disjoint by contract). The
    # per-side norm is computed once per vector row, not per pair
    # (bit-identical: see similarity.cosine_prenormed)
    v_all = idx_v.unionByName(new_v).select(
        "did", "vec", norm(F.col("vec")).alias("nrm"))
    dim = int(p["dim"])  # unrolled codegen dot/norm (size-guarded)
    sim = F.round(
        cosine_prenormed(
            F.col("vec_a"), F.col("vec_b"), F.col("nrm_a"), F.col("nrm_b"),
            dim,
        ),
        6,
    )
    return (
        D.with_sides(pairs, v_all, ["vec", "nrm"])
        .withColumn("sim", sim)
        .filter(F.col("sim") >= sim_threshold)
        .select("id_a", "id_b", "sim")
    )


def emb_index_merge(
    spark: SparkSession,
    base_dir: str,
    new_vecs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold a paired batch INTO the index (the post-increment step) as
    an LSM DELTA — O(batch) work and two atomic commits, never an
    O(corpus) rewrite (see :mod:`._delta_index`). Readers see base ∪
    deltas; :func:`emb_index_compact` folds them down when the caller
    chooses to pay O(corpus) once. Banding params come from the
    existing manifests, so a merge can never change them. Idempotent:
    each delta carries the batch's id-set digest, so re-merging an
    already-merged batch (a production rerun after a crash) re-finds
    the existing delta instead of duplicating rows — and a crash
    BETWEEN the two per-stage commits is detected at pairing time and
    healed by rerunning the merge."""
    SPEC.merge(spark, base_dir,
               lambda p: _vec_rows(new_vecs, id_col, vec_col))


def emb_index_compact(spark: SparkSession, base_dir: str) -> int:
    """Fold all live deltas into the base snapshots (the one O(corpus)
    operation — run on YOUR schedule) and GC them; the pre-compaction
    base retires into snapshot history. Returns the number of deltas
    folded per stage. Reader output is unchanged by construction
    (pinned by test)."""
    return SPEC.compact(spark, base_dir)
