"""Persisted minhash-LSH index + incremental near-dup pairing.

The batch periodic-crawl shape: ``minhash_lsh_pairs`` re-bands and
re-pairs the WHOLE corpus every run — O(corpus) work per increment.
At 100 TB the corpus is an index you maintain, not an input you
re-read: this module persists each document's band keys and shingle
set once through the checkpoint layer (:class:`..plans.checkpoint.
CheckpointManager` — atomic commit, resume, retire/time-travel), and
pairs a NEW batch against it with work proportional to the batch:

    candidates = new × index (band-key join)  ∪  new × new (self-join)
    verify     = exact n-gram Jaccard (new shingles fresh, old from
                 the index — no re-shingling of the corpus)

Output pairs are EXACTLY ``minhash_lsh_pairs(old ∪ new)`` restricted
to pairs touching ≥1 new doc (pinned by test and by the driver-gate
SQL twin): banding is per-doc deterministic, so splitting the corpus
cannot change any pair's candidacy or score. (old, old) pairs are the
previous increments' output — never recomputed.

Band keys come from ``dedup.md5_band_keys`` — the md5-of-slice key
``streaming.stateful._banded_docs`` also uses, over the same signature
family as ``minhash_lsh_pairs`` (whose in-query keys are xxhash64, so
the candidate set is the same but the key values differ). The
manifests record (num_hashes, bands, shingle_n) and the pairing call
validates them, so an index built under one banding can never silently
pair under another.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as X
from . import _delta_index as D
from .dedup import md5_band_keys, minhash_from_hashes

BANDS_STAGE = "lsh_bands"
SHINGLES_STAGE = "lsh_shingles"


def _shingle_rows(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(did, sh) — one distinct-shingle set per document; the
    repartition keeps shingling parallel on a one-split input."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, id_col).select(
        F.col(id_col).alias("did"),
        X.shingles(text_col, shingle_n).alias("sh"),
    )


def _band_rows(sh: DataFrame, params: dict) -> DataFrame:
    """(did, band, key) — one row per (doc, band), derived from the
    shingle sets through :func:`.dedup.md5_band_keys`;
    project-then-explode, because GenerateExec evaluates a computed
    generator array interpreted."""
    num_hashes = params["num_hashes"]
    sig = minhash_from_hashes(F.transform("sh", X.md5_hash60), num_hashes)
    return (
        sh.select("did", md5_band_keys(sig, num_hashes, params["bands"])
                  .alias("__bands"))
        .withColumn("__b", F.explode("__bands"))
        .select("did", F.col("__b.band").alias("band"),
                F.col("__b.key").alias("key"))
    )


SPEC = D.IndexSpec(
    label="LSH", build_fn="lsh_index_build",
    first=SHINGLES_STAGE, first_part=None,
    second=BANDS_STAGE, second_part="band",
    param_keys=("num_hashes", "bands", "shingle_n", "id_col"),
    derive=_band_rows,
)


def lsh_index_build(
    spark: SparkSession,
    base_dir: str,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 16,
    shingle_n: int = 3,
    force: bool = False,
) -> None:
    """Build (or resume) the persisted LSH index at ``base_dir``:
    band keys hive-partitioned BY BAND (the incremental join's probe
    key prefix) and shingle sets for verification. Idempotent;
    ``force=True`` retires the old snapshots (createOrReplace)."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    params = {"num_hashes": num_hashes, "bands": bands,
              "shingle_n": shingle_n, "id_col": id_col}
    SPEC.build(spark, base_dir, params,
               lambda: _shingle_rows(docs, id_col, text_col, shingle_n),
               force)


def minhash_lsh_pairs_incremental(
    spark: SparkSession,
    base_dir: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs touching ≥1 NEW doc, against the persisted index:
    (new × index) ∪ (new × new) candidates, exact-Jaccard verified.
    Output schema identical to ``minhash_lsh_pairs`` — (id_a, id_b,
    jaccard ≥ threshold), id_a < id_b. Banding params come from the
    index manifests (caller cannot mismatch them). New doc ids must
    not collide with indexed ids (re-crawled urls go through
    dedup_keep_latest first)."""
    ckpt, p = SPEC.open(spark, base_dir)
    new_sh, new_banded, idx_sh, idx_banded = SPEC.batch(
        ckpt, p, _shingle_rows(new_docs, id_col, text_col, p["shingle_n"]))
    pairs = D.candidate_pairs(
        new_banded, idx_banded, ["band", "key"]
    ).dropDuplicates(["id_a", "id_b"])
    # verification shingles: old docs from the index, new fresh — a
    # doc id resolves from exactly one side (ids disjoint by contract)
    cand = D.with_sides(pairs, idx_sh.unionByName(new_sh), ["sh"])
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
    return (
        cand.withColumn(
            "jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_index_merge(
    spark: SparkSession,
    base_dir: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Fold a paired batch INTO the index (the post-increment step) as
    an LSM DELTA — O(batch) work and two atomic commits, never an
    O(corpus) rewrite (see :mod:`._delta_index`). Readers see base ∪
    deltas; :func:`lsh_index_compact` folds them down when the caller
    chooses to pay O(corpus) once. Banding params come from the
    existing manifests, so a merge can never change them. Idempotent:
    each delta carries the batch's id-set digest, so re-merging an
    already-merged batch (a production rerun after a crash) re-finds
    the existing delta instead of duplicating rows — and a crash
    BETWEEN the two per-stage commits is detected at pairing time and
    healed by rerunning the merge."""
    SPEC.merge(spark, base_dir, lambda p: _shingle_rows(
        new_docs, id_col, text_col, p["shingle_n"]))


def lsh_index_compact(spark: SparkSession, base_dir: str) -> int:
    """Fold all live deltas into the base snapshots (the one O(corpus)
    operation — run it on YOUR schedule, e.g. when deltas approach the
    base's size) and GC them. The pre-compaction base retires into the
    snapshot history. Returns the number of deltas folded per stage.
    Output of every reader is unchanged by construction (pinned by
    test)."""
    return SPEC.compact(spark, base_dir)
