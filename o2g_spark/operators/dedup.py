"""Deduplication family for training-data pipelines (driver brief:
exact, MinHash+LSH, SimHash, n-gram Jaccard — first-class components).

Reference parity: o2g dedups shared stops — a node serving several
routes becomes ONE GTFS stop (SURVEY.md §2.A A8 [o2g-PK]); these
operators generalize that "same entity, keep one canonical row" rule to
web-scale text.

Design rules:
- candidate generation NEVER compares all pairs: exact dedup groups by
  the text itself; near-dup families bucket first (LSH bands / shared
  shingles / simhash chunks) and only verify within buckets;
- everything except simhash is pure Column expressions with a DuckDB
  SQL twin (value-hash oracles); simhash packs 64-bit signs in numpy
  inside one Arrow pandas UDF (bit loops are where SQL stops being the
  right tool) and gets a brute-force pytest oracle instead;
- all tie-breaks are total orders (min id) → partition-invariant.

Scale notes (100 TB): exact dedup shuffles once on a 60-bit text hash
(not the text bytes). MinHash bands shuffle (band_idx, band_key) pairs
— rows ≈ docs × bands, keys are 8-byte ints. The pair-verify join fans
in only bucket collisions; AQE skew-join handles viral duplicate
clusters; `dup_group` canonicalization is one more hash-keyed agg.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions import text as X
from ..session import cache_latest


# ------------------------------------------------------------------ exact

def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, dup_group) where dup_group = min id among byte-equal texts.

    Grouping key is the 60-bit md5 hash (shuffle ints, not documents);
    byte-equality within a hash bucket is then exact because the full
    md5 is also compared — collisions of BOTH are ignored as negligible
    (2^-128) and, crucially, *identically* negligible in the oracle.
    """
    w = Window.partitionBy(F.md5(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("dup_group"),
    )


def dedup_exact_sql(table: str, id_col: str, text_col: str) -> str:
    return (
        f"SELECT {id_col}, min({id_col}) OVER (PARTITION BY md5({text_col})) "
        f"AS dup_group FROM {table}"
    )


def dedup_keep_latest(df: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """One row per key: the latest by ts (B13; ties broken impossible —
    caller guarantees (key, ts) unique, as crawl snapshots do)."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------- ngram jaccard

_DEFAULT_MAX_DF = 200


class _UnsetType:
    """Typed sentinel: caller left ``max_df`` unset (distinct from an
    explicit ``None``, which opts into the exact all-shingles path)."""

    _instance: "_UnsetType | None" = None

    def __new__(cls) -> "_UnsetType":
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:  # readable in signatures / help()
        return "<unset: default df cap>"


_USE_DEFAULT_CAP = _UnsetType()
_default_cap_warned = False
_default_cap_lock = threading.Lock()


def _warn_default_cap() -> None:
    """One-time warning when a caller relies on the DEFAULT df cap:
    the capped path silently loses pairs whose only shared shingles
    are boilerplate (df > cap). Callers who pass max_df explicitly
    (any value, including the same 200) have made the choice and are
    not warned; measurement hook: :func:`jaccard_dropped_shingles`.
    Deliberately NOT data-dependent — an eager hot-shingle count here
    would add a job to every capped call's hot path."""
    global _default_cap_warned
    with _default_cap_lock:
        if _default_cap_warned:
            return
        _default_cap_warned = True
        import warnings

        warnings.warn(
            "jaccard_pairs is using its default df cap "
            f"(max_df={_DEFAULT_MAX_DF}): pairs whose only shared "
            "shingles are hotter than the cap will not surface. Pass "
            "max_df explicitly (None = exact) to silence this; measure "
            "the trade with jaccard_dropped_shingles().",
            stacklevel=3,
        )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: "int | None | _UnsetType" = _USE_DEFAULT_CAP,
    attach_sizes: str = "broadcast",
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via shared-shingle buckets.

    Only pairs sharing ≥1 shingle are ever materialized (the classic
    inverted-index join), so cost is Σ_shingle df(shingle)². At corpus
    scale that sum is dominated by boilerplate shingles shared by
    millions of pages: ``max_df`` drops shingles whose document
    frequency exceeds it from CANDIDATE GENERATION only (jaccard is
    still computed over full shingle sets), trading recall for a df²
    bound — pairs whose only common shingles are boilerplate stop
    surfacing, which is usually the desired semantics.

    The default IS a finite cap (df²-safe out of the box; a bare call
    can never go quadratic on a hot shingle). ``max_df=None`` is the
    explicit opt-in to the exact all-shingles path — correct at any df
    distribution but Σdf²-priced; pair it with
    :func:`jaccard_dropped_shingles` == 0 evidence or small corpora.

    ``attach_sizes``: "broadcast" (default — ids-only count
    aggregation + per-doc size table broadcast back, ~20% faster at
    bench scale) or "agg" (sizes ride the aggregation keys — the
    escape for corpora past Spark's 8 GB / 512M-row broadcast cap).
    See :func:`_pair_intersections`; results identical either way.

    Output: (id_a, id_b, jaccard) with id_a < id_b, rounded 6dp,
    ≥ threshold.
    """
    if max_df is _USE_DEFAULT_CAP:
        _warn_default_cap()
        max_df = _DEFAULT_MAX_DF
    # cache_latest: candidate generation + the hot-doc projection
    # re-scan this 2-3×; the columnar cache beats RDD-checkpoint blocks
    # 2-3× here, and the registry bounds CacheManager growth.
    sh_full = cache_latest(
        "dedup.jaccard.sh_full", _shingle_sets(df, id_col, text_col, n)
    )
    pair_counts = _pair_intersections(sh_full, max_df, attach_sizes)
    inter = F.col("__inter")
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        pair_counts
        .withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _pair_intersections(
    sh_full: DataFrame,
    max_df: "int | None",
    attach_sizes: str = "broadcast",
) -> DataFrame:
    """(id_a, id_b, sz_a, sz_b, __inter) for every pair sharing ≥ 1
    capped shingle, where ``__inter`` is the FULL shingle-set
    intersection size and ``sz_*`` the full set sizes.

    The r6 rewrite of the verification step (guide §2.3 — aggregate
    before you shuffle; shuffle counts, not payloads). The inverted-
    index join emits one row per SHARED capped shingle, so
    ``groupBy(pair).count()`` IS the capped intersection size — the
    old plan instead deduplicated the join output (same shuffle), then
    re-joined the full STRING shingle arrays back to both sides and ran
    array_intersect per candidate (measured the dominant cost: at 50k
    synthetic docs the candidate set is 114M pairs for 2.5k survivors,
    each paying a ~48×48 string-array intersection). Hot shingles
    (df > max_df, excluded from candidate generation but NOT from
    jaccard) are added back per pair from a per-doc hot-shingle array:
    inter_full = inter_capped + |hot(A) ∩ hot(B)|, exact because a
    doc's shingle set partitions into capped ∪ hot.

    Everything is computed over the 60-bit HASHED shingles (8-byte
    longs, not 30-40-byte strings — the hash-once rule). The output now
    depends on hash equality: two DISTINCT shingles colliding across a
    pair (P ≈ 2⁻⁶⁰ per shingle pair, ~10⁻¹⁰ for a 30k-shingle
    vocabulary) would inflate that pair's count by 1. The gate compares
    the full output value-hash against the raw-string DuckDB twin on
    real data, which verifies no collision exists there; at corpus
    scale a collision mis-scores one pair by one shingle — strictly
    better than the old plan's behaviour under the SAME collision,
    which could silently merge two shingles' df counts past the cap.

    ``attach_sizes`` — how ``sz_*`` reach the output (identical
    results, different plans; pinned by test):

    - ``"broadcast"`` (default): the count aggregation keys on the ids
      ALONE — the pair rows entering the shuffle carry 2 longs instead
      of 4 and the agg hash tables compare half the key bytes — and the
      per-doc (id, sz) table joins back onto the aggregated candidates
      via two broadcast hash joins. Measured ~20% off the whole capped
      query at 50k docs (127M pair rows). The broadcast is one 16-byte
      row per DOCUMENT, fine into the 100M-doc range but subject to
      Spark's hard 8 GB / 512M-row broadcast cap — it fails loudly,
      never silently, past that.
    - ``"agg"``: sizes ride the aggregation as extra grouping keys
      (functionally dependent on the ids, so cardinality is unchanged)
      — no join-back, no broadcast, nothing that grows with corpus
      size. The escape hatch for beyond-broadcast-cap corpora.
    """
    if attach_sizes not in ("broadcast", "agg"):
        raise ValueError("attach_sizes must be broadcast|agg")
    ride = attach_sizes == "agg"
    occ = sh_full.select("__id", "__sz", F.explode("__hset").alias("__sh"))
    hot = None
    if max_df is not None:
        # drop HOT shingles via a broadcast anti-join: the hot list is
        # at most n/max_df shingles by definition (always broadcastable)
        # whereas the rare list is nearly the whole vocabulary —
        # broadcasting it would OOM at exactly the corpus scale the cap
        # exists for (same shape as the near-dup hot-bucket cap).
        dfreq = occ.groupBy("__sh").agg(F.count("*").alias("__df"))
        hot = dfreq.filter(F.col("__df") > max_df).select("__sh")
        occ = occ.join(F.broadcast(hot), "__sh", "left_anti")
    if not ride:
        occ = occ.select("__id", "__sh")
    pair_rows = (
        occ.alias("a")
        .join(
            occ.alias("b"),
            (F.col("a.__sh") == F.col("b.__sh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            *([F.col("a.__sz").alias("sz_a")] if ride else []),
            F.col("b.__id").alias("id_b"),
            *([F.col("b.__sz").alias("sz_b")] if ride else []),
        )
    )
    # one row per shared capped shingle → count() = capped intersection
    if ride:
        counts = pair_rows.groupBy("id_a", "id_b", "sz_a", "sz_b").agg(
            F.count(F.lit(1)).alias("__c")
        )
    else:
        counts = pair_rows.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("__c")
        )
        sizes = sh_full.select("__id", "__sz")
        counts = counts.join(
            F.broadcast(
                sizes.select(
                    F.col("__id").alias("id_a"), F.col("__sz").alias("sz_a")
                )
            ),
            "id_a",
        ).join(
            F.broadcast(
                sizes.select(
                    F.col("__id").alias("id_b"), F.col("__sz").alias("sz_b")
                )
            ),
            "id_b",
        )
    if hot is None:
        return counts.withColumn("__inter", F.col("__c"))
    # hot-shingle adjustment: per-doc array of its df>cap shingles
    # (empty table when nothing is hot — the bench/gate shape — so the
    # two left joins degrade to empty-broadcast probes). At real corpus
    # scale this table has ≤ one small array per doc; the joins are on
    # the pair ids the rows already carry.
    hot_docs = (
        sh_full.select("__id", F.explode("__hset").alias("__sh"))
        .join(F.broadcast(hot), "__sh")
        .groupBy("__id")
        .agg(F.collect_list("__sh").alias("__hot"))
    )
    ha = hot_docs.select(F.col("__id").alias("id_a"), F.col("__hot").alias("__hot_a"))
    hb = hot_docs.select(F.col("__id").alias("id_b"), F.col("__hot").alias("__hot_b"))
    return (
        counts.join(ha, "id_a", "left")
        .join(hb, "id_b", "left")
        .withColumn(
            "__inter",
            F.col("__c")
            # explicit null guard: size(NULL) is -1 under the legacy
            # sizeOfNull setting, so coalesce alone is not safe
            + F.when(
                F.col("__hot_a").isNull() | F.col("__hot_b").isNull(),
                F.lit(0),
            ).otherwise(F.size(F.array_intersect("__hot_a", "__hot_b"))),
        )
    )


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(__id, __sz, __hset) projection shared by :func:`jaccard_pairs`,
    :func:`containment_pairs`, :func:`jaccard_dropped_shingles` and
    :func:`minhash_lsh_pairs` — ONE plan shape, so Spark's plan-keyed
    CacheManager lets the counter and the LSH signature read the frame
    jaccard_pairs cached instead of re-shingling the corpus (measured:
    the counter doubled the pipeline dedup stage before this).
    ``__hset`` is the 60-bit md5 of each shingle, ``__sz`` the full set
    size. Since the r6 count-based verification the raw shingle STRINGS
    never leave this projection — the cache holds only 8-byte hashes
    (≈¼ the bytes of the old string+hash cache).
    Repartition first: small corpora arrive as one parquet partition
    and the regex+sort shingle pass would run single-threaded."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, id_col).select(
        F.col(id_col).alias("__id"),
        X.shingles(text_col, n).alias("__shset"),
    ).select(
        "__id",
        F.size("__shset").alias("__sz"),
        F.transform("__shset", X.md5_hash60).alias("__hset"),
    )


def jaccard_dropped_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, max_df: int = 200
) -> int:
    """Distinct shingles a ``max_df`` cap excludes from candidate
    generation (the no-silent-cap companion: pipelines/benches log this
    next to the capped :func:`jaccard_pairs` run). Built on the SAME
    plan jaccard_pairs caches — calling it right after a capped
    jaccard_pairs run reuses that cache rather than re-shingling —
    and counts over the HASHED shingles, exactly the values the cap
    is applied to in candidate generation."""
    # project-then-explode (generator expressions evaluate interpreted)
    sh = _shingle_sets(df, id_col, text_col, n).select(
        "__id", F.explode("__hset").alias("__sh")
    )
    return (
        sh.groupBy("__sh")
        .agg(F.count("*").alias("__df"))
        .filter(F.col("__df") > max_df)
        .count()
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: "int | None | _UnsetType" = _USE_DEFAULT_CAP,
    attach_sizes: str = "broadcast",
) -> DataFrame:
    """ASYMMETRIC near-dup pairs: containment(A in B) = |A∩B| / |A|
    over n-gram shingle sets. The quote/subset detector — a short doc
    fully embedded in a long one scores containment ≈ 1 while its
    Jaccard (inter/union) stays tiny, so symmetric dedup never
    surfaces it; training corpora care because quoted boilerplate and
    wrapper pages are exactly this shape.

    Same scale machinery as :func:`jaccard_pairs`: hashed-shingle
    inverted-index candidates (df-capped by default — the cap warning
    and semantics are shared), verified by counting the shared hashed
    shingles (see :func:`_pair_intersections`). Output:
    one row per candidate pair (id_a < id_b) with BOTH directions —
    (id_a, id_b, cont_a_in_b, cont_b_in_a), kept when either side
    ≥ threshold, rounded 6dp."""
    if max_df is _USE_DEFAULT_CAP:
        _warn_default_cap()
        max_df = _DEFAULT_MAX_DF
    sh_full = cache_latest(
        "dedup.containment.sh_full", _shingle_sets(df, id_col, text_col, n)
    )
    # same count-based intersection machinery as jaccard_pairs (see
    # :func:`_pair_intersections`) — only the final ratio differs
    pair_counts = _pair_intersections(
        sh_full, max_df, attach_sizes=attach_sizes
    )
    inter = F.col("__inter")
    c_ab = F.round(inter / F.greatest(F.col("sz_a"), F.lit(1)), 6)
    c_ba = F.round(inter / F.greatest(F.col("sz_b"), F.lit(1)), 6)
    return (
        pair_counts
        .withColumn("cont_a_in_b", c_ab)
        .withColumn("cont_b_in_a", c_ba)
        .filter(
            (F.col("cont_a_in_b") >= threshold)
            | (F.col("cont_b_in_a") >= threshold)
        )
        .select("id_a", "id_b", "cont_a_in_b", "cont_b_in_a")
    )


def containment_pairs_sql(
    table: str, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8
) -> str:
    """DuckDB twin of the EXACT path (gate pins dropped-shingles == 0,
    mirroring the jaccard gate's precondition)."""
    sh_expr = X.shingles_sql(text_col, n)
    return f"""
WITH sh AS (
  SELECT {id_col} AS id, unnest({sh_expr}) AS sh FROM {table}
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(c / greatest(sa.sz, 1), 6) AS cont_a_in_b,
       round(c / greatest(sb.sz, 1), 6) AS cont_b_in_a
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE round(c / greatest(sa.sz, 1), 6) >= {threshold}
   OR round(c / greatest(sb.sz, 1), 6) >= {threshold}
"""


def jaccard_pairs_sql(
    table: str, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> str:
    sh_expr = X.shingles_sql(text_col, n)
    return f"""
WITH sh AS (
  SELECT {id_col} AS id, unnest({sh_expr}) AS sh FROM {table}
),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(c / (sa.sz + sb.sz - c), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE round(c / (sa.sz + sb.sz - c), 6) >= {threshold}
"""


# ---------------------------------------------------------- minhash + LSH

_M31 = 1 << 31
_P31 = 2147483647  # Mersenne prime
_SENTINEL = 1 << 60


def _affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the affine min-hash family.
    a odd, both < 2^31 → a*(x%2^31)+b < 2^62: no BIGINT overflow in
    either engine (DuckDB would raise, Spark would silently wrap)."""
    out = []
    for i in range(num_hashes):
        a = ((1103515245 * (i + 1) + 12345) % _M31) | 1
        b = (69069 * (i + 1) + 1234567) % _M31
        out.append((a, b))
    return out


def shingle_hashes(text_col: str, n: int = 3) -> F.Column:
    """Array of 60-bit md5 hashes of the distinct n-gram shingles.

    The ONE expensive (string-hashing) pass; everything minhash-like
    derives from this integer array with cheap affine re-hashes. Keep
    it materialized as its own column (one withColumn/select step) —
    inlining it into 32 lambda bodies re-evaluates the regex+md5 per
    hash slot (measured 10× slowdown).
    """
    return F.transform(X.shingles(text_col, n), X.md5_hash60)


def shingle_hashes_sql(text_col: str, n: int = 3) -> str:
    return (
        f"list_transform({X.shingles_sql(text_col, n)}, "
        f"s -> {X.md5_hash60_sql('s')})"
    )


def minhash_from_hashes(h_col, num_hashes: int = 32) -> F.Column:
    """Minhash signature from a shingle-hash array column:
    sig[i] = min over shingles of (a_i·(h mod 2³¹) + b_i) mod p.
    Empty docs get the 2^60 sentinel in every slot.

    The hash array is LET-BOUND via ``transform(array(h), hs -> ...)
    [0]`` before fanning out into the ``num_hashes`` per-slot
    expressions: each slot's ``array_min(transform(hs, ...))``
    evaluates its input per expression, so handing every slot the RAW
    ``h_col`` expression re-evaluates it num_hashes× per row — harmless
    when ``h_col`` is a materialized column (the LSH operator path),
    a measured 10× when a caller inlines the regex+md5 shingle pass
    (the one-expression :func:`minhash_signature` form). The binding
    makes the convenience form safe by construction; bit-identical
    (same affine ops over the same values)."""
    h = F.col(h_col) if isinstance(h_col, str) else h_col
    sentinel = F.lit(_SENTINEL).cast(T.LongType())
    def _aff(a: int, b: int):
        # closure factory: Spark HOF lambdas must take exactly 1 or 2
        # positional params, so no default-arg binding
        return lambda x: (x % _M31 * F.lit(a) + F.lit(b)) % _P31

    def _build(hs: F.Column) -> F.Column:
        return F.array(*[
            F.coalesce(F.array_min(F.transform(hs, _aff(a, b))), sentinel)
            for a, b in _affine_params(num_hashes)
        ])

    return F.transform(F.array(h), _build)[0]


def md5_band_keys(sig, num_hashes: int, bands: int) -> F.Column:
    """``bands`` structs (band int, key string) over a minhash signature:
    key = md5 of the band's slot values joined by ",". The persisted LSH
    index stores these keys on disk and the stream near-dup ops in
    state, so the formula is frozen (tests/fixtures/index_v1, stream_v1).
    :func:`minhash_lsh_pairs` keys its bands with xxhash64 instead: its
    keys never leave the query, and md5 measured slower there (r6).

    The signature is LET-BOUND (transform over a 1-element array), so a
    signature EXPRESSION evaluates once per row, not once per band
    (plan shape pinned in test_letbind)."""
    rpb = num_hashes // bands

    def _bands_of(s: F.Column) -> F.Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band"),
                F.md5(
                    F.concat_ws(",", F.transform(
                        F.slice(s, b * rpb + 1, rpb),
                        lambda v: v.cast("string"),
                    ))
                ).alias("key"),
            ),
        )

    s = F.col(sig) if isinstance(sig, str) else sig
    return F.transform(F.array(s), _bands_of)[0]


def minhash_signature(text_col: str, num_hashes: int = 32) -> F.Column:
    """One-expression convenience (oracle-checked queries). For the LSH
    operator path use shingle_hashes + minhash_from_hashes so the md5
    pass materializes once."""
    return minhash_from_hashes(shingle_hashes(text_col, 3), num_hashes)


def minhash_from_hashes_sql(hs_expr: str, num_hashes: int = 32) -> str:
    slots = ", ".join(
        f"coalesce(list_min(list_transform({hs_expr}, "
        f"x -> (x % {_M31} * {a} + {b}) % {_P31})), CAST({_SENTINEL} AS BIGINT))"
        for a, b in _affine_params(num_hashes)
    )
    return f"[{slots}]"


def minhash_signature_sql(text_col: str, num_hashes: int = 32) -> str:
    return minhash_from_hashes_sql(shingle_hashes_sql(text_col, 3), num_hashes)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs: LSH banding for candidates, exact n-gram Jaccard
    to verify. Output identical schema to :func:`jaccard_pairs` —
    (id_a, id_b, jaccard ≥ threshold) — but candidate generation scales
    as O(docs × bands), not O(pairs sharing any shingle).

    A pair is a candidate iff some band of the minhash signature agrees
    exactly; verification recomputes true Jaccard, so precision is
    exact and only recall depends on (num_hashes, bands, threshold).
    """
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    rpb = num_hashes // bands
    # over jaccard_pairs' shingle-set plan: after jaccard_pairs on the
    # same frame, CacheManager builds this cache over jaccard's cached
    # sets, so the corpus is shingled once. cache_latest because the
    # self-join + verify re-scan this 3×. Verification intersects the
    # hashed shingles; a cross-doc 60-bit collision (P ≈ 2⁻⁶⁰ per
    # shingle pair) would shift one pair's jaccard by one shingle — the
    # gate's value-hash against the raw-string DuckDB twin pins its
    # absence on real data.
    sig = cache_latest(
        "dedup.minhash_lsh.sig",
        _shingle_sets(df, id_col, text_col, 3).withColumn(
            "__sig", minhash_from_hashes("__hset", num_hashes)
        ),
    )
    # bands shuffle only (id, band, 8-byte key) — shingle arrays are
    # joined back per candidate pair afterwards, never multiplied ×bands.
    # Band key = xxhash64 over the band's raw slot longs (codegen), not
    # the stored md5 key of :func:`md5_band_keys` — see there. The key
    # only GENERATES candidates (equal bands ⇒ equal keys, so no true
    # candidate is lost; a key collision merely adds a pair that
    # exact-jaccard verification then scores), so the hash choice
    # cannot change the output.
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.xxhash64(
                b, F.slice(F.col("__sig"), b * rpb + 1, rpb)
            ).alias("key"),
        ),
    )
    # project-then-explode: generator expressions evaluate interpreted
    banded = (
        sig.select("__id", band_arr.alias("__bands"))
        .withColumn("__b", F.explode("__bands"))
        .drop("__bands")
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__b.band") == F.col("b.__b.band"))
            & (F.col("a.__b.key") == F.col("b.__b.key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sha = sig.select(F.col("__id").alias("id_a"), F.col("__sz").alias("sz_a"),
                     F.col("__hset").alias("__sha"))
    shb = sig.select(F.col("__id").alias("id_b"), F.col("__sz").alias("sz_b"),
                     F.col("__hset").alias("__shb"))
    cand = pairs.join(sha, "id_a").join(shb, "id_b")
    inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        cand.withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1)), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> str:
    rpb = num_hashes // bands
    return f"""
WITH hs AS (
  SELECT {id_col} AS id, {X.shingles_sql(text_col, 3)} AS sh FROM {table}
),
sig AS (
  SELECT id, sh,
         {minhash_from_hashes_sql(f"list_transform(sh, s -> {X.md5_hash60_sql('s')})", num_hashes)} AS sig
  FROM hs
),
banded AS (
  SELECT id, unnest(range(0, {bands})) AS band,
         unnest(list_transform(range(0, {bands}),
                b -> md5(array_to_string(
                       list_transform(sig[b*{rpb}+1 : b*{rpb}+{rpb}],
                                      v -> CAST(v AS VARCHAR)), ','))))
           AS key
  FROM sig
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.id < b.id
),
cand AS (
  SELECT id_a, id_b, sa.sh AS sha, sb.sh AS shb
  FROM pairs JOIN sig sa ON sa.id = id_a JOIN sig sb ON sb.id = id_b
)
SELECT id_a, id_b,
       round(len(list_intersect(sha, shb)) /
             greatest(len(sha) + len(shb) - len(list_intersect(sha, shb)), 1),
             6) AS jaccard
FROM cand
WHERE round(len(list_intersect(sha, shb)) /
            greatest(len(sha) + len(shb) - len(list_intersect(sha, shb)), 1),
            6) >= {threshold}
"""


# ----------------------------------------------------------------- simhash

def simhash_udf(num_bits: int = 64):
    """Arrow pandas UDF: text → simhash (int64, sign-packed token hashes).

    Token hashes are md5-based (hashlib) — pure, partition-invariant.
    numpy does the bit unpack/accumulate per Arrow batch (the per-bit
    loop is why this one kernel is not a Column expression).
    """

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        # token → uint64 md5 hash memo (8 bytes/entry — the r6 rewrite
        # dropped the old per-token ±1 bit-row arrays, 64× the memory
        # for the same information): real corpora reuse vocabulary
        # heavily, so md5 runs once per distinct token per worker, not
        # per occurrence (worker processes are reused across batches).
        # Keyed by num_bits only to keep two UDF widths' stats separate;
        # size-capped: web-scale vocab (typos, ids, urls) is unbounded,
        # and an uncapped per-worker dict is a slow OOM at 100 TB. Cache
        # hits stay high because Zipf mass is in the head; past the cap
        # tail tokens just recompute (correctness unaffected).
        memo: dict[str, int] = _simhash_memo.setdefault(num_bits, {})
        shifts = np.arange(num_bits, dtype=np.uint64)
        weights = (np.uint64(1) << shifts).astype(np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        # pass 1 (Python): tokenize + hash-lookup into one flat array —
        # the only per-token Python work left
        flat: list[int] = []
        lens = np.zeros(len(texts), dtype=np.int64)
        mget = memo.get
        for i, t in enumerate(texts):
            toks = _norm_words(t)
            lens[i] = len(toks)
            for tok in toks:
                h = mget(tok)
                if h is None:
                    h = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
                    if len(memo) < _SIMHASH_MEMO_CAP:
                        memo[tok] = h
                flat.append(h)
        if not flat:
            return pd.Series(out)
        # pass 2 (numpy, vectorized): per-doc per-bit counts via one
        # segmented reduce — acc_j = 2·(# tokens with bit j set) − n_tok
        # is exactly the old Σ(±1) accumulate, integer-exact. Chunked so
        # the (tokens × num_bits) unpacked matrix stays ≲64 MB.
        H = np.array(flat, dtype=np.uint64)
        ends = np.cumsum(lens)
        starts = ends - lens
        nz = np.flatnonzero(lens)
        budget = max(1, (16 << 20) // max(1, num_bits))  # tokens/chunk

        def _bit_counts(seg: np.ndarray) -> np.ndarray:
            # (len(seg), num_bits) 0/1 matrix; int32 so reduceat sums
            # cannot overflow for any realistic doc length
            return ((seg[:, None] >> shifts) & np.uint64(1)).astype(np.int32)

        pos = 0
        while pos < len(nz):
            j = pos + 1
            tok0 = starts[nz[pos]]
            while j < len(nz) and ends[nz[j]] - tok0 <= budget:
                j += 1
            sel = nz[pos:j]
            seg = H[starts[sel[0]]:ends[sel[-1]]]
            if len(sel) == 1 and len(seg) > budget:
                # one monster doc: accumulate its per-bit counts in
                # slices instead of unpacking all tokens at once
                sums = np.zeros((1, num_bits), dtype=np.int64)
                for lo in range(0, len(seg), budget):
                    sums[0] += _bit_counts(seg[lo:lo + budget]).sum(
                        axis=0, dtype=np.int64
                    )
            else:
                idx = (starts[sel] - starts[sel[0]]).astype(np.int64)
                sums = np.add.reduceat(_bit_counts(seg), idx, axis=0)
            acc = 2 * sums - lens[sel][:, None]
            sig = ((acc > 0).astype(np.uint64) * weights).sum(
                axis=1, dtype=np.uint64
            )
            out[sel] = sig.astype(np.int64)  # two's-complement wrap
            pos = j
        return pd.Series(out)

    return _simhash


# ~1M 64-slot int64 rows ≈ 0.5 GB worst case per worker — bounded
_SIMHASH_MEMO_CAP = 1_000_000
_simhash_memo: dict[int, dict] = {}


def _norm_words(t: str) -> list[str]:
    """Python twin of functions.text.words (tested equal)."""
    import re

    return [w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split() if w]


def simhash_pairs_sql(
    table: str, id_col: str, text_col: str, max_hamming: int = 3
) -> str:
    """Full-pair DuckDB twin of :func:`simhash_pairs` (oracle scale
    only — O(n²) verify is fine on gate-sized tables).

    Exact by construction: same md5 token hashes (16 hex chars →
    UBIGINT), same ±1 per-occurrence accumulate, same sign pack with
    two's-complement wrap into BIGINT. The Spark path's pigeonhole
    chunk banding guarantees every pair with hamming ≤ chunks-1 shares
    a chunk, so this brute twin filtered to ``max_hamming < chunks``
    yields the identical pair set.
    """
    w = X.words_sql(text_col)
    weights = ", ".join(f"({b}, CAST({1 << b} AS HUGEINT))" for b in range(64))
    return f"""
WITH tok AS (
  SELECT {id_col} AS id, unnest({w}) AS tok FROM {table}
),
th AS (
  SELECT id, CAST(concat('0x', substr(md5(tok), 1, 16)) AS UBIGINT) AS h
  FROM tok
),
bw(b, wt) AS (VALUES {weights}),
acc AS (
  SELECT id, b, wt,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS a
  FROM th CROSS JOIN bw GROUP BY id, b, wt
),
sig0 AS (
  SELECT id, sum(CASE WHEN a > 0 THEN wt ELSE CAST(0 AS HUGEINT) END) AS s0
  FROM acc GROUP BY id
),
sig AS (
  SELECT t.{id_col} AS id,
         CAST(CASE WHEN coalesce(s0, 0) >= CAST(9223372036854775808 AS HUGEINT)
              THEN coalesce(s0, 0) - CAST(18446744073709551616 AS HUGEINT)
              ELSE coalesce(s0, 0) END AS BIGINT) AS s
  FROM {table} t LEFT JOIN sig0 ON sig0.id = t.{id_col}
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.s, b.s)) <= {max_hamming}
"""


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs with simhash Hamming distance ≤ max_hamming.

    Pigeonhole banding: with ``chunks`` 16-bit chunks, any pair within
    Hamming ≤ chunks-1 shares at least one exact chunk → bucket join on
    (chunk_idx, chunk_value), verify with bit_count(xor). Requires
    max_hamming < chunks (guaranteed recall); raises otherwise.
    """
    if max_hamming >= chunks:
        raise ValueError("pigeonhole recall needs max_hamming < chunks")
    bits = 64 // chunks
    # repartition: small corpora arrive as ONE parquet split, which
    # would run the (expensive) simhash UDF single-task; cache_latest:
    # the self-join would otherwise evaluate the UDF subtree once per
    # side (measured: the two fixes plus the filter-before-dedup below
    # took simhash_pairs 36.6 s → ~2 s at 50k docs, local[32])
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = cache_latest(
        "dedup.simhash.sh",
        df.repartition(par, id_col).select(
            F.col(id_col).alias("__id"),
            simhash_udf()(F.col(text_col)).alias("__sim"),
        ),
    )
    chunked = sh.select(
        "__id",
        "__sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("idx"),
                        F.shiftrightunsigned(F.col("__sim"), c * bits)
                        .bitwiseAND(F.lit((1 << bits) - 1))
                        .alias("val"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("__c"),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__c.idx") == F.col("b.__c.idx"))
            & (F.col("a.__c.val") == F.col("b.__c.val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(
                F.col("a.__sim").bitwiseXOR(F.col("b.__sim"))
            ).alias("hamming"),
        )
        # filter BEFORE the distinct: hamming is a pure function of the
        # pair, so the result set is identical, but the aggregate now
        # sees only surviving pairs (at 50k synthetic docs: 19.3M
        # candidate rows → ~14k — the dedup was the dominant cost)
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
