"""Dedup family: exact, n-gram Jaccard, MinHash+LSH, SimHash."""

import hashlib
import itertools

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from o2g_spark import session as S
from o2g_spark.functions import text as X
from o2g_spark.operators import dedup

BASE = [
    "the quick brown fox jumps over the lazy dog near the river bank today",
    "a completely different document about spark dataframes and shuffle joins",
    "weather reports for the northern region arrive every single morning now",
    "minhash locality sensitive hashing finds near duplicate documents fast",
    "subscribe to our newsletter for more stories about data engineering",
]


def _corpus() -> pd.DataFrame:
    """Exact dups + near dups (one-word edits) + unrelated docs."""
    rows = []
    i = 0
    for b in BASE:
        rows.append((i, b)); i += 1
        rows.append((i, b)); i += 1                      # exact dup
        rows.append((i, b.replace("the", "a", 1))); i += 1  # near dup
    rows.append((i, "totally unique text with no overlap whatsoever here")); i += 1
    return pd.DataFrame(rows, columns=["doc_id", "text"])


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_corpus())


def _py_shingles(t, n=3):
    import re

    ws = [w for w in re.sub(r"[^a-z0-9]+", " ", t.lower()).split() if w]
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def _brute_jaccard(pdf, n=3, threshold=0.5):
    sh = {r.doc_id: _py_shingles(r.text, n) for r in pdf.itertuples()}
    out = set()
    for a, b in itertools.combinations(sorted(sh), 2):
        if not sh[a] or not sh[b]:
            continue
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if round(j, 6) >= threshold:
            out.add((a, b, round(j, 6)))
    return out


def test_dedup_exact_matches_pandas_and_sql(corpus):
    got = {(r.doc_id, r.dup_group) for r in dedup.dedup_exact(corpus, "doc_id", "text").collect()}
    pdf = _corpus()
    exp = {
        (r.doc_id, pdf[pdf.text == r.text].doc_id.min()) for r in pdf.itertuples()
    }
    assert got == exp
    con = duckdb.connect()
    con.register("docs", pdf)
    d = set(map(tuple, con.execute(dedup.dedup_exact_sql("docs", "doc_id", "text")).fetchall()))
    con.close()
    assert got == d


def test_dedup_keep_latest(spark):
    pdf = pd.DataFrame(
        {
            "url": ["u1", "u1", "u2", "u2", "u3"],
            "ts": pd.to_datetime(
                ["2024-01-01", "2024-02-01", "2024-01-05", "2024-01-02", "2024-03-01"]
            ),
            "v": [1, 2, 3, 4, 5],
        }
    )
    out = {(r.url, r.v) for r in dedup.dedup_keep_latest(spark.createDataFrame(pdf), "url", "ts").collect()}
    assert out == {("u1", 2), ("u2", 3), ("u3", 5)}


def test_jaccard_pairs_matches_bruteforce(corpus):
    got = {
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.4,
                                     max_df=None).collect()
    }
    assert got == _brute_jaccard(_corpus(), 3, 0.4)


def test_jaccard_pairs_sql_twin(corpus):
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.jaccard_pairs(corpus, "doc_id", "text", 3, 0.4,
                                 max_df=None).collect()
    )
    con = duckdb.connect()
    con.register("docs", _corpus())
    d = sorted(
        (a, b, round(j, 6))
        for a, b, j in con.execute(
            dedup.jaccard_pairs_sql("docs", "doc_id", "text", 3, 0.4)
        ).fetchall()
    )
    con.close()
    assert got == d


def test_minhash_signature_cross_engine(corpus):
    s = (
        corpus.select("doc_id", dedup.minhash_signature("text", 16).alias("sig"))
        .orderBy("doc_id")
        .collect()
    )
    con = duckdb.connect()
    con.register("docs", _corpus())
    d = con.execute(
        f"SELECT doc_id, {dedup.minhash_signature_sql('text', 16)} AS sig "
        f"FROM docs ORDER BY doc_id"
    ).fetchall()
    con.close()
    assert [(r.doc_id, list(r.sig)) for r in s] == [(i, list(g)) for i, g in d]


def test_minhash_lsh_finds_near_dups(corpus):
    got = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            corpus, "doc_id", "text", num_hashes=32, bands=16, threshold=0.4
        ).collect()
    }
    brute = {(a, b) for a, b, _ in _brute_jaccard(_corpus(), 3, 0.4)}
    # precision exact (candidates verified with true jaccard)
    assert got <= brute
    # recall on this fixture: exact dups always collide; near dups with
    # 16 narrow bands virtually always — require full recall here
    assert got == brute


def test_minhash_lsh_sql_twin(corpus):
    got = sorted(
        (r.id_a, r.id_b, round(r.jaccard, 6))
        for r in dedup.minhash_lsh_pairs(corpus, "doc_id", "text", 32, 16, 0.4).collect()
    )
    con = duckdb.connect()
    con.register("docs", _corpus())
    d = sorted(
        (a, b, round(j, 6))
        for a, b, j in con.execute(
            dedup.minhash_lsh_pairs_sql("docs", "doc_id", "text", 32, 16, 0.4)
        ).fetchall()
    )
    con.close()
    assert got == d


def _physical_nodes(plan, node: str) -> int:
    """``node`` expressions (Catalyst class name) in one physical plan,
    not descending into the cached plans its in-memory scans read."""
    n = 0

    def walk(e):
        nonlocal n
        n += e.nodeName() == node
        kids = e.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    def plans(p):
        if p.nodeName() == "AdaptiveSparkPlan":
            p = p.inputPlan()
        yield p
        for i in range(p.children().size()):
            yield from plans(p.children().apply(i))

    for p in plans(plan):
        exprs = p.expressions()
        for j in range(exprs.size()):
            walk(exprs.apply(j))
    return n


def test_lsh_signature_cache_reads_jaccard_shingle_sets(spark, corpus):
    """After jaccard_pairs(n=3) on a frame is collected, minhash_lsh_pairs
    on the same frame builds its signature cache over jaccard's cached
    shingle sets: the shingle regex occurs in only one of the two
    cached plans, so the pass shingles the corpus once."""
    dedup.jaccard_pairs(corpus, "doc_id", "text", 3, 0.5, max_df=None).collect()
    dedup.minhash_lsh_pairs(corpus, "doc_id", "text", 32, 16, 0.4).collect()
    counts = []
    for key in ("dedup.jaccard.sh_full", "dedup.minhash_lsh.sig"):
        cached = S._live_caches[S._session_key(corpus, key)]
        rel = cached._jdf.queryExecution().withCachedData()
        assert rel.nodeName() == "InMemoryRelation"
        counts.append(_physical_nodes(rel.cacheBuilder().cachedPlan(), "RegExpReplace"))
    assert counts == [1, 0]


def test_simhash_udf_matches_python(corpus):
    rows = (
        corpus.select("doc_id", dedup.simhash_udf()(F.col("text")).alias("sh"))
        .orderBy("doc_id")
        .collect()
    )

    def py_simhash(t):
        toks = dedup._norm_words(t)
        if not toks:
            return 0
        acc = np.zeros(64, dtype=np.int64)
        for tok in toks:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
            bits = np.array([(h >> j) & 1 for j in range(64)])
            acc += np.where(bits == 1, 1, -1)
        sig = 0
        for j in range(64):
            if acc[j] > 0:
                sig |= 1 << j
        return np.int64(np.uint64(sig)).item()

    pdf = _corpus()
    assert [(r.doc_id, r.sh) for r in rows] == [
        (r.doc_id, py_simhash(r.text)) for r in pdf.itertuples()
    ]


def test_simhash_pairs_vs_bruteforce(corpus):
    max_h = 3
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_pairs(corpus, "doc_id", "text", max_hamming=max_h).collect()
    }
    sh = {
        r.doc_id: r.sh
        for r in corpus.select(
            "doc_id", dedup.simhash_udf()(F.col("text")).alias("sh")
        ).collect()
    }
    exp = set()
    for a, b in itertools.combinations(sorted(sh), 2):
        ham = bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")
        if ham <= max_h:
            exp.add((a, b, ham))
    assert got == exp
    assert any(h == 0 for _, _, h in got)  # exact dups at hamming 0


def test_jaccard_pairs_max_df_keeps_true_dups(corpus):
    """The df-cap drops boilerplate-only candidates but keeps real
    near-dups (which share many rare shingles)."""
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(corpus, "doc_id", "text", 3, 0.4,
                                 max_df=None).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(
            corpus, "doc_id", "text", 3, 0.4, max_df=5
        ).collect()
    }
    # exact dups + one-word-edit near dups share shingles with df <= 3
    assert capped == exact


def test_jaccard_default_cap_warns_once(corpus):
    """Relying on the DEFAULT df cap warns (once per process) about the
    recall trade; passing max_df explicitly — even the same value —
    does not (ADVICE r3 #1)."""
    import warnings

    dedup._default_cap_warned = False
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup.jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.4)
        assert any("default df cap" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup.jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.4)
        dedup.jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.4,
                            max_df=200)
        dedup.jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.4,
                            max_df=None)
        assert not any("default df cap" in str(x.message) for x in w)


def test_jaccard_attach_sizes_strategies_equal(corpus):
    """r6: the default ids-only aggregation + broadcast size join-back
    must equal the ride-the-agg-keys escape exactly, for the capped and
    the exact (max_df=None) path."""
    for kw in (dict(max_df=5), dict(max_df=None)):
        a = sorted(map(tuple, dedup.jaccard_pairs(
            corpus, "doc_id", "text", n=3, threshold=0.4,
            attach_sizes="broadcast", **kw).collect()))
        b = sorted(map(tuple, dedup.jaccard_pairs(
            corpus, "doc_id", "text", n=3, threshold=0.4,
            attach_sizes="agg", **kw).collect()))
        assert a == b and len(a) > 0, kw
    c = sorted(map(tuple, dedup.containment_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.5,
        max_df=5, attach_sizes="agg").collect()))
    d = sorted(map(tuple, dedup.containment_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.5,
        max_df=5, attach_sizes="broadcast").collect()))
    assert c == d and len(c) > 0
    with pytest.raises(ValueError, match="attach_sizes"):
        dedup.jaccard_pairs(corpus, "doc_id", "text", n=3, max_df=5,
                            attach_sizes="nope")


# ------------------------------------------------------- containment

def test_containment_finds_embedded_quote_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment ≈ 1,
    jaccard tiny — the asymmetric op must surface what the symmetric
    one (at any sane threshold) cannot."""
    from o2g_spark.operators import dedup

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"word{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler)],
        "doc_id LONG, text STRING",
    )
    cont = dedup.containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.9, max_df=None
    ).collect()
    assert len(cont) == 1
    r = cont[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["cont_a_in_b"] == 1.0  # every quote shingle is in the host
    assert r["cont_b_in_a"] < 0.1
    jac = dedup.jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.5, max_df=None
    ).collect()
    assert jac == []  # symmetric jaccard cannot see the quote


def test_containment_direction_and_threshold(spark):
    from o2g_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = dedup.containment_pairs(
        docs, "doc_id", "text", n=3, threshold=0.5, max_df=None
    ).collect()
    for r in out:
        assert r["id_a"] < r["id_b"]
        assert max(r["cont_a_in_b"], r["cont_b_in_a"]) >= 0.5
        assert 0.0 <= r["cont_a_in_b"] <= 1.0
        assert 0.0 <= r["cont_b_in_a"] <= 1.0
