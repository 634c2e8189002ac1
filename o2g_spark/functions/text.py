"""Text analysis for training-data pipelines: tokenization, quality,
language-ID, fingerprinting (driver brief: "text analysis ... over the
documents table", first-class alongside SURVEY.md §2).

Everything here is **pure Column expressions** — lowercasing, regex
tokenization, shingling, hashing all run inside whole-stage codegen;
no Python touches a row. Each builder has a ``*_sql`` twin producing
the bit-identical DuckDB expression, so every one of these ops gets a
full value-hash oracle in the driver contract (not a rows-only check).

Cross-engine hash: both Spark and DuckDB have md5; the 60-bit integer
``H(s) = int(md5(s)[:15], 16)`` is computed as ``conv(substring(...))``
in Spark and ``CAST(concat('0x', ...) AS BIGINT)`` in DuckDB —
verified equal bit-for-bit in tests. All dedup/minhash machinery keys
off this one hash.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Engine-neutral token pattern: ASCII word runs or single non-space
# symbols (a BPE-ish pre-tokenizer shape; \s and the explicit classes
# parse identically in Java regex and RE2).
TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "for", "on", "with", "that"],
    "de": ["der", "die", "und", "das", "nicht", "ist", "von", "mit", "den", "auf"],
    "fr": ["le", "la", "les", "et", "des", "est", "pour", "dans", "que", "une"],
    "es": ["el", "los", "las", "que", "con", "para", "por", "una", "del", "es"],
}
ALL_STOPWORDS = sorted({w for ws in STOPWORDS.values() for w in ws})


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


# ------------------------------------------------------------------ words

def words(text: Column | str) -> Column:
    """Lowercased alnum word array (empty strings filtered)."""
    cleaned = F.regexp_replace(F.lower(_c(text)), r"[^a-z0-9]+", " ")
    return F.filter(F.split(F.trim(cleaned), " "), lambda w: w != "")


def words_sql(text: str) -> str:
    return (
        f"list_filter(string_split(trim(regexp_replace(lower({text}), "
        f"'[^a-z0-9]+', ' ', 'g')), ' '), w -> w != '')"
    )


def token_count(text: Column | str) -> Column:
    """BPE-ish token count: word runs + individual symbols."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(TOKEN_RE), 0)).cast(T.LongType())


def token_count_sql(text: str) -> str:
    return (
        f"CAST(len(regexp_extract_all({text}, "
        f"'[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)"
    )


def whitespace_token_count(text: Column | str) -> Column:
    t = F.trim(_c(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast(
        T.LongType()
    )


def whitespace_token_count_sql(text: str) -> str:
    return (
        f"CAST(CASE WHEN trim({text}) = '' THEN 0 ELSE "
        f"len(string_split_regex(trim({text}), '\\s+')) END AS BIGINT)"
    )


# ---------------------------------------------------------------- quality

def _quality_raw(text: Column | str) -> dict[str, Column]:
    """Unrounded quality ratios. Raw integer counts feed one identical
    double expression per engine — bit-identical results, so a single
    final rounding never straddles a decimal halfway point differently
    (double-rounding across engines did exactly that; see tests)."""
    t = _c(text)
    n_chars = F.length(t).cast(T.LongType())
    alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", "")).cast(T.LongType())
    punct = F.length(F.regexp_replace(t, r"[^.,;:!?]", "")).cast(T.LongType())
    wds = words(t)
    n_words = F.size(wds).cast(T.LongType())

    # stopword_ratio references the word array twice (hits numerator,
    # size denominator) — LET-BOUND so the words regex pass runs once
    # per row inside this expression instead of twice (same casts,
    # same division: bit-identical)
    def _stop_ratio(w: Column) -> Column:
        hits = F.size(
            F.filter(w, lambda x: x.isin(*ALL_STOPWORDS))
        ).cast(T.LongType())
        return hits / F.greatest(F.size(w).cast(T.LongType()), F.lit(1))

    return {
        "n_chars": n_chars,
        "alpha_ratio": alpha / F.greatest(n_chars, F.lit(1)),
        "punct_ratio": punct / F.greatest(n_chars, F.lit(1)),
        "n_words": n_words,
        "stopword_ratio": F.transform(F.array(wds), _stop_ratio)[0],
    }


def quality_features(text: Column | str) -> dict[str, Column]:
    """Deterministic quality signals (all integer/ratio column math)."""
    raw = _quality_raw(text)
    return {
        k: (v if k in ("n_chars", "n_words") else F.round(v, 6))
        for k, v in raw.items()
    }


def _quality_raw_sql(text: str) -> dict[str, str]:
    stoplist = "[" + ", ".join(f"'{w}'" for w in ALL_STOPWORDS) + "]"
    wds = words_sql(text)
    return {
        "n_chars": f"CAST(length({text}) AS BIGINT)",
        "alpha_ratio": (
            f"(CAST(length(regexp_replace({text}, '[^A-Za-z]', '', 'g')) AS BIGINT)"
            f" / greatest(CAST(length({text}) AS BIGINT), 1))"
        ),
        "punct_ratio": (
            f"(CAST(length(regexp_replace({text}, '[^.,;:!?]', '', 'g')) AS BIGINT)"
            f" / greatest(CAST(length({text}) AS BIGINT), 1))"
        ),
        "n_words": f"CAST(len({wds}) AS BIGINT)",
        "stopword_ratio": (
            f"(CAST(len(list_filter({wds}, w -> list_contains({stoplist}, w)))"
            f" AS BIGINT) / greatest(CAST(len({wds}) AS BIGINT), 1))"
        ),
    }


def quality_features_sql(text: str) -> dict[str, str]:
    raw = _quality_raw_sql(text)
    return {
        k: (v if k in ("n_chars", "n_words") else f"round({v}, 6)")
        for k, v in raw.items()
    }


def quality_score(text: Column | str) -> Column:
    """Single [0,1] score: stopword density + alpha density - punct excess.

    Built from UNROUNDED ratios, rounded exactly once (cross-engine
    halfway-point safety — see :func:`_quality_raw`)."""
    f = _quality_raw(text)
    raw = (
        F.lit(0.5) * F.least(f["stopword_ratio"] * F.lit(2.0), F.lit(1.0))
        + F.lit(0.5) * f["alpha_ratio"]
        - F.greatest(f["punct_ratio"] - F.lit(0.2), F.lit(0.0))
    )
    return F.round(F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0)), 6)


def quality_score_sql(text: str) -> str:
    f = _quality_raw_sql(text)
    raw = (
        f"0.5 * least({f['stopword_ratio']} * 2.0, 1.0) "
        f"+ 0.5 * {f['alpha_ratio']} "
        f"- greatest({f['punct_ratio']} - 0.2, 0.0)"
    )
    return f"round(least(greatest({raw}, 0.0), 1.0), 6)"


# ---------------------------------------------------------------- lang id

def lang_id(text: Column | str) -> Column:
    """n-gram/stopword heuristic language ID with deterministic
    tie-break (alphabetical language code wins at equal score).

    CJK presence short-circuits to 'zh'; otherwise the language whose
    marker-stopword hit count is highest wins; 'und' if all zero.
    """
    t = _c(text)
    langs = sorted(STOPWORDS)

    # Two nested LET-BINDINGS keep this one-words-pass, one-scan-per-
    # language: referencing the words expression from every score (and
    # every score from both the max and its equality WHEN) re-ran the
    # regex words pass ~2×languages per row and each stopword filter
    # scan twice. The word array binds once (outer), the score array
    # binds once (inner); array_max over the score array equals the old
    # greatest(*scores) (order-insensitive, same null semantics), and
    # the WHEN chain compares the same values in the same order —
    # result-identical.
    def _score_arr(wds: Column) -> Column:
        def _hits(stop: list[str]):
            # single-arg lambda required: a 2-arg lambda would make
            # Spark bind the second parameter to the array index
            return F.size(F.filter(wds, lambda w: w.isin(*stop)))

        return F.array(*[_hits(STOPWORDS[lang]) for lang in langs])

    def _pick(sc: Column) -> Column:
        # iterate in reverse-alphabetical order so that the final
        # (applied last) WHEN of the alphabetically-smallest code wins
        # exact ties; the max is let-bound too, so it is taken once per
        # row instead of once per WHEN branch
        def _chain(mx: Column) -> Column:
            expr = F.lit("und")
            for lang in sorted(langs, reverse=True):
                score = sc[langs.index(lang)]
                expr = F.when((mx > 0) & (score == mx), F.lit(lang)).otherwise(expr)
            return expr

        return F.transform(F.array(F.array_max(sc)), _chain)[0]

    picked = F.transform(
        F.array(F.transform(F.array(words(t)), _score_arr)[0]), _pick
    )[0]
    has_cjk = F.regexp_count(t, F.lit(r"[一-鿿]")) > 0
    return F.when(has_cjk, F.lit("zh")).otherwise(picked)


def lang_id_sql(text: str) -> str:
    wds = words_sql(text)
    score = {}
    for lang, stop in STOPWORDS.items():
        lst = "[" + ", ".join(f"'{w}'" for w in stop) + "]"
        score[lang] = f"len(list_filter({wds}, w -> list_contains({lst}, w)))"
    mx = "greatest(" + ", ".join(score.values()) + ")"
    expr = "'und'"
    for lang in sorted(score, reverse=True):
        expr = f"CASE WHEN {mx} > 0 AND {score[lang]} = {mx} THEN '{lang}' ELSE {expr} END"
    return (
        f"CASE WHEN len(regexp_extract_all({text}, "
        f"'[\\x{{4e00}}-\\x{{9fff}}]')) > 0 THEN 'zh' ELSE {expr} END"
    )


# ------------------------------------------------------------ fingerprint

def md5_hash60(s: Column | str) -> Column:
    """60-bit integer hash from the md5 hex prefix — cross-engine exact."""
    return F.conv(F.substring(F.md5(_c(s)), 1, 15), 16, 10).cast(T.LongType())


def md5_hash60_sql(s: str) -> str:
    return f"CAST(concat('0x', substr(md5({s}), 1, 15)) AS BIGINT)"


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (order-insensitive set, sorted).

    Guarded: Spark's ``sequence(0, k)`` counts DOWN when k < 0, so the
    too-short case returns an explicit empty array.

    The words array is LET-BOUND via ``transform(array(words), w ->
    ...)[0]`` so it evaluates once per row: HOFs are CodegenFallback
    and a lambda body re-evaluates every captured expression per
    element — referencing ``words(text)`` directly from the slice
    lambda re-ran the whole regex+split words pass once per shingle
    POSITION (measured 2.2× on the 50k-doc shingle pass; CLAUDE.md
    rule 8's failure mode, hidden inside a single expression where no
    projection boundary can help). A lambda VARIABLE is a cheap slot
    read, and the outer single-element transform is evaluated once per
    row by construction. Bit-identical output (same ops, same order).
    """
    def _build(w: Column) -> Column:
        sh = F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        )
        return F.when(
            F.size(w) < n, F.array().cast(T.ArrayType(T.StringType()))
        ).otherwise(F.array_sort(F.array_distinct(sh)))

    return F.transform(F.array(words(text)), _build)[0]


def shingles_sql(text: str, n: int = 3) -> str:
    w = words_sql(text)
    return (
        f"list_sort(list_distinct(list_transform("
        f"range(1, greatest(len({w}) - {n} + 1, 0) + 1), "
        f"i -> array_to_string(({w})[i:i+{n - 1}], ' '))))"
    )


def fingerprint(text: Column | str, n: int = 3, mod: int = 16) -> Column:
    """Mod-p sampled shingle-hash fingerprint (winnowing-style document
    signature): the sorted set of shingle hashes ≡ 0 (mod ``mod``)."""
    sh = shingles(text, n)
    hs = F.transform(sh, md5_hash60)
    return F.array_sort(F.filter(hs, lambda h: h % mod == 0))


def fingerprint_sql(text: str, n: int = 3, mod: int = 16) -> str:
    sh = shingles_sql(text, n)
    h = md5_hash60_sql("s")
    return f"list_sort(list_filter(list_transform({sh}, s -> {h}), h -> h % {mod} = 0))"


# ------------------------------------------------------- normalization

# (pattern, replacement) passes, applied IN ORDER — the CCNet/Dolma
# pre-dedup normalization: line endings, unicode spaces, invisible
# marks, curly quotes, dashes, ellipsis, control chars, whitespace
# collapse. Patterns stay in the Java∩RE2 subset (functions/pii.py
# convention): unicode is embedded as LITERAL codepoints (Java's \uXXXX
# does not exist in RE2; a literal char parses identically in both),
# control chars as \xhh escapes (both engines), no lookaround/backrefs.
# Replacements contain no '$' or '\', so Java's appendReplacement and
# DuckDB's group syntax both pass them through verbatim. The pass list
# is IDEMPOTENT: applying it to its own output is a no-op (pinned by
# test), so re-running a pipeline stage can never re-mangle text.
CLEAN_PASSES: tuple[tuple[str, str], ...] = (
    ("\\r\\n?", "\n"),  # CRLF / bare CR first: \r is NOT in the strip class
    ("[   -   　]", " "),
    ("[​‌‍⁠﻿­]", ""),
    ("[‘’‚‛′]", "'"),
    ("[“”„‟″]", '"'),
    ("[‐‑‒–—―−]", "-"),
    ("…", "..."),
    ("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", ""),  # keep \t \n
    ("[ \t]+", " "),        # horizontal whitespace → one space
    (" ?\n ?", "\n"),       # spaces hugging newlines
    ("\n{3,}", "\n\n"),     # ≥3 newlines → paragraph break
    ("^[\n ]+|[\n ]+$", ""),  # trim (Java and RE2 both anchor ^$ to ends)
)


def clean_text(text: Column | str) -> Column:
    """Normalized text: sequential codegen ``regexp_replace`` passes
    (:data:`CLEAN_PASSES`) — single scan, zero shuffles, no Python per
    row. Idempotent by construction."""
    cur = _c(text)
    for pat, repl in CLEAN_PASSES:
        cur = F.regexp_replace(cur, pat, repl)
    return cur


def clean_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`clean_text` — the SAME pattern constants
    with the explicit 'g' flag."""
    cur = expr
    for pat, repl in CLEAN_PASSES:
        p = pat.replace("'", "''")
        r = repl.replace("'", "''")
        cur = f"regexp_replace({cur}, '{p}', '{r}', 'g')"
    return cur
