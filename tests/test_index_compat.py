"""On-disk compatibility of the persisted indexes.

``tests/fixtures/index_v1/<kind>/`` holds one tiny index per kind (lsh,
emb, media, video): a base built from ids 0-11 plus ONE merged delta
(ids 12-17), written by the per-module index lifecycle of commit
7747567 — before the four modules shared one lifecycle in
``operators/_delta_index.py``. ``expected.json`` holds the pairs that
code produced for the fixed new batch (ids 18-23).

Today's code must open those directories unchanged, pair the new batch
to the recorded pairs, recognise the already-merged batch by its digest
(re-merging it is a no-op — this pins that the lsh/emb digests over the
input ids equal the digests over the first-stage ``did`` rows), and
compact exactly one delta.

The fixtures are meant to stay OLD. To rewrite them on purpose:
``python tests/test_index_compat.py`` (writes with ``local[1]`` so each
partition directory holds one file).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pytest

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "index_v1")
SPLITS = {"base": range(0, 12), "delta": range(12, 18), "new": range(18, 24)}
# id -> the earlier id it near-duplicates: delta×base, new×base,
# new×delta and new×new twins
TWIN = {14: 2, 19: 5, 20: 15, 23: 21}


def _text_rows(ids):
    rng = np.random.default_rng(11)
    words = np.array("crawl spark tile cell page shard route index hash "
                     "band state join query stream".split())
    texts = [" ".join(rng.choice(words, size=10)) for _ in range(24)]
    for i, j in TWIN.items():
        texts[i] = texts[j]
    return [(i, texts[i] + f" t{i}") for i in ids]


def _vec_rows(ids):
    rng = np.random.default_rng(12)
    m = rng.standard_normal((24, 8))
    for i, j in TWIN.items():
        m[i] = m[j] + rng.standard_normal(8) * 1e-3
    return [(i, m[i].tolist()) for i in ids]


def _grids(seed):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 251, size=(8, 9)).astype(np.int64)
            for _ in range(24)]


def _image_rows(ids):
    from o2g_spark.operators.multimodal import make_bmp
    from o2g_spark.operators.video import _grid_frame

    g = _grids(13)
    for i, j in TWIN.items():
        g[i] = g[j].copy()
        # flip one dHash bit: reorder the first two blocks of row 0
        g[i][0, 0] = g[i][0, 1] if g[i][0, 0] > g[i][0, 1] else g[i][0, 1] + 1
    return [(i, f"m{i}", "image", make_bmp(_grid_frame(g[i])), {})
            for i in ids]


def _video_rows(ids):
    from o2g_spark.operators import video

    clips = [[_grids(100 + i)[k] for k in range(4 + i % 3)]
             for i in range(24)]
    for i, j in TWIN.items():
        clips[i] = clips[j][:-1]  # drop the last frame: jaccard (k-1)/k
    return [(i, f"v{i}", "video",
             video.make_avi([video._grid_frame(f) for f in clips[i]]), {})
            for i in ids]


def _kinds():
    """kind -> (row builder, schema, build, merge, pair, compact)."""
    from o2g_spark.operators import (emb_index, lsh_index, media_index,
                                     video_index)
    from o2g_spark.operators.multimodal import MEDIA_SCHEMA

    return {
        "lsh": (
            _text_rows, "doc_id long, text string",
            lambda s, d, df: lsh_index.lsh_index_build(
                s, d, df, num_hashes=8, bands=4, shingle_n=3),
            lsh_index.lsh_index_merge,
            lambda s, d, df: lsh_index.minhash_lsh_pairs_incremental(
                s, d, df, threshold=0.4),
            lsh_index.lsh_index_compact,
        ),
        "emb": (
            _vec_rows, "vec_id long, embedding array<double>",
            lambda s, d, df: emb_index.emb_index_build(
                s, d, df, bands=4, bits_per_band=6, dim=8),
            emb_index.emb_index_merge,
            lambda s, d, df: emb_index.embedding_near_dup_incremental(
                s, d, df, sim_threshold=0.9),
            emb_index.emb_index_compact,
        ),
        "media": (
            _image_rows, MEDIA_SCHEMA,
            lambda s, d, df: media_index.media_index_build(
                s, d, df, kind="image", chunks=4, band_chunks=2),
            media_index.media_index_merge,
            media_index.media_near_dup_incremental,
            media_index.media_index_compact,
        ),
        "video": (
            _video_rows, MEDIA_SCHEMA,
            video_index.video_index_build,
            video_index.video_index_merge,
            video_index.video_near_dup_incremental,
            video_index.video_index_compact,
        ),
    }


def _frame(spark, kind, split):
    rows, schema, *_ = _kinds()[kind]
    return spark.createDataFrame(rows(SPLITS[split]), schema)


def _pairs(df) -> list:
    return sorted([list(r) for r in df.collect()])


def _live(spark, base) -> dict:
    from o2g_spark.operators import _delta_index as D
    from o2g_spark.plans.checkpoint import CheckpointManager

    ckpt = CheckpointManager(spark, base)
    return {s: D.live_delta_stages(ckpt, s) for s in sorted(os.listdir(base))
            if ckpt.is_committed(s) and ".d" not in s}


@pytest.mark.parametrize("kind", ["lsh", "emb", "media", "video"])
def test_pre_refactor_index_opens_pairs_merges_compacts(spark, tmp_path, kind):
    *_, merge, pair, compact = _kinds()[kind]
    base = str(tmp_path / kind)
    shutil.copytree(os.path.join(FIXTURES, kind), base)
    with open(os.path.join(FIXTURES, "expected.json")) as f:
        expected = json.load(f)[kind]

    assert _pairs(pair(spark, base, _frame(spark, kind, "new"))) == expected
    live = _live(spark, base)
    assert len(live) == 2 and all(len(v) == 1 for v in live.values())
    merge(spark, base, _frame(spark, kind, "delta"))  # digest found: no-op
    assert _live(spark, base) == live
    assert compact(spark, base) == 1
    assert all(v == [] for v in _live(spark, base).values())


def write_fixtures() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from o2g_spark.session import get_spark

    spark = get_spark("index_fixtures", master="local[1]",
                      extra_conf={"spark.driver.memory": "2g"})
    shutil.rmtree(FIXTURES, ignore_errors=True)
    expected = {}
    for kind, (_, _, build, merge, pair, _) in _kinds().items():
        base = os.path.join(FIXTURES, kind)
        build(spark, base, _frame(spark, kind, "base"))
        merge(spark, base, _frame(spark, kind, "delta"))
        expected[kind] = _pairs(pair(spark, base, _frame(spark, kind, "new")))
    with open(os.path.join(FIXTURES, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    write_fixtures()
