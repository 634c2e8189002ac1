"""Persisted video frame-hash index + incremental near-dup pairing:
the increment must equal the full (decode-everything) run restricted
to pairs touching new clips — jaccard values included, under the
hot-frame cap too — and the merge lifecycle must converge to the
full-corpus index without ever re-decoding committed payloads."""

import os

import numpy as np
import pytest

from o2g_spark.operators import video, video_index
from o2g_spark.operators.multimodal import MEDIA_SCHEMA
from o2g_spark.plans.checkpoint import CheckpointManager

THRESHOLD = 0.5


def _clip(grids, fps=10) -> bytes:
    return video.make_avi([video._grid_frame(g) for g in grids], fps=fps)


def _video_rows(n=60, seed=9):
    """Block-constant raw-DIB clips: every 6th base gets a twin at
    id 1001+i that drops the last frame (set-jaccard exactly
    (k−1)/k) — the +1 shift makes planted pairs CROSS a %5 split."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        k = 4 + i % 4
        grids = [rng.integers(0, 251, size=(8, 9)).astype(np.int64)
                 for _ in range(k)]
        rows.append((i, f"v{i}", "video", _clip(grids), {}))
        if i % 6 == 0:
            rows.append((1001 + i, f"v{i}t", "video", _clip(grids[:-1]), {}))
    return rows


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(_video_rows(), MEDIA_SCHEMA)


def _pairs(df) -> set:
    return {(r.id_a, r.id_b, r.jaccard) for r in df.collect()}


def _full(media, max_df=None) -> set:
    return _pairs(video.video_near_dup_pairs(
        media, threshold=THRESHOLD, max_df=max_df))


def test_incremental_equals_full_restricted(spark, corpus, tmp_path):
    """increment(index(OLD), NEW) == video_near_dup_pairs(ALL)
    filtered to pairs with >= 1 NEW member — bit-exact, jaccard
    included, committed payloads never re-decoded."""
    old = corpus.filter("media_id % 5 != 0")
    new = corpus.filter("media_id % 5 = 0")
    base = str(tmp_path / "vidx")
    video_index.video_index_build(spark, base, old)
    inc = _pairs(video_index.video_near_dup_incremental(
        spark, base, new, threshold=THRESHOLD, max_df=None))
    expected = {p for p in _full(corpus)
                if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == expected
    assert len(inc) > 0  # planted twins cross the split
    assert all(a % 5 == 0 or b % 5 == 0 for a, b, _ in inc)


def test_hot_frame_cap_matches_full_run(spark, corpus, tmp_path):
    """A max_df cap drops the SAME frame hashes as the full run (hot
    list over index ∪ new): plant one viral intro frame shared by
    12 otherwise-unrelated clips."""
    rng = np.random.default_rng(21)
    intro = rng.integers(0, 251, size=(8, 9)).astype(np.int64)
    viral = []
    for i in range(12):
        grids = [intro] + [rng.integers(0, 251, size=(8, 9)).astype(np.int64)
                           for _ in range(3)]
        viral.append((20_000 + i, f"vv{i}", "video", _clip(grids), {}))
    allm = corpus.unionByName(spark.createDataFrame(viral, MEDIA_SCHEMA))
    old = allm.filter("media_id % 5 != 0")
    new = allm.filter("media_id % 5 = 0")
    base = str(tmp_path / "vidx_hot")
    video_index.video_index_build(spark, base, old)
    for cap in (None, 8):
        inc = _pairs(video_index.video_near_dup_incremental(
            spark, base, new, threshold=0.1, max_df=cap))
        expected = {
            p for p in _pairs(video.video_near_dup_pairs(
                allm, threshold=0.1, max_df=cap))
            if p[0] % 5 == 0 or p[1] % 5 == 0
        }
        assert inc == expected, cap
    # the cap actually bites: the viral frame links cross-clip pairs
    # that the capped run must not emit
    uncapped = _pairs(video.video_near_dup_pairs(allm, threshold=0.1))
    capped = _pairs(video.video_near_dup_pairs(allm, threshold=0.1, max_df=8))
    assert capped < uncapped


def test_merge_converges_to_full_index(spark, corpus, tmp_path):
    """build(OLD) → merge(MID) → increment(NEWER) pairs against
    old ∪ mid — LSM-delta merges, idempotent re-merge, reader-
    invariant compaction."""
    from o2g_spark.operators import _delta_index as D

    old = corpus.filter("media_id < 30")
    mid = corpus.filter("media_id >= 30 AND media_id < 1001")
    newer = corpus.filter("media_id >= 1001")
    base = str(tmp_path / "vidx_m")
    video_index.video_index_build(spark, base, old)
    ckpt = CheckpointManager(spark, base)
    base_snap = ckpt.manifest(video_index.FRAMES_STAGE)["snapshot_id"]
    video_index.video_index_merge(spark, base, mid)
    assert ckpt.manifest(video_index.FRAMES_STAGE)["snapshot_id"] == base_snap
    assert len(D.live_delta_stages(ckpt, video_index.FRAMES_STAGE)) == 1
    video_index.video_index_merge(spark, base, mid)  # idempotent
    assert len(D.live_delta_stages(ckpt, video_index.FRAMES_STAGE)) == 1
    inc2 = _pairs(video_index.video_near_dup_incremental(
        spark, base, newer, threshold=THRESHOLD, max_df=None))
    expected = {p for p in _full(corpus) if p[0] >= 1001 or p[1] >= 1001}
    assert inc2 == expected
    assert len(inc2) > 0
    assert video_index.video_index_compact(spark, base) == 1
    assert D.live_delta_stages(ckpt, video_index.FRAMES_STAGE) == []
    assert _pairs(video_index.video_near_dup_incremental(
        spark, base, newer, threshold=THRESHOLD, max_df=None)) == expected


def test_mixed_kind_input_filters_to_video(spark, corpus, tmp_path):
    from o2g_spark.operators import media_dedup

    noise = spark.createDataFrame(
        media_dedup.synth_phash_media_rows(n_base=4)[:4], MEDIA_SCHEMA)
    mixed_old = corpus.filter("media_id % 5 != 0").unionByName(noise)
    new = corpus.filter("media_id % 5 = 0")
    base = str(tmp_path / "vidx_mix")
    video_index.video_index_build(spark, base, mixed_old)
    inc = _pairs(video_index.video_near_dup_incremental(
        spark, base, new, threshold=THRESHOLD, max_df=None))
    expected = {p for p in _full(corpus)
                if p[0] % 5 == 0 or p[1] % 5 == 0}
    assert inc == expected


def test_param_mismatch_and_missing_index_raise(spark, corpus, tmp_path):
    base = str(tmp_path / "vidx_p")
    with pytest.raises(FileNotFoundError, match="no committed video index"):
        video_index.video_near_dup_incremental(spark, base, corpus.limit(5))
    video_index.video_index_build(
        spark, base, corpus.filter("media_id < 20"))
    # simulate an interrupted rebuild: frames stage re-committed under
    # a different frame-sampling param
    ckpt = CheckpointManager(spark, base)
    frames = video_index._frame_rows(
        corpus.filter("media_id < 20"), "media_id", "payload", 1)
    ckpt.run_stage(video_index.FRAMES_STAGE, lambda: frames, key_col="did",
                   force=True, partition_by="fpart",
                   manifest_extra={"every_k": 2, "id_col": "media_id"})
    with pytest.raises(RuntimeError, match="inconsistent video index"):
        video_index.video_near_dup_incremental(
            spark, base, corpus.filter("media_id >= 20"))


def test_frames_snapshot_partitioned_by_fpart(spark, corpus, tmp_path):
    base = str(tmp_path / "vidx_f")
    video_index.video_index_build(spark, base, corpus.limit(30))
    data_dir = os.path.join(base, video_index.FRAMES_STAGE, "data")
    parts = [d for d in os.listdir(data_dir) if d.startswith("fpart=")]
    assert 1 < len(parts) <= video_index.N_FPART


def test_codec_rev_mismatch_raises(spark, corpus, tmp_path, monkeypatch):
    """An index built under an older decode envelope must refuse to
    serve: payloads undecodable then may decode now, so the increment
    would silently miss true pairs a full run finds."""
    from o2g_spark import kernels

    base = str(tmp_path / "vidx_rev")
    video_index.video_index_build(
        spark, base, corpus.filter("media_id < 20"))
    # the shared index lifecycle reads kernels.CODEC_REV at open time
    monkeypatch.setattr(kernels, "CODEC_REV", 99)
    with pytest.raises(RuntimeError, match="decode envelope"):
        video_index.video_near_dup_incremental(
            spark, base, corpus.filter("media_id >= 20"))
