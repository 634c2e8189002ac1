"""Checkpoint/lineage/resume (SURVEY.md §5.2 items 5-6, §2.B B15)."""

import json
import os
import shutil

from pyspark.sql import functions as F

from o2g_spark.plans.checkpoint import CheckpointManager, lineage_rows


def _mk_df(spark, n=500):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    )


def test_lineage_partition_invariant(spark):
    df = _mk_df(spark)
    a = lineage_rows(df.repartition(2), "url", n_buckets=8)
    b = lineage_rows(df.repartition(23), "url", n_buckets=8)
    assert a == b
    assert sum(r["row_count"] for r in a) == 500


def test_lineage_detects_content_change(spark):
    a = lineage_rows(_mk_df(spark, 500), "url", n_buckets=4)
    b = lineage_rows(_mk_df(spark, 501), "url", n_buckets=4)
    assert a != b


def test_stage_commit_and_resume(spark, tmp_path):
    base = str(tmp_path / "wh")
    ckpt = CheckpointManager(spark, base, n_buckets=4)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _mk_df(spark)

    out1 = ckpt.run_stage("s1", build, key_col="url")
    assert calls["n"] == 1 and out1.count() == 500
    m = ckpt.manifest("s1")
    assert m["committed"] and m["row_count"] == 500
    assert len(m["lineage"]) <= 4 and all("digest" in r for r in m["lineage"])

    # resume: build_fn must NOT run again; data identical
    out2 = ckpt.run_stage("s1", build, key_col="url")
    assert calls["n"] == 1
    assert sorted(out1.collect()) == sorted(out2.collect())


def test_uncommitted_stage_recomputes(spark, tmp_path):
    base = str(tmp_path / "wh2")
    ckpt = CheckpointManager(spark, base)
    # simulate a kill: data present, manifest missing
    sdir = os.path.join(base, "sX")
    os.makedirs(os.path.join(sdir, "data"), exist_ok=True)
    with open(os.path.join(sdir, "data", "part-garbage.parquet"), "w") as f:
        f.write("partial")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _mk_df(spark, 100)

    out = ckpt.run_stage("sX", build, key_col="url")
    assert calls["n"] == 1 and out.count() == 100
    assert ckpt.is_committed("sX")


def test_snapshot_time_travel(spark, tmp_path):
    """force=True retires the current snapshot into history; the old
    version stays readable AS OF its snapshot id (Iceberg time travel),
    the snapshot log lists both, and expiry drops retired versions."""
    base = str(tmp_path / "wh_tt")
    ckpt = CheckpointManager(spark, base, n_buckets=4)
    ckpt.run_stage("s", lambda: _mk_df(spark, 100), key_col="url")
    v1 = ckpt.manifest("s")["snapshot_id"]

    out2 = ckpt.run_stage("s", lambda: _mk_df(spark, 150), key_col="url", force=True)
    v2 = ckpt.manifest("s")["snapshot_id"]
    assert v1 != v2 and out2.count() == 150

    # snapshot log: retired v1 first, current v2 last
    log = [m["snapshot_id"] for m in ckpt.snapshots("s")]
    assert log == [v1, v2]
    # time travel: AS OF v1 reads the 100-row version; default = current
    assert ckpt.read_snapshot("s", v1).count() == 100
    assert ckpt.read_snapshot("s").count() == 150
    # plain (non-force) rerun still resumes from current, not rebuild
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return _mk_df(spark, 1)

    assert ckpt.run_stage("s", build, key_col="url").count() == 150
    assert calls["n"] == 0
    # retention: expiring keeps the current version untouched
    assert ckpt.expire_snapshots("s", keep=0) == 1
    assert ckpt.read_snapshot("s").count() == 150
    import pytest

    with pytest.raises(FileNotFoundError):
        ckpt.read_snapshot("s", v1)


def test_snapshot_expiry_is_age_ordered(spark, tmp_path):
    """uuid snapshot ids sort randomly — expiry must honor retire ORDER
    (ordinal prefixes), keeping the newest retired versions."""
    base = str(tmp_path / "wh_ord")
    ckpt = CheckpointManager(spark, base, n_buckets=4)
    sizes = [100, 150, 200, 250]
    for i, n in enumerate(sizes):
        ckpt.run_stage("s", lambda n=n: _mk_df(spark, n), key_col="url",
                       force=i > 0)
    log = ckpt.snapshots("s")
    assert [m["row_count"] for m in log] == sizes  # oldest → current
    retired = [m["snapshot_id"] for m in log[:-1]]
    assert ckpt.expire_snapshots("s", keep=1) == 2
    # the NEWEST retired version (200 rows) survived, older two gone
    assert ckpt.read_snapshot("s", retired[2]).count() == 200
    import pytest

    for sid in retired[:2]:
        with pytest.raises(FileNotFoundError):
            ckpt.read_snapshot("s", sid)


def test_retire_crash_window_rescued(spark, tmp_path):
    """A crash between _retire_current's two renames leaves a
    manifest-only history entry and the old data still at the stage
    level; the next run_stage must complete the move (no phantom, no
    data loss) before rebuilding."""
    base = str(tmp_path / "wh_crash")
    ckpt = CheckpointManager(spark, base, n_buckets=4)
    ckpt.run_stage("s", lambda: _mk_df(spark, 100), key_col="url")
    v1 = ckpt.manifest("s")["snapshot_id"]
    # simulate the crash: manifest moved into history, data NOT yet
    sdir = os.path.join(base, "s")
    dst = os.path.join(sdir, "snapshots", f"00001-{v1}")
    os.makedirs(dst)
    os.rename(os.path.join(sdir, "manifest.json"),
              os.path.join(dst, "manifest.json"))
    assert not ckpt.is_committed("s")
    out = ckpt.run_stage("s", lambda: _mk_df(spark, 120), key_col="url")
    assert out.count() == 120
    # the retired snapshot's data was rescued, not deleted
    assert ckpt.read_snapshot("s", v1).count() == 100
    assert [m["row_count"] for m in ckpt.snapshots("s")] == [100, 120]


def test_retire_rescue_skips_stale_manifest_only_entry(spark, tmp_path):
    """Only the HIGHEST-ordinal history entry can be a retire-crash
    victim (retires are strictly ordered). An OLDER manifest-only entry
    (e.g. a crash mid expire_snapshots rmtree) must NOT have current
    data attached to it — that would resurrect the wrong snapshot."""
    base = str(tmp_path / "wh_stale")
    ckpt = CheckpointManager(spark, base, n_buckets=4)
    for i, n in enumerate([100, 150, 200]):
        ckpt.run_stage("s", lambda n=n: _mk_df(spark, n), key_col="url",
                       force=i > 0)
    sdir = os.path.join(base, "s")
    hist = os.path.join(sdir, "snapshots")
    names = sorted(os.listdir(hist))
    assert len(names) == 2
    # corrupt the OLDEST entry: data gone, manifest left (expiry crash)
    shutil.rmtree(os.path.join(hist, names[0], "data"))
    # a normal rebuild must not move current data into the stale entry
    out = ckpt.run_stage("s", lambda: _mk_df(spark, 250), key_col="url",
                         force=True)
    assert out.count() == 250
    assert not os.path.exists(os.path.join(hist, names[0], "data"))
    # newest retired snapshot (200 rows) was retired normally and reads
    log = ckpt.snapshots("s")
    assert [m["row_count"] for m in log][-2:] == [200, 250]


def test_lineage_df_portable_matches_manifest_shape(spark, tmp_path):
    """lineage_df(portable=True) returns the same (partition_id,
    row_count) layout as the manifest's xxhash64 flavor, is stable
    under repartitioning (order-insensitive digest), and every digest
    is recomputable outside Spark (the gate's DuckDB twin does so)."""
    from o2g_spark.plans.checkpoint import lineage_df

    df = _mk_df(spark, 200).select("url", "grp")
    a = lineage_df(df, key_col="url", n_buckets=8, portable=True)
    b = lineage_df(df.repartition(13), key_col="url", n_buckets=8,
                   portable=True)
    ra, rb = a.collect(), b.collect()
    assert [r["partition_id"] for r in ra] == sorted(
        {r["partition_id"] for r in ra}
    )
    assert sum(r["row_count"] for r in ra) == 200
    assert [tuple(r) for r in ra] == [tuple(r) for r in rb]


def test_manifest_atomic_marker(spark, tmp_path):
    base = str(tmp_path / "wh3")
    ckpt = CheckpointManager(spark, base)
    ckpt.run_stage("s", lambda: _mk_df(spark, 50), key_col="url")
    # no temp files linger; manifest parses as committed JSON
    names = os.listdir(os.path.join(base, "s"))
    assert set(names) == {"data", "manifest.json"}
    with open(os.path.join(base, "s", "manifest.json")) as f:
        assert json.load(f)["committed"] is True


def test_empty_index_pairs_a_batch_to_its_self_pairs(spark, tmp_path):
    """An LSH index and an embedding index built over EMPTY frames
    commit, read back, and pair a new batch to exactly the batch's own
    pairs (a partitioned write of no rows leaves no file to infer a
    schema from, so committed stages are read with the manifest's)."""
    from o2g_spark.operators import dedup, emb_index, lsh_index, similarity

    texts = ["a b c d e f", "a b c d e f", "a b c d e g", "x y z w v u"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    base = str(tmp_path / "lsh")
    lsh_index.lsh_index_build(spark, base, docs.limit(0), num_hashes=8,
                              bands=4)
    got = lsh_index.minhash_lsh_pairs_incremental(spark, base, docs,
                                                  threshold=0.4)
    want = dedup.minhash_lsh_pairs(docs, "doc_id", "text", 8, 4, 0.4)
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() > 0
    ckpt = CheckpointManager(spark, base)
    assert ckpt.read_snapshot(lsh_index.BANDS_STAGE).count() == 0

    vecs = spark.createDataFrame(
        [(i, [float(i % 2), 1.0] + [0.0] * 14) for i in range(4)],
        "vec_id long, embedding array<double>")
    base = str(tmp_path / "emb")
    emb_index.emb_index_build(spark, base, vecs.limit(0), bands=4,
                              bits_per_band=8, dim=16)
    got = emb_index.embedding_near_dup_incremental(spark, base, vecs,
                                                   sim_threshold=0.95)
    want = similarity.embedding_near_dup_pairs(
        vecs, sim_threshold=0.95, bands=4, bits_per_band=8, dim=16)
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.count() > 0
