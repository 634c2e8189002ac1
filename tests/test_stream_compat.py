"""On-disk compatibility of the stateful stream ops' checkpoints.

``tests/fixtures/stream_v1/<case>/`` holds one tiny query per stateful
op in ``o2g_spark.streaming.stateful`` (visits per-user and sharded,
near-dup text, embedding, media and video, the HLL and quantile
windows):

- ``src/batch_0.parquet`` — the first half of the input;
- ``next/batch_1.parquet`` — the second half;
- ``ckpt/`` — the query's checkpoint after it drained the first half
  with ``trigger(availableNow=True)``;
- ``expected.json`` — the ``[batch_id, row…]`` lines that code emitted
  when the checkpoint was resumed on the second half.

They were written by commit 0b85d8d, before the stateful ops shared one
prologue, launcher, near-dup funnel and window fold. The group keys and
the state schemas are on disk, so today's code must resume every
checkpoint and emit exactly the recorded rows.

The file source logs absolute paths (``ckpt/sources/0/N``), so a copy
is prepared before it resumes: the logged paths are pointed at the
copy's ``src/`` and the sibling ``.N.crc`` checksums are deleted.

The fixtures are meant to stay OLD. To rewrite them on purpose:
``python tests/test_stream_compat.py``.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import shutil
import sys

import numpy as np
import pandas as pd
import pytest

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "stream_v1")
BASE = dt.datetime(2024, 9, 1, 8, 0, 0)
MEDIA_DDL = "media_id long, kind string, payload binary, ts timestamp"


def _at(minutes: float) -> dt.datetime:
    return BASE + dt.timedelta(minutes=minutes)


def _halves(rows, columns, first) -> tuple[pd.DataFrame, pd.DataFrame]:
    pdf = pd.DataFrame(rows, columns=columns)
    mask = pdf.apply(first, axis=1).astype(bool)
    return (pdf[mask].reset_index(drop=True),
            pdf[~mask].reset_index(drop=True))


def _visit_rows():
    """Four users: one continues its open visit across the split, one
    goes idle (closed by the timeout during the second half), one
    alternates cells across the split, one arrives only later."""
    rows = []
    plan = {
        1: [(0, 5), (4, 5), (12, 5), (22, 5), (30, 7), (41, 7)],
        2: [(1, 9), (6, 9)],
        3: [(2, 1), (9, 2), (15, 1), (26, 2), (33, 1)],
        4: [(24, 3), (28, 3), (35, 4)],
    }
    for uid, evs in plan.items():
        for m, cell in evs:
            rows.append((uid, len(rows), _at(m), cell))
    rows.append((5, len(rows), _at(60), 8))  # pushes the watermark on
    return _halves(rows, ["user_id", "event_id", "ts", "cell"],
                   lambda r: r.ts < _at(20))


def _text_rows():
    words = np.array("crawl spark tile cell page shard route index hash "
                     "band state join query stream".split())
    rng = np.random.default_rng(21)
    texts = [" ".join(rng.choice(words, size=12)) for _ in range(6)]
    rows = [(f"d{i}", t, _at(i)) for i, t in enumerate(texts)]
    rows += [("t0", texts[0], _at(20)),  # exact twin of d0
             ("t2", texts[2] + " extra", _at(21)),  # near twin of d2
             ("t3", texts[3], _at(22)), ("n9", "unrelated words", _at(23))]
    return _halves(rows, ["doc_id", "text", "ts"], lambda r: r.ts < _at(10))


def _vec_rows():
    rng = np.random.default_rng(22)
    m = rng.standard_normal((6, 8))
    rows = [(i, m[i].tolist(), _at(i)) for i in range(6)]
    rows += [(100, (m[0] + 1e-4).tolist(), _at(20)),
             (102, m[2].tolist(), _at(21)),
             (106, rng.standard_normal(8).tolist(), _at(22))]
    return _halves(rows, ["vec_id", "embedding", "ts"],
                   lambda r: r.ts < _at(10))


def _media_rows(synth):
    """Base rows first, their planted twins (ids ≥ 1000) later."""
    rows = [(mid, kind, payload, _at(20 + mid % 7 if mid >= 1000 else mid))
            for mid, _u, kind, payload, _m in synth]
    return _halves(rows, ["media_id", "kind", "payload", "ts"],
                   lambda r: r.media_id < 1000)


def _image_rows():
    from o2g_spark.operators.media_dedup import synth_phash_media_rows

    return _media_rows(synth_phash_media_rows(n_base=6))


def _video_rows():
    from o2g_spark.operators.video import synth_avi_media_rows

    return _media_rows(synth_avi_media_rows(n_base=4))


def _sketch_rows():
    """Two groups over 10-minute windows; the second half reopens the
    last window of the first, adds later windows and carries one row
    late for an already closed window (the late-row guard)."""
    cols = ["grp", "v", "ts"]
    first = [("a" if i % 3 else "b", i * 7 % 11, _at(i)) for i in range(24)]
    second = [("a" if i % 3 else "b", i * 5 % 13, _at(i))
              for i in range(24, 52)]
    second.append(("a", 99, _at(3)))  # late: window [0, 10) is closed
    return pd.DataFrame(first, columns=cols), pd.DataFrame(second, columns=cols)


def _cases():
    """case -> (rows, stream schema, op)."""
    from o2g_spark.streaming import stateful as S

    visit_ddl = "user_id long, event_id long, ts timestamp, cell long"
    return {
        "visits": (_visit_rows, visit_ddl, S.cell_visits_stateful),
        "visits_sharded": (_visit_rows, visit_ddl,
                           lambda s: S.cell_visits_stateful(s, shards=4)),
        "text": (_text_rows, "doc_id string, text string, ts timestamp",
                 lambda s: S.near_dup_candidates_stream(s, shards=4)),
        "embedding": (
            _vec_rows, "vec_id long, embedding array<double>, ts timestamp",
            lambda s: S.near_dup_embedding_stream(s, dim=8, shards=4)),
        "media": (_image_rows, MEDIA_DDL,
                  lambda s: S.near_dup_media_stream(s, shards=4)),
        "video": (_video_rows, MEDIA_DDL,
                  lambda s: S.near_dup_video_stream(s, shards=4)),
        "hll": (_sketch_rows, "grp string, v long, ts timestamp",
                lambda s: S.hll_window_stream(
                    s, "grp", "v", window_seconds=600, p=4,
                    watermark="0 seconds")),
        "quantiles": (_sketch_rows, "grp string, v long, ts timestamp",
                      lambda s: S.quantile_window_stream(
                          s, "grp", "v", window_seconds=600,
                          quantiles={"p50": 0.5, "p90": 0.9}, sub_bits=2,
                          watermark="0 seconds")),
    }


def _write_parquet(path: str, pdf: pd.DataFrame) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark-friendly microsecond timestamps (pandas default is ns)
    schema = pa.schema([
        pa.field(f.name, pa.timestamp("us"))
        if pa.types.is_timestamp(f.type) else f
        for f in tbl.schema
    ])
    pq.write_table(tbl.cast(schema), path)


def _run(spark, case: str, base: str) -> list:
    """Drain ``base/src`` into the op with availableNow, checkpointing
    to ``base/ckpt``; returns the emitted ``[batch_id, row…]`` lines."""
    _, ddl, op = _cases()[case]
    stream = (spark.readStream.schema(ddl)
              .option("maxFilesPerTrigger", 1)
              .parquet(os.path.join(base, "src")))
    got: list = []

    def sink(df, batch_id):
        got.extend([batch_id, *_plain(r)] for r in df.collect())

    q = (op(stream).writeStream.foreachBatch(sink)
         .option("checkpointLocation", os.path.join(base, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    assert not q.isActive, f"{case}: stream did not finish"
    return sorted(got, key=json.dumps)


def _plain(row) -> list:
    return [v.isoformat() if isinstance(v, dt.datetime) else v
            for v in row]


def _prepare(base: str) -> None:
    """Point the file-source log of ``base/ckpt`` at ``base/src`` and
    add the second half of the input."""
    src = "file://" + os.path.join(os.path.abspath(base), "src") + "/"
    for log in glob.glob(os.path.join(base, "ckpt", "sources", "0", "*")):
        name = os.path.basename(log)
        if name.endswith(".crc"):
            continue
        with open(log) as f:
            text = f.read()
        with open(log, "w") as f:
            f.write(re.sub(r'"path":"file:[^"]*/src/', f'"path":"{src}',
                           text))
        crc = os.path.join(os.path.dirname(log), f".{name}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    for f in glob.glob(os.path.join(base, "next", "*")):
        shutil.copy(f, os.path.join(base, "src"))  # fresh mtime: a new file


@pytest.mark.parametrize("case", ["visits", "visits_sharded", "text",
                                  "embedding", "media", "video", "hll",
                                  "quantiles"])
def test_pre_refactor_checkpoint_resumes(spark, tmp_path, case):
    base = str(tmp_path / case)
    shutil.copytree(os.path.join(FIXTURES, case), base)
    with open(os.path.join(base, "expected.json")) as f:
        expected = json.load(f)
    assert expected, case  # the second half must emit something
    _prepare(base)
    assert _run(spark, case, base) == expected


def write_fixtures() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import tempfile

    from o2g_spark.session import get_spark

    spark = get_spark("stream_fixtures", master="local[2]",
                      shuffle_partitions=4)
    shutil.rmtree(FIXTURES, ignore_errors=True)
    work = os.path.join(tempfile.gettempdir(), "stream_v1")
    for case, (rows, _, _) in _cases().items():
        first, second = rows()
        out = os.path.join(FIXTURES, case)
        _write_parquet(os.path.join(out, "src", "batch_0.parquet"), first)
        _write_parquet(os.path.join(out, "next", "batch_1.parquet"), second)
        # first half in a scratch copy, then keep its checkpoint
        base = os.path.join(work, case)
        shutil.rmtree(base, ignore_errors=True)
        shutil.copytree(os.path.join(out, "src"), os.path.join(base, "src"))
        _run(spark, case, base)
        shutil.copytree(os.path.join(base, "ckpt"), os.path.join(out, "ckpt"))
        # record the resume exactly the way the test replays it
        shutil.rmtree(base)
        shutil.copytree(out, base)
        _prepare(base)
        with open(os.path.join(out, "expected.json"), "w") as f:
            json.dump(_run(spark, case, base), f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    write_fixtures()
