"""One lifecycle for the persisted near-dup indexes.

The text (:mod:`.lsh_index`), embedding (:mod:`.emb_index`), media
(:mod:`.media_index`) and video (:mod:`.video_index`) indexes share one
shape, described by a frozen :class:`IndexSpec`:

- the **first** stage is written from the input — shingle sets,
  vectors, media signatures, video frame hashes. The expensive pass
  (shingling, decode) runs here, once per input row, ever;
- the **second** stage is derived from the committed first stage by the
  spec's ``derive(first_rows, params)`` — band keys, per-clip sizes —
  so it never re-reads the input;
- the manifests of both stages (and of every delta) carry the spec's
  ``param_keys``; :meth:`IndexSpec.open` refuses an index whose stages
  disagree on them, whose stages cover different batches, or (for the
  decoding indexes) that was built under another ``CODEC_REV``.

Each index module keeps only its row builder, its ``derive``, its
verification step and its public functions; build, merge, compact and
the new × index ∪ new × new candidate join (:func:`candidate_pairs`)
live here.

Storage is LSM-shaped, so a merge is O(batch), never an O(corpus)
rewrite:

- a **base** snapshot (the stage itself, committed by the build), plus
- **delta** stages (``<stage>.d00001``, ``.d00002``, …) — each an
  ordinary committed checkpoint stage holding ONE batch;
- readers see base ∪ live deltas (``read_with_deltas``);
- an explicit **compaction** folds base + deltas into a new base
  (createOrReplace — the old base retires into snapshot history) and
  garbage-collects the folded deltas. Compaction is the only O(corpus)
  operation, and the caller chooses when to pay it.

Crash safety builds on the checkpoint layer's committed-marker
semantics plus two conventions:

- **idempotent merges**: each delta's manifest carries a
  ``batch_digest`` (count + order-insensitive xxhash of the batch ids;
  a spec'd index digests its first-stage ``did`` rows). ``commit_delta``
  refuses to commit a second delta with the same digest for the same
  stage, so the production shape "crash after commit, rerun the identical command"
  re-finds the existing delta instead of double-merging the batch.
- **monotonic numbering across compactions**: the base manifest's
  ``compacted_through`` ordinal marks the highest delta folded in;
  readers skip deltas at or below it, which makes the
  commit-base-then-GC-deltas sequence safe at every crash point (a
  surviving folded delta is invisible, and GC is re-run on the next
  compaction). New deltas number from
  ``max(compacted_through, existing) + 1``.

A merge commits one delta PER stage, tagged with the same digest; a
crash between the two commits is detected by comparing the stages'
digest sets (:func:`check_delta_lockstep`) and healed by rerunning the
merge (the digest check skips the stage that already has the batch).
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import kernels
from ..plans.checkpoint import CheckpointManager

_DELTA_RE = re.compile(r"\.d(\d{5})$")


def batch_digest(df: DataFrame, id_col: str) -> str:
    """Order-insensitive fingerprint of a batch's id set: row count +
    bit_xor of per-id xxhash64. One cheap aggregate job, driver-bounded
    at one row — the price of idempotent merges."""
    r = df.agg(
        F.count("*").alias("n"),
        F.expr(f"bit_xor(xxhash64({id_col}))").alias("x"),
    ).first()
    return f"{r['n']}:{r['x']}"


def _delta_entries(ckpt: CheckpointManager, stage: str) -> list[tuple[int, str]]:
    """(ordinal, stage_name) of every delta DIRECTORY of ``stage``,
    sorted — committed or not (numbering must see in-flight attempts so
    a resumed run_stage reuses its own directory)."""
    out = []
    prefix = f"{stage}.d"
    if os.path.isdir(ckpt.base_dir):
        for name in os.listdir(ckpt.base_dir):
            if name.startswith(prefix):
                m = _DELTA_RE.search(name)
                if m:
                    out.append((int(m.group(1)), name))
    return sorted(out)


def live_delta_stages(ckpt: CheckpointManager, stage: str) -> list[str]:
    """COMMITTED deltas above the base's ``compacted_through`` mark,
    oldest first — the set a reader unions with the base."""
    base_m = ckpt.manifest(stage) or {}
    thru = int(base_m.get("compacted_through", 0))
    return [
        name
        for num, name in _delta_entries(ckpt, stage)
        if num > thru and ckpt.is_committed(name)
    ]


def all_batch_digests(ckpt: CheckpointManager, stage: str) -> list[str]:
    """Every batch the stage's logical content covers: digests FOLDED
    into the base by compactions plus the live deltas'. This — not the
    live set alone — is what multi-stage lockstep compares, so a crash
    between two stages' compactions (content equal, layout different)
    is not a false inconsistency."""
    folded = (ckpt.manifest(stage) or {}).get("folded_digests", [])
    live = [(ckpt.manifest(name) or {}).get("batch_digest")
            for name in live_delta_stages(ckpt, stage)]
    return sorted(d or "" for d in folded + live)


def reset_extra(ckpt: CheckpointManager, stage: str) -> dict:
    """manifest_extra keys for a FORCED base rebuild: hide every
    existing delta (they describe the replaced corpus) and clear the
    folded-batch log. Pass to run_stage(force=True), then
    :func:`gc_hidden`."""
    top = max([0] + [num for num, _ in _delta_entries(ckpt, stage)])
    return {"compacted_through": top, "folded_digests": []}


def gc_hidden(ckpt: CheckpointManager, stage: str) -> None:
    """Remove delta directories at or below the base's
    ``compacted_through`` mark — they are invisible to readers already,
    so this is pure garbage collection and safe to re-run."""
    thru = int((ckpt.manifest(stage) or {}).get("compacted_through", 0))
    for num, name in _delta_entries(ckpt, stage):
        if num <= thru:
            shutil.rmtree(os.path.join(ckpt.base_dir, name),
                          ignore_errors=True)


def read_with_deltas(ckpt: CheckpointManager, stage: str) -> DataFrame:
    """base ∪ live deltas — the current logical content of the stage."""
    df = ckpt.read_snapshot(stage)
    for name in live_delta_stages(ckpt, stage):
        df = df.unionByName(ckpt.read_snapshot(name))
    return df


def total_row_count(ckpt: CheckpointManager, stage: str) -> int:
    """Logical row count (base + live deltas) from manifests only —
    no Spark job."""
    n = (ckpt.manifest(stage) or {}).get("row_count", 0)
    for name in live_delta_stages(ckpt, stage):
        n += (ckpt.manifest(name) or {}).get("row_count", 0)
    return int(n)


def commit_delta(
    ckpt: CheckpointManager,
    stage: str,
    build_fn: Callable[[], DataFrame],
    key_col: str,
    digest: str,
    partition_by: str | None = None,
    manifest_extra: dict | None = None,
) -> str | None:
    """Commit ONE batch as the next delta of ``stage`` — O(batch).
    Returns the delta stage name, or None when the stage already
    covers ``digest`` (live delta OR folded by a compaction — the
    idempotent-rerun path)."""
    if digest in all_batch_digests(ckpt, stage):
        return None
    entries = _delta_entries(ckpt, stage)
    thru = int((ckpt.manifest(stage) or {}).get("compacted_through", 0))
    # reuse the top UNcommitted directory if it exists (a crashed
    # attempt); otherwise take the next ordinal
    if entries and not ckpt.is_committed(entries[-1][1]) \
            and entries[-1][0] > thru:
        name = entries[-1][1]
    else:
        top = max([thru] + [num for num, _ in entries])
        name = f"{stage}.d{top + 1:05d}"
    extra = dict(manifest_extra or {})
    extra["batch_digest"] = digest
    ckpt.run_stage(name, build_fn, key_col=key_col,
                   partition_by=partition_by, manifest_extra=extra)
    return name


def check_delta_lockstep(
    ckpt: CheckpointManager, stages: list[str], base_dir: str
) -> None:
    """Raise unless every stage of a multi-stage index has the SAME
    multiset of live-delta batch digests (a crash between a merge's
    per-stage commits leaves them different — rerunning the merge
    heals it, because commit_delta skips the stage that already has
    the batch)."""
    sets = {s: all_batch_digests(ckpt, s) for s in stages}
    vals = list(sets.values())
    if any(v != vals[0] for v in vals[1:]):
        raise RuntimeError(
            f"inconsistent index at {base_dir!r}: stages {stages} cover "
            f"mismatched batch sets {sets} (interrupted merge?) — rerun "
            "the merge with the same batch to heal"
        )


def compact(
    ckpt: CheckpointManager,
    stage: str,
    key_col: str,
    partition_by: str | None = None,
    manifest_extra: dict | None = None,
) -> int:
    """Fold base + live deltas into a new base snapshot (the one
    O(corpus) operation, paid when the CALLER chooses) and GC the
    folded deltas. The old base retires into snapshot history; the new
    base's ``compacted_through`` makes any delta that survives a crash
    between commit and GC invisible to readers. Returns the number of
    deltas folded. No-op (0) when there are no live deltas — but GC of
    already-folded leftovers still runs."""
    base_m = ckpt.manifest(stage) or {}
    live = live_delta_stages(ckpt, stage)
    if live:
        new_thru = max(num for num, name in _delta_entries(ckpt, stage)
                       if name in live)
        # stream, don't materialize: run_stage(force=True) retires the
        # current base FIRST, but retired snapshots stay readable by
        # id — so the build reads the old base from history and the
        # (still-live) delta dirs, never holding the corpus in memory
        old_id = base_m["snapshot_id"]

        def build() -> DataFrame:
            df = ckpt.read_snapshot(stage, old_id)
            for name in live:
                df = df.unionByName(ckpt.read_snapshot(name))
            return df

        extra = dict(manifest_extra or {})
        extra["compacted_through"] = new_thru
        # carry the folded-batch log forward so multi-stage lockstep
        # keeps comparing TOTAL batch coverage across compactions
        extra["folded_digests"] = all_batch_digests(ckpt, stage)
        ckpt.run_stage(stage, build, key_col=key_col, force=True,
                       partition_by=partition_by, manifest_extra=extra)
    # GC every delta at or below the (possibly new) compaction mark —
    # idempotent, also sweeps leftovers from a crashed earlier compact
    gc_hidden(ckpt, stage)
    return len(live)


@dataclass(frozen=True)
class IndexSpec:
    """One persisted index: its two stages (``first`` written from the
    input, ``second`` derived from it), the manifest params that must
    agree across stages and deltas, and the names its errors cite."""

    label: str  # "LSH", "embedding", … — error messages only
    build_fn: str  # the public build function a rebuild error names
    first: str
    first_part: str | None
    second: str
    second_part: str | None
    param_keys: tuple[str, ...]
    derive: Callable[[DataFrame, dict], DataFrame]
    codec_rev: bool = False  # decoding index: refuse another CODEC_REV

    def _stages(self) -> tuple[tuple[str, str | None], ...]:
        return (self.first, self.first_part), (self.second, self.second_part)

    def _extra(self, params: dict) -> dict:
        rev = {"codec_rev": kernels.CODEC_REV} if self.codec_rev else {}
        return {k: params[k] for k in self.param_keys} | rev

    def open(self, spark: SparkSession, base_dir: str
             ) -> tuple[CheckpointManager, dict]:
        """(checkpoint manager, params) of a committed, consistent
        index; raises FileNotFoundError / RuntimeError otherwise."""
        ckpt = CheckpointManager(spark, base_dir)
        m = ckpt.manifest(self.first)
        ms = ckpt.manifest(self.second)
        if not (m and m.get("committed") and ms and ms.get("committed")):
            raise FileNotFoundError(
                f"no committed {self.label} index at {base_dir!r}: run "
                f"{self.build_fn}"
            )
        manifests = {self.first: m, self.second: ms} | {
            name: ckpt.manifest(name)
            for stage in (self.first, self.second)
            for name in live_delta_stages(ckpt, stage)
        }
        for k in self.param_keys:
            vals = {label: mm.get(k) for label, mm in manifests.items()}
            if len(set(vals.values())) > 1:
                raise RuntimeError(
                    f"inconsistent {self.label} index at {base_dir!r}: {k} "
                    f"differs across stages/deltas {vals} (interrupted "
                    f"rebuild?) — rerun {self.build_fn}"
                )
        # a payload undecodable at build time has NO first-stage row; if
        # a newer decode envelope can decode it, a re-crawled
        # byte-identical copy would silently miss its indexed twin
        if self.codec_rev and m.get("codec_rev") != kernels.CODEC_REV:
            raise RuntimeError(
                f"index at {base_dir!r} was built under media decode "
                f"envelope rev {m.get('codec_rev')}; this build is rev "
                f"{kernels.CODEC_REV} — payloads undecodable then may "
                f"decode now, so incremental pairing would no longer "
                f"equal the full run. Rerun {self.build_fn}(force=True)"
            )
        check_delta_lockstep(ckpt, [self.first, self.second], base_dir)
        return ckpt, {k: m[k] for k in self.param_keys}

    def build(self, spark: SparkSession, base_dir: str, params: dict,
              rows: Callable[[], DataFrame], force: bool) -> None:
        """Build (or resume) both stages. A forced rebuild replaces the
        corpus, so existing deltas describe dead data: each base commit
        hides them atomically (``compacted_through``), GC runs after."""
        ckpt = CheckpointManager(spark, base_dir)
        extra = self._extra(params)
        builds = (rows,
                  lambda: self.derive(ckpt.read_snapshot(self.first), params))
        for (stage, part), fn in zip(self._stages(), builds):
            ckpt.run_stage(stage, fn, key_col="did", force=force,
                           partition_by=part,
                           manifest_extra=extra | reset_extra(ckpt, stage))
        for stage, _ in self._stages():
            gc_hidden(ckpt, stage)

    def batch(self, ckpt: CheckpointManager, params: dict, rows: DataFrame
              ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
        """(new first, new second, index first, index second): the
        batch's rows of both stages, each computed once, beside the
        index's current content."""
        new = rows.localCheckpoint()
        return (new, self.derive(new, params).localCheckpoint(),
                read_with_deltas(ckpt, self.first),
                read_with_deltas(ckpt, self.second))

    def merge(self, spark: SparkSession, base_dir: str,
              rows: Callable[[dict], DataFrame]) -> None:
        """Commit one batch as a delta of each stage — O(batch). Params
        come from the manifests, so a merge can never change them. The
        digest is taken over the batch's first-stage ``did`` rows."""
        ckpt, params = self.open(spark, base_dir)
        new = rows(params).localCheckpoint()
        digest = batch_digest(new, "did")
        builds = (lambda: new, lambda: self.derive(new, params))
        for (stage, part), fn in zip(self._stages(), builds):
            commit_delta(ckpt, stage, fn, key_col="did", digest=digest,
                         partition_by=part, manifest_extra=self._extra(params))

    def compact(self, spark: SparkSession, base_dir: str) -> int:
        """Fold both stages' live deltas into their bases; returns the
        number of deltas folded per stage."""
        ckpt, params = self.open(spark, base_dir)
        folded = [compact(ckpt, stage, "did", part, self._extra(params))
                  for stage, part in self._stages()]
        return folded[0]


def candidate_pairs(
    new: DataFrame, index: DataFrame, keys: list[str],
    cap: int | None = None,
) -> DataFrame:
    """(id_a, id_b) rows, id_a < id_b, one per shared key: new × index
    ∪ new × new over ``did`` + ``keys`` rows. Not deduplicated — a pair
    sharing k keys appears k times. With ``cap``, keys held by more
    than ``cap`` rows of index ∪ new are dropped first: the same drop
    set as a full-corpus run, at most n/cap keys, always
    broadcastable."""
    new, index = new.select("did", *keys), index.select("did", *keys)
    if cap is not None:
        hot = (
            index.unionByName(new)
            .groupBy(*keys).agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > cap)
            .select(*keys)
        )
        new = new.join(F.broadcast(hot), keys, "left_anti")
        index = index.join(F.broadcast(hot), keys, "left_anti")

    def on(x: str, y: str, ids: F.Column) -> list[F.Column]:
        return [F.col(f"{x}.{k}") == F.col(f"{y}.{k}") for k in keys] + [ids]

    # new × index: AQE broadcasts the (small) new side; the index side
    # prunes to the partitions its key prefix touches
    nvi = new.alias("n").join(
        index.alias("i"), on("n", "i", F.col("n.did") != F.col("i.did"))
    ).select(F.least("n.did", "i.did").alias("id_a"),
             F.greatest("n.did", "i.did").alias("id_b"))
    nvn = new.alias("a").join(
        new.alias("b"), on("a", "b", F.col("a.did") < F.col("b.did"))
    ).select(F.col("a.did").alias("id_a"), F.col("b.did").alias("id_b"))
    return nvi.unionByName(nvn)


def with_sides(pairs: DataFrame, rows: DataFrame, cols: list[str]
               ) -> DataFrame:
    """``pairs`` joined to (did, cols…) ``rows`` on id_a and on id_b:
    each column ``c`` arrives as ``c_a`` and ``c_b``."""
    for s in ("a", "b"):
        pairs = pairs.join(rows.select(
            F.col("did").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in cols]), f"id_{s}")
    return pairs
