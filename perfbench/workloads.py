"""The benchmark's three workloads over the public functions of o2g_spark.

Each workload materialises its inputs in ``setup``, builds its
reference once in ``reference``, and then runs closed-loop passes: one
client, one pass at a time; the first ``warmups`` passes are not timed.
``prepare`` readies the next pass's input outside the timed region,
``run_pass`` is the timed pass and ``check`` compares its output with
the reference.

``traced_pass`` runs the same pass as a series of spans, each a call
into one layer's public functions, and returns each layer as a signed
sum of spans (``spantrace.combine``). A prefix that is not the pass's
own output is materialised with ``write.format("noop")``.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

from pyspark.sql import Observation
from pyspark.sql import functions as F

from o2g_spark.functions import geotag
from o2g_spark.operators import dedup, lsh_index, pip, tiles
from o2g_spark.plans.checkpoint import CheckpointManager
from o2g_spark.sources import synth, synth_dist

from . import inputs, reference
from .spantrace import SpanRecorder, combine

ZOOM = 11
PIP_RES = 14
SHINGLE_N = 3
JACCARD_T = 0.4
MAX_DF = 200
NUM_HASHES = 32
BANDS = 16


def _noop(df) -> int:
    """Materialise ``df`` without keeping it; return its row count."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite").save()
    return int(obs.get["rows"])


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class Workload:
    name = ""
    item = ""
    layers: tuple[str, ...] = ()
    warmups = 2

    def __init__(self, spark, seed: int, workdir: str):
        self.spark = spark
        self.seed = seed
        self.workdir = workdir
        self.extras: dict[str, float] = {}

    def has_pass(self) -> bool:
        """Whether another pass has an input; most workloads reuse one."""
        return True

    def prepare(self) -> None:
        """Untimed input of the next pass; most workloads reuse one."""

    def finish(self, rec: SpanRecorder | None) -> bool:
        """End-of-run step; True when its own check passes."""
        return True

    def _span(self, rec, name, fn):
        """``fn`` as a span when tracing, plainly otherwise."""
        return fn() if rec is None else rec.run(name, fn)[1]


class GeoTiles(Workload):
    """geotag -> pip -> Web-Mercator tiles -> rollup per (zone, tile)."""

    name = "geo_tiles"
    item = "pages"
    layers = ("geotag", "pip", "tiles")
    warmups = 3  # its passes shed JIT time for longer (README.md)

    def __init__(self, spark, seed, workdir, pages: int = 150_000):
        super().__init__(spark, seed, workdir)
        self.items = pages
        self.rings = synth.zone_rings(synth.gen_zones(seed))

    def setup(self, rec=None) -> float:
        t0 = time.perf_counter()
        self.pages = self._span(rec, "synth_dist", lambda: synth_dist.gen_pages_dist(
            self.spark, self.items, seed=self.seed).localCheckpoint())
        return time.perf_counter() - t0

    def reference(self) -> None:
        texts = self.pages.select("text").toPandas()["text"]
        self.ref = reference.geo_rollup(texts, self.rings, ZOOM)

    @staticmethod
    def _geotag(pages):
        return geotag.extract_coords(pages).select("lat", "lon")

    def _pip(self, points):
        return pip.pip_join(points, self.rings, res=PIP_RES)

    @staticmethod
    def _tiles(hits):
        return tiles.assign_tiles(hits, ZOOM).groupBy("zone_id", "tile_x", "tile_y").count()

    def run_pass(self):
        return _rows(self._tiles(self._pip(self._geotag(self.pages))))

    def check(self, out) -> bool:
        got = Counter()
        for z, x, y, c in out:
            got[(int(z), int(x), int(y))] += int(c)
        return len(got) == len(out) and got == self.ref

    @staticmethod
    def corrupt(out):
        z, x, y, c = out[0]
        return [(z, x, y, c + 1)] + list(out[1:])

    def traced_pass(self, rec: SpanRecorder):
        s_geo, geo_rows = rec.run("geotag", lambda: _noop(self._geotag(self.pages)))
        s_pip, pip_rows = rec.run("pip", lambda: _noop(self._pip(self._geotag(self.pages))))
        s_all, out = rec.run("tiles", self.run_pass)
        s_geo.rows_out, s_pip.rows_out, s_all.rows_out = geo_rows, pip_rows, len(out)
        spans = {"g": s_geo, "p": s_pip, "t": s_all}
        layers = {
            "geotag": combine("geotag", {"g": 1}, spans),
            "pip": combine("pip", {"p": 1, "g": -1}, spans),
            "tiles": combine("tiles", {"t": 1, "p": -1}, spans),
        }
        t0 = time.perf_counter()
        covers, _ = pip.zone_covers(self.spark, self.rings, PIP_RES)
        self.extras["pip.covers_s"] = time.perf_counter() - t0
        self.extras.update({
            "pip.cover_cells": covers.count(),
            "geotag.yield": geo_rows / self.items,
            "pip.hit_rate": pip_rows / max(geo_rows, 1),
        })
        return layers, s_all.self_s, out


class TextDedup(Workload):
    """Exact-capped jaccard pairs and minhash-LSH pairs over one corpus."""

    name = "text_dedup"
    item = "docs"
    layers = ("dedup.shingle", "dedup.signature", "dedup.jaccard", "dedup.lsh")

    def __init__(self, spark, seed, workdir, docs: int = 4_000):
        super().__init__(spark, seed, workdir)
        self.items = docs

    def setup(self, rec=None) -> float:
        t0 = time.perf_counter()
        self.pdf = inputs.gen_docs(self.items, self.seed)
        self.docs = self._span(rec, "docs", lambda: self.spark.createDataFrame(
            self.pdf).localCheckpoint())
        return time.perf_counter() - t0

    def reference(self) -> None:
        sets = reference.ShingleSets(self.pdf["doc_id"], self.pdf["text"], SHINGLE_N)
        self.ref_j = sets.jaccard_pairs(JACCARD_T, MAX_DF)
        self.ref_l = sets.lsh_pairs(NUM_HASHES, BANDS, JACCARD_T)

    @staticmethod
    def _jaccard(docs):
        return _rows(dedup.jaccard_pairs(docs, "doc_id", "text", n=SHINGLE_N,
                                         threshold=JACCARD_T, max_df=MAX_DF))

    @staticmethod
    def _lsh(docs):
        return _rows(dedup.minhash_lsh_pairs(docs, "doc_id", "text", NUM_HASHES, BANDS,
                                             JACCARD_T))

    def run_pass(self):
        return self._jaccard(self.docs), self._lsh(self.docs)

    def check(self, out) -> bool:
        return reference.same_pairs(out[0], self.ref_j) and reference.same_pairs(
            out[1], self.ref_l)

    @staticmethod
    def corrupt(out):
        return out[0][1:], out[1]

    def traced_pass(self, rec: SpanRecorder):
        sh, sig = _shingle_probes(self.docs)
        s_sh, sh_rows = rec.run("dedup.shingle", lambda: _noop(sh))
        s_sig, sig_rows = rec.run("dedup.signature", lambda: _noop(sig))
        s_j, out_j = rec.run("dedup.jaccard", lambda: self._jaccard(self.docs))
        s_l, out_l = rec.run("dedup.lsh", lambda: self._lsh(self.docs))
        s_sh.rows_out, s_sig.rows_out = sh_rows, sig_rows
        s_j.rows_out, s_l.rows_out = len(out_j), len(out_l)
        spans = {"sh": s_sh, "sig": s_sig, "j": s_j, "l": s_l}
        # shingling runs inside both calls, the signature inside LSH
        layers = {
            "dedup.shingle": combine("dedup.shingle", {"sh": 2}, spans),
            "dedup.signature": combine("dedup.signature", {"sig": 1, "sh": -1}, spans),
            "dedup.jaccard": combine("dedup.jaccard", {"j": 1, "sh": -1}, spans),
            "dedup.lsh": combine("dedup.lsh", {"l": 1, "sig": -1}, spans),
        }
        self.extras.update({
            "dedup.dropped_shingles": dedup.jaccard_dropped_shingles(
                self.docs, "doc_id", "text", SHINGLE_N, MAX_DF),
            "dedup.jaccard_pairs": len(out_j),
            "dedup.lsh_pairs": len(out_l),
        })
        return layers, s_j.self_s + s_l.self_s, (out_j, out_l)

    def finish(self, rec=None) -> bool:
        """Traced runs also time the persisted-index lifecycle over this
        corpus (build, one batch paired and merged, compaction), so that
        the lsh_index layers are measured on a declared workload."""
        if rec is None:
            return True
        idx = IndexRefresh(self.spark, self.seed, self.workdir, base=self.items,
                           max_batches=1)
        idx.setup(rec)
        idx.reference()
        idx.prepare()
        _, _, out = idx.traced_pass(rec)
        ok = idx.check(out) and idx.finish(rec)
        self.extras.update(idx.extras)
        return ok


def _shingle_probes(docs):
    """The shingle-hash and signature prefixes every minhash call runs."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh = docs.repartition(par, "doc_id").select(
        "doc_id", dedup.shingle_hashes("text", SHINGLE_N).alias("h"))
    return sh, sh.withColumn("sig", dedup.minhash_from_hashes("h", NUM_HASHES))


class IndexRefresh(Workload):
    """Persisted LSH index: pair each new batch against it, then merge
    the batch in as a delta; compact once at the end of the run."""

    name = "index_refresh"
    item = "batch docs"
    layers = ("lsh_index.pair", "lsh_index.merge")

    def __init__(self, spark, seed, workdir, base: int = 2_000, batch: int = 400,
                 max_batches: int = 24):
        super().__init__(spark, seed, workdir)
        self.base_n, self.items, self.max_batches = base, batch, max_batches
        self.index_dir = os.path.join(workdir, "index")
        self.used = self.merged = 0

    def setup(self, rec=None) -> float:
        t0 = time.perf_counter()
        self.base_pdf = inputs.gen_docs(self.base_n, self.seed)
        self.batches = [inputs.gen_batch(self.base_pdf, k, self.items, self.seed)
                        for k in range(self.max_batches)]
        self.base = self._span(rec, "docs", lambda: self.spark.createDataFrame(
            self.base_pdf).localCheckpoint())
        shutil.rmtree(self.index_dir, ignore_errors=True)
        self._span(rec, "lsh_index.build", lambda: lsh_index.lsh_index_build(
            self.spark, self.index_dir, self.base, "doc_id", "text",
            NUM_HASHES, BANDS, SHINGLE_N, force=True))
        return time.perf_counter() - t0

    def reference(self) -> None:
        ids = list(self.base_pdf["doc_id"]) + [i for b in self.batches for i in b["doc_id"]]
        texts = list(self.base_pdf["text"]) + [t for b in self.batches for t in b["text"]]
        pairs = reference.ShingleSets(ids, texts, SHINGLE_N).lsh_pairs(
            NUM_HASHES, BANDS, JACCARD_T)
        # batch k pairs with the base and batches < k: a pair belongs to
        # the batch of its later (larger-id) doc
        self.ref = [{} for _ in self.batches]
        for (a, b), j in pairs.items():
            if b >= self.base_n:
                self.ref[(b - self.base_n) // self.items][(a, b)] = j

    def has_pass(self) -> bool:
        return self.used < self.max_batches

    def prepare(self) -> None:
        self.cur = self.used
        self.used += 1
        self.batch = self.spark.createDataFrame(self.batches[self.cur]).localCheckpoint()

    def _pair(self):
        return _rows(lsh_index.minhash_lsh_pairs_incremental(
            self.spark, self.index_dir, self.batch, "doc_id", "text", threshold=JACCARD_T))

    def _merge(self):
        lsh_index.lsh_index_merge(self.spark, self.index_dir, self.batch, "doc_id", "text")
        self.merged += 1

    def run_pass(self):
        out = self._pair()
        self._merge()
        return self.cur, out

    def check(self, out) -> bool:
        batch, pairs = out
        return reference.same_pairs(pairs, self.ref[batch])

    @staticmethod
    def corrupt(out):
        return out[0], out[1] + [(-2, -1, 1.0)]

    def traced_pass(self, rec: SpanRecorder):
        s_p, out = rec.run("lsh_index.pair", self._pair)
        s_m, _ = rec.run("lsh_index.merge", self._merge)
        s_p.rows_out, s_m.rows_out = len(out), self.items
        layers = {"lsh_index.pair": s_p, "lsh_index.merge": s_m}
        return layers, s_p.self_s + s_m.self_s, (self.cur, out)

    def finish(self, rec=None) -> bool:
        folded = self._span(rec, "lsh_index.compact", lambda: lsh_index.lsh_index_compact(
            self.spark, self.index_dir))
        self.extras["lsh_index.live_deltas"] = folded
        docs = CheckpointManager(self.spark, self.index_dir).read_snapshot(
            lsh_index.SHINGLES_STAGE).count()
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.index_dir) for f in fs)
        self.extras["lsh_index.bytes_per_doc"] = size / max(docs, 1)
        return folded == self.merged and docs == self.base_n + self.merged * self.items


WORKLOADS = {w.name: w for w in (GeoTiles, TextDedup, IndexRefresh)}
# every layer a traced run reports: the pass layers of each workload,
# then the set-up and end-of-run layers (spans named after the layer)
LAYERS = tuple(dict.fromkeys(
    [layer for w in WORKLOADS.values() for layer in w.layers]
    + ["synth_dist", "docs", "lsh_index.build", "lsh_index.compact"]))
EXTRA_UNITS = {
    "geotag.yield": "1", "pip.covers_s": "s", "pip.cover_cells": "count",
    "pip.hit_rate": "1", "dedup.dropped_shingles": "count",
    "dedup.jaccard_pairs": "count", "dedup.lsh_pairs": "count",
    "lsh_index.live_deltas": "count", "lsh_index.bytes_per_doc": "B",
}
