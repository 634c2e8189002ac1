"""Independent references for the benchmark's correctness checks.

Each reference is computed once per run, outside the timed passes, in
numpy and the standard library. Only the numpy kernels of
``o2g_spark.kernels`` (point-in-polygon and tile math) are shared with
the program; nothing here builds a Spark plan.

- geo: coordinates parsed from the page text in Python, then exact
  point-in-polygon per zone and Web-Mercator tiles, counted per
  (zone_id, tile_x, tile_y).
- jaccard: exact n-gram Jaccard over every pair sharing a shingle (the
  uncapped definition; equal to the capped operator while no shingle's
  document frequency exceeds the cap, see ``inputs.check_max_df``).
- lsh: minhash signatures over md5-60 shingle hashes, banded, with
  candidates verified by exact Jaccard.

Pair results map ``(id_a, id_b)`` with ``id_a < id_b`` to the Jaccard
rounded half-up to 6 decimals, the way Spark's ``round`` does it.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from o2g_spark.kernels import geometry

from .inputs import check_max_df

_COORD = re.compile(r"(-?\d{1,2}\.\d{1,6}),\s(-?\d{1,3}\.\d{1,6})")
_NON_WORD = re.compile(r"[^a-z0-9]+")
_M31 = 1 << 31
_P31 = (1 << 31) - 1
_SENTINEL = 1 << 60
_SIX = Decimal("0.000001")


# ------------------------------------------------------------------ geo

def parse_coords(texts) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) of every in-range "lat, lon" literal in ``texts``."""
    lat, lon = [], []
    for t in texts:
        for a, b in _COORD.findall(t):
            lat.append(float(a))
            lon.append(float(b))
    lat_a, lon_a = np.array(lat, dtype=np.float64), np.array(lon, dtype=np.float64)
    ok = (np.abs(lat_a) <= 90.0) & (np.abs(lon_a) <= 180.0)
    return lat_a[ok], lon_a[ok]


def geo_rollup(texts, rings_by_zone: dict, zoom: int) -> Counter:
    """Counter of points per (zone_id, tile_x, tile_y)."""
    lat, lon = parse_coords(texts)
    zids, idx = [], []
    for zid, rings in rings_by_zone.items():
        outer = np.asarray(rings[0], dtype=np.float64)
        near = np.flatnonzero(
            (lon >= outer[:, 0].min()) & (lon <= outer[:, 0].max())
            & (lat >= outer[:, 1].min()) & (lat <= outer[:, 1].max())
        )
        hit = near[geometry.points_in_polygon(lon[near], lat[near], rings)]
        zids.append(np.full(len(hit), int(zid), dtype=np.int64))
        idx.append(hit)
    zid_a, idx_a = np.concatenate(zids), np.concatenate(idx)
    n = 1 << zoom
    tx, ty = geometry.lonlat_to_tilef(lon[idx_a], lat[idx_a], zoom)
    tx = np.clip(np.floor(tx).astype(np.int64), 0, n - 1)
    ty = np.clip(np.floor(ty).astype(np.int64), 0, n - 1)
    keys, counts = np.unique(np.stack([zid_a, tx, ty], axis=1), axis=0, return_counts=True)
    return Counter({tuple(int(v) for v in k): int(c) for k, c in zip(keys, counts)})


# ---------------------------------------------------------------- pairs

def _round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(_SIX, rounding=ROUND_HALF_UP))


class ShingleSets:
    """Distinct word 3-gram shingles of each doc, as integer ids into
    one vocabulary of shingle strings."""

    def __init__(self, doc_ids, texts, n: int = 3):
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        vocab: dict[str, int] = {}
        sets = []
        for t in texts:
            w = _NON_WORD.sub(" ", t.lower()).split()
            sh = {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}
            sets.append(np.array(sorted(vocab.setdefault(s, len(vocab)) for s in sh),
                                 dtype=np.int64))
        self.sets = sets
        self.vocab = list(vocab)
        self.sizes = np.array([len(s) for s in sets], dtype=np.int64)

    def doc_freq(self) -> np.ndarray:
        return np.bincount(np.concatenate(self.sets), minlength=len(self.vocab))

    def _verified(self, a: np.ndarray, b: np.ndarray, inter: np.ndarray,
                  threshold: float) -> dict:
        union = self.sizes[a] + self.sizes[b] - inter
        j = inter / np.maximum(union, 1)
        out = {}
        # rounding can lift a value at most 5e-7: test the rest exactly
        for k in np.flatnonzero(j >= threshold - 1e-6):
            r = _round6(float(j[k]))
            if r >= threshold:
                ia, ib = int(self.doc_ids[a[k]]), int(self.doc_ids[b[k]])
                out[(min(ia, ib), max(ia, ib))] = r
        return out

    def jaccard_pairs(self, threshold: float, max_df: int) -> dict:
        """Exact Jaccard over all pairs sharing a shingle. Raises
        ``DfCapExceeded`` when a shingle is hotter than ``max_df``."""
        df = self.doc_freq()
        check_max_df(df, max_df)
        sh = np.concatenate(self.sets)
        doc = np.repeat(np.arange(len(self.sets), dtype=np.int64), self.sizes)
        order = np.lexsort((doc, sh))
        post = doc[order]
        start = np.concatenate([[0], np.cumsum(df)])[:-1]
        n = len(self.sets)
        keys = []
        for d in np.unique(df[df >= 2]):
            rows = start[df == d][:, None] + np.arange(d)[None, :]
            m = post[rows]
            iu, ju = np.triu_indices(int(d), 1)
            keys.append((m[:, iu] * n + m[:, ju]).ravel())
        if not keys:
            return {}
        pair, inter = np.unique(np.concatenate(keys), return_counts=True)
        return self._verified(pair // n, pair % n, inter, threshold)

    def lsh_pairs(self, num_hashes: int, bands: int, threshold: float) -> dict:
        """Pairs whose minhash signatures agree on at least one band,
        kept when their exact Jaccard reaches ``threshold``."""
        h60 = np.array(
            [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in self.vocab],
            dtype=np.int64,
        )
        flat = h60[np.concatenate(self.sets)] % _M31
        starts = np.concatenate([[0], np.cumsum(self.sizes)])[:-1]
        full = self.sizes > 0
        sig = np.full((len(self.sets), num_hashes), _SENTINEL, dtype=np.int64)
        for i in range(num_hashes):
            a = ((1103515245 * (i + 1) + 12345) % _M31) | 1
            b = (69069 * (i + 1) + 1234567) % _M31
            if full.any():
                sig[full, i] = np.minimum.reduceat((flat * a + b) % _P31, starts[full])
        rpb = num_hashes // bands
        cand = set()
        for band in range(bands):
            part = sig[:, band * rpb:(band + 1) * rpb]
            _, inv, counts = np.unique(
                part, axis=0, return_inverse=True, return_counts=True)
            inv = inv.ravel()
            shared = np.flatnonzero(counts[inv] > 1)
            shared = shared[np.argsort(inv[shared], kind="stable")]
            bounds = np.flatnonzero(np.diff(inv[shared])) + 1
            for members in np.split(shared, bounds):
                for x in range(len(members)):
                    for y in range(x + 1, len(members)):
                        cand.add((int(members[x]), int(members[y])))
        if not cand:
            return {}
        a = np.array([p[0] for p in cand], dtype=np.int64)
        b = np.array([p[1] for p in cand], dtype=np.int64)
        inter = np.array(
            [len(np.intersect1d(self.sets[x], self.sets[y], assume_unique=True))
             for x, y in cand],
            dtype=np.int64,
        )
        return self._verified(a, b, inter, threshold)


def same_pairs(got, want: dict) -> bool:
    """Spark rows (id_a, id_b, jaccard) equal the reference pairs."""
    got_d = {}
    for r in got:
        key = (int(r[0]), int(r[1]))
        if key in got_d:
            return False
        got_d[key] = float(r[2])
    return got_d.keys() == want.keys() and all(
        abs(got_d[k] - want[k]) <= 1e-9 for k in want
    )
