"""Seeded synthetic GeoJSON corpus shaped like the reference's Aceh tree.

37 files, 388 features: one province file (`11_Aceh.geojson`, level 1),
17 kabupaten files (`11.XX_Name.geojson`, 18 level-2 features), 15
kecamatan files (`11.XX_kecamatan.geojson`, 135 features) and 4
kelurahan files (`11.XX_kelurahan.geojson`, 234 features), with the
per-level property schemas the engine reads. Rings are noisy circles
with thousands of vertices at the upper levels, so the corpus runs to
megabytes and the geometry kernel does real work.

Edge cases (FIXTURES.md §A1):
  * one kabupaten file holds two features with the same derived code
    (last-wins upsert);
  * two kecamatan codes share their last two digits under different
    kabupaten (`0xx` and `1xx`), which must not collide;
  * one kelurahan feature has a malformed ring (a one-number point),
    which must come out with a null geometry.

`write_corpus` writes corpus A and a variant B in which every
feature of some kabupaten has another name and a shifted geometry,
so syncing B and then A really rewrites rows. The returned `Corpus`
is the ground truth the benchmark checks the engine against; it
derives codes and applies last-wins itself and never calls the
engine.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass, field

import numpy as np

PROVINCE = "11"
_KAB_CODES = [f"{i:02d}" for i in range(1, 19)] + [f"{i}" for i in range(71, 76)]
_WORDS = (
    "Kuta Banda Meuraxa Syiah Kuala Lueng Bata Ulee Kareng Jaya Baru Raya "
    "Timur Barat Utara Selatan Tengah Lhok Seumawe Peusangan Darul Imarah "
    "Aman Mesjid Blang Pidie Gayo Lues Simeulue Tamiang Singkil Nagan "
    "Meulaboh Sabang Langsa Bireuen Krueng Sukamakmur Peukan Bada Ingin "
    "Teunom Panga Seunagan Samudera Glumpang Tiga Indrapuri Montasik "
    "Seulimeum Lembah Sawang Matang Kluet Trumon Bakongan Tapaktuan"
).split()
# vertices per ring by level; rings get a +-25 % seeded spread
_VERTICES = {1: 16000, 2: 3000, 3: 900, 4: 300}
_RADIUS = {1: 1.6, 2: 0.35, 3: 0.08, 4: 0.02}


@dataclass
class Feature:
    file: str
    index: int
    level: int
    props: dict
    geometry: dict
    malformed: bool = False

    @property
    def kode(self) -> str:
        p = self.props
        parts = [p["kd_propinsi"]]
        if self.level >= 2:
            parts.append(p["kd_dati2"])
        if self.level >= 3:
            parts.append(p["kd_kecamatan"][-2:])
        if self.level == 4:
            parts.append("2" + p["kd_kelurahan"])
        return ".".join(parts)

    @property
    def nama(self) -> str:
        key = {1: "nm_propinsi", 2: "nm_dati2", 3: "nm_kecamatan", 4: "nm_kelurahan"}
        return self.props[key[self.level]]

    @property
    def vertices(self) -> int:
        if self.malformed:
            return 0
        return sum(len(r) for poly in self.geometry["coordinates"] for r in poly)


@dataclass
class Corpus:
    """Both corpus variants plus the facts the benchmark checks."""

    a: list[Feature]
    b: list[Feature]
    kabupaten: list[str]  # the 17 level-2 prefixes, e.g. "11.01"
    changed_in_b: list[str]  # prefixes whose features differ in B
    dup_kode: str
    suffix_pair: tuple[str, str]
    malformed_kode: str
    files: list[str] = field(default_factory=list)

    def rows(self, variant: str, prefix: str = "") -> dict[str, Feature]:
        """Last-wins winner per derived code among the variant's files
        whose name starts with `prefix` — what one sync writes."""
        feats = self.a if variant == "a" else self.b
        won: dict[str, Feature] = {}
        for f in sorted(feats, key=lambda f: (f.file, f.index)):
            if f.file.startswith(prefix):
                won[f.kode] = f
        return won


def _name(rng: np.random.Generator) -> str:
    n = 2 if rng.random() < 0.8 else 3
    return " ".join(_WORDS[i] for i in rng.choice(len(_WORDS), n, replace=False))


def _ring(rng: np.random.Generator, cx: float, cy: float, level: int) -> list:
    n = int(_VERTICES[level] * rng.uniform(0.75, 1.25))
    r0 = _RADIUS[level] * rng.uniform(0.7, 1.3)
    t = np.linspace(0.0, 2 * math.pi, n, endpoint=False)
    wobble = sum(
        rng.uniform(0.02, 0.08) * np.sin(k * t + rng.uniform(0, 2 * math.pi))
        for k in (2, 3, 5, 9)
    )
    r = r0 * (1 + wobble) + rng.normal(0.0, r0 * 4e-4, n)
    xs = np.round(cx + r * np.cos(t), 8)
    ys = np.round(cy + r * np.sin(t), 8)
    pts = [[float(x), float(y)] for x, y in zip(xs, ys)]
    return pts + [pts[0]]


def _geometry(rng: np.random.Generator, cx: float, cy: float, level: int) -> dict:
    polys = [[_ring(rng, cx, cy, level)]]
    if level <= 2:  # an offshore island
        d = _RADIUS[level] * 1.6
        polys.append([_ring(rng, cx + d, cy - d, 4)])
    return {"type": "MultiPolygon", "coordinates": polys}


def _spread(rng: np.random.Generator, total: int, bins: int, lo: int, hi: int) -> list[int]:
    """`bins` counts in [lo, hi] summing to `total`."""
    counts = [lo] * bins
    for _ in range(total - lo * bins):
        open_bins = [i for i in range(bins) if counts[i] < hi]
        counts[open_bins[int(rng.integers(0, len(open_bins)))]] += 1
    return counts


def build_corpus(seed: int) -> Corpus:
    rng = np.random.default_rng([seed, 0x6E0])
    kabs = sorted(rng.choice(_KAB_CODES, 17, replace=False).tolist())
    prefix = {k: f"{PROVINCE}.{k}" for k in kabs}
    center = {
        k: (float(rng.uniform(95.5, 98.5)), float(rng.uniform(2.5, 5.5))) for k in kabs
    }
    feats: list[Feature] = []

    def feature(file, index, level, props, cx, cy):
        g = _geometry(rng, cx, cy, level)
        feats.append(Feature(file, index, level, {"kd_propinsi": PROVINCE, **props}, g))
        return feats[-1]

    feature(f"{PROVINCE}_Aceh.geojson", 0, 1, {"nm_propinsi": "Aceh"}, 96.8, 4.2)
    for k in kabs:
        name = _name(rng)
        fname = f"{prefix[k]}_{name.replace(' ', '_')}.geojson"
        feature(fname, 0, 2, {"kd_dati2": k, "nm_dati2": name}, *center[k])
    # duplicate derived code: a second feature in one kabupaten file
    dup_src = feats[1 + int(rng.integers(0, 17))]
    dup = feature(
        dup_src.file, 1, 2,
        {"kd_dati2": dup_src.props["kd_dati2"], "nm_dati2": _name(rng)},
        *center[dup_src.props["kd_dati2"]],
    )
    kec_kabs = sorted(rng.choice(kabs, 15, replace=False).tolist())
    kecs: dict[str, list[str]] = {}
    for k, n in zip(kec_kabs, _spread(rng, 135, 15, 3, 21)):
        codes = [f"{c:03d}" for c in sorted(rng.choice(np.arange(1, 22), n, replace=False))]
        kecs[k] = codes
    # colliding suffix: one kecamatan code `1xx` whose last two digits
    # equal a `0xx` code of another kabupaten
    k_lo, k_hi = kec_kabs[0], kec_kabs[1]
    pick = kecs[k_lo][int(rng.integers(0, len(kecs[k_lo])))]
    same = [i for i, c in enumerate(kecs[k_hi]) if c[1:] == pick[1:]]
    victim = same[0] if same else int(rng.integers(0, len(kecs[k_hi])))
    kecs[k_hi][victim] = "1" + pick[1:]
    kecs[k_hi].sort()
    suffix_pair = (f"{prefix[k_lo]}.{pick[1:]}", f"{prefix[k_hi]}.{pick[1:]}")
    for k in kec_kabs:
        cx, cy = center[k]
        for i, c in enumerate(kecs[k]):
            feature(
                f"{prefix[k]}_kecamatan.geojson", i, 3,
                {"kd_dati2": k, "kd_kecamatan": c, "nm_kecamatan": _name(rng)},
                cx + rng.uniform(-0.25, 0.25), cy + rng.uniform(-0.25, 0.25),
            )
    kel_kabs = sorted(rng.choice(kec_kabs, 4, replace=False).tolist())
    kel_feats = []
    for k, n in zip(kel_kabs, _spread(rng, 234, 4, 50, 70)):
        cx, cy = center[k]
        slots = [(c, j) for c in kecs[k] for j in range(1, 27)]
        chosen = sorted(rng.choice(len(slots), n, replace=False))
        for i, s in enumerate(chosen):
            c, j = slots[s]
            kel_feats.append(feature(
                f"{prefix[k]}_kelurahan.geojson", i, 4,
                {"kd_dati2": k, "kd_kecamatan": c, "kd_kelurahan": f"{j:03d}",
                 "nm_kelurahan": _name(rng)},
                cx + rng.uniform(-0.3, 0.3), cy + rng.uniform(-0.3, 0.3),
            ))
    bad = kel_feats[int(rng.integers(0, len(kel_feats)))]
    bad.geometry["coordinates"][0][0][1] = [bad.geometry["coordinates"][0][0][1][0]]
    bad.malformed = True

    # B changes every kabupaten with kelurahan files and two others
    others = sorted(set(kabs) - set(kel_kabs))
    changed = sorted(kel_kabs + rng.choice(others, 2, replace=False).tolist())
    changed_prefixes = [prefix[k] for k in changed]
    variant_b = []
    for f in feats:
        if not any(f.file.startswith(p) for p in changed_prefixes) or f.level == 1:
            variant_b.append(f)
            continue
        props = dict(f.props)
        key = {2: "nm_dati2", 3: "nm_kecamatan", 4: "nm_kelurahan"}[f.level]
        props[key] = f"{props[key]} Baru"
        geom = json.loads(json.dumps(f.geometry))
        for poly in geom["coordinates"]:
            for ring in poly:
                for pt in ring:
                    pt[0] = round(pt[0] + 0.001, 8)
        variant_b.append(Feature(f.file, f.index, f.level, props, geom, f.malformed))
    return Corpus(
        a=feats,
        b=variant_b,
        kabupaten=[prefix[k] for k in kabs],
        changed_in_b=changed_prefixes,
        dup_kode=dup.kode,
        suffix_pair=suffix_pair,
        malformed_kode=bad.kode,
        files=sorted({f.file for f in feats}),
    )


def _write(features: list[Feature], out_dir: str) -> int:
    os.makedirs(out_dir, exist_ok=True)
    by_file: dict[str, list[Feature]] = {}
    for f in features:
        by_file.setdefault(f.file, []).append(f)
    total = 0
    for name, fs in sorted(by_file.items()):
        doc = {
            "type": "FeatureCollection",
            "features": [
                {"type": "Feature", "properties": f.props, "geometry": f.geometry}
                for f in sorted(fs, key=lambda f: f.index)
            ],
        }
        path = os.path.join(out_dir, name)
        with open(path, "w") as fh:
            json.dump(doc, fh, separators=(",", ":"))
        total += os.path.getsize(path)
    return total


def write_corpus(dir_a: str, dir_b: str, seed: int) -> tuple[Corpus, int]:
    """Write both variants; returns the ground truth and corpus-A bytes."""
    corpus = build_corpus(seed)
    size = _write(corpus.a, dir_a)
    _write(corpus.b, dir_b)
    return corpus, size
