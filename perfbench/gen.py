"""Seeded input generators with planted truth.

Every generator is a pure function of its seed and sizes: the same
arguments give byte-identical files. Each input table carries its
planted truth as extra columns (``*_true``) or as a ``truth`` dict, so
the oracles never re-derive an answer through the engine under test.
Files are written with pyarrow, not Spark, so generation costs nothing
that the benchmark attributes to the engine.
"""

from __future__ import annotations

import math
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

R_EARTH = 6378137.0          # spherical-Mercator radius, as in EPSG:3857
M_PER_DEG = 111319.49079327358   # the mock OSRM's straight-line scale
OSRM_SPEED = 10.0            # m/s, the mock OSRM's speed
OSRM_SNAP_M = 5.0            # m, the snap distance the mock serves for every point
# isochrones add the source's and the destination's snap distance, walked
# at 2.5 km/h, to every routed duration
ISO_SNAP_PENALTY_S = 2 * OSRM_SNAP_M / 2.5 * 3.6
BUFFER_M = 300.0
DUP_SHARE = 0.3     # share of the corpus in planted near-duplicate groups
PII_SHARE = 0.1     # share of the singleton documents carrying an e-mail address
# area of the 64-gon a 16-segments-per-quarter point buffer produces
BUFFER_AREA = 32.0 * math.sin(math.pi / 32.0) * BUFFER_M ** 2

REGION = (37.30, 55.55, 37.90, 55.95)   # lon0, lat0, lon1, lat1
ZONE_GRID = (20, 16)                    # 320 rectangular zones

# a fixed English vocabulary of content words; the generator adds the
# function words, so documents read as English text
VOCAB = tuple("""
time year people way day man thing woman life child world school state
family student group country problem hand part place case week company
system program question work government number night point home water
room mother area money story fact month lot right study book eye job
word business topic side kind head house service friend father power
hour game line end member law car city community name president team
minute idea kid body information back parent face others level office
door health person art war history party result change morning reason
research girl guy moment air teacher force education foot boy age policy
process music market sense nation plan college interest death experience
effect use class control care field development role effort rate heart
drug show leader light voice wife police mind price report decision son
view relationship town road arm difference value building action model
season society tax director position player record paper space ground
form event official matter center couple site project activity star table
need court oil situation cost industry figure street image phone data
picture practice piece land product doctor wall patient worker news test
movie north love support technology step baby computer type attention
film tree source organization hair window evidence population truth
would could should about after before under over between through during
without again further then once here there when where why how all any
both each few more most other some such only own same than too very
make know think take see come want look give find tell ask seem feel
try leave call keep begin help talk turn start show hear play run move
live believe hold bring happen write provide sit stand lose pay meet
include continue learn lead understand watch follow stop create speak
read allow add spend grow open walk win offer remember consider appear
buy wait serve die send expect build stay fall cut reach kill remain
good new first last long great little old big high different small
large next early young important public bad able human local late hard
major better economic strong possible whole free military true federal
""".split())


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input table, so resizing one table
    # leaves every other table of the same seed unchanged
    return np.random.default_rng([int(seed), *stream.encode()])


# ---------------------------------------------------------------- geometry

def merc_y(lat):
    return R_EARTH * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))


def merc_lat(y):
    return np.degrees(2 * np.arctan(np.exp(y / R_EARTH)) - np.pi / 2)


# a little-endian 2D WKB point: byte order, geometry type, x, y
WKB_POINT = np.dtype([('o', 'u1'), ('t', '<u4'), ('x', '<f8'), ('y', '<f8')])


def point_wkb(x, y) -> list[bytes]:
    """Little-endian 2D WKB points."""
    rec = np.empty(len(x), dtype=WKB_POINT)
    rec['o'], rec['t'], rec['x'], rec['y'] = 1, 1, x, y
    raw = rec.tobytes()
    n = WKB_POINT.itemsize
    return [raw[i * n:(i + 1) * n] for i in range(len(x))]


def rect_wkb(x0: float, y0: float, x1: float, y1: float) -> bytes:
    ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
    return (b'\x01' + struct.pack('<II', 3, 1) + struct.pack('<I', 5)
            + b''.join(struct.pack('<2d', *p) for p in ring))


def multipolygon_rings(wkb: bytes) -> list[list[np.ndarray]]:
    """Polygons of a little-endian 2D WKB MultiPolygon, each a list of
    (n, 2) rings, the shell first."""
    polys, off = [], 9
    (n_polys,) = struct.unpack_from('<I', wkb, 5)
    for _ in range(n_polys):
        (n_rings,) = struct.unpack_from('<I', wkb, off + 5)
        off += 9
        rings = []
        for _ in range(n_rings):
            (n,) = struct.unpack_from('<I', wkb, off)
            rings.append(np.frombuffer(wkb, '<f8', 2 * n, off + 4).reshape(n, 2))
            off += 4 + 16 * n
        polys.append(rings)
    return polys


def mock_reach_s(lon, lat, src_lon: float, src_lat: float):
    """Isochrone duration from a source to (lon, lat) under the mock
    OSRM's straight-line model: euclidean degrees at ``OSRM_SPEED``,
    plus the snap penalty."""
    d = np.hypot(np.asarray(lon) - src_lon, np.asarray(lat) - src_lat) * M_PER_DEG
    return d / OSRM_SPEED + ISO_SNAP_PENALTY_S


def _merc_rect(x0, y0, x1, y1):
    """Width, height and centroid cos(latitude) of a lon/lat rectangle
    projected to EPSG:3857."""
    w = R_EARTH * np.radians(x1 - x0)
    ya, yb = merc_y(y0), merc_y(y1)
    return w, yb - ya, np.cos(np.radians(merc_lat((ya + yb) / 2)))


def metric_rect_area(x0, y0, x1, y1):
    """Closed-form metric area of a lon/lat rectangle: its EPSG:3857
    planar area times cos^2 of the latitude of its 3857 centroid."""
    w, h, c = _merc_rect(x0, y0, x1, y1)
    return w * h * c * c


def metric_rect_perimeter(x0, y0, x1, y1):
    """Closed-form metric length of a lon/lat rectangle's boundary: its
    EPSG:3857 perimeter times cos of the latitude of its 3857 centroid."""
    w, h, c = _merc_rect(x0, y0, x1, y1)
    return 2 * (w + h) * c


def geo_inputs(seed: int, n_points: int, n_sites: int,
               n_od: tuple[int, int], n_iso: int) -> dict:
    """Tables for the ``geo`` workload plus their planted truth."""
    lon0, lat0, lon1, lat1 = REGION
    gx, gy = ZONE_GRID
    cw, ch = (lon1 - lon0) / gx, (lat1 - lat0) / gy

    r = _rng(seed, 'zones')
    ci, cj = np.meshgrid(np.arange(gx), np.arange(gy), indexing='ij')
    ci, cj = ci.ravel(), cj.ravel()
    m = r.uniform(0.02, 0.3, size=(4, gx * gy))
    zx0 = lon0 + (ci + m[0]) * cw
    zx1 = lon0 + (ci + 1 - m[1]) * cw
    zy0 = lat0 + (cj + m[2]) * ch
    zy1 = lat0 + (cj + 1 - m[3]) * ch
    zone_id = np.arange(gx * gy, dtype=np.int64)

    r = _rng(seed, 'points')
    px = r.uniform(lon0, lon1, n_points)
    py = r.uniform(lat0, lat1, n_points)
    pw = r.integers(1, 10, n_points).astype(np.int64)
    pid = np.arange(n_points, dtype=np.int64)
    # the one zone that can hold each point is the zone of its grid cell
    cell = (np.minimum(((px - lon0) / cw).astype(np.int64), gx - 1) * gy
            + np.minimum(((py - lat0) / ch).astype(np.int64), gy - 1))
    inside = ((px >= zx0[cell]) & (px <= zx1[cell])
              & (py >= zy0[cell]) & (py <= zy1[cell]))
    zone_true = np.where(inside, cell, -1)

    # the AOI covers 80% x 80% of the region at a seeded offset, so every
    # seed filters about the same share of the points
    r = _rng(seed, 'aoi')
    ox, oy = r.uniform(0.0, 0.2, 2)
    aoi = (lon0 + ox * (lon1 - lon0), lat0 + oy * (lat1 - lat0),
           lon0 + (ox + 0.8) * (lon1 - lon0), lat0 + (oy + 0.8) * (lat1 - lat0))
    in_aoi = (px >= aoi[0]) & (px <= aoi[2]) & (py >= aoi[1]) & (py <= aoi[3])
    ax, ay, aid, aw, azone = px[in_aoi], py[in_aoi], pid[in_aoi], pw[in_aoi], zone_true[in_aoi]

    r = _rng(seed, 'sites')
    sx = r.uniform(lon0, lon1, n_sites)
    sy = r.uniform(lat0, lat1, n_sites)

    # OSRM endpoints sit on the 1e-5 degree grid the polyline codec keeps
    r = _rng(seed, 'od')
    ns, nd = n_od
    osx = np.round(r.uniform(lon0, lon1, ns), 5)
    osy = np.round(r.uniform(lat0, lat1, ns), 5)
    odx = np.round(r.uniform(lon0, lon1, nd), 5)
    ody = np.round(r.uniform(lat0, lat1, nd), 5)
    dur = np.round(np.hypot(odx[None, :] - osx[:, None], ody[None, :] - osy[:, None])
                   * M_PER_DEG / OSRM_SPEED, 3)

    r = _rng(seed, 'iso')
    ix = np.round(r.uniform(lon0 + 0.1, lon1 - 0.1, n_iso), 5)
    iy = np.round(r.uniform(lat0 + 0.1, lat1 - 0.1, n_iso), 5)

    zone_cnt = np.bincount(azone[azone >= 0], minlength=gx * gy)
    zone_wsum = np.bincount(azone[azone >= 0], weights=aw[azone >= 0], minlength=gx * gy)
    null_if = lambda v, bad: pa.array(v, mask=bad)  # noqa: E731
    return {
        'points': pa.table({
            'pid': pid, 'lon': px, 'lat': py, 'w': pw,
            'zone_true': null_if(zone_true, zone_true < 0),
            'geometry': pa.array(point_wkb(px, py), pa.binary())}),
        'zones': pa.table({
            'zone_id': zone_id,
            'area_true': metric_rect_area(zx0, zy0, zx1, zy1),
            'length_true': metric_rect_perimeter(zx0, zy0, zx1, zy1),
            'cnt_true': null_if(zone_cnt.astype(np.int64), zone_cnt == 0),
            'wsum_true': null_if(zone_wsum.astype(np.int64), zone_cnt == 0),
            'geometry': pa.array([rect_wkb(*b) for b in zip(zx0, zy0, zx1, zy1)], pa.binary())}),
        'sites': pa.table({
            'site_id': np.arange(n_sites, dtype=np.int64),
            'geometry': pa.array(point_wkb(sx, sy), pa.binary())}),
        'od_src': pa.table({'sid': np.arange(ns, dtype=np.int64),
                            'geometry': pa.array(point_wkb(osx, osy), pa.binary())}),
        'od_dst': pa.table({'did': np.arange(nd, dtype=np.int64),
                            'geometry': pa.array(point_wkb(odx, ody), pa.binary())}),
        'iso_src': pa.table({'sid': np.arange(n_iso, dtype=np.int64),
                             'geometry': pa.array(point_wkb(ix, iy), pa.binary())}),
        'aoi_wkt': 'POLYGON (({0} {1}, {2} {1}, {2} {3}, {0} {3}, {0} {1}))'.format(*aoi),
        'truth': {
            'aoi_rows': int(in_aoi.sum()), 'aoi_pid_sum': int(aid.sum()),
            'in_zone_rows': int((azone >= 0).sum()),
            'od_duration': dur,
            'iso_xy': (ix, iy),
            'aoi_xy': (aid, ax, ay),
        },
    }


# ---------------------------------------------------------------- documents

def _sentence_text(words: list[str]) -> str:
    out = []
    for i in range(0, len(words), 13):
        part = ' '.join(words[i:i + 13])
        out.append(part[0].upper() + part[1:] + '.')
    return ' '.join(out)


def corpus(seed: int, n_docs: int, n_batches: int) -> dict:
    """English-like documents with planted near-duplicate groups.

    About ``DUP_SHARE`` of the documents sit in groups of 2, 3 or 4
    members; a copy differs from its group's base text in
    two word positions, so any two members stay above Jaccard 0.8 on
    word sets while unrelated documents share about a tenth of their
    words. ``PII_SHARE`` of the singleton documents end with an e-mail
    address. The documents are dealt into ``n_batches`` equal
    micro-batches; a group's survivor is its lowest id in the earliest
    batch that holds a member.
    """
    r = _rng(seed, 'corpus')
    # the group structure and batch sizes are the same for every seed;
    # the seed picks the texts, the ids and which batch holds each doc
    sizes = [2 + g % 3 for g in range(int(round(n_docs * DUP_SHARE / 3)))]
    n_groups = len(sizes)
    n_members = sum(sizes)
    n_single = n_docs - n_members
    if n_single < 0:
        raise ValueError('corpus too small for its planted groups')

    det = np.array(('the', 'the', 'a', 'this', 'that'))
    prep = np.array(('of', 'in', 'on', 'for', 'with', 'to', 'at', 'by'))
    content = np.array(VOCAB)

    def base_words():
        # sentences shaped "det N N prep det N N and N N prep det N",
        # so function words occur at English rates
        words = []
        for _ in range(int(r.integers(8, 11))):
            c = content[r.integers(0, len(content), 7)].tolist()
            d = det[r.integers(0, len(det), 3)].tolist()
            p = prep[r.integers(0, len(prep), 2)].tolist()
            words += [d[0], c[0], c[1], p[0], d[1], c[2], c[3], 'and',
                      c[4], c[5], p[1], d[2], c[6]]
        return words

    texts, group = [], []
    for g, size in enumerate(sizes):
        base = base_words()
        texts.append(_sentence_text(base))
        group.append(g)
        for _ in range(size - 1):
            w = list(base)
            for pos in r.choice(len(w), 2, replace=False):
                w[pos] = str(content[r.integers(0, len(content))])
            texts.append(_sentence_text(w))
            group.append(g)
    pii = r.random(n_single) < PII_SHARE
    for k in range(n_single):
        t = _sentence_text(base_words())
        if pii[k]:
            t += f' Write to user{k}@example.org for more.'
        texts.append(t)
        group.append(-1)

    group = np.array(group, dtype=np.int64)
    # ids are a permutation, so which group member survives is random
    doc_id = r.permutation(n_docs).astype(np.int64)
    batch = (r.permutation(n_docs) % n_batches).astype(np.int64)
    order = np.argsort(doc_id, kind='stable')
    texts = [texts[i] for i in order]
    doc_id, group, batch = doc_id[order], group[order], batch[order]

    keep = group == -1
    grouped = group >= 0
    # survivor per group: the earliest batch, then the lowest id
    key = batch[grouped] * n_docs + doc_id[grouped]
    best = np.full(n_groups, np.iinfo(np.int64).max)
    np.minimum.at(best, group[grouped], key)
    survivors = np.concatenate([doc_id[keep], best % n_docs])
    return {
        'docs': pa.table({'doc_id': doc_id, 'text': pa.array(texts, pa.string())}),
        'batch': batch,
        'truth': {
            'docs': n_docs, 'groups': n_groups, 'pii_docs': int(pii.sum()),
            'kept_rows': int(len(survivors)),
            'kept_id_sum': int(survivors.sum()),
        },
    }


# ---------------------------------------------------------------- files

def write_table(table: pa.Table, path: str, n_files: int = 1) -> None:
    """``path`` as a directory of ``n_files`` parquet parts in row order."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = n * i // n_files, n * (i + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f'part-{i:05d}.parquet'))


def write_batches(table: pa.Table, batch: np.ndarray, n_batches: int, path: str) -> None:
    """One parquet file per micro-batch with strictly increasing fixed
    mtimes, so the file source admits them in batch order."""
    os.makedirs(path, exist_ok=True)
    for b in range(n_batches):
        f = os.path.join(path, f'batch-{b:03d}.parquet')
        pq.write_table(table.filter(pa.array(batch == b)), f)
        os.utime(f, (1_700_000_000 + b, 1_700_000_000 + b))
