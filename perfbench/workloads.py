"""The workloads. Each generates its inputs from the seed, then
runs passes that drive the engine only through its public functions and
materialize every output column, through the step's real sink or a
``noop`` write.

A pass returns one check per step. Checks read ``DataFrame.observe``
results, which fill inside the sink's own job, or read the sink's files
back; they run after the pass clock has stopped.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

import gen

ISO_LEVELS = [3.0, 6.0]   # minutes
ISO_SPEED = 10.0          # km/h
# the isochrone grid routes a point every 30 s of ISO_SPEED travel, about
# 15 s of the mock's travel, and interpolates between them: a boundary
# vertex may overshoot its level by up to about one grid step
ISO_TOL_S = 20.0
ISO_TOL_BOX = 0.01    # one raster pixel, as a share of the box's half-size
# the grid's hull falls short of the box by up to half a grid step a side
ISO_TOL_AREA = 0.08
N_BATCHES = 3


def noop(df) -> None:
    df.write.format('noop').mode('overwrite').save()


def _observed(df, name, **exprs):
    from pyspark.sql import Observation
    obs = Observation(name)
    return df.observe(obs, *[e.alias(k) for k, e in exprs.items()]), obs


def _read_back(path: str):
    """A Spark output directory read with pyarrow, outside the engine."""
    return pq.read_table(path, partitioning=None)


# ---------------------------------------------------------------- geo

class Geo:
    """The paper's own surface: an AOI-filtered read with reprojection,
    metric measures and buffers, the spatial join and aggregate, and
    routing against the mock OSRM server."""
    name = 'geo'
    READ_STEP = 'read'      # the step whose scan feeds io.read.bytes_per_row
    SIZES = dict(n_points=6_000, n_sites=1_000, n_od=(40, 30), n_iso=2)
    TINY = dict(n_points=1_000, n_sites=100, n_od=(8, 6), n_iso=1)

    def __init__(self, seed: int, data_dir: str, tiny: bool = False):
        self.sizes = self.TINY if tiny else self.SIZES
        inp = gen.geo_inputs(seed, **self.sizes)
        self.truth = inp['truth']
        self.aoi_wkt = inp['aoi_wkt']
        self.paths = {}
        for t in ('points', 'zones', 'sites', 'od_src', 'od_dst', 'iso_src'):
            p = os.path.join(data_dir, f'{t}.parquet')
            gen.write_table(inp[t], p, n_files=8 if t == 'points' else 1)
            self.paths[t] = p
        self.input_rows = self.sizes['n_points']

    def run(self, ctx, out: str):
        import erde_spark as es
        from erde_spark.functions.geo import st_point
        from erde_spark.routing.isochrone import isochrones
        from erde_spark.routing.table import od_table
        from pyspark.sql import functions as F
        spark, tr, P, T = ctx.spark, ctx.tracer, self.paths, self.truth
        n_zones = gen.ZONE_GRID[0] * gen.ZONE_GRID[1]
        checks = []

        def read(path):
            with tr.span('io.read_df', 'io.read'):
                return es.read_df(path, spark)

        def write(df, path):
            with tr.span('io.write_df', 'io.write'):
                es.write_df(df, path)

        # AOI-filtered scan, point rebuilt from lon/lat, reprojected to
        # 3857; the 4326 WKB rides along for the joins below
        aoi_path = os.path.join(out, 'aoi.parquet')
        with ctx.step('read', 'geo'):
            with tr.span('io.read_stream', 'io.read'):
                pts = es.read_stream(P['points'], geometry_filter=self.aoi_wkt, spark=spark)
            pts = pts.select('pid', 'w', 'zone_true', F.col('geometry').alias('wkb'),
                             st_point(F.col('lon'), F.col('lat')).alias('geometry'))
            pts, o_read = _observed(
                pts, 'read', n=F.count(F.lit(1)), s=F.sum('pid'),
                eq=F.sum((F.col('geometry') == F.col('wkb')).cast('long')))
            with tr.span('op.convert', 'operators'):
                pts = es.convert(pts, to_crs=3857, from_crs=4326)
            write(pts, aoi_path)
        checks.append(('read', lambda: o_read.get == {
            'n': T['aoi_rows'], 's': T['aoi_pid_sum'], 'eq': T['aoi_rows']}))
        checks.append(('convert', lambda: self._check_mercator(aoi_path)))

        with ctx.step('measure', 'geo'):
            with tr.span('op.area_length', 'operators'):
                z = es.area(es.length(read(P['zones']), default_crs=4326), default_crs=4326)
                z, o_ms = _observed(
                    z, 'measure', n=F.count(F.lit(1)),
                    ea=F.max(F.abs(F.col('area') / F.col('area_true') - 1)),
                    el=F.max(F.abs(F.col('length') / F.col('length_true') - 1)))
                noop(z)
            with tr.span('op.buffer', 'operators'):
                b = es.area(es.buffer(read(P['sites']), gen.BUFFER_M, default_crs=4326), 'barea')
                b, o_buf = _observed(b, 'buffer', n=F.count(F.lit(1)),
                                     e=F.max(F.abs(F.col('barea') / F.lit(gen.BUFFER_AREA) - 1)))
                noop(b)
        checks.append(('measure', lambda: o_ms.get['n'] == n_zones
                       and max(o_ms.get['ea'], o_ms.get['el']) < 1e-9))
        checks.append(('buffer', lambda: o_buf.get['n'] == self.sizes['n_sites']
                       and o_buf.get['e'] < 1e-9))

        def aoi_4326():
            return read(aoi_path).select('pid', 'w', 'zone_true', F.col('wkb').alias('geometry'))

        with ctx.step('sjoin', 'geo'):
            pts = aoi_4326()
            zones = read(P['zones']).select('zone_id', 'geometry')
            with tr.span('op.sjoin', 'operators'):
                j = es.sjoin(pts, zones)
            j, o_sj = _observed(j, 'sjoin', n=F.count(F.lit(1)),
                                eq=F.sum((F.col('zone_id') == F.col('zone_true')).cast('long')))
            noop(j)
        checks.append(('sjoin', lambda: o_sj.get == {'n': T['in_zone_rows'],
                                                     'eq': T['in_zone_rows']}))

        with ctx.step('sagg', 'geo'):
            pts = aoi_4326()
            zones = read(P['zones']).select('zone_id', 'cnt_true', 'wsum_true', 'geometry')
            with tr.span('op.sagg', 'operators'):
                a = es.sagg(zones, pts.select('pid', 'w', 'geometry'), {'w': 'sum', 'pid': 'count'})
            a, o_sagg = _observed(a, 'sagg', n=F.count(F.lit(1)), eq=F.sum(
                (F.col('w').eqNullSafe(F.col('wsum_true'))
                 & F.col('pid').eqNullSafe(F.col('cnt_true'))).cast('long')))
            noop(a)
        checks.append(('sagg', lambda: o_sagg.get == {'n': n_zones, 'eq': n_zones}))

        od_path = os.path.join(out, 'od.parquet')
        iso_path = os.path.join(out, 'iso.parquet')
        with ctx.step('route', 'routing'):
            src, dst = read(P['od_src']), read(P['od_dst'])
            with tr.span('routing.table', 'routing'):
                od = od_table(src, dst, ctx.osrm.url, n_sources=self.sizes['n_od'][0],
                              n_destinations=self.sizes['n_od'][1])
                write(od, od_path)
            with tr.span('routing.isochrone', 'routing'):
                iso = isochrones(read(P['iso_src']), ctx.osrm.url, ISO_LEVELS, ISO_SPEED)
                write(iso, iso_path)
        checks.append(('od', lambda: self._check_od(od_path)))
        checks.append(('isochrone', lambda: self._check_iso(iso_path)))
        ctx.counts['read_rows'] = T['aoi_rows']
        ctx.counts['sjoin_rows'] = T['in_zone_rows']
        return checks

    def _check_mercator(self, path: str) -> bool:
        t = _read_back(path)
        pid = t.column('pid').to_numpy()
        raw = b''.join(t.column('geometry').to_pylist())
        xy = np.frombuffer(raw, dtype=gen.WKB_POINT)
        aid, ax, ay = self.truth['aoi_xy']
        order = np.argsort(pid)
        if not np.array_equal(pid[order], aid):
            return False
        ex = gen.R_EARTH * np.radians(ax)
        ey = gen.merc_y(ay)
        return bool(np.allclose(xy['x'][order], ex, rtol=1e-12, atol=0)
                    and np.allclose(xy['y'][order], ey, rtol=1e-12, atol=0))

    def _iso_errors(self, path: str) -> list[dict]:
        """How far each isochrone strays from the mock's straight-line
        model. Per row: ``over_s``, the most a vertex's modelled duration
        exceeds the level; ``box``, the most a vertex lies outside the
        routing grid's box (half-size ``ISO_SPEED`` x the largest level,
        as a share of it); ``area``, the relative error of the area
        against that of the box's points within the level."""
        t = _read_back(path)
        src_x, src_y = self.truth['iso_xy']
        out = []
        for sid, level, wkb in zip(t.column('sid').to_pylist(), t.column('duration').to_pylist(),
                                   t.column('geometry').to_pylist()):
            sx, sy = src_x[sid], src_y[sid]
            ox, oy = gen.R_EARTH * np.radians(sx), gen.merc_y(sy)
            half = ISO_SPEED / 3.6 * max(ISO_LEVELS) * 60 / np.cos(np.radians(sy))

            def merc(ring):
                return gen.R_EARTH * np.radians(ring[:, 0]) - ox, gen.merc_y(ring[:, 1]) - oy

            def shoelace(ring):
                x, y = merc(ring)
                return 0.5 * abs(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))

            polys = gen.multipolygon_rings(wkb)
            v = np.concatenate([r for p in polys for r in p])
            vx, vy = merc(v)
            area = sum(shoelace(p[0]) - sum(shoelace(h) for h in p[1:]) for p in polys)
            # the expected region, sampled on a fine lattice over the box
            g = np.linspace(-half, half, 401)
            gx, gy = np.meshgrid(g, g)
            inside = gen.mock_reach_s(sx + np.degrees(gx / gen.R_EARTH),
                                      gen.merc_lat(oy + gy), sx, sy) <= level * 60
            out.append({
                'sid': sid, 'level': level,
                'over_s': float(gen.mock_reach_s(v[:, 0], v[:, 1], sx, sy).max() - level * 60),
                'box': float(max(np.abs(vx).max(), np.abs(vy).max()) / half - 1),
                'area': float(area / (inside.mean() * (2 * half) ** 2) - 1)})
        return out

    def _check_iso(self, path: str) -> bool:
        errs = self._iso_errors(path)
        want = {(s, lv) for s in range(self.sizes['n_iso']) for lv in ISO_LEVELS}
        return ({(e['sid'], e['level']) for e in errs} == want and len(errs) == len(want)
                and all(e['over_s'] <= ISO_TOL_S and e['box'] <= ISO_TOL_BOX
                        and abs(e['area']) <= ISO_TOL_AREA for e in errs))

    def _check_od(self, path: str) -> bool:
        t = _read_back(path)
        exp = self.truth['od_duration']
        if t.num_rows != exp.size:
            return False
        s, d = t.column('source').to_numpy(), t.column('destination').to_numpy()
        got = t.column('duration').to_numpy()
        return bool(np.all(np.abs(got - exp[s, d]) <= 0.0011))


# ---------------------------------------------------------------- stream

class Stream:
    """Micro-batch near-duplicate dedup against a growing signature
    store; the kept rows are read back as local chunks and rewritten
    chunk by chunk, then normalized, PII-scrubbed and committed to a
    manifest dataset."""
    name = 'stream'
    READ_STEP = 'readback'
    SIZES = dict(n_docs=600, n_batches=N_BATCHES)
    TINY = dict(n_docs=300, n_batches=2)

    def __init__(self, seed: int, data_dir: str, tiny: bool = False):
        s = self.TINY if tiny else self.SIZES
        c = gen.corpus(seed, s['n_docs'], n_batches=s['n_batches'])
        self.truth = c['truth']
        self.in_dir = os.path.join(data_dir, 'batches')
        gen.write_batches(c['docs'], c['batch'], s['n_batches'], self.in_dir)
        self.schema = c['docs'].schema
        self.input_rows = s['n_docs']
        self.n_batches = s['n_batches']

    def run(self, ctx, out: str):
        import erde_spark as es
        from erde_spark.io.manifest import write_manifest_parquet
        from erde_spark.scale.dedup import streaming_neardup_dedup
        from erde_spark.scale.pipeline import curate
        from erde_spark.streaming.chunks import as_local_chunks
        from pyspark.sql import functions as F
        from pyspark.sql.pandas.types import from_arrow_schema
        spark, tr, T = ctx.spark, ctx.tracer, self.truth
        checks = []
        kept_path = os.path.join(out, 'kept.parquet')
        with ctx.step('neardup', 'stream'):
            with tr.span('scale.streaming_neardup_dedup', 'scale'):
                q = streaming_neardup_dedup(
                    spark, self.in_dir, from_arrow_schema(self.schema), kept_path,
                    os.path.join(out, 'checkpoint'), os.path.join(out, 'state'),
                    max_files_per_trigger=1)
        progress = [p for p in q.recentProgress if p['numInputRows'] > 0]
        ctx.batch_latency += [p['durationMs']['triggerExecution'] / 1000.0 for p in progress]
        ctx.counts['batches'] = len(progress)
        checks.append(('batches', lambda: len(progress) == self.n_batches))
        checks.append(('stream_kept', lambda: self._check(kept_path)))

        rewrite_path = os.path.join(out, 'rewrite.parquet')
        with ctx.step('readback', 'io'):
            with tr.span('io.read_stream', 'io.read'):
                df = es.read_stream(kept_path, spark=spark)
            with tr.span('io.write_stream', 'io.write'):
                with es.write_stream(rewrite_path) as w:
                    for chunk in as_local_chunks(df, chunk_size=max(1, T['kept_rows'] // 4)):
                        w(spark.createDataFrame(chunk.drop(columns='batch')))
        checks.append(('rewrite', lambda: self._check(rewrite_path)))

        manifest_path = os.path.join(out, 'manifest')
        with ctx.step('commit', 'scale'):
            with tr.span('io.read_df', 'io.read'):
                df = es.read_df(rewrite_path, spark)
            with tr.span('scale.curate', 'scale'):
                df = curate(df, steps=('normalize', 'pii'))
            df, o_pii = _observed(df, 'commit', n=F.count(F.lit(1)),
                                  pii=F.sum(F.col('text').contains('@').cast('long')))
            with tr.span('io.write_manifest', 'io.write'):
                write_manifest_parquet(df, manifest_path)
        checks.append(('curate', lambda: o_pii.get == {'n': T['kept_rows'], 'pii': 0}))
        checks.append(('manifest', lambda: self._check(os.path.join(manifest_path, 'data'))))
        ctx.counts['kept_ratio'] = T['kept_rows'] / T['docs']
        ctx.counts['read_rows'] = T['kept_rows']
        return checks

    def _check(self, path: str) -> bool:
        ids = _read_back(path).column('doc_id').to_numpy()
        return (len(ids) == self.truth['kept_rows'] and len(set(ids.tolist())) == len(ids)
                and int(ids.sum()) == self.truth['kept_id_sum'])


WORKLOADS = {w.name: w for w in (Geo, Stream)}
