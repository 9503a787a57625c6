"""Distributed OD (origin-destination) matrix via OSRM ``/table/v1``.

Semantics follow the reference's ``table`` operator
(`/root/reference/erde/op/table.py:38-234`): all N x M (source,
destination) pairs, long format, with per-pair ``duration``/``distance``
(per ``annotations``), snap distances, and both endpoint geometries; the
request is split into blocks of at most ``max_table_size`` cells, longer
side split first (`erde/op/table.py:165-173` arithmetic).

Physical shape (Spark-first — replaces the reference's driver-side
ProcessPoolExecutor): each side is cut into blocks of at most the
block size, one row per block, straight from its scan partitions (no
shuffle); the small block tables cross-join so ONE task row = ONE OSRM
request, and the kernel melts the response matrix into long rows. The
N x M product materializes only as the union of per-request results,
never as a shuffled pair table. At 100 TB-scale point sets, block count
= (N/br) x (M/bc) tasks — pure task parallelism, no driver fan-out, no
collect.
"""

from __future__ import annotations

import urllib.parse
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from erde_spark.routing import polyline as PL
from erde_spark.routing.client import get_retry, resolve_router


def split_block_shape(rows: int, cols: int, max_table_size: int) -> tuple[int, int]:
    """Block shape: if the table exceeds ``max_table_size`` cells, split
    the longer side first (reference `erde/op/table.py:165-173`)."""
    mts = max_table_size
    if cols * rows > mts:
        if rows < cols:
            rows = max(mts // cols, 1)
            cols = min(mts, cols)
        else:
            cols = max(mts // rows, 1)
            rows = min(mts, rows)
    return rows, cols


def _table_request(host: str, sources, destinations, annotations: str,
                   retries: int, extra_params: dict | None) -> dict:
    """One /table/v1 call: points go polyline-encoded, sources first
    (reference `erde/op/table.py:63-89`)."""
    all_points = list(sources) + list(destinations)
    encoded = urllib.parse.quote_plus(PL.encode([(y, x) for x, y in all_points]))
    ns = len(sources)
    params = {
        'sources': ';'.join(map(str, range(ns))),
        'destinations': ';'.join(map(str, range(ns, ns + len(destinations)))),
        'generate_hints': 'false',
        'annotations': annotations,
        **(extra_params or {}),
    }
    encoded_params = urllib.parse.quote_plus(urllib.parse.urlencode(params))
    url = f'{host}/table/v1/driving/polyline({encoded})?{encoded_params}'
    resp = get_retry(url, {}, retries)
    if resp.status_code != 200:
        raise RuntimeError(f'OSRM server responded with {resp.status_code}: {resp.content!r}')
    data = resp.json()
    if data.get('code', 'Ok') != 'Ok':
        raise RuntimeError(f'OSRM server error: {data.get("message")}')
    return data


def _blocked(df: DataFrame, id_col: str, geometry: str, block_rows: int,
             prefix: str) -> DataFrame:
    """One row per block: ``<prefix>pts``, a list of (id, x, y) structs.

    Any partition of the points into <= block_rows groups yields exactly
    the full pair coverage (pairs = union over block-pair products), so
    blocks are cut from each scan partition in arrival order by one
    ``mapInPandas`` that also computes the centroids: no shuffle, no
    sort, no driver collect, and a task holds at most one block of
    points at a time.
    """
    pt = T.StructType([T.StructField('id', df.schema[id_col].dataType),
                       T.StructField('__x', T.DoubleType()),
                       T.StructField('__y', T.DoubleType())])
    col = f'{prefix}pts'

    def _cut(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from erde_spark.functions.geo import _wkb_point_fast
        from erde_spark.geo import geom as G
        from erde_spark.geo import ops as O
        block = []
        for pdf in batches:
            for i, g in zip(pdf['id'], pdf['g']):
                if g is None:
                    x = y = None
                else:
                    b = bytes(g)
                    x, y = O.geom_centroid(_wkb_point_fast(b) or G.wkb_loads(b))
                block.append((i, x, y))
                if len(block) == block_rows:
                    yield pd.DataFrame({col: [block]})
                    block = []
        if block:
            yield pd.DataFrame({col: [block]})

    return (df.select(F.col(id_col).alias('id'), F.col(geometry).alias('g'))
              .mapInPandas(_cut, schema=T.StructType([
                  T.StructField(col, T.ArrayType(pt))])))


TABLE_SCHEMA_BASE = [
    ('source', T.LongType()), ('destination', T.LongType()),
    ('source_snap', T.DoubleType()), ('destination_snap', T.DoubleType()),
    ('geometry', T.BinaryType()), ('geometry_dest', T.BinaryType()),
]


def _row_count_estimate(df: DataFrame) -> int | None:
    """Catalyst's row-count statistic for the optimized plan, or None
    when the optimizer doesn't know (no CBO stats / no literal source).
    A planning probe, not semantics — same discipline as the broadcast
    decision in ``scale.dedup``: read the estimate, never scan."""
    try:
        opt = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        return int(opt.get().longValue()) if opt.isDefined() else None
    except Exception:
        return None


def od_table(sources: DataFrame, destinations: DataFrame, router: str,
             max_table_size: int = 2_000, annotations: str = 'duration',
             retries: int = 10, source_id: str = 'sid', dest_id: str = 'did',
             geometry: str = 'geometry', extra_params: dict | None = None,
             n_sources: int | None = None,
             n_destinations: int | None = None) -> DataFrame:
    """All-pairs OD matrix as long rows.

    ``sources``/``destinations`` need an id column and a Point
    ``geometry``. Output: (source, destination, <annotations...>,
    source_snap, destination_snap, geometry, geometry_dest) where ids are
    the input id values and geometries are the input points.

    The block split needs the two cardinalities. Pass ``n_sources`` /
    ``n_destinations`` when the caller knows them (or wants to bound
    them); otherwise Catalyst's row-count estimate is used, and only when
    the optimizer doesn't know either does a count job run. Estimates are
    safe in BOTH directions: ``split_block_shape`` returns per-block row
    CAPS with br*bc <= max_table_size on every path, so a wrong
    cardinality only changes block granularity, never the per-request
    cell bound.
    """
    ann = sorted(set(annotations.split(',')))
    if set(ann) - {'duration', 'distance'}:
        raise ValueError("annotations must be 'duration', 'distance' or "
                         "'duration,distance'")
    host = resolve_router(router)
    n_src = (n_sources if n_sources is not None
             else _row_count_estimate(sources) or sources.count())
    n_dst = (n_destinations if n_destinations is not None
             else _row_count_estimate(destinations) or destinations.count())
    br, bc = split_block_shape(n_src, n_dst, max_table_size)

    sb = _blocked(sources, source_id, geometry, br, '__s')
    db = _blocked(destinations, dest_id, geometry, bc, '__d')
    blocks = sb.crossJoin(db)

    fields = [T.StructField(n, t) for n, t in TABLE_SCHEMA_BASE]
    for a in ann:
        fields.insert(2, T.StructField(a, T.DoubleType()))
    out_schema = T.StructType(fields)
    col_names = [f.name for f in fields]
    ann_str = ','.join(ann)

    def _kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from erde_spark.geo import geom as G
        for pdf in batches:
            for _, row in pdf.iterrows():
                spts = row['__spts']
                dpts = row['__dpts']
                s_xy = [(p['__x'], p['__y']) for p in spts]
                d_xy = [(p['__x'], p['__y']) for p in dpts]
                data = _table_request(host, s_xy, d_xy, ann_str, retries, extra_params)
                out = {}
                ns, nd = len(spts), len(dpts)
                out['source'] = [spts[i]['id'] for i in range(ns) for _ in range(nd)]
                out['destination'] = [dpts[j]['id'] for _ in range(ns) for j in range(nd)]
                for a in ann:
                    m = data[f'{a}s']
                    out[a] = [None if m[i][j] is None else float(m[i][j])
                              for i in range(ns) for j in range(nd)]
                ssnap = [s.get('distance') for s in data['sources']]
                dsnap = [d.get('distance') for d in data['destinations']]
                out['source_snap'] = [ssnap[i] for i in range(ns) for _ in range(nd)]
                out['destination_snap'] = [dsnap[j] for _ in range(ns) for j in range(nd)]
                sgeom = [G.wkb_dumps(('Point', xy)) for xy in s_xy]
                dgeom = [G.wkb_dumps(('Point', xy)) for xy in d_xy]
                out['geometry'] = [sgeom[i] for i in range(ns) for _ in range(nd)]
                out['geometry_dest'] = [dgeom[j] for _ in range(ns) for j in range(nd)]
                yield pd.DataFrame(out, columns=col_names)

    return blocks.mapInPandas(_kernel, schema=out_schema)


def od_table_lines(sources: DataFrame, destinations: DataFrame, router: str,
                   keep_columns: list[str] | None = None, **kw) -> DataFrame:
    """CLI-shape result (reference ``table.main``,
    `erde/op/table.py:193-234`): straight LineString between each pair
    instead of the two endpoint points, plus optional attribute
    re-attachment from either side by id."""
    from erde_spark.functions.geo import st_linestring_between
    out = od_table(sources, destinations, router, **kw)
    out = (out.withColumn('geometry', st_linestring_between(
               F.col('geometry'), F.col('geometry_dest')))
           .drop('geometry_dest'))
    if keep_columns:
        sid = kw.get('source_id', 'sid')
        did = kw.get('dest_id', 'did')
        s_keep = [c for c in keep_columns if c in sources.columns]
        d_keep = [c for c in keep_columns if c in destinations.columns]
        missing = set(keep_columns) - set(s_keep) - set(d_keep)
        if missing:
            raise KeyError(f'keep_columns not present in either side: {sorted(missing)}')
        if s_keep:
            s = sources.select(F.col(sid).alias('source'),
                               *[F.col(c).alias(c if c not in out.columns else c + '_source')
                                 for c in s_keep])
            out = out.join(F.broadcast(s), 'source', 'left')
        if d_keep:
            d = destinations.select(F.col(did).alias('destination'),
                                    *[F.col(c).alias(c if c not in out.columns else c + '_dest')
                                      for c in d_keep])
            out = out.join(F.broadcast(d), 'destination', 'left')
    return out
