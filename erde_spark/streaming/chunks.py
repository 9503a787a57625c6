"""Chunk-stream API parity with the reference's ``read_stream`` /
``write_stream`` (`/root/reference/erde/__init__.py:95-150`,
`erde/io/base.py`).

The reference streams <=10k-row pandas chunks through background
processes with bounded queues; on Spark a DataFrame already *is* a
partitioned, pipelined, back-pressured chunk stream, so:

* ``read_stream(path)``  -> a DataFrame, optionally spatially prefiltered
  (the reference's ``geometry_filter`` pushdown). ``chunk_size`` is
  accepted for parity with the reference's signature and ignored: the
  scan's own partitions are the chunks, and repartitioning to a row
  target would add a shuffle;
* ``write_stream(path)`` -> a context manager whose calls append
  DataFrames to one sink (the reference's multi-chunk writer), with
  partial-output cleanup on failure (reference ``_cancel``,
  `erde/io/base.py:385-390`);
* ``as_local_chunks(df)``-> driver-side iterator of pandas chunks for
  code that genuinely wants the reference's ``for chunk in stream`` shape
  (convenience only — it serializes through the driver and is NOT the
  scale path; use operators on the DataFrame instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CHUNK_SIZE = 10_000


def read_stream(path: str, geometry_filter=None, chunk_size: int = DEFAULT_CHUNK_SIZE,
                spark: SparkSession | None = None, **kw) -> DataFrame:
    """Open ``path`` as a (lazily evaluated) chunk stream.
    ``chunk_size`` is accepted for reference-API parity and ignored."""
    from erde_spark.io import read_df
    df = read_df(path, spark, **kw)
    if geometry_filter is not None:
        df = _apply_geometry_filter(df, geometry_filter, spark)
    return df


def _apply_geometry_filter(df: DataFrame, geometry_filter, spark) -> DataFrame:
    """Reference's scan-time spatial mask (`erde/io/base.py:63-88`):
    accepts a path, a kernel geometry tuple, WKT, or a DataFrame with a
    geometry column; rows whose geometry does not intersect it (null
    geometry included) are dropped.

    A WKT or kernel-geometry mask is parsed on the driver and applied as
    ONE filter on a predicate pandas UDF that carries the parsed mask in
    its closure: one Python pass over the scan, no join, no shuffle, no
    broadcast. A DataFrame or path mask goes through ``sfilter`` (the
    spatial semi join), since its geometries are only known to Spark.

    When the source is a GeoParquet file carrying a 1.1 ``bbox``
    covering column, a coarse envelope-overlap predicate on the
    covering struct is prepended BEFORE the exact test: those are plain
    double comparisons on scan columns, so Spark pushes them into the
    parquet reader (PushedFilters on bbox.xmin/… leaf stats) and row
    groups outside the mask's envelope are never read — the
    fiona-style bbox pushdown, re-expressed as parquet row-group
    pruning. Conservative by construction (envelope ⊇ geometry), so
    the exact test that follows keeps semantics."""
    from pyspark.sql import functions as F

    from erde_spark.geo import geom as G
    from erde_spark.geo import ops as O
    from erde_spark.geo.crs import get_covering
    spark = spark or SparkSession.getActiveSession()
    geom = fdf = env = None  # env: mask envelope (x0, y0, x1, y1)
    if isinstance(geometry_filter, DataFrame):
        fdf = geometry_filter
    elif isinstance(geometry_filter, str) and not geometry_filter.lstrip().startswith(
            ('POINT', 'LINESTRING', 'POLYGON', 'MULTI', 'GEOMETRY')):
        from erde_spark.io import read_df
        fdf = read_df(geometry_filter, spark)
    else:
        geom = G.wkt_loads(geometry_filter) if isinstance(geometry_filter, str) \
            else geometry_filter
        env = O.geom_bounds(geom)  # driver-side, no job
    cov = get_covering(df)
    if cov is not None:
        if env is None:
            # mask came as a DataFrame/path: one tiny agg job over the
            # (small) mask side buys row-group pruning on the big scan
            from erde_spark.functions.geo import st_bounds
            r = (fdf.select(st_bounds(F.col('geometry')).alias('b'))
                 .agg(F.min('b.minx'), F.min('b.miny'),
                      F.max('b.maxx'), F.max('b.maxy')).first())
            env = None if r is None or r[0] is None else tuple(r)
        if env is not None:
            x0, y0, x1, y1 = env
            c = F.col(cov)
            df = df.filter((c['xmin'] <= float(x1)) & (c['xmax'] >= float(x0))
                           & (c['ymin'] <= float(y1)) & (c['ymax'] >= float(y0)))
    if geom is not None:
        from erde_spark.functions.geo import st_intersects_geom
        return df.filter(st_intersects_geom(F.col('geometry'), geom))
    from erde_spark.operators.sjoin import sfilter
    return sfilter(df, fdf, op='intersects')


class StreamWriter:
    """Callable appending successive DataFrames into one sink."""

    def __init__(self, path: str):
        self.path = path
        self._first = True
        self._wrote = False
        self._chunks = 0

    def __call__(self, df: DataFrame) -> None:
        import os
        import sys
        from erde_spark.io import write_df
        write_df(df, self.path, mode='overwrite' if self._first else 'append')
        self._first = False
        self._wrote = True
        self._chunks += 1
        if os.environ.get('EPBAR') == '1':  # reference's chunk pbar analog
            print(f'\rwrite_stream {self.path}: {self._chunks} chunks',
                  end='', file=sys.stderr)

    def cancel(self) -> None:
        """Best-effort removal of partial output."""
        import shutil
        shutil.rmtree(self.path, ignore_errors=True)


class write_stream:
    """``with write_stream(path) as w: w(df); w(df2)`` — on exception the
    partial sink is removed, mirroring the reference's crash cleanup."""

    def __init__(self, path: str):
        self.writer = StreamWriter(path)

    def __enter__(self) -> StreamWriter:
        return self.writer

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is not None and self.writer._wrote:
            self.writer.cancel()
        return False


def as_local_chunks(df: DataFrame, chunk_size: int = DEFAULT_CHUNK_SIZE):
    """Driver-side pandas chunk iterator (convenience, not the scale path)."""
    import pandas as pd
    buf = []
    n = 0
    for row in df.toLocalIterator():
        buf.append(row.asDict())
        n += 1
        if n >= chunk_size:
            yield pd.DataFrame(buf)
            buf, n = [], 0
    if buf:
        yield pd.DataFrame(buf)
