"""Measure the driver merge-loop bounds at their edges (round-7 verdict
ask #6): latency + driver memory of ``dedup_clusters`` as the
(id, band, bh) bucket table approaches _MICROBATCH_BUCKET_CAP and just
past it (the distributed path engages), vs the same call with
_MICROBATCH_BUCKET_CAP = 0 (always distributed) on the same corpus.
Bucket rows = docs x bands, so the bucket bound binds first on real
batches (edges need a dup-dense corpus to approach 100k).

Usage: python tools/measure_merge_bounds.py   -> markdown rows for SCALE.md
"""
import sys
import time
import tracemalloc

sys.path.insert(0, '.')

from pyspark.sql import functions as F  # noqa: E402


def corpus(spark, n_docs):
    """n_docs short docs in identical PAIRS (n_docs/2 verified edges),
    16 tokens each — content derived from doc_id arithmetic."""
    return (spark.range(n_docs).select(
        F.col('id').alias('doc_id'),
        F.concat_ws(' ', *[
            F.md5(F.concat_ws('-', ((F.col('id') / 2).cast('long'))
                              .cast('string'), F.lit(str(i))))
            for i in range(16)]).alias('text')))


def main():
    import erde_spark.scale.dedup as D
    from erde_spark.session import get_spark
    spark = get_spark(app_name='merge_bounds')
    orig = D._microbatch_spanning_clusters
    cap = D._MICROBATCH_BUCKET_CAP
    seen = {}

    def spy(df, id_col, edges, buckets, *a, **kw):
        seen['buckets'] = buckets.count()
        seen['edges'] = edges.count()
        out = orig(df, id_col, edges, buckets, *a, **kw)
        seen['engaged'] = out is not None
        return out

    def best_of_3(bucket_cap):
        D._MICROBATCH_BUCKET_CAP = bucket_cap
        best, peak = float('inf'), 0
        for _ in range(3):
            tracemalloc.start()
            t0 = time.perf_counter()
            D.dedup_clusters(docs, threshold=0.9).count()
            dt = time.perf_counter() - t0
            _, pk = tracemalloc.get_traced_memory()
            tracemalloc.stop()
            best, peak = min(best, dt), max(peak, pk)
        return best, peak

    # bands for threshold=0.9 / num_perm=96
    bands = D._threshold_bands(96, 0.9)
    print(f'bands at t=0.9/96 perm: {bands}', file=sys.stderr)
    print('| docs | bucket rows | edge rows | path | wall s | '
          'driver peak MB | distributed s |')
    print('|---|---|---|---|---|---|---|')
    for n_docs in (4_000, 12_000, cap // bands, cap // bands + 2_000):
        docs = corpus(spark, n_docs).localCheckpoint(eager=True)
        D._microbatch_spanning_clusters = spy
        D.dedup_clusters(docs, threshold=0.9).count()  # warm + sizes
        D._microbatch_spanning_clusters = orig
        best, peak = best_of_3(cap)
        dist_best, _ = best_of_3(0)
        D._MICROBATCH_BUCKET_CAP = cap
        path = 'driver' if seen['engaged'] else 'distributed'
        print(f'| {n_docs} | {seen["buckets"]} | {seen["edges"]} | {path} '
              f'| {best:.2f} | {peak / 1e6:.0f} | {dist_best:.2f} |')
        docs.unpersist()


if __name__ == '__main__':
    main()
