"""erde_spark benchmark: one seeded workload, measured end to end or
traced layer by layer.

    python3 perfbench/run.py --workload geo --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. The process generates the
workload's inputs from ``--seed``, sets up (engine import, Spark
session, one warm-up pass over the same inputs), then repeats passes
until ``--seconds`` have gone by and at least two passes ran. Every
step's output is checked against the generator's planted truth.

The last stdout line is one JSON object: ``correct``, ``attempted`` and
``failed`` operations, and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` they are the per-layer ones,
from traced passes alternated with untraced ones so the tracing
overhead is measured too. Lines above it print every metric with its
unit. A JSON artifact with every pass, span and counter is written to
``.perfbench/out/``. All working files live under one directory in
``.perfbench/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
MIN_PASSES = 2      # measured passes per run, even past --seconds


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    from workloads import WORKLOADS
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(root: str) -> int:
    """Environment for Spark and its Python workers; returns the core
    count. Every temporary path points inside ``root``."""
    cores = len(os.sched_getaffinity(0))
    with open('/proc/meminfo') as f:
        total_gb = int(f.readline().split()[1]) / 1024 ** 2
    tmp = os.path.join(root, 'tmp')
    os.makedirs(tmp)
    os.environ.update({
        'SPARK_GRAFT_CPUS': str(cores),
        # the session default (48g) is sized for a large host
        'SPARK_GRAFT_DRIVER_MEM': f'{max(1, min(4, int(total_gb // 4)))}g',
        'SPARK_LOCAL_DIRS': os.path.join(root, 'spark-local'),
        'TMPDIR': tmp,
        'PYSPARK_PYTHON': sys.executable,
        'PYTHONPATH': os.pathsep.join(p for p in (REPO, os.environ.get('PYTHONPATH')) if p),
        'PYSPARK_SUBMIT_ARGS': (f'--driver-java-options "-Djava.io.tmpdir={tmp}" '
                                f'--conf spark.sql.warehouse.dir={os.path.join(root, "warehouse")} '
                                'pyspark-shell'),
    })
    sys.path.insert(0, REPO)
    return cores


def sentinel_cpu() -> float:
    """Host-drift sentinel with no repository code: a fixed md5 churn."""
    t0 = time.perf_counter()
    h = b'calibration'
    for _ in range(400_000):
        h = hashlib.md5(h).digest()
    return time.perf_counter() - t0


def sentinel_spark(spark) -> float:
    """Host-drift sentinel with no repository code: a fixed
    range -> shuffle -> aggregate job."""
    from pyspark.sql import functions as F
    t0 = time.perf_counter()
    (spark.range(0, 2_000_000, 1, 32)
     .groupBy((F.col('id') % 1024).alias('k'))
     .agg(F.sum('id').alias('s'))
     .agg(F.sum('s')).collect())
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and everything it started,
    and wait until no descendant of this process is left."""
    from pyspark import SparkContext

    from tracing import ProcTree
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, 'proc', None)
        if jvm is not None:
            jvm.stdin.close()       # the gateway JVM exits at EOF on stdin
            jvm.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    tree = ProcTree()
    deadline = time.time() + 60
    while len(tree.pids()) > 1 and time.time() < deadline:
        time.sleep(0.2)


class Context:
    """What a workload pass sees: the session, the tracer and the mock
    OSRM server, plus counters the pass reports back."""

    def __init__(self, spark, tracer, osrm):
        self.spark, self.tracer, self.osrm = spark, tracer, osrm
        self.counts: dict = {}
        self.batch_latency: list[float] = []

    def step(self, name: str, kind: str):
        """A timed step; ``kind`` names the layer it exercises."""
        return self.tracer.span(name, 'step', kind=kind)


class Bench:
    def __init__(self, args, root: str, cores: int):
        self.args, self.root, self.cores = args, root, cores
        self.n_dirs = 0
        self.attempted = self.failed = 0
        self.n_checks: dict[int, int] = {}
        self.failures: list[str] = []

    def fresh_dir(self, tag: str) -> str:
        self.n_dirs += 1
        d = os.path.join(self.root, f'{self.n_dirs:03d}-{tag}')
        os.makedirs(d)
        return d

    def run_pass(self, ctx, workload, tag: str, store=None) -> dict:
        """One pass; the clock covers the engine calls only."""
        from tracing import ProcTree
        proc = ProcTree()
        out = self.fresh_dir(tag)
        if store is not None:
            store.mark()
        if ctx.osrm:
            ctx.osrm.forget_urls()
            osrm0 = ctx.osrm.counters()
        proc.reset_peak()
        cpu0 = proc.cpu_s()
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        error = None
        try:
            checks = workload.run(ctx, out)
        except Exception:
            error = traceback.format_exc()
            checks = []
        wall = time.perf_counter() - t0
        end_ms = time.time() * 1000.0
        rec = {'wall_s': wall, 'cpu_s': proc.cpu_s() - cpu0, 'peak_rss_mb': proc.peak_rss_mb(),
               'start_ms': start_ms, 'end_ms': end_ms, 'counts': dict(ctx.counts),
               'batch_latency': list(ctx.batch_latency)}
        if ctx.osrm:
            osrm1 = ctx.osrm.counters()
            rec['osrm'] = {k: osrm1[k] - osrm0[k] for k in osrm1}
        if store is not None:
            rec.update(store.harvest())
        rec['checks'] = self.check(checks, error, workload)
        return rec

    def check(self, checks, error, workload) -> dict:
        """Run a pass's checks. A pass that raised fails every check it
        would have made (as many as its workload's last complete pass)."""
        results = {}
        for name, fn in checks:
            try:
                results[name] = bool(fn())
            except Exception:
                results[name] = False
                results[name + '.error'] = traceback.format_exc(limit=3)
        n = len(checks) if checks else self.n_checks.get(id(workload), 1)
        self.n_checks[id(workload)] = n
        n_ok = sum(results[name] for name, _ in checks)
        self.attempted += n
        self.failed += n - n_ok
        if error:
            results['error'] = error
        if n_ok < n:
            self.failures.append(json.dumps(results)[:2000])
        return results

    @staticmethod
    def hygiene(spark) -> None:
        """Between passes, outside the clock: drop the checkpoint blocks
        the previous pass left and every cached plan."""
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        spark.catalog.clearCache()

    def main(self) -> dict:
        import workloads
        from osrm import CountingOsrm
        from tracing import StatusStore, Tracer
        args = self.args
        cls = workloads.WORKLOADS[args.workload]
        # input generation is the benchmark's own cost: not in setup_s
        full = cls(args.seed, self.fresh_dir('input'))
        sentinels = {'cpu_before_s': sentinel_cpu()}

        spark = osrm = None
        try:
            # set-up: engine import, mock OSRM, session, then one pass over
            # the full-size inputs that takes the warm-up (JVM class loading
            # and JIT, Python workers, codegen) out of the measured passes
            t0 = time.perf_counter()
            from erde_spark.session import get_spark
            osrm = CountingOsrm(REPO) if args.workload == 'geo' else None
            spark = get_spark(app_name='perfbench')
            t1 = time.perf_counter()
            w = self.run_pass(Context(spark, Tracer(False), osrm), full, 'warm')
            setup = {'start_s': t1 - t0, 'warm_s': w['wall_s'],
                     'setup_s': t1 - t0 + w['wall_s'], 'checks': w['checks']}
            sentinels['spark_before_s'] = sentinel_spark(spark)
            store = StatusStore(spark) if args.trace else None

            passes = []
            t_start = time.perf_counter()
            while (len(passes) < MIN_PASSES
                   or time.perf_counter() - t_start < args.seconds):
                self.hygiene(spark)
                traced = bool(args.trace) and len(passes) % 2 == 0
                ctx = Context(spark, Tracer(traced), osrm)
                rec = self.run_pass(ctx, full, f'pass{len(passes)}',
                                    store if traced else None)
                rec['traced'] = traced
                if traced:
                    rec['spans'] = ctx.tracer.spans
                passes.append(rec)
            self.hygiene(spark)
            sentinels['spark_after_s'] = sentinel_spark(spark)
        finally:
            if spark is not None:
                stop_spark(spark)
            if osrm is not None:
                osrm.close()
        sentinels['cpu_after_s'] = sentinel_cpu()
        return self.report(full, setup, passes, sentinels)

    def report(self, workload, setup, passes, sentinels) -> dict:
        import metrics as M
        args = self.args
        med = statistics.median
        untraced = [p for p in passes if not p['traced']]
        traced = [p for p in passes if p['traced']]
        e2e_passes = untraced if untraced else passes
        wall = med([p['wall_s'] for p in e2e_passes])
        e2e = {
            'setup_s': setup['setup_s'],
            'wall_s': wall,
            'rows_per_s': workload.input_rows / wall,
            'cpu_s': med([p['cpu_s'] for p in e2e_passes]),
            'peak_rss_mb': med([p['peak_rss_mb'] for p in e2e_passes]),
        }
        artifact = {
            'workload': args.workload, 'seed': args.seed, 'seconds': args.seconds,
            'trace': args.trace, 'cores': self.cores, 'input_rows': workload.input_rows,
            'sentinels': sentinels, 'setup': setup,
            'wall_s': M.summary([p['wall_s'] for p in e2e_passes]),
            'end_to_end': e2e, 'failures': self.failures,
        }
        layers = {}
        if args.trace:
            per_pass = []
            for p in traced:
                p['read_step'] = workload.READ_STEP
                lm = M.pass_layers(p, self.cores)
                steps = [s for s in p['spans'] if s['layer'] == 'step']
                lm['_span_cover'] = sum(s['dur_s'] for s in steps) / p['wall_s']
                per_pass.append(lm)
            layers = {name: med([lm[name] for lm in per_pass]) for name in per_pass[0]}
            layers['session.start_s'] = setup['start_s']
            layers['session.warm_s'] = setup['warm_s']
            artifact['trace_overhead_s'] = (med([p['wall_s'] for p in traced]) - wall
                                            if untraced else None)
            artifact['span_cover'] = layers.pop('_span_cover')
            artifact['per_layer'] = layers
            artifact['batch_latency_s'] = M.summary(sum((p['batch_latency'] for p in passes), []))
        artifact['passes'] = passes

        out_dir = os.path.join(REPO, '.perfbench', 'out')
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f'{args.workload}-seed{args.seed}-trace{args.trace}.json')
        with open(path, 'w') as f:
            json.dump(artifact, f, default=str)

        if args.trace:
            table = [(n, layers[n], u) for n, u, *_ in M.PER_LAYER]
        else:
            table = [(n, e2e[n], u) for n, u, *_ in M.END_TO_END]
        extra = [('fail_ratio', self.failed / max(1, self.attempted), 'ratio'),
                 ('wall_s.samples', len(e2e_passes), 'count')]
        extra += [(f'wall_s.{k}', v, 's') for k, v in artifact['wall_s'].items()
                  if k not in ('p50', 'n')]
        if args.trace:
            extra += [('trace.span_cover', artifact['span_cover'], 'ratio'),
                      ('trace.overhead_s', artifact['trace_overhead_s'] or 0.0, 's')]
        for n, v, u in table + extra:
            print(f'{n:28s} {v:16.6f} {u}')
        for msg in self.failures:
            print('FAILED', msg, file=sys.stderr)
        return {'correct': self.failed == 0, 'attempted': self.attempted, 'failed': self.failed,
                'metrics': {n: {'value': v, 'unit': u} for n, v, u in table}}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its working root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(REPO, '.perfbench')
    os.makedirs(work, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f'run-{args.workload}-', dir=work)
    try:
        cores = configure_env(root)
        result = Bench(args, root, cores).main()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        with contextlib.suppress(OSError):
            shutil.rmtree(root)
    print(json.dumps(result))
    return 0


if __name__ == '__main__':
    sys.exit(main())
