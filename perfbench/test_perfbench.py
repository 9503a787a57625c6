"""The benchmark's own tests.

    python3 -m pytest perfbench/ -q

The Spark tests start one local session and run the workloads at their
tiny sizes; the end-to-end test runs ``run.py`` twice as a
subprocess, so the whole file takes a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

import gen
import metrics
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _inputs(cls, seed: int, root: str) -> dict:
    """sha256 of every input file a workload generates for ``seed``."""
    cls(seed, root)
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), 'rb') as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = \
                    hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize('cls', list(workloads.WORKLOADS.values()), ids=list(workloads.WORKLOADS))
def test_same_seed_gives_identical_inputs(tmp_path, cls):
    a = _inputs(cls, 5, str(tmp_path / 'a'))
    b = _inputs(cls, 5, str(tmp_path / 'b'))
    c = _inputs(cls, 6, str(tmp_path / 'c'))
    assert a and a == b
    assert a.keys() == c.keys() and all(a[k] != c[k] for k in a)


def test_stream_batches_have_fixed_increasing_mtimes(tmp_path):
    w = workloads.Stream(3, str(tmp_path))
    files = sorted(os.listdir(w.in_dir))
    mtimes = [os.stat(os.path.join(w.in_dir, f)).st_mtime for f in files]
    assert len(files) == w.n_batches and mtimes == sorted(set(mtimes))


def test_planted_truth_closed_forms():
    # a 1x1 km-ish rectangle at the equator is nearly Euclidean
    a = gen.metric_rect_area(0.0, 0.0, 0.01, 0.01)
    assert a == pytest.approx((gen.R_EARTH * 0.01 * 3.141592653589793 / 180) ** 2, rel=1e-4)
    assert gen.BUFFER_AREA == pytest.approx(3.14159 * gen.BUFFER_M ** 2, rel=1e-2)
    t = gen.corpus(1, 400, n_batches=3)['truth']
    assert t['groups'] < t['kept_rows'] < t['docs']


def test_metric_value_parsing():
    assert tracing.metric_value('total (min, med, max (stageId: taskId))\n'
                                '1.4 s (255 ms, 445 ms, 452 ms (stage 1.0: task 6))') == 1.4
    assert tracing.metric_value('41 ms') == pytest.approx(0.041)
    assert tracing.metric_value('2.0 KiB') == 2048.0
    assert tracing.metric_value('100,000') == 100000.0


def test_summary_and_growth():
    s = metrics.summary(list(range(1, 31)))
    assert s['n'] == 30 and s['p50'] == 15.5 and 'p66' in s
    assert sum(v > s['p66'] for v in range(1, 31)) >= 10
    assert metrics.summary([1.0, 2.0])['n'] == 2
    assert metrics.batch_growth([9.0, 1.0, 2.0]) == 2.0
    assert metrics.batch_growth([9.0, 1.0, 1.0, 7.0, 3.0, 3.0]) == 3.0
    assert metrics.batch_growth([9.0, 1.0]) == 0.0


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(REPO, 'BENCHMARK.json')) as f:
        b = json.load(f)
    assert [w['name'] for w in b['workloads']] == list(workloads.WORKLOADS)
    assert [(m['name'], m['unit'], m['better'], m['bound']) for m in b['end_to_end']] \
        == metrics.END_TO_END
    assert [(m['name'], m['unit'], m['better']) for m in b['per_layer']] \
        == [row[:3] for row in metrics.PER_LAYER]
    assert all(row[4] and set(row[4].split()) <= set(workloads.WORKLOADS)
               for row in metrics.PER_LAYER)


# ---------------------------------------------------------------- Spark

@pytest.fixture(scope='module')
def spark(tmp_path_factory):
    import run
    run.configure_env(str(tmp_path_factory.mktemp('spark')))
    from erde_spark.session import get_spark
    s = get_spark(app_name='perfbench_tests')
    yield s
    run.stop_spark(s)


@pytest.fixture(scope='module')
def osrm():
    from osrm import CountingOsrm
    server = CountingOsrm(REPO)
    yield server
    server.close()


def _run_checks(spark, osrm, w, out):
    import run
    from tracing import Tracer
    ctx = run.Context(spark, Tracer(True), osrm)
    checks = w.run(ctx, out)
    return {name: bool(fn()) for name, fn in checks}, ctx


@pytest.mark.parametrize('name', list(workloads.WORKLOADS))
def test_oracles_pass_on_tiny_seed_and_catch_a_wrong_truth(spark, osrm, tmp_path, name):
    w = workloads.WORKLOADS[name](9, str(tmp_path / 'in'), tiny=True)
    results, _ = _run_checks(spark, osrm, w, str(tmp_path / 'out1'))
    assert results and all(results.values()), results
    if name == 'geo':
        # isochrones around a source moved by ~500 m must fail
        iso_xy = w.truth['iso_xy']
        w.truth['iso_xy'] = (iso_xy[0] + 0.005, iso_xy[1])
        assert not w._check_iso(str(tmp_path / 'out1' / 'iso.parquet'))
        w.truth['iso_xy'] = iso_xy
    # a planted truth off by one must fail its check
    key = 'aoi_pid_sum' if name == 'geo' else 'kept_id_sum'
    w.truth[key] += 1
    results, _ = _run_checks(spark, osrm, w, str(tmp_path / 'out2'))
    assert not all(results.values())


def _py_nodes(plan: str) -> int:
    return sum(plan.count(n + ' ') + plan.count(n + '\n') for n in tracing.PY_NODES)


def test_timed_sinks_keep_every_python_eval_node(spark, osrm, tmp_path, monkeypatch):
    """Each timed noop sink runs as many Python-eval nodes as the step's
    DataFrame plans: nothing is pruned the way a count() prunes."""
    planned = []
    real_noop = workloads.noop

    def recording_noop(df):
        planned.append(_py_nodes(df._jdf.queryExecution().executedPlan().toString()))
        real_noop(df)

    monkeypatch.setattr(workloads, 'noop', recording_noop)
    store = tracing.StatusStore(spark)
    w = workloads.Geo(9, str(tmp_path / 'in'), tiny=True)
    results, _ = _run_checks(spark, osrm, w, str(tmp_path / 'out'))
    assert all(results.values())
    execs = store.harvest()['execs']
    noop_execs = sorted((e for e in execs if any('NoopWrite' in n['desc'] for n in e['nodes'])),
                        key=lambda e: e['id'])
    ran = [sum(1 for n in e['nodes'] if n['name'] in tracing.PY_NODES) for e in noop_execs]
    assert ran == planned and all(planned)


def test_every_metric_printed_with_its_unit():
    env = dict(os.environ)
    for trace, table in ((0, metrics.END_TO_END), (1, metrics.PER_LAYER)):
        r = subprocess.run([sys.executable, 'perfbench/run.py', '--workload', 'stream',
                            '--seed', '2', '--seconds', '1', '--trace', str(trace)],
                           cwd=REPO, capture_output=True, text=True, env=env, timeout=600)
        assert r.returncode == 0, r.stderr[-3000:]
        lines = r.stdout.strip().split('\n')
        res = json.loads(lines[-1])
        assert set(res) == {'correct', 'attempted', 'failed', 'metrics'}
        assert res['correct'] and res['failed'] == 0 and res['attempted'] > 0
        assert {n: u for n, u, *_ in table} == {n: m['unit'] for n, m in res['metrics'].items()}
        printed = {ln.split()[0]: ln.split()[-1] for ln in lines[:-1] if len(ln.split()) == 3}
        for n, u, *_ in table:
            assert printed.get(n) == u, n


def test_fails_without_the_engine(tmp_path):
    """Next to BENCHMARK.json and the benchmark alone, the run fails fast
    and prints no result."""
    import shutil
    shutil.copy(os.path.join(REPO, 'BENCHMARK.json'), tmp_path)
    shutil.copytree(HERE, tmp_path / 'perfbench',
                    ignore=shutil.ignore_patterns('__pycache__'))
    r = subprocess.run([sys.executable, 'perfbench/run.py', '--workload', 'geo', '--seed', '1',
                        '--seconds', '1', '--trace', '0'],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout
