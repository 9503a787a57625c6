"""The benchmark's metrics: what each one measures, which end-to-end
metric it should move and on which workload, and how a traced pass's
spans and status-store records turn into per-layer numbers.

``BENCHMARK.json`` lists the same names; the benchmark's own tests keep
the two in step.
"""

from __future__ import annotations

import re
import statistics

from tracing import PY_NODES, union_s

# name, unit, better, bound
END_TO_END = [
    ('setup_s', 's', 'lower', 0.25),
    ('wall_s', 's', 'lower', 0.25),
    ('rows_per_s', '1/s', 'higher', 0.25),
    ('cpu_s', 's', 'lower', 0.25),
    ('peak_rss_mb', 'MB', 'lower', 0.25),
]

# name, unit, better, the end-to-end metric it should move, on which workload
PER_LAYER = [
    ('session.start_s', 's', 'lower', 'setup_s', 'geo stream'),
    ('session.warm_s', 's', 'lower', 'setup_s', 'geo stream'),
    ('io.read.call_s', 's', 'lower', 'wall_s', 'geo stream'),
    ('io.read.scan_s', 's', 'lower', 'wall_s', 'geo stream'),
    ('io.read.bytes', 'B', 'lower', 'wall_s', 'geo stream'),
    ('io.read.files', 'count', 'lower', 'wall_s', 'geo stream'),
    ('io.read.bytes_per_row', 'B', 'lower', 'wall_s', 'geo stream'),
    ('io.write.call_s', 's', 'lower', 'wall_s', 'stream'),
    ('io.write.commit_s', 's', 'lower', 'wall_s', 'stream'),
    ('io.write.files', 'count', 'lower', 'wall_s', 'stream'),
    ('io.write.bytes', 'B', 'lower', 'wall_s', 'stream'),
    ('geo.py_run_s', 's', 'lower', 'wall_s cpu_s', 'geo'),
    ('geo.py_start_s', 's', 'lower', 'wall_s cpu_s', 'geo'),
    ('geo.py_bytes_sent', 'B', 'lower', 'wall_s cpu_s', 'geo'),
    ('geo.py_bytes_returned', 'B', 'lower', 'wall_s cpu_s', 'geo'),
    ('geo.py_rows', 'count', 'lower', 'wall_s cpu_s', 'geo'),
    ('geo.py_us_per_row', 'us', 'lower', 'wall_s cpu_s', 'geo'),
    ('op.sjoin_s', 's', 'lower', 'wall_s', 'geo'),
    ('op.sagg_s', 's', 'lower', 'wall_s', 'geo'),
    ('op.measure_s', 's', 'lower', 'wall_s', 'geo'),
    ('op.convert_s', 's', 'lower', 'wall_s', 'geo'),
    ('op.candidate_pairs', 'count', 'lower', 'wall_s', 'geo'),
    ('op.refine_hit_ratio', 'ratio', 'higher', 'wall_s', 'geo'),
    ('op.broadcast_s', 's', 'lower', 'wall_s', 'geo'),
    ('routing.od_s', 's', 'lower', 'wall_s', 'geo'),
    ('routing.isochrone_s', 's', 'lower', 'wall_s', 'geo'),
    ('routing.requests', 'count', 'lower', 'wall_s', 'geo'),
    ('routing.server_s', 's', 'lower', 'wall_s', 'geo'),
    ('routing.retries', 'count', 'lower', 'wall_s', 'geo'),
    ('scale.curate_s', 's', 'lower', 'wall_s', 'stream'),
    ('scale.py_run_s', 's', 'lower', 'wall_s cpu_s', 'stream'),
    ('scale.jobs', 'count', 'lower', 'batch_p50_s', 'stream'),
    ('scale.kept_ratio', 'ratio', 'lower', 'wall_s', 'stream'),
    ('stream.batches', 'count', 'lower', 'wall_s', 'stream'),
    ('stream.jobs_per_batch', 'count', 'lower', 'wall_s', 'stream'),
    ('stream.batch_dedup_s', 's', 'lower', 'wall_s', 'stream'),
    ('stream.store_join_s', 's', 'lower', 'wall_s', 'stream'),
    ('stream.writes_s', 's', 'lower', 'wall_s', 'stream'),
    ('stream.store_read_bytes', 'B', 'lower', 'wall_s', 'stream'),
    ('stream.batch_p50_s', 's', 'lower', 'wall_s', 'stream'),
    ('stream.batch_growth', 'ratio', 'lower', 'wall_s', 'stream'),
    ('spark.jobs', 'count', 'lower', 'wall_s', 'stream'),
    ('spark.stages', 'count', 'lower', 'wall_s', 'stream'),
    ('spark.tasks', 'count', 'lower', 'wall_s', 'stream'),
    ('spark.exec_run_s', 's', 'lower', 'wall_s cpu_s', 'geo stream'),
    ('spark.exec_cpu_s', 's', 'lower', 'cpu_s', 'geo stream'),
    ('spark.gc_s', 's', 'lower', 'wall_s peak_rss_mb', 'geo stream'),
    ('spark.codegen_s', 's', 'lower', 'wall_s', 'geo stream'),
    ('spark.shuffle_write_bytes', 'B', 'lower', 'wall_s', 'stream'),
    ('spark.shuffle_read_bytes', 'B', 'lower', 'wall_s', 'stream'),
    ('spark.fetch_wait_s', 's', 'lower', 'wall_s', 'stream'),
    ('spark.spill_bytes', 'B', 'lower', 'wall_s peak_rss_mb', 'stream'),
    ('spark.core_util', 'ratio', 'higher', 'wall_s', 'geo'),
    ('spark.driver_gap_s', 's', 'lower', 'wall_s', 'stream'),
]

# span-duration metrics: the span (a step or a call inside one) they time
_SPAN_METRICS = {'op.sjoin_s': 'sjoin', 'op.sagg_s': 'sagg', 'op.measure_s': 'measure',
                 'routing.od_s': 'routing.table', 'routing.isochrone_s': 'routing.isochrone',
                 'scale.curate_s': 'commit'}
_BATCH_JOB = re.compile(r'^neardup b(\d+): (.+)$')


def summary(values: list[float]) -> dict:
    """Median, plus the highest percentile that leaves at least ten
    samples above it, with the sample count."""
    v = sorted(values)
    n = len(v)
    out = {'p50': statistics.median(v) if v else None, 'n': n}
    if n >= 20:
        q = (n - 10) * 100 // n
        out[f'p{q}'] = v[min(n - 1, max(0, -(-q * n // 100) - 1))]
    return out


def _py(nodes) -> dict:
    t = {'run': 0.0, 'start': 0.0, 'sent': 0.0, 'ret': 0.0, 'rows': 0.0}
    for n in nodes:
        if n['name'] in PY_NODES:
            m = n['metrics']
            t['run'] += m.get('time to run Python workers', 0.0)
            t['start'] += (m.get('time to start Python workers', 0.0)
                           + m.get('time to initialize Python workers', 0.0))
            t['sent'] += m.get('data sent to Python workers', 0.0)
            t['ret'] += m.get('data returned from Python workers', 0.0)
            t['rows'] += m.get('number of output rows', 0.0)
    return t


def pass_layers(p: dict, cores: int) -> dict:
    """Per-layer numbers of one traced pass.

    ``p`` holds the pass's spans, its harvested jobs, stages and SQL
    executions, its wall time and the benchmark's own counters. Jobs and
    executions belong to the step span that was open when they were
    submitted."""
    spans, wall = p['spans'], p['wall_s']
    steps = [s for s in spans if s['layer'] == 'step']

    def step_of(t_ms):
        for s in steps:
            if s['start_ms'] <= t_ms <= s['end_ms']:
                return s
        return None

    execs = p['execs']
    for e in execs:
        s = step_of(e['submit_ms'])
        e['step'] = s['name'] if s else None
        e['kind'] = s['attrs'].get('kind') if s else None
    jobs = p['jobs']
    job_stages = {sid for j in jobs for sid in j['stageIds']}
    stages = [s for s in p['stages'] if s['stageId'] in job_stages and s['status'] == 'COMPLETE']
    nodes = [n for e in execs for n in e['nodes']]

    def msum(names, metric, where=lambda e: True):
        return sum(n['metrics'].get(metric, 0.0) for e in execs if where(e)
                   for n in e['nodes'] if n['name'].startswith(names))

    def span_sum(layer):
        return sum(s['dur_s'] for s in spans if s['layer'] == layer)

    m = {}
    m['io.read.call_s'] = span_sum('io.read')
    m['io.write.call_s'] = span_sum('io.write')
    m['io.read.scan_s'] = msum(('Scan ',), 'scan time')
    m['io.read.bytes'] = msum(('Scan ',), 'size of files read')
    m['io.read.files'] = msum(('Scan ',), 'number of files read')
    counts = p['counts']
    read_bytes = msum(('Scan ',), 'size of files read', lambda e: e['step'] == p['read_step'])
    m['io.read.bytes_per_row'] = read_bytes / counts['read_rows']
    m['io.write.commit_s'] = sum(n['metrics'].get('task commit time', 0.0)
                                 + n['metrics'].get('job commit time', 0.0) for n in nodes)
    m['io.write.files'] = sum(n['metrics'].get('number of written files', 0.0) for n in nodes)
    m['io.write.bytes'] = sum(n['metrics'].get('written output', 0.0) for n in nodes)

    geo = _py(n for e in execs if e['kind'] == 'geo' for n in e['nodes'])
    m['geo.py_run_s'] = geo['run']
    m['geo.py_start_s'] = geo['start']
    m['geo.py_bytes_sent'] = geo['sent']
    m['geo.py_bytes_returned'] = geo['ret']
    m['geo.py_rows'] = geo['rows']
    m['geo.py_us_per_row'] = geo['run'] / geo['rows'] * 1e6 if geo['rows'] else 0.0

    for metric, name in _SPAN_METRICS.items():
        m[metric] = sum(s['dur_s'] for s in spans if s['name'] == name)
    # convert is lazy: its cost is the transform UDF's Python time
    m['op.convert_s'] = sum(n['metrics'].get('time to run Python workers', 0.0)
                            for e in execs if e['kind'] == 'geo' for n in e['nodes']
                            if n['name'] in PY_NODES and '_tf(' in n['desc'])
    cand = sum(n['metrics'].get('number of output rows', 0.0) for e in execs
               if e['step'] == 'sjoin' for n in e['nodes']
               if n['name'] in PY_NODES and '_pr(' in n['desc'])
    m['op.candidate_pairs'] = cand
    m['op.refine_hit_ratio'] = counts.get('sjoin_rows', 0) / cand if cand else 0.0
    m['op.broadcast_s'] = (msum(('BroadcastExchange',), 'time to build', lambda e: e['kind'] == 'geo')
                           + msum(('BroadcastExchange',), 'time to broadcast',
                                  lambda e: e['kind'] == 'geo'))

    osrm = p.get('osrm', {})
    m['routing.requests'] = osrm.get('requests', 0)
    m['routing.server_s'] = osrm.get('server_s', 0.0)
    m['routing.retries'] = osrm.get('retries', 0)

    scale = _py(n for e in execs if e['kind'] in ('scale', 'stream') for n in e['nodes'])
    m['scale.py_run_s'] = scale['run']
    m['scale.kept_ratio'] = counts.get('kept_ratio', 0.0)

    m.update(_stream_layers(p, jobs, {s['stageId']: s for s in stages}))

    m['spark.jobs'] = len(jobs)
    m['spark.stages'] = len(stages)
    m['spark.tasks'] = sum(s['numCompleteTasks'] for s in stages)
    m['spark.exec_run_s'] = sum(s['executorRunTime'] for s in stages) / 1e3
    m['spark.exec_cpu_s'] = sum(s['executorCpuTime'] for s in stages) / 1e9
    m['spark.gc_s'] = sum(s['jvmGcTime'] for s in stages) / 1e3
    m['spark.codegen_s'] = msum(('WholeStageCodegen',), 'duration')
    m['spark.shuffle_write_bytes'] = sum(s['shuffleWriteBytes'] for s in stages)
    m['spark.shuffle_read_bytes'] = sum(s['shuffleReadBytes'] for s in stages)
    m['spark.fetch_wait_s'] = sum(s['shuffleFetchWaitTime'] for s in stages) / 1e3
    m['spark.spill_bytes'] = sum(s['diskBytesSpilled'] for s in stages)
    m['spark.core_util'] = m['spark.exec_run_s'] / (wall * cores)
    busy = union_s([(max(j['submissionTime'], p['start_ms']),
                     min(j.get('completionTime') or p['end_ms'], p['end_ms'])) for j in jobs])
    m['spark.driver_gap_s'] = max(0.0, wall - busy)
    return m


def _stream_layers(p, jobs, stages) -> dict:
    phases: dict[tuple[int, str], list] = {}
    for j in jobs:
        mt = _BATCH_JOB.match(j.get('description') or '')
        if mt:
            phases.setdefault((int(mt.group(1)), mt.group(2)), []).append(j)
    batches = sorted({b for b, _ in phases})
    m = {'stream.batches': p['counts'].get('batches', 0)}
    n_jobs = sum(len(v) for v in phases.values())
    m['stream.jobs_per_batch'] = n_jobs / len(batches) if batches else 0.0
    # jobs of one dedup_clusters call: its batch's 'batch dedup' phase
    dedup_jobs = [len(phases[(b, 'batch dedup')]) for b in batches if (b, 'batch dedup') in phases]
    m['scale.jobs'] = statistics.median(dedup_jobs) if dedup_jobs else 0.0

    def phase_s(phase):
        v = [union_s([(j['submissionTime'], j['completionTime']) for j in phases[(b, phase)]])
             for b in batches if (b, phase) in phases]
        return statistics.median(v) if v else 0.0
    m['stream.batch_dedup_s'] = phase_s('batch dedup')
    m['stream.store_join_s'] = phase_s('store join')
    m['stream.writes_s'] = phase_s('writes')
    store = [sum(stages[s]['inputBytes'] for j in phases[(b, 'store join')]
                 for s in j['stageIds'] if s in stages)
             for b in batches if b > 0 and (b, 'store join') in phases]
    m['stream.store_read_bytes'] = statistics.mean(store) if store else 0.0
    lat = p.get('batch_latency', [])
    m['stream.batch_p50_s'] = statistics.median(lat) if lat else 0.0
    m['stream.batch_growth'] = batch_growth(lat)
    return m


def batch_growth(lat: list[float]) -> float:
    """Mean latency of the last half of batches 1..n-1 over that of the
    first half (the middle batch of an odd count is in neither); batch 0
    has no store to join against and is left out."""
    h = (len(lat) - 1) // 2
    early, late = lat[1:1 + h], lat[len(lat) - h:]
    if not early or not late:
        return 0.0
    return statistics.mean(late) / statistics.mean(early)
