"""Measurement from outside the engine: step spans, process-tree
counters from ``/proc``, and Spark's status store harvested per pass.

Nothing here calls into ``erde_spark``. Spans are kept in memory and
written out when the run ends. Jobs and SQL executions belong to the
step span whose interval holds their submission time, so the job ids a
step owns form one contiguous window.
"""

from __future__ import annotations

import contextlib
import os
import re
import time

_CLK = os.sysconf('SC_CLK_TCK')

# physical nodes that run Python workers
PY_NODES = ('ArrowEvalPython', 'BatchEvalPython', 'MapInPandas', 'MapInArrow',
            'FlatMapGroupsInPandas', 'FlatMapGroupsInArrow', 'FlatMapCoGroupsInPandas',
            'AggregateInPandas', 'WindowInPandas', 'PythonMapInArrow')


class Tracer:
    """Nested step spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {'id': len(self.spans), 'name': name, 'layer': layer,
               'parent': self._stack[-1] if self._stack else None,
               'start_ms': time.time() * 1000.0, 'attrs': attrs}
        self.spans.append(rec)
        self._stack.append(rec['id'])
        p0 = time.perf_counter()
        try:
            yield
        finally:
            rec['dur_s'] = time.perf_counter() - p0
            rec['end_ms'] = time.time() * 1000.0
            self._stack.pop()


# ---------------------------------------------------------------- /proc

class ProcTree:
    """CPU time and peak resident memory of this process and every
    descendant: the Spark JVM, the Python worker daemon and its
    workers."""

    def pids(self) -> list[int]:
        parent = {}
        for d in os.listdir('/proc'):
            if d.isdigit():
                try:
                    with open(f'/proc/{d}/stat') as f:
                        parent[int(d)] = int(f.read().rsplit(')', 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        root = os.getpid()
        tree, frontier = {root}, [root]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        return sorted(tree)

    def cpu_s(self) -> float:
        """User+system seconds of the live tree, plus what each live
        process has reaped from exited children."""
        total = 0
        for p in self.pids():
            try:
                with open(f'/proc/{p}/stat') as f:
                    fields = f.read().rsplit(')', 1)[1].split()
            except OSError:
                continue
            total += sum(int(x) for x in fields[11:15])
        return total / _CLK

    def reset_peak(self) -> None:
        for p in self.pids():
            with contextlib.suppress(OSError):
                with open(f'/proc/{p}/clear_refs', 'w') as f:
                    f.write('5')

    def peak_rss_mb(self) -> float:
        """Sum over the tree of each process's peak RSS since the last
        :meth:`reset_peak` (an upper bound on the tree's joint peak)."""
        kb = 0
        for p in self.pids():
            try:
                with open(f'/proc/{p}/status') as f:
                    for line in f:
                        if line.startswith('VmHWM:'):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024.0


# ---------------------------------------------------------------- status store

_UNITS = {'ns': 1e-9, 'ms': 1e-3, 's': 1.0, 'm': 60.0, 'min': 60.0, 'h': 3600.0,
          'B': 1.0, 'KiB': 1024.0, 'MiB': 1024.0 ** 2, 'GiB': 1024.0 ** 3,
          'TiB': 1024.0 ** 4}
_VALUE = re.compile(r'^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?')


def metric_value(text: str) -> float:
    """Total of an SQL metric as the status store renders it: ``'1.4 s'``,
    ``'2.3 MiB'``, ``'100,000'`` or a ``'total (min, med, max ...)'`` header
    over such a line. Times come back in seconds, sizes in bytes."""
    lines = text.strip().split('\n')
    m = _VALUE.match(lines[-1] if len(lines) > 1 else lines[0])
    if not m:
        return 0.0
    v = float(m.group(1).replace(',', ''))
    return v * _UNITS.get(m.group(2) or '', 1.0)


class StatusStore:
    """Jobs, stages and SQL executions read from Spark's in-memory status
    store as JSON, incrementally: each :meth:`harvest` returns only the
    records that appeared since the previous one. Harvest at least every
    1,000 jobs, stages or executions, the store's retention limits."""

    def __init__(self, spark):
        import json
        self._json = json
        jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._jvm = jvm
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, 'DefaultScalaModule$'), 'MODULE$'))
        self._seen_job = self._seen_stage = self._seen_exec = -1
        self.mark()

    def _dump(self, obj):
        return self._json.loads(self._mapper.writeValueAsString(obj))

    def _all(self):
        jobs = self._dump(self._app.jobsList(None))
        stages = self._dump(self._app.stageList(
            None, False, False, self._gw.new_array(self._jvm.double, 0), None))
        execs = self._dump(self._sql.executionsList())
        return jobs, stages, execs

    def mark(self) -> None:
        """Skip everything recorded so far."""
        jobs, stages, execs = self._all()
        self._seen_job = max([j['jobId'] for j in jobs], default=self._seen_job)
        self._seen_stage = max([s['stageId'] for s in stages], default=self._seen_stage)
        self._seen_exec = max([e['executionId'] for e in execs], default=self._seen_exec)

    def harvest(self) -> dict:
        jobs, stages, execs = self._all()
        jobs = [j for j in jobs if j['jobId'] > self._seen_job]
        stages = [s for s in stages if s['stageId'] > self._seen_stage]
        out_execs = []
        for e in execs:
            if e['executionId'] <= self._seen_exec or e.get('completionTime') is None:
                continue
            eid = e['executionId']
            values = self._dump(self._sql.executionMetrics(eid))
            nodes = []

            def walk(ns):
                for n in ns:
                    nodes.append({'name': n['name'], 'desc': n['desc'],
                                  'metrics': {m['name']: metric_value(values.get(
                                      str(m['accumulatorId']), '0'))
                                      for m in n['metrics']}})
                    walk(n.get('nodes', []))
            walk(self._dump(self._sql.planGraph(eid).nodes()))
            out_execs.append({'id': eid, 'submit_ms': e['submissionTime'],
                              'end_ms': e['completionTime'], 'nodes': nodes})
        if jobs:
            self._seen_job = max(j['jobId'] for j in jobs)
        if stages:
            self._seen_stage = max(s['stageId'] for s in stages)
        if out_execs:
            self._seen_exec = max(e['id'] for e in out_execs)
        return {'jobs': jobs, 'stages': stages, 'execs': out_execs}


def union_s(intervals) -> float:
    """Seconds covered by the union of (start_ms, end_ms) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0

