"""The repository's mock OSRM server (``tests/osrm_mock.py``), served
from a handler subclass that counts requests, server-side handling time
and repeated requests (a client retry re-sends the same URL)."""

from __future__ import annotations

import importlib.util
import os
import threading
import time
from http.server import ThreadingHTTPServer


def _mock_module(repo: str):
    spec = importlib.util.spec_from_file_location(
        'perfbench_osrm_mock', os.path.join(repo, 'tests', 'osrm_mock.py'))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class CountingOsrm:
    """Threaded mock OSRM on 127.0.0.1; ``counters()`` reads the totals."""

    def __init__(self, repo: str):
        base = _mock_module(repo)._Handler
        lock = threading.Lock()
        seen: set[str] = set()
        totals = {'requests': 0, 'server_s': 0.0, 'retries': 0}

        class Handler(base):
            def do_GET(self):
                t0 = time.perf_counter()
                try:
                    super().do_GET()
                finally:
                    dt = time.perf_counter() - t0
                    with lock:
                        totals['requests'] += 1
                        totals['server_s'] += dt
                        if self.path in seen:
                            totals['retries'] += 1
                        seen.add(self.path)

        self._lock, self._seen, self._totals = lock, seen, totals
        self.server = ThreadingHTTPServer(('127.0.0.1', 0), Handler)
        self.server.daemon_threads = True
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()
        self.url = f'http://127.0.0.1:{self.server.server_address[1]}'

    def counters(self) -> dict:
        with self._lock:
            return dict(self._totals)

    def forget_urls(self) -> None:
        """Start a new pass: identical requests of the next pass are not retries."""
        with self._lock:
            self._seen.clear()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)
