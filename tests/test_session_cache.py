"""SessionCache (plans/session_cache.py): the per-application memo that
the discovery, features, q28, components and NB query caches share."""

from __future__ import annotations

import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

from batch_processing_analysis_spark.plans.session_cache import SessionCache


def _session(app_id):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_concurrent_gets_build_once():
    cache, builds, lock = SessionCache(), [], threading.Lock()

    def build():
        with lock:
            builds.append(1)
        time.sleep(0.01)  # widen the check-then-build window
        return object()

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            got = list(pool.map(
                lambda _: cache.get(_session("a"), ("k",), build),
                range(64), timeout=60))
    finally:
        sys.setswitchinterval(switch)
    assert len(builds) == 1
    assert all(g is got[0] for g in got)


def test_new_application_evicts_the_old_ones():
    cache = SessionCache()
    a1 = cache.get(_session("a"), ("k",), object)
    assert cache.get(_session("a"), ("k",), object) is a1
    b = cache.get(_session("b"), ("k",), object)
    assert b is not a1
    assert cache.get(_session("a"), ("k",), object) is not a1  # evicted
