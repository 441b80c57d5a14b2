"""Per-application memo for staged frames that several queries share."""

from __future__ import annotations

import threading
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

V = TypeVar("V")


class SessionCache:
    """Values built at most once per (applicationId, key), safe to share
    between threads. Adding an entry evicts every entry of another
    application, so sessions that come and go (tests, bench, driver)
    leave no stale JVM references behind."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._entries: dict[tuple, object] = {}

    def get(self, spark: SparkSession, key: tuple, build: Callable[[], V]) -> V:
        full = (spark.sparkContext.applicationId, *key)
        with self._lock:
            if full not in self._entries:
                self._entries = {k: v for k, v in self._entries.items()
                                 if k[0] == full[0]}
                self._entries[full] = build()
            return self._entries[full]
