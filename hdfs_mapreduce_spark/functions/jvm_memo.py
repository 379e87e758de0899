"""Driver-side memo for values that are handles into a live JVM.

Building a Column tree or resolving a JVM class through py4j costs one
round trip per step (every ``F.*`` call, every package segment of
``spark._jvm.org.apache...``), and hot paths rebuild the same constant
values on every call. A built value is only valid for the JVM object it
was made against, so the memo is tied to a handle — the live
SparkContext or the py4j gateway — and empties itself when the handle
changes (``spark.stop()`` and a new session, or a new gateway).
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from typing import Any


class JvmMemo:
    """``get(key, build)`` returns the value built for ``key`` against
    the current handle, calling ``build()`` only on the first request
    after the handle changed. Keys must be few (shapes, column names,
    class names): the memo never evicts while its handle lives."""

    def __init__(self, handle: Callable[[], object]):
        self._handle = handle
        self._lock = threading.Lock()
        self._owner: object = None
        self._values: dict[Any, Any] = {}

    def get(self, key: Any, build: Callable[[], Any]) -> Any:
        handle = self._handle()
        with self._lock:
            if handle is not self._owner:
                self._values.clear()
                self._owner = handle
            if key not in self._values:
                self._values[key] = build()
            return self._values[key]
