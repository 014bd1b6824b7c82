"""The engine's one memo. Session-artifact keys carry the session object
itself, not its ``id()``: an entry keeps its session alive, so a new
session cannot inherit a stopped one's slot."""

from __future__ import annotations

import threading
import weakref
from typing import Callable, NamedTuple, TypeVar

V = TypeVar("V")
_MISSING = object()

# every session-artifact cache, added as it is created;
# session.evict_session_artifacts clears them all
SESSION_CACHES: weakref.WeakSet = weakref.WeakSet()


class Unstored(NamedTuple):
    """What a build returns to hand ``value`` to its caller without
    storing it: the next call builds again."""

    value: object


class ArtifactCache:
    """``get(key, build)`` returns the value stored under ``key``, calling
    ``build()`` on the first call. Concurrent first calls for one key
    build once: the others wait on that key's lock, while other keys
    build in parallel. A build that raises stores nothing, and neither
    does one that returns ``Unstored(value)``. With ``fresh``, a stored
    value for which ``fresh(value)`` is false is dropped and rebuilt."""

    def __init__(self, session_artifacts: bool = True):
        self._values: dict = {}
        self._locks: dict = {}
        self._guard = threading.Lock()
        if session_artifacts:
            SESSION_CACHES.add(self)

    def get(self, key, build: Callable[[], V], fresh: Callable[[V], bool] | None = None) -> V:
        def usable(value) -> bool:
            return value is not _MISSING and (fresh is None or fresh(value))

        value = self._values.get(key, _MISSING)
        if not usable(value):
            with self._guard:
                lock = self._locks.setdefault(key, threading.Lock())
            with lock:
                value = self._values.get(key, _MISSING)
                if not usable(value):
                    self._values.pop(key, None)
                    value = build()
                    if isinstance(value, Unstored):
                        return value.value
                    self._values[key] = value
        return value

    def __delitem__(self, key) -> None:
        with self._guard:
            del self._values[key]
            self._locks.pop(key, None)

    def clear(self) -> int:
        """Drop every entry; returns how many there were."""
        with self._guard:
            n = len(self._values)
            self._values.clear()
            self._locks.clear()
        return n

    def __len__(self) -> int:
        return len(self._values)
