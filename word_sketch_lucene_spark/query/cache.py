"""The searcher's one cache: an LRU over ``(namespace, key)`` entries,
bounded by the estimated bytes of everything it holds.

Every fetched or derived structure a searcher keeps (block rows,
decoded postings, position maps, forward arrays, dictionary lookups,
pricing and expansion memos) lives here under its own namespace and
is charged against ONE byte budget — one policy, one knob, instead of
a cap per structure. Callers use the value a lookup returns and never
read the cache again to find it: any entry may be evicted by the next
insert, and an entry larger than the whole budget is returned to its
caller but not kept. Cached arrays are read-only.
"""

from __future__ import annotations

import sys
from collections import OrderedDict
from collections.abc import Callable, Hashable, Iterable, Mapping

import numpy as np

# default budget: a serving node's pinned working set, not an OOM vector
BUDGET_BYTES = 1 << 30

_MISSING = object()


def estimate_bytes(value) -> int:
    """Resident-size estimate of a cached value: arrays by their
    buffer, containers by their own size plus their items'."""
    nb = getattr(value, "nbytes", None)
    if isinstance(nb, int):
        return nb + 112
    if isinstance(value, dict):
        return sys.getsizeof(value) + sum(
            estimate_bytes(k) + estimate_bytes(v) for k, v in value.items())
    if isinstance(value, (list, tuple, set, frozenset)):
        if value and isinstance(next(iter(value)), (str, int, float)):
            # flat value arrays (forward layers, expansions): one C pass
            return sys.getsizeof(value) + sum(map(sys.getsizeof, value))
        return sys.getsizeof(value) + sum(estimate_bytes(v) for v in value)
    return sys.getsizeof(value)


def _freeze(value) -> None:
    if isinstance(value, tuple):
        for v in value:
            _freeze(v)
    elif isinstance(value, np.ndarray):
        value.flags.writeable = False


class LRUCache:
    """Least-recently-used entries evict first once the resident bytes
    exceed :attr:`budget_bytes`; :attr:`bytes` is the resident total."""

    def __init__(self, budget_bytes: int = BUDGET_BYTES):
        self._entries: OrderedDict[tuple, tuple[object, int]] = OrderedDict()
        self.bytes = 0
        self.budget_bytes = budget_bytes

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, ns: Hashable, key: Hashable, default=None):
        entry = self._entries.get((ns, key))
        if entry is None:
            return default
        self._entries.move_to_end((ns, key))
        return entry[0]

    def put(self, ns: Hashable, key: Hashable, value):
        """Insert ``value`` and return it. A value larger than the whole
        budget is returned but not kept. Every ndarray in ``value`` (in
        tuples too) becomes read-only: entries share arrays (a one-test
        slot IS its test's positions), so an in-place write must raise
        instead of corrupting other entries."""
        _freeze(value)
        self.discard(ns, key)
        size = estimate_bytes(value)
        if size <= self.budget_bytes:
            self._entries[(ns, key)] = (value, size)
            self.bytes += size
            while self.bytes > self.budget_bytes:
                _, (_, old) = self._entries.popitem(last=False)
                self.bytes -= old
        return value

    def discard(self, ns: Hashable, key: Hashable) -> None:
        entry = self._entries.pop((ns, key), None)
        if entry is not None:
            self.bytes -= entry[1]

    def get_or_put(self, ns: Hashable, key: Hashable,
                   make: Callable[[], object]):
        """The cached value, or ``make()`` inserted and returned."""
        value = self.get(ns, key, _MISSING)
        return self.put(ns, key, make()) if value is _MISSING else value

    def get_many(self, ns: Hashable, keys: Iterable,
                 fetch: Callable[[list], Mapping], default=None) -> dict:
        """``{key: value}`` for every key: hits from the cache, every
        miss from ONE ``fetch(misses)`` call (keys it does not return
        get ``default``), inserted as it is filled."""
        out, missing = {}, []
        # get() inlined: one sketch fan-out looks up thousands of docs
        lookup, touch = self._entries.get, self._entries.move_to_end
        for k in keys:
            nk = (ns, k)
            entry = lookup(nk)
            if entry is not None:
                touch(nk)
                out[k] = entry[0]
            elif k not in out:
                out[k] = None
                missing.append(k)
        if missing:
            found = fetch(missing)
            for k in missing:
                out[k] = self.put(ns, k, found.get(k, default))
        return out

    def view(self, ns: Hashable) -> "NamespaceView":
        return NamespaceView(self, ns)


class NamespaceView(Mapping):
    """Read-only mapping over one namespace; lookups do not refresh
    recency."""

    def __init__(self, cache: LRUCache, ns: Hashable):
        self._cache, self._ns = cache, ns

    def __getitem__(self, key):
        return self._cache._entries[(self._ns, key)][0]

    def __iter__(self):
        return (k for ns, k in list(self._cache._entries) if ns == self._ns)

    def __len__(self) -> int:
        return sum(1 for _ in self)
