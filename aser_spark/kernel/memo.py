"""Per-worker memo state: every extraction memo, one LRU policy, one reset.

The kernel's expensive steps are pure functions of a sentence's text (plus
bounded context) and transcript corpora are Zipf-skewed, so a reused python
worker keeps their results here — the Spark analog of the reference's
per-paragraph ``syntax_tree_cache`` (eventuality_extractor.py:614).  Values
are SHARED and must be treated as frozen; ``None`` is not storable.
``reset()`` drops all of it: a finished stage's resident memos slowed the
next stage's kernel 4-8x until collected and trimmed (BENCH/NOTES.md §r6).
"""

from __future__ import annotations

import gc
import threading
from collections import OrderedDict


class Memo:
    """Bounded LRU map with hit/miss counters, safe across the serving
    daemon's handler threads.  The lock makes check+evict+insert atomic.
    A hit skips it (0.9 -> 0.15 us per call on CPython 3.11):
    ``move_to_end`` and ``__getitem__`` are each one atomic C call under
    the GIL for these builtin-typed keys, and an entry evicted between the
    two reads as a miss.  Counters may drop an increment under concurrent
    threads."""

    def __init__(self, name: str, maxsize: int):
        self.name = name
        self.maxsize = maxsize
        self.hits = 0
        self.misses = 0
        self._data: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key):
        """The value stored under ``key`` (now most recently used), or
        None on a miss."""
        try:
            self._data.move_to_end(key)
            value = self._data[key]
        except KeyError:
            self.misses += 1
            return None
        self.hits += 1
        return value

    def put(self, key, value) -> None:
        """Store ``value`` unless another thread already did, evicting
        the least recently used entry when full."""
        with self._lock:
            if key not in self._data:
                if len(self._data) >= self.maxsize:
                    self._data.popitem(last=False)
                self._data[key] = value

    def clear(self) -> None:
        with self._lock:
            self._data.clear()
            self.hits = self.misses = 0

    def __len__(self) -> int:
        return len(self._data)


# Capacities are the measured ones: the four sentence memos keep the sizes
# they were tuned at (4x larger bought +4pp hit rate, OPTIMIZATION_r08.md).
SEED_SENTENCES = Memo("seed.sentence", 8192)
PARSES = Memo("discourse.parse", 16384)
SEPARATORS = Memo("discourse.separators", 65536)
CLAUSES = Memo("discourse.clauses", 16384)
D2 = Memo("discourse.d2", 1 << 16)
CANDIDATES = Memo("discourse.candidates", 1 << 16)
# the serving daemon's (mode, paragraph text) -> (eventualities, relation
# rows) memo: a paragraph's output is a pure function of that key
PARAGRAPHS = Memo("serving.paragraphs", 1 << 14)

MEMOS = (SEED_SENTENCES, PARSES, SEPARATORS, CLAUSES, D2, CANDIDATES,
         PARAGRAPHS)

_frozen = False


def reset() -> None:
    """Empty every memo in place (callers may hold the memoized functions
    across a reset), make the frozen objects collectable again, collect,
    and return the freed arenas to the OS."""
    import ctypes

    global _frozen
    for m in MEMOS:
        m.clear()
    gc.unfreeze()
    _frozen = False
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except OSError:
        pass


def freeze_once() -> None:
    """Take the worker's long-lived objects (memo entries, compiled
    classifier tables — millions of small objects) out of the cyclic GC's
    scan path, once per reset.  Reused workers otherwise pay gen2
    collections over them inside every allocation-heavy extraction task.
    Collect first so no garbage is frozen."""
    global _frozen
    if _frozen:
        return
    gc.collect()
    gc.freeze()
    gc.set_threshold(50_000, 25, 50)
    _frozen = True
