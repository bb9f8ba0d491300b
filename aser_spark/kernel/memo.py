"""Per-worker memo state: every extraction memo, one LRU policy, one reset.

The kernel's expensive steps are pure functions of a sentence's text (plus
bounded context) and transcript corpora are Zipf-skewed, so a reused python
worker keeps their results here — the Spark analog of the reference's
per-paragraph ``syntax_tree_cache`` (eventuality_extractor.py:614).  Values
are SHARED and must be treated as frozen; ``None`` is not storable.
``reset()`` drops all of it: a finished stage's resident memos slowed the
next stage's kernel 4-8x until collected and trimmed (BENCH/NOTES.md §r6).

Reuse has a fixed per-task price: pyspark re-reads its zip importers'
directories before every task and runs a full GC collect after it, over
everything the worker holds.  ``task_end()``, which every ``mapInArrow``
body calls before its last yield, keeps both to milliseconds.
"""

from __future__ import annotations

import functools
import gc
import sys
import threading
import zipfile
import zipimport
from collections import OrderedDict


class Memo:
    """Bounded LRU map with hit/miss counters, safe across the serving
    daemon's handler threads.  The lock makes check+evict+insert atomic.
    A hit skips it (0.9 -> 0.15 us per call on CPython 3.11):
    ``move_to_end`` and ``__getitem__`` are each one atomic C call under
    the GIL for these builtin-typed keys, and an entry evicted between the
    two reads as a miss.  Counters may drop an increment under concurrent
    threads.  ``cyclic`` declares that values may hold reference cycles,
    which ``task_end`` must sweep once evicted."""

    def __init__(self, name: str, maxsize: int, cyclic: bool = False):
        self.name = name
        self.maxsize = maxsize
        self.cyclic = cyclic
        self.hits = 0
        self.misses = 0
        self.evictions = 0
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
                    self.evictions += 1
                self._data[key] = value

    def clear(self) -> None:
        with self._lock:
            self._data.clear()
            self.hits = self.misses = self.evictions = 0

    def __len__(self) -> int:
        return len(self._data)


# Capacities are the measured ones: the four sentence memos keep the sizes
# they were tuned at (4x larger bought +4pp hit rate, OPTIMIZATION_r08.md).
SEED_SENTENCES = Memo("seed.sentence", 8192)
PARSES = Memo("discourse.parse", 16384, cyclic=True)  # SyntaxNode.up links
SEPARATORS = Memo("discourse.separators", 65536)
CLAUSES = Memo("discourse.clauses", 16384)
CANDIDATES = Memo("discourse.candidates", 1 << 16)
# the serving daemon's (mode, paragraph text) -> (eventualities, relation
# rows) memo: a paragraph's output is a pure function of that key
PARAGRAPHS = Memo("serving.paragraphs", 1 << 14)

MEMOS = (SEED_SENTENCES, PARSES, SEPARATORS, CLAUSES, CANDIDATES,
         PARAGRAPHS)


def reset() -> None:
    """Empty every memo in place (callers may hold the memoized functions
    across a reset), make the frozen objects collectable again, collect,
    and return the freed arenas to the OS."""
    import ctypes

    for m in MEMOS:
        m.clear()
    gc.unfreeze()
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except OSError:
        pass


def task_end() -> None:
    """Leave a reused worker cheap for its next task (BENCH/NOTES.md,
    "per-task worker tax").

    * pyspark calls ``importlib.invalidate_caches()`` at every task start,
      and every cached ``zipimporter`` then re-reads its whole archive
      directory (pyspark.zip: 1,328 entries, one importer per imported
      subpackage).  Drop the subpackage importers (non-empty ``prefix``),
      including any this task's own imports created, and the importers of
      archives with no Python in them (the spark-core jar on pyspark's
      path: 5,359 entries); the import system recreates one on demand.
      The other top-level archive importers stay, so each archive that can
      serve an import still has its directory re-read once per task.
    * The pyspark daemon runs a full ``gc.collect()`` after every task.
      Collect the young generation and freeze everything here, so the
      task's new memo entries (and the classifier tables a first discourse
      task loads) leave the GC's scan path.

    A frozen value is still freed by reference counting once evicted, but
    one that holds a reference cycle is only reclaimed by an unfreeze.  So
    once a ``cyclic`` memo has evicted its capacity's worth of entries
    since the last sweep, unfreeze and collect everything first: the
    frozen leak stays under one capacity per cyclic memo."""
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and (
                finder.prefix or not _holds_python(finder.archive)):
            del sys.path_importer_cache[path]
    if any(m.cyclic and m.evictions >= m.maxsize for m in MEMOS):
        for m in MEMOS:
            m.evictions = 0
        gc.unfreeze()
        gc.collect()
    else:
        gc.collect(0)
    gc.freeze()


@functools.lru_cache(maxsize=None)
def _holds_python(archive: str) -> bool:
    try:
        with zipfile.ZipFile(archive) as z:
            return any(n.endswith((".py", ".pyc")) for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return True
