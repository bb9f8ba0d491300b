"""Per-task Python-worker tax probe.

Runs N extraction builds on ``local[cpus]`` (a fresh Zipf corpus each,
``extract_graph_instances(pre_grouped=True)`` counted, as perfbench's build
does), then sends one probe task to each reused Python worker and reports,
per worker:

* ``zipimporters`` / ``subpackage_importers``: ``zipimport.zipimporter``
  entries in ``sys.path_importer_cache``, all and with a non-empty prefix.
  pyspark calls ``importlib.invalidate_caches()`` at the start of every
  task, and each of them re-reads its archive's central directory;
* ``invalidate_ms``: one ``importlib.invalidate_caches()`` call;
* ``tracked`` / ``frozen``: ``len(gc.get_objects())`` (objects the cyclic
  GC scans) and ``gc.get_freeze_count()``;
* ``collect_ms``: one full ``gc.collect()``, the collect the pyspark daemon
  runs after every task;
* ``memo_entries``: entries over ``kernel/memo.py``'s ``MEMOS``.

Usage: python scripts/worker_tax.py [mode=seed] [builds=3] [n_convs=2000]
[cpus=4]
Prints one line per worker, then one JSON line with all of them.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def probe_workers(spark, n_tasks: int, hold_s: float = 0.5) -> list:
    """One state record per distinct worker pid reached by ``n_tasks``
    concurrent probe tasks.  Each task holds its worker for ``hold_s`` so
    the tasks spread over the idle pool instead of queueing on one."""

    def probe(batches):
        import gc
        import importlib
        import os
        import sys
        import time
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        time.sleep(hold_s)
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        invalidate_ms = (time.perf_counter() - t0) * 1e3
        tracked, frozen = len(gc.get_objects()), gc.get_freeze_count()
        t0 = time.perf_counter()
        gc.collect()
        collect_ms = (time.perf_counter() - t0) * 1e3
        memo = sys.modules.get("aser_spark.kernel.memo")
        entries = sum(len(m) for m in memo.MEMOS) if memo else 0
        row = {"pid": os.getpid(), "zipimporters": len(zips),
               "subpackage_importers": sum(1 for f in zips if f.prefix),
               "invalidate_ms": invalidate_ms, "tracked": tracked,
               "frozen": frozen, "collect_ms": collect_ms,
               "memo_entries": entries}
        yield pa.RecordBatch.from_pylist([row])

    schema = ("pid long, zipimporters long, subpackage_importers long, "
              "invalidate_ms double, tracked long, frozen long, "
              "collect_ms double, memo_entries long")
    rows = (spark.range(0, n_tasks, 1, n_tasks)
            .mapInArrow(probe, schema=schema).collect())
    seen = {}
    for r in rows:
        seen.setdefault(r["pid"], r.asDict())
    return sorted(seen.values(), key=lambda r: r["pid"])


def main(argv) -> None:
    mode = argv[1] if len(argv) > 1 else "seed"
    builds = int(argv[2]) if len(argv) > 2 else 3
    n_convs = int(argv[3]) if len(argv) > 3 else 2000
    cpus = int(argv[4]) if len(argv) > 4 else 4

    from aser_spark.config import get_spark
    from aser_spark.datagen import transcripts_df
    from aser_spark.pipeline import extract_graph_instances

    spark = get_spark(app="worker-tax", cpus=cpus,
                      extra={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    for b in range(builds):
        corpus = transcripts_df(spark, n_convs, seed=7000 + b).persist()
        corpus.count()
        t0 = time.perf_counter()
        extract_graph_instances(corpus, pre_grouped=True, mode=mode).count()
        print(f"build {b}: extract {time.perf_counter() - t0:.2f}s",
              file=sys.stderr)
        corpus.unpersist()
    workers = probe_workers(spark, cpus)
    for w in workers:
        print(f"pid {w['pid']}: zipimporters {w['zipimporters']} "
              f"(subpackage {w['subpackage_importers']}), invalidate "
              f"{w['invalidate_ms']:.1f} ms, tracked {w['tracked']}, frozen "
              f"{w['frozen']}, full collect {w['collect_ms']:.1f} ms, memo "
              f"entries {w['memo_entries']}")
    print(json.dumps({"mode": mode, "builds": builds, "n_convs": n_convs,
                      "cpus": cpus, "workers": workers}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv)
