"""DEV: serving daemon throughput/latency harness — the graft analog of
the reference's live-server benchmarks (test/client/benchmark.py:37-46,
test/client/speed_test.py:19-37): N calls per API across a small client
pool against an in-process ASERServingServer, printing calls/s and
ms/call.  No Spark session: the daemon serves kernel + SQLite only.
``mode`` picks the daemon's kernel (seed or discourse); the 50 texts
recur, so after the first 50 calls every compute API runs warm.

Usage: python scripts/serving_bench.py [n_calls] [n_clients] [mode]
"""

from __future__ import annotations

import json
import sqlite3
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _seed_db(path: str, n: int = 1000) -> list:
    """A KG.db with n eventualities + a relation chain, written directly
    (no Spark) through the serving backend's own schema."""
    from aser_spark.serving_sqlite import SqliteKG

    with SqliteKG(path, create=True) as kg:
        kg.merge_eventuality_rows(
            (f"e{i}", 1.0 + i % 7, "s-v", "sleep", "i sleep",
             f"i sleep {i}", json.dumps({"pos_tags": "PRP VB"}))
            for i in range(n))
        kg.merge_relation_rows(
            (f"r{i}", f"e{i}", f"e{i + 1}", *(1.0 if k == 0 else 0.0
                                              for k in range(15)))
            for i in range(n - 1))
    sqlite3.connect(path).close()
    return [f"e{i}" for i in range(n)]


def run_bench(n_calls: int = 2000, n_clients: int = 4,
              mode: str = "seed") -> dict:
    """Drive the daemon's API surface over a client pool and return
    calls/s + ms/call per API.  The headline trio mirrors the reference
    harness verbatim (benchmark.py:44-58): extract_eventualities in
    sent/s, predict_relation in pair/s, fetch_related_eventualities in
    event/s — same call pattern (each worker = one persistent client
    looping its share of the 10k calls), ours over threads+TCP instead
    of fork+zmq."""
    from aser_spark.serving_net import ASERServingClient, ASERServingServer

    db = tempfile.mktemp(suffix=".db")
    eids = _seed_db(db)
    texts = [f"the dog barked because the cat slept number {i}. we went home."
             for i in range(50)]

    out = {"metric": "serving_bench", "mode": mode, "n_calls": n_calls,
           "n_clients": n_clients}
    with ASERServingServer(db_path=db, mode=mode) as srv:
        host, port = srv.address

        calls = {
            "exact_match_eventuality":
                lambda cli, i: cli.exact_match_eventuality(eids[i % len(eids)]),
            "extract_eventualities":
                lambda cli, i: cli.extract_eventualities(texts[i % len(texts)]),
            "extract_relations":
                lambda cli, i: cli.extract_relations(texts[i % len(texts)]),
            "parse_text":
                lambda cli, i: cli.parse_text(texts[i % len(texts)]),
            "predict_relation":
                lambda cli, i: cli.predict_eventuality_relation(
                    eids[i % (len(eids) - 1)], eids[i % (len(eids) - 1) + 1]),
            "fetch_related_eventualities":
                lambda cli, i: cli.fetch_related_eventualities(
                    eids[i % len(eids)]),
        }

        def drive(api):
            def worker(k):
                with ASERServingClient(host, port) as cli:
                    for i in range(k):
                        calls[api](cli, i)

            per = n_calls // n_clients
            t0 = time.time()
            with ThreadPoolExecutor(n_clients) as ex:
                list(ex.map(worker, [per] * n_clients))
            dt = time.time() - t0
            return round(per * n_clients / dt, 1), round(1000 * dt / (per * n_clients), 3)

        for api in calls:
            cps, ms = drive(api)
            out[f"{api}_calls_per_sec"] = cps
            out[f"{api}_ms_per_call"] = ms
    Path(db).unlink(missing_ok=True)
    return out


def main():
    n_calls = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    n_clients = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    mode = sys.argv[3] if len(sys.argv) > 3 else "seed"
    print(json.dumps(run_bench(n_calls, n_clients, mode)))


if __name__ == "__main__":
    main()
