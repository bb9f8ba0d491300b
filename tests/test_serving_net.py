"""Request/reply serving daemon: the reference's ZMQ server/client loop
(aser/server/__init__.py, aser/client/__init__.py) re-expressed as a
stdlib TCP/JSON service over the SQLite KG backend + in-process kernel.
Every ASERCmd shape is exercised through the client, and compute results
must equal direct kernel calls."""

import json

from pyspark.sql import functions as F

from tests.test_serving_sqlite import _toy_kg


def _server(db_path=None, **kw):
    from aser_spark.serving_net import ASERServingServer

    return ASERServingServer(db_path=db_path, **kw)


def _fixture_text(name, line_no):
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "fixtures" / name
    with open(path) as f:
        line = f.readlines()[line_no - 1]
    return json.loads(line)["doc_texts"][0]


def test_compute_commands_match_kernel():
    """Serving a paragraph yields exactly what the KG build extracts from
    it as a one-turn conversation, in both kernel modes.  The
    heldout_prose4 paragraph is one whose discourse eventualities depend
    on the one-token neighbour context of the sentence loop."""
    for mode in ("seed", "discourse"):
        _check_compute_commands(mode)


def _check_compute_commands(mode):
    from collections import Counter

    from aser_spark.pipeline.extract import conversation_instance_rows
    from aser_spark.serving_net import ASERServingClient

    text = "the dog barked because the cat slept. we went home."
    texts = [text, _fixture_text("heldout_prose4.jsonl", 64)]
    with _server(mode=mode) as srv:
        host, port = srv.address
        with ASERServingClient(host, port) as cli:
            parsed = cli.parse_text(text)
            assert len(parsed) == 2 and parsed[0]["tokens"][0] == "the"

            for t in texts:
                rows = conversation_instance_rows("c", [(0, t)], mode=mode)
                want_eids = [r[4] for r in rows if r[0] == "node"]
                want_edges = Counter(tuple(r[12:16]) for r in rows
                                     if r[0] == "edge")
                both = cli.extract_eventualities_and_relations(t)
                assert [e["eid"] for evs in both["eventualities"]
                        for e in evs] == want_eids
                assert Counter(tuple(r) for r in both["relations"]) \
                    == want_edges
                assert cli.extract_eventualities(t) == both["eventualities"]
                assert cli.extract_relations(t) == both["relations"]

            evs = cli.extract_eventualities(text)
            assert len(evs) == 2 and evs[0]
            senses = {r[2] for r in cli.extract_relations(text)}
            assert "Reason" in senses or "Co_Occurrence" in senses

            cons = cli.conceptualize_eventuality(
                ["i", "sleep"], ["PRP", "VB"], topk=3)
            assert cons and cons[0]["rank"] == 0
            assert all(set(c) == {"rank", "concept_words", "score"}
                       for c in cons)


def test_lookup_commands_roundtrip(spark, tmp_path):
    from aser_spark.serving_net import NONE, ASERServingClient
    from aser_spark.serving_sqlite import export_kg_to_sqlite

    nodes, edges = _toy_kg(spark)
    db = str(tmp_path / "kg.db")
    export_kg_to_sqlite(nodes, edges, db)

    store = {"concepts": {"c1": {"_id": "c1", "words": "person sleep"}},
             "by_words": {"person sleep": "c1"},
             "relations": {"c1$c2": {"Precedence": 1.0}},
             "related": {"c1": [{"_id": "c2"}]}}
    with _server(db, concept_store=store) as srv:
        host, port = srv.address
        with ASERServingClient(host, port) as cli:
            ev = cli.exact_match_eventuality("e2")
            assert ev["words"] == "he drink coffee" and ev["frequency"] == 2.0
            assert json.loads(ev["info"]) == {"pos_tags": "PRP VB NN"}
            assert cli.exact_match_eventuality("nope") == NONE

            rel = cli.predict_eventuality_relation("e1", "e2")
            assert rel["Precedence"] == 1.5 and rel["Conjunction"] == 0.5
            assert cli.predict_eventuality_relation("e9", "e1") == NONE

            related = cli.fetch_related_eventualities("e1")
            assert len(related) == 1 and related[0][1]["_id"] == "e2"

            assert cli.exact_match_concept("c1")["words"] == "person sleep"
            assert cli.exact_match_concept("person sleep")["_id"] == "c1"
            assert cli.exact_match_concept("zzz") == NONE
            assert cli.predict_concept_relation("c1", "c2") == {
                "Precedence": 1.0}
            assert cli.predict_concept_relation("c9", "c1") == NONE
            assert cli.fetch_related_concepts("c1") == [{"_id": "c2"}]
            assert cli.fetch_related_concepts("c9") == []


def test_concurrent_clients_and_errors(spark, tmp_path):
    import threading

    from aser_spark.serving_net import ASERServingClient
    from aser_spark.serving_sqlite import export_kg_to_sqlite

    nodes, edges = _toy_kg(spark)
    db = str(tmp_path / "kg.db")
    export_kg_to_sqlite(nodes, edges, db)
    with _server(db) as srv:
        host, port = srv.address
        results, errs = [], []

        def worker(eid):
            try:
                with ASERServingClient(host, port) as cli:
                    for _ in range(20):
                        results.append(cli.exact_match_eventuality(eid)["_id"])
            except Exception as ex:  # pragma: no cover
                errs.append(ex)

        threads = [threading.Thread(target=worker, args=(f"e{1 + i % 3}",))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs and len(results) == 160

        # a bad command errors THIS request, not the connection
        with ASERServingClient(host, port) as cli:
            try:
                cli._call("no_such_cmd")
                raise AssertionError("expected RuntimeError")
            except RuntimeError:
                pass
            assert cli.exact_match_eventuality("e1")["_id"] == "e1"


def test_malformed_lines_and_blob_info_get_replies(spark, tmp_path):
    """A reference-schema KG.db stores info as BLOB and a client may send
    garbage: both must yield an in-band reply (never a dead handler thread
    leaving the client blocked until timeout)."""
    import socket
    import sqlite3

    from aser_spark.serving_net import ASERServingClient
    from aser_spark.serving_sqlite import export_kg_to_sqlite

    nodes, edges = _toy_kg(spark)
    db = str(tmp_path / "kg.db")
    export_kg_to_sqlite(nodes, edges, db)
    # store info the way the reference schema types it: a BLOB of JSON text
    with sqlite3.connect(db) as con:
        con.execute("UPDATE Eventualities SET info = CAST(info AS BLOB)")
        con.commit()

    with _server(db) as srv:
        host, port = srv.address
        with ASERServingClient(host, port) as cli:
            ev = cli.exact_match_eventuality("e2")
            assert json.loads(ev["info"]) == {"pos_tags": "PRP VB NN"}
            rel, tail = cli.fetch_related_eventualities("e1")[0]
            assert isinstance(tail["info"], str)

        # raw socket: malformed JSON, then a non-object line, then a valid
        # request — each gets exactly one newline-delimited reply
        with socket.create_connection((host, port), timeout=10) as s:
            f = s.makefile("rb")
            s.sendall(b"{not json\n")
            bad = json.loads(f.readline())
            assert bad["ok"] is False and "error" in bad
            s.sendall(b"[1, 2, 3]\n")
            bad2 = json.loads(f.readline())
            assert bad2["ok"] is False
            s.sendall(json.dumps(
                {"id": 9, "cmd": "exact_match_eventuality",
                 "arg": "e1"}).encode() + b"\n")
            good = json.loads(f.readline())
            assert good["ok"] is True and good["data"]["_id"] == "e1"


def test_serving_bench_harness_smoke():
    """The BENCH/SERVING.md harness must run end-to-end in both kernel
    modes: all six APIs driven over a client pool, positive throughput
    for each."""
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "serving_bench",
        Path(__file__).resolve().parent.parent / "scripts" / "serving_bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    for mode in ("seed", "discourse"):
        out = mod.run_bench(n_calls=40, n_clients=2, mode=mode)
        assert out["mode"] == mode
        for api in ("exact_match_eventuality", "extract_eventualities",
                    "extract_relations", "parse_text", "predict_relation",
                    "fetch_related_eventualities"):
            assert out[f"{api}_calls_per_sec"] > 0
            assert out[f"{api}_ms_per_call"] > 0
