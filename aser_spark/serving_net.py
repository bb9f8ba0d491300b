"""Request/reply serving daemon + client over the KG serving backend.

Maps the reference's ZMQ server/client loop (aser/server/__init__.py:63-120
dispatching the ASERCmd inventory of aser/utils/config.py:4-17; client
surface aser/client/__init__.py:104-349) onto a dependency-free stdlib
stack: a threading TCP server speaking newline-delimited JSON, with the
same eleven command shapes —

  compute:  parse_text, extract_eventualities, extract_relations,
            extract_eventualities_and_relations, conceptualize_eventuality
  lookup:   exact_match_eventuality, exact_match_eventuality_relation,
            fetch_related_eventualities, exact_match_concept,
            exact_match_concept_relation, fetch_related_concepts

Compute commands run the SAME paragraph kernel the Spark pipeline uses
(pipeline/extract.py:paragraph_kernel — seed or discourse mode, one
paragraph = one single-turn conversation) and the reference-exact
heap-beam conceptualizer; lookups hit the reference-schema
SQLite KG (serving_sqlite.py) through one connection per handler thread.
The reference's worker pool + two-port ZMQ fanout exists to amortize
CoreNLP round-trips; here parsing is in-process and microsecond-scale, so
a thread-per-connection loop serves the same concurrency need without a
broker.  No zmq dependency exists in this environment — the protocol is
deliberately trivial (one JSON object per line both ways).
"""

from __future__ import annotations

import json
import socket
import socketserver
import threading

ASER_CMDS = (
    "parse_text", "extract_eventualities", "extract_relations",
    "extract_eventualities_and_relations", "conceptualize_eventuality",
    "exact_match_eventuality", "exact_match_eventuality_relation",
    "fetch_related_eventualities", "exact_match_concept",
    "exact_match_concept_relation", "fetch_related_concepts",
)
NONE = "__NONE__"          # reference sentinel for a missing row
ERROR = "__ASERERROR__"    # reference error sentinel (utils/config.py:19)


def _jsonable(obj):
    """Deep-convert kernel records (tuples, sets) to JSON-safe values.
    Bytes decode as UTF-8 text: a reference-schema KG.db stores the info
    column as BLOB (kg_connection.py EVENTUALITY_COLUMN_TYPES), and the
    payload is JSON text, so lookup rows served from a reference-produced
    DB must round-trip through json.dumps."""
    if isinstance(obj, dict):
        return {str(k): _jsonable(v) for k, v in obj.items()}
    if isinstance(obj, (list, tuple, set)):
        return [_jsonable(v) for v in obj]
    if isinstance(obj, (bytes, bytearray)):
        return bytes(obj).decode("utf-8", "replace")
    if isinstance(obj, (str, int, float, bool)) or obj is None:
        return obj
    return str(obj)


class _KernelOps:
    """Compute-command implementations, shared by every handler thread.
    A paragraph goes through ``pipeline/extract.py:paragraph_kernel`` as a
    one-turn conversation — the same sentence loop and relation pass the
    Spark ``mapInArrow`` kernel runs — and its output is memoized per
    (mode, text) in ``kernel/memo.py:PARAGRAPHS``, since a daemon sees the
    same client paragraphs again and again."""

    def __init__(self, mode: str = "seed", concept_topk: int = 5):
        from .pipeline.concepts import probase_rows
        from .pipeline.concepts_exact import build_probase_index
        from .pipeline.extract import _sentence_cache

        self.mode = mode
        self.memo = _sentence_cache(mode)
        self.concept_topk = concept_topk
        self.probase_index = build_probase_index(probase_rows())

    def parse_text(self, text: str):
        from .nlp import parse_text

        return _jsonable(parse_text(text))

    def _paragraph(self, text: str):
        """(per-sentence eventualities, relation rows) of ``text``."""
        from .kernel import memo
        from .pipeline.extract import paragraph_kernel

        key = (self.mode, text)
        hit = memo.PARAGRAPHS.get(key)
        if hit is None:
            _, para_evs, rel_rows = paragraph_kernel(
                [(0, text)], self.memo, self.mode)
            hit = (para_evs, rel_rows)
            memo.PARAGRAPHS.put(key, hit)
        return hit

    def extract_eventualities(self, text: str):
        return _jsonable(self._paragraph(text)[0])

    def extract_relations(self, text: str):
        return _jsonable(self._paragraph(text)[1])

    def extract_eventualities_and_relations(self, text: str):
        para_evs, rel_rows = self._paragraph(text)
        return {"eventualities": _jsonable(para_evs),
                "relations": _jsonable(rel_rows)}

    def conceptualize_eventuality(self, arg: dict):
        from .pipeline.concepts_exact import exact_concept_rows

        words = list(arg["words"])
        pos_tags = list(arg["pos_tags"])
        ners = list(arg.get("ners") or ["O"] * len(words))
        topk = int(arg.get("topk", self.concept_topk))
        return [{"rank": r, "concept_words": c, "score": s}
                for r, c, s in exact_concept_rows(words, pos_tags, ners,
                                                  self.probase_index, topk)]


class ASERServingServer:
    """Serve a KG.db (plus optional concept tables) over TCP/JSON.

    ``concept_store``: optional {"concepts": {cid: payload},
    "by_words": {words: cid}, "relations": {rid: payload},
    "related": {cid: [payload, ...]}} dicts for the concept lookups
    (the reference holds these in a second row store)."""

    def __init__(self, db_path: str | None = None, mode: str = "seed",
                 concept_store: dict | None = None,
                 host: str = "127.0.0.1", port: int = 0):
        self.db_path = db_path
        self.concepts = concept_store or {}
        ops = _KernelOps(mode)
        outer = self
        local = threading.local()

        def kg():
            from .serving_sqlite import SqliteKG

            if outer.db_path is None:
                return None
            if getattr(local, "kg", None) is None:
                local.kg = SqliteKG(outer.db_path)
            return local.kg

        def dispatch(cmd: str, arg):
            if cmd in ("parse_text", "extract_eventualities",
                       "extract_relations",
                       "extract_eventualities_and_relations",
                       "conceptualize_eventuality"):
                return getattr(ops, cmd)(arg)
            if cmd == "exact_match_eventuality":
                row = kg() and kg().get_exact_match_eventuality(arg)
                return _jsonable(row) if row else NONE
            if cmd == "exact_match_eventuality_relation":
                row = kg() and kg().get_exact_match_relation(
                    arg["hid"], arg["tid"])
                return _jsonable(row) if row else NONE
            if cmd == "fetch_related_eventualities":
                if kg() is None:
                    return []
                return _jsonable(kg().get_related_eventualities(arg))
            if cmd == "exact_match_concept":
                c = outer.concepts.get("concepts", {})
                byw = outer.concepts.get("by_words", {})
                return _jsonable(c.get(arg) or c.get(byw.get(arg)) or NONE)
            if cmd == "exact_match_concept_relation":
                return _jsonable(outer.concepts.get("relations", {}).get(
                    f"{arg['hid']}${arg['tid']}") or NONE)
            if cmd == "fetch_related_concepts":
                return _jsonable(outer.concepts.get("related", {}).get(arg, []))
            raise ValueError(f"unknown cmd {cmd!r}")

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                # the WHOLE per-line body (parse + dispatch + dumps) sits
                # inside the error-response path: a malformed request line
                # or an unserializable lookup payload must produce an
                # error reply, never a dead handler thread with the client
                # blocked on its timeout
                try:
                    for line in self.rfile:
                        if not line.strip():
                            continue
                        req = {}
                        try:
                            req = json.loads(line)
                            if not isinstance(req, dict):
                                raise TypeError(
                                    f"request must be a JSON object, got "
                                    f"{type(req).__name__}")
                            resp = {"id": req.get("id"), "ok": True,
                                    "data": dispatch(req["cmd"],
                                                     req.get("arg"))}
                            payload = json.dumps(resp)
                        except Exception as ex:  # reference returns ASERError
                            rid = req.get("id") if isinstance(req, dict) else None
                            payload = json.dumps(
                                {"id": rid, "ok": False, "data": ERROR,
                                 "error": f"{type(ex).__name__}: {ex}"})
                        self.wfile.write((payload + "\n").encode("utf-8"))
                        self.wfile.flush()
                finally:
                    # one sqlite connection per handler thread: close it
                    # when this client's read loop ends (daemon threads
                    # never run finalizers, so a long-lived server would
                    # otherwise leak one open connection per past client)
                    k = getattr(local, "kg", None)
                    if k is not None:
                        local.kg = None
                        k.close()

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server((host, port), Handler)
        self.address = self._server.server_address
        self._thread = None

    def start(self):
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self.address

    def stop(self):
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.stop()


class ASERServingClient:
    """Line-JSON client mirroring the reference client's method surface
    (aser/client/__init__.py:104-349)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 8000,
                 timeout: float | None = 30.0):
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._rfile = self._sock.makefile("rb")
        self._next_id = 0

    def close(self):
        self._rfile.close()
        self._sock.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def _call(self, cmd: str, arg=None):
        self._next_id += 1
        req = {"id": self._next_id, "cmd": cmd, "arg": arg}
        self._sock.sendall((json.dumps(req) + "\n").encode("utf-8"))
        resp = json.loads(self._rfile.readline())
        if not resp.get("ok"):
            raise RuntimeError(resp.get("error", ERROR))
        return resp["data"]

    def parse_text(self, text):
        return self._call("parse_text", text)

    def extract_eventualities(self, text):
        return self._call("extract_eventualities", text)

    def extract_relations(self, text):
        return self._call("extract_relations", text)

    def extract_eventualities_and_relations(self, text):
        return self._call("extract_eventualities_and_relations", text)

    def conceptualize_eventuality(self, words, pos_tags, ners=None, topk=5):
        return self._call("conceptualize_eventuality",
                          {"words": words, "pos_tags": pos_tags,
                           "ners": ners, "topk": topk})

    def exact_match_eventuality(self, eid):
        return self._call("exact_match_eventuality", eid)

    def predict_eventuality_relation(self, hid, tid):
        return self._call("exact_match_eventuality_relation",
                          {"hid": hid, "tid": tid})

    def fetch_related_eventualities(self, eid):
        return self._call("fetch_related_eventualities", eid)

    def exact_match_concept(self, key):
        return self._call("exact_match_concept", key)

    def predict_concept_relation(self, hid, tid):
        return self._call("exact_match_concept_relation",
                          {"hid": hid, "tid": tid})

    def fetch_related_concepts(self, cid):
        return self._call("fetch_related_concepts", cid)


__all__ = ["ASERServingServer", "ASERServingClient", "ASER_CMDS", "NONE"]
