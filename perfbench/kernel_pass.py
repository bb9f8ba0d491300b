"""Single-process traced pass of the extraction kernel with a cold memo.

Runs in a fresh interpreter (so the sentence memo starts empty), wraps
the kernel's public entry points in spans, drives
``conversation_instance_rows`` over the given conversations and writes
per-turn self times.

Usage: python3 -m perfbench.kernel_pass <input.json> <output.json>
input: {"mode": "seed"|"discourse", "convs": [[conv_id, [[turn, text]...]]...]}
"""

from __future__ import annotations

import json
import sys
import time

# 'module:attr' -> layer.  Every target is looked up by its caller at call
# time, so replacing the module attribute reroutes the program's calls.
KERNEL_TARGETS = {
    "aser_spark.nlp:parse_sentence": "nlp.parse",
    "aser_spark.kernel:extract_sentence_eventualities": "kernel.extractor",
    "aser_spark.kernel.discourse:extract_sentence_eventualities":
        "kernel.extractor",
    "aser_spark.kernel:extract_paragraph_relations": "kernel.relations",
    "aser_spark.kernel.discourse:sentence_connective_separators":
        "kernel.discourse.d2",
    "aser_spark.kernel.discourse:_sentence_clause_eventualities":
        "kernel.discourse.clauses",
    "aser_spark.kernel.discourse:extract_paragraph_relations_discourse":
        "kernel.discourse.d3_d6",
    "aser_spark.pipeline.extract:conversation_instance_rows":
        "pipeline.extract.conv_kernel",
}

# layer -> reported metric (self microseconds per input turn)
KERNEL_METRICS = {
    "nlp.parse": "nlp.parse_us",
    "kernel.extractor": "kernel.extractor.us",
    "kernel.relations": "kernel.relations.us",
    "kernel.discourse.d2": "kernel.discourse.d2_us",
    "kernel.discourse.clauses": "kernel.discourse.clauses_us",
    "kernel.discourse.d3_d6": "kernel.discourse.d3_d6_us",
}
TOTAL = "pipeline.extract.conv_kernel"


def run(mode: str, convs: list) -> dict:
    from aser_spark.nlp import split_sentences
    from perfbench.trace import Tracer

    n_turns = sum(len(turns) for _, turns in convs)
    n_sent = sum(len(split_sentences(text))
                 for _, turns in convs for _, text in turns)
    tracer = Tracer()
    patched = tracer.patch(KERNEL_TARGETS)
    from aser_spark.pipeline import extract as ex

    # the discourse classifiers load once per process: set-up, not per-turn
    # kernel work, so it is timed apart from the pass
    t0 = time.perf_counter()
    if mode == "discourse":
        from aser_spark.kernel.discourse_models import load_discourse_models

        load_discourse_models()
    model_load_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_rows = 0
    for conv_id, turns in convs:
        n_rows += len(ex.conversation_instance_rows(
            conv_id, [tuple(t) for t in turns], mode=mode))
    wall = time.perf_counter() - t0

    per_turn = lambda s: s * 1e6 / n_turns
    metrics = {m: per_turn(tracer.self_s.get(layer, 0.0))
               for layer, m in KERNEL_METRICS.items()}
    total = tracer.total_s.get(TOTAL, 0.0)
    metrics["pipeline.extract.conv_kernel_us"] = per_turn(total)
    metrics["kernel.attributed_share"] = (
        sum(tracer.self_s.get(layer, 0.0) for layer in KERNEL_METRICS)
        / total if total else 0.0)
    # every memo miss parses exactly once, so parses / sentences is the
    # miss rate of the per-worker sentence memo on this sample
    metrics["pipeline.extract.memo_hit_rate"] = (
        1.0 - tracer.calls.get("nlp.parse", 0) / n_sent if n_sent else 0.0)
    return {
        "metrics": metrics,
        "turns": n_turns, "sentences": n_sent, "rows": n_rows,
        "wall_s": wall, "model_load_s": model_load_s, "patched": patched,
        "calls": dict(tracer.calls),
        "spans": tracer.records(),
    }


def main(argv) -> int:
    with open(argv[1]) as f:
        spec = json.load(f)
    out = run(spec["mode"], spec["convs"])
    with open(argv[2], "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
