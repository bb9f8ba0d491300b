"""Unit tests for the extraction kernel on curated sentences — one per
eventuality pattern family and per relation sense family."""

import hashlib
import json

import pytest

from aser_spark.kernel import (extract_paragraph_relations,
                               extract_sentence_eventualities)
from aser_spark.nlp import parse_sentence, parse_text


def _extract(text):
    p = parse_sentence(text)
    return extract_sentence_eventualities(
        p["tokens"], p["lemmas"], p["pos_tags"], p["dependencies"])


@pytest.mark.parametrize("text,pattern,words", [
    ("the dog barked loudly.", "s-v", ["the", "dog", "bark", "loudly"]),
    ("my army will find your boat.", "s-v-o", ["my", "army", "will", "find", "you", "boat"]),
    ("we gave them the key.", "s-v-o-o", ["we", "give", "they", "the", "key"]),
    ("i am hungry.", "s-be-a", ["i", "be", "hungry"]),
    ("he is a teacher.", "s-be-o", ["he", "be", "a", "teacher"]),
    ("he wants to leave.", "s-v-v", ["he", "want", "to", "leave"]),
    ("she feels happy.", "s-v-a", ["she", "feel", "happy"]),
    ("he wants to buy a car.", "s-v-v-o", ["he", "want", "to", "buy", "a", "car"]),
    ("the order was shipped.", "spass-v", ["the", "order", "be", "ship"]),
    ("he was given the key.", "spass-v-o", ["he", "be", "give", "the", "key"]),
    ("there is a problem.", "there-be-o", ["there", "be", "a", "problem"]),
    ("he seems to be happy.", "s-v-be-a", ["he", "seem", "to", "be", "happy"]),
    ("he seems to be a teacher.", "s-v-be-o", ["he", "seem", "to", "be", "a", "teacher"]),
    # note: s-v-o-be-a/-o cannot select the infinitival 'to' (mark is not in
    # the A1 possible-group of that rule in the reference table) — faithful
    ("she considered him to be smart.", "s-v-o-be-a", ["she", "consider", "he", "be", "smart"]),
    ("she considered him to be a doctor.", "s-v-o-be-o", ["she", "consider", "he", "be", "doctor"]),
    ("she asked him to fix the bug.", "s-v-o-v-o", ["she", "ask", "he", "fix", "the", "bug"]),
    ("she asked him to give me the key.", "s-v-o-v-o-o", ["she", "ask", "he", "give", "i", "the", "key"]),
    ("he was asked to fix the bug.", "spass-v-v-o", ["he", "be", "ask", "fix", "the", "bug"]),
])
def test_pattern_fires(text, pattern, words):
    evs = _extract(text)
    hit = [e for e in evs if e["pattern"] == pattern]
    assert hit, f"{pattern} did not fire on {text!r}: got {[(e['pattern'], e['words']) for e in evs]}"
    assert hit[0]["words"] == words


def test_skip_words_drop_sentence():
    assert _extract("what is the problem?") == []
    assert _extract("When he left.") == []


def test_eid_is_reference_sha1():
    evs = _extract("i am hungry.")
    e = evs[0]
    rendered = [
        [[g, e["words"][g], e["pos_tags"][g]], lab, [d, e["words"][d], e["pos_tags"][d]]]
        for g, lab, d in e["dependencies"]
    ]
    msg = json.dumps([rendered, e["words"], e["pos_tags"]])
    assert e["eid"] == hashlib.sha1(msg.encode("utf-8")).hexdigest()


def test_eid_deterministic_across_sentences():
    a = _extract("i am hungry.")[0]
    b = _extract("i am hungry because the test failed.")
    hungry = [e for e in b if e["words"] == ["i", "be", "hungry"]]
    assert hungry and hungry[0]["eid"] == a["eid"]


def test_dangling_object_vetoes_bare_sv():
    evs = _extract("my army will find your boat.")
    assert all(e["pattern"] != "s-v" for e in evs)


def _para_relations(text):
    parsed = parse_text(text)
    para_evs = [
        extract_sentence_eventualities(s["tokens"], s["lemmas"],
                                       s["pos_tags"], s["dependencies"])
        for s in parsed
    ]
    return [(s, ) for s in []], extract_paragraph_relations(parsed, para_evs), para_evs


@pytest.mark.parametrize("text,sense", [
    ("the dog barked because he was hungry.", "Reason"),
    ("we stay home if it rains.", "Condition"),
    ("she smiled although she was tired.", "Concession"),
    ("i was tired. so i went home.", "Result"),
    ("he left. but she stayed home.", "Contrast"),
    ("he slept. meanwhile she worked.", "Synchronous"),
    ("i was tired and i went home.", "Co_Occurrence"),
])
def test_relation_sense_fires(text, sense):
    _, rels, _ = _para_relations(text)
    senses = {s for h, t, s, w in rels}
    assert sense in senses, f"{sense} not in {senses} for {text!r}"


def test_intra_sentence_pairs_get_co_occurrence():
    _, rels, para_evs = _para_relations("the dog barked because he was hungry.")
    n = len(para_evs[0])
    co = [r for r in rels if r[2] == "Co_Occurrence"]
    assert len(co) == n * (n - 1) // 2


def test_adjacent_sentence_requires_single_eventualities():
    # first sentence has 2 eventualities -> no cross-sentence relation
    _, rels, para_evs = _para_relations(
        "the dog barked because he was hungry. so i went home.")
    assert len(para_evs[0]) >= 2
    cross = [r for r in rels if r[2] == "Result"]
    assert ("Reason" in {r[2] for r in rels}) and not cross


def test_mention_projection_onto_eventualities():
    """F8: sentence NER mention spans survive into an eventuality iff both
    boundary tokens are kept, remapped to eventuality-local coordinates
    (eventuality.py:317-334)."""
    from aser_spark.kernel import extract_sentence_eventualities
    from aser_spark.kernel.extractor import project_mentions
    from aser_spark.nlp import parse_sentence

    # direct unit semantics
    assert project_mentions([{"start": 1, "end": 3, "text": "x y"}],
                            [0, 1, 2, 5]) == \
        [{"start": 1, "end": 3, "text": "x y"}]      # 1,2 kept -> local 1..3
    assert project_mentions([{"start": 1, "end": 3}], [0, 1, 5]) == []  # 2 dropped

    # through the extractor: "the dog barked" with a mention on "the dog"
    p = parse_sentence("the dog barked.")
    evs = extract_sentence_eventualities(
        p["tokens"], p["lemmas"], p["pos_tags"], p["dependencies"],
        mentions=[{"start": 0, "end": 2, "ner": "ANIMAL", "text": "the dog"}])
    assert len(evs) == 1
    m = evs[0]["mentions"]
    assert m == [{"start": 0, "end": 2, "ner": "ANIMAL", "text": "the dog"}]


# --- r8 optimization internals: fast paths must be output-identical --------

def test_eid_fast_path_matches_json_dumps():
    """eid_of's escape-free fast path must be byte-identical to the
    reference sha1(json.dumps(...)) rendering, and strings that need JSON
    escaping must route through the json.dumps fallback."""
    import hashlib
    import json
    import random

    from aser_spark.kernel.extractor import eid_of

    def ref(rd, w, t):
        return hashlib.sha1(
            json.dumps([rd, w, t]).encode("utf-8")).hexdigest()

    pool = ["hello", "", "a b", "it's", 'advcl:"s', "tab\there", "unié",
            "back\\slash", "nn", ".", 'quote"x', "\x01ctl", "n't", "ok-word"]
    rng = random.Random(7)
    for _ in range(2000):
        nw = rng.randrange(0, 6)
        words = [rng.choice(pool) for _ in range(nw)]
        tags = [rng.choice(pool) for _ in range(nw)]
        rd = []
        for _ in range(rng.randrange(0, 5)):
            g = rng.randrange(0, max(nw, 1))
            d = rng.randrange(0, max(nw, 1))
            rd.append([[g, words[g] if words else "x",
                        tags[g] if tags else "T"],
                       rng.choice(pool),
                       [d, words[d] if words else "y",
                        tags[d] if tags else "U"]])
        assert eid_of(rd, words, tags) == ref(rd, words, tags)


def test_render_parse_false_only_drops_parse_string():
    """parse_sentence(render_parse=False) must agree with the default on
    every field except 'parse' (None instead of the PTB string), and the
    with_tree variant must still return an equivalent tree."""
    from aser_spark.nlp.parser import _render_ptb, parse_sentence

    sents = [
        "the dog barked because he was hungry.",
        "i am hungry.",
        "she asked him to review the report, the build failed.",
        "either the team worked or the server crashed.",
    ]
    for s in sents:
        full = parse_sentence(s)
        lean = parse_sentence(s, render_parse=False)
        assert lean["parse"] is None
        for k in full:
            if k != "parse":
                assert lean[k] == full[k], (s, k)
        lean2, root = parse_sentence(s, with_tree=True, render_parse=False)
        assert lean2["parse"] is None
        assert _render_ptb(root) == full["parse"]


def test_pattern_prefilter_is_sound_vs_unfiltered_matcher():
    """The sentence/verb-level prefilters may only skip candidates the
    matcher itself rejects: running programs WITHOUT the prefilter must
    produce the same eventuality records."""
    from aser_spark.kernel.extractor import (_index_edges, _run_program,
                                             build_eventuality)
    from aser_spark.kernel.patterns import PATTERN_PROGRAMS
    from aser_spark.kernel import extract_sentence_eventualities
    from aser_spark.kernel.extractor import relabel_by_pos
    from aser_spark.nlp.parser import parse_sentence
    from aser_spark.datagen.transcripts import gen_conversation_rows
    from aser_spark.nlp import split_sentences

    def unfiltered(tokens, lemmas, pos_tags, dependencies):
        deps = [tuple(e) for e in dependencies]
        verbs = [i for i, t in enumerate(pos_tags) if t.startswith("VB")]
        by_gov, by_dep = _index_edges(deps)
        by_pattern = {}
        for name, prog in PATTERN_PROGRAMS.items():
            bucket = []
            for vp in verbs:
                res = _run_program(prog, by_gov, by_dep, {"V1": vp})
                if res is None or not res[0]:
                    continue
                bucket.append(build_eventuality(
                    name, [deps[i] for i in res[0]], res[1],
                    lemmas, tokens, pos_tags))
            by_pattern[name] = bucket
        return [e for b in relabel_by_pos(by_pattern).values() for e in b]

    n_checked = 0
    for ci in range(120):
        for row in gen_conversation_rows(42, ci):
            for sent in split_sentences(row[3]):
                p = parse_sentence(sent, render_parse=False)
                got = extract_sentence_eventualities(
                    p["tokens"], p["lemmas"], p["pos_tags"],
                    p["dependencies"], skip_words=None)
                want = unfiltered(p["tokens"], p["lemmas"], p["pos_tags"],
                                  p["dependencies"])
                assert got == sorted(want, key=lambda e: e["position"]) or \
                    got == want  # same records either way
                assert [e["eid"] for e in got] == \
                    [e["eid"] for e in sorted(want,
                                              key=lambda e: e["position"])]
                n_checked += 1
    assert n_checked > 500


@pytest.mark.parametrize("op, msg", [
    (("V1", frozenset({"nsubj", "nsubjpass"}), "S1"), "needs one label"),
    (("S1", frozenset({"nsubj"}), "X1"), "must anchor on V1"),
])
def test_pattern_prefilter_rejects_unsound_program(monkeypatch, op, msg):
    """Both prefilter soundness invariants are real checks (they must
    survive ``python -O``): a multi-label positive op, or a first
    positive op not anchored on V1, is refused at compile time."""
    from aser_spark.kernel import extractor
    from aser_spark.kernel.patterns import BIND, Op, PatternProgram

    anchor, labels, var = op
    bad = PatternProgram("bad", (Op(BIND, anchor, labels, var, False),),
                         (), ())
    monkeypatch.setattr(extractor, "PATTERN_PROGRAMS", {"bad": bad})
    with pytest.raises(ValueError, match=msg):
        extractor._compile_prefilters()


def test_memo_is_a_bounded_lru_across_threads():
    """The one worker-memo type: least-recently-USED eviction (a hit
    refreshes an entry), hit/miss counters, and no growth past its bound
    while threads look up, insert and evict concurrently."""
    import threading

    from aser_spark.kernel.memo import Memo

    m = Memo("t", 3)
    for k in "abc":
        m.put(k, k.upper())
    assert m.get("a") == "A"  # refresh: "b" is now least recent
    m.put("d", "D")
    assert m.get("b") is None and m.get("c") == "C"
    assert (m.hits, m.misses, len(m)) == (2, 1, 3)

    shared = Memo("u", 64)

    def work(seed):
        for i in range(20_000):
            k = (seed * 31 + i * 7) % 256
            v = shared.get(k)
            if v is None:
                shared.put(k, (k,))
            else:
                assert v == (k,)

    threads = [threading.Thread(target=work, args=(s,)) for s in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert 0 < len(shared) <= 64


def test_task_end_bounds_frozen_cyclic_garbage(monkeypatch):
    """``memo.task_end`` freezes what a task left resident, and a frozen
    value that holds a reference cycle (a parse tree's ``up`` links) is
    reclaimed only by an unfreeze once evicted.  Over many put/evict/
    task-end rounds the frozen set must stay within the resident entries
    plus one capacity's worth of evicted values, and ``reset()`` must
    bring it back to the baseline."""
    import gc

    from aser_spark.kernel import memo

    class Node:
        def __init__(self, up=None):
            self.up = up
            self.kids = []

    def tree():
        root = Node()
        root.kids = [Node(root) for _ in range(8)]
        return root

    cap, per_round, slack = 64, 16, 500
    before = len(gc.get_objects())
    sample = [tree() for _ in range(100)]
    per_value = (len(gc.get_objects()) - before) / len(sample)
    del sample
    m = memo.Memo("test.cyclic", cap, cyclic=True)
    monkeypatch.setattr(memo, "MEMOS", memo.MEMOS + (m,))
    thresholds = gc.get_threshold()
    try:
        memo.reset()
        memo.task_end()
        base = gc.get_freeze_count()
        peak, key = 0, 0
        for _ in range(100):
            for _ in range(per_round):
                m.put(key, tree())
                key += 1
            memo.task_end()
            peak = max(peak, gc.get_freeze_count() - base)
        # 1,600 values went through a 64-entry memo: unbounded, ~1,536
        # evicted trees would stay frozen
        assert peak <= 2 * cap * per_value + slack
        memo.reset()
        assert gc.get_freeze_count() == 0 and len(m) == 0
        memo.task_end()
        assert gc.get_freeze_count() <= base + slack
    finally:
        memo.reset()
        gc.set_threshold(*thresholds)
