"""Workload corpora, derived only from the seed the benchmark is given.

Both workloads use the stock ``datagen.transcripts_df`` corpus (Zipf hot
head), generated pre-grouped by Spark and persisted; they differ in the
extraction mode.

Corpus ``index`` 0 is the warm-up corpus; timed builds use 1, 2, ...
Every index maps to its own generator seed, so the warm-up never shares a
conversation with a timed build.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

# name -> extraction mode
WORKLOADS = {"seed_zipf": "seed", "discourse_zipf": "discourse"}

# conversations per corpus; "tiny" is the smoke-test size
SIZES = {
    "full": {"seed": 2000, "discourse": 1000, "warmup": 500,
             "kernel_sample": 250, "check_sample": 16},
    "tiny": {"seed": 60, "discourse": 40, "warmup": 20,
             "kernel_sample": 20, "check_sample": 6},
}

PACKAGE_GLOBS = ("*.py", "*.npz", "*.json.gz")


def package_hash(pkg_dir) -> str:
    """sha256 over the package's code and data files (relative path +
    bytes, in path order): identifies exactly which source was imported."""
    pkg_dir = Path(pkg_dir)
    files = sorted(p for pat in PACKAGE_GLOBS for p in pkg_dir.rglob(pat)
                   if "__pycache__" not in p.parts)
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(pkg_dir)).encode() + b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def generator_seed(seed: int, index: int) -> int:
    return seed * 1000 + index


@dataclass
class Corpus:
    index: int
    convs: list          # [(conv_id, [(turn_idx, text), ...]), ...]
    df: object = None    # persisted Spark DataFrame of TRANSCRIPT_SCHEMA rows

    @property
    def n_turns(self) -> int:
        return sum(len(turns) for _, turns in self.convs)


def make_corpus(spark, workload: str, seed: int, index: int,
                size: str) -> Corpus:
    """Generate one corpus, persisted and counted in Spark, plus the same
    conversations in the driver (the generator is a pure function of
    (seed, conversation index))."""
    from aser_spark.datagen import transcripts_df
    from aser_spark.datagen.transcripts import gen_conversation_rows

    gseed = generator_seed(seed, index)
    n = SIZES[size]["warmup" if index == 0 else WORKLOADS[workload]]
    convs = []
    for i in range(n):
        rows = gen_conversation_rows(gseed, i)
        convs.append((rows[0][0], [(r[1], r[3]) for r in rows]))
    corpus = Corpus(index, convs)
    corpus.df = transcripts_df(spark, n, seed=gseed).persist()
    got = corpus.df.count()
    if got != corpus.n_turns:
        raise RuntimeError(f"generated {got} turns, expected {corpus.n_turns}")
    return corpus


def input_properties(corpus: Corpus) -> dict:
    """Turns, sentences, distinct-sentence share, top-10 share and the
    longest conversation (turns) of a corpus."""
    from aser_spark.nlp import split_sentences

    counts = Counter(s for _, turns in corpus.convs for _, text in turns
                     for s in split_sentences(text))
    n_sent = sum(counts.values())
    top10 = sum(c for _, c in counts.most_common(10))
    return {
        "conversations": len(corpus.convs),
        "turns": corpus.n_turns,
        "sentences": n_sent,
        "distinct_sentence_share": round(len(counts) / n_sent, 4),
        "top10_sentence_share": round(top10 / n_sent, 4),
        "longest_conversation_turns": max(len(t) for _, t in corpus.convs),
    }


def sample_convs(corpus: Corpus, n: int, seed: int) -> list:
    """A seeded sample of the corpus's conversations."""
    rng = random.Random(f"sample-{seed}-{corpus.index}-{n}")
    return rng.sample(corpus.convs, min(n, len(corpus.convs)))
