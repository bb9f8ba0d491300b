"""Extraction operators: eventualities (P1-P3/F3-F5), relations (J1/J2/D7),
and the fused single-pass graph-instance extractor.

Scale design
------------
* ``extract_eventualities`` is per-sentence -> pure ``mapInPandas``
  flatMap, NO shuffle.
* relations need whole-conversation context (adjacent-sentence pairing J2 +
  connective windows), so the conversation is the group.  Instead of
  ``groupBy(conv_id).applyInPandas`` (one pandas DataFrame per tiny group —
  per-group overhead dominates at 10^11 conversations) we do ONE hash
  repartition by conv_id + sortWithinPartitions, then stream Arrow batches
  through ``mapInPandas`` with a boundary-carry buffer: whole batches are
  processed vectorially and only the conversation straddling a batch edge is
  deferred.  One shuffle total, and it is the unavoidable one.
* ``extract_graph_instances`` fuses parse + eventualities + relations in
  that single pass so each turn is parsed exactly once; output is the
  unified INSTANCE_SCHEMA (kind='node'|'edge'), splittable by a cheap
  filter downstream.
"""

from __future__ import annotations

from ..kernel import memo as _memo
from ..schemas import (EVENTUALITY_INSTANCE_SCHEMA, INSTANCE_SCHEMA,
                       RELATION_INSTANCE_SCHEMA)

_EV_COLS = [f.name for f in EVENTUALITY_INSTANCE_SCHEMA.fields]
_REL_COLS = [f.name for f in RELATION_INSTANCE_SCHEMA.fields]
_INST_COLS = [f.name for f in INSTANCE_SCHEMA.fields]


def release_extraction_memory(spark=None) -> None:
    """Drop the per-worker memo state (``kernel/memo.py`` ``reset``) — in
    the reused python workers when a SparkSession is given (via a tiny
    flush job that cycles the worker pool), else in the calling process.

    After an extraction stage's output is materialized, the workers'
    resident memos (100-400MB each in discourse mode) are pure liability:
    at sf0.1 local[32] the JVM aggregations right after a discourse
    extract read 21-30s against a 2.5s healthy cost (BENCH/NOTES.md §r7).
    Call this between an extraction stage and unrelated downstream
    stages; bench.py calls it per rep.

    The flush job is best-effort: its 4x defaultParallelism tasks cycle
    the idle worker pool several times over, and a missed worker just
    keeps its memo (a pure-function cache, so output is unaffected)."""
    if spark is None:
        _memo.reset()
        return
    import pandas as pd

    n_tasks = spark.sparkContext.defaultParallelism * 4

    def flush(batches):
        # import inside the worker: a captured Memo would be pickled by
        # value with the closure, and its lock does not pickle
        from aser_spark.kernel import memo

        memo.reset()
        for _ in batches:
            pass
        yield pd.DataFrame({"ok": [1]})

    (spark.range(0, n_tasks, 1, n_tasks)
     .mapInPandas(flush, schema="ok int").count())


def _sentence_cache(mode: str = "seed", generation=None):
    """The per-worker memoized sentence kernel for ``mode``:
    ``f(sentence) -> (parsed, eventualities)`` in seed mode, and
    ``f(sentence, prev_ctx, next_ctx) -> (parsed, eventualities, tree)``
    plus ``f.parse(sentence) -> (parsed, tree)`` in discourse mode.

    ``mode='discourse'`` runs the v2.0 path instead: connective candidate
    scan -> clause split (constituency SBAR + separators) -> per-clause
    seed-rule re-extraction (kernel/discourse.py) — clause-level recall
    where the seed path's skip-word filter drops whole sentences.

    Parse+extract is a pure function of the sentence text, so every
    Zipf-hot sentence is parsed once per worker instead of once per
    occurrence (memo state: kernel/memo.py).  Cached parsed dicts /
    eventuality records are SHARED — downstream code only reads them.

    One ``(mode, generation)`` is resident at a time: a mode switch, or a
    ``generation`` different from the resident one, resets every memo
    first.  A worker still holding a prior mode's memos ran the next
    mode's kernel 4-8x slower (31-68s vs 8.5s, BENCH/NOTES.md §r6), and a
    warm same-mode rerun ~117s vs 9.4s (§r7), so repeated runs pass a new
    generation to start in the fresh-worker regime.  ``None`` (default)
    never forces a reset."""
    global _resident
    if _resident is not None and (
            _resident[0] != mode or generation not in (None, _resident[1])):
        _memo.reset()
        _resident = None
    if _resident is None:
        _resident = (mode, generation)
    return _discourse_sentence if mode == "discourse" else _seed_sentence


_resident = None  # the (mode, generation) the memos were filled under


def _seed_sentence(sentence: str):
    hit = _memo.SEED_SENTENCES.get(sentence)
    if hit is None:
        from ..kernel import extract_sentence_eventualities
        from ..nlp import parse_sentence

        # render_parse=False: seed extraction reads tokens/lemmas/pos/deps
        # only — skip the constituency build + PTB render (~20% of a parse)
        p = parse_sentence(sentence, render_parse=False)
        hit = (p, extract_sentence_eventualities(
            p["tokens"], p["lemmas"], p["pos_tags"], p["dependencies"],
            ners=p.get("ners"), mentions=p.get("mentions")))
        _memo.SEED_SENTENCES.put(sentence, hit)
    return hit


def _discourse_parse(sentence: str):
    hit = _memo.PARSES.get(sentence)
    if hit is None:
        from ..nlp import parse_sentence
        from ..nlp.syntax import SyntaxTree

        # render_parse=False: the kernel consumes the tree object, never
        # the PTB bracket string — skip rendering it
        p, root = parse_sentence(sentence, with_tree=True, render_parse=False)
        hit = (p, SyntaxTree.from_root(root))
        _memo.PARSES.put(sentence, hit)
    return hit


def _discourse_sentence(sentence: str, prev_ctx=None, next_ctx=None):
    # two-level memo: ctx = (token, pos_tag) adjacent to this sentence in
    # the conversation (or None at the edges) is the ONLY document state
    # the D2 connective classifier can see (one-token boundary leak,
    # kernel/discourse.py), so (sentence, ctx) exactly keys the SEPARATOR
    # decision — while the expensive clause re-extraction depends only on
    # (sentence, separators), a far lower-cardinality key that collapses
    # the many contexts yielding identical separators.
    p, tree = _discourse_parse(sentence)
    key = (sentence, prev_ctx, next_ctx)
    sep = _memo.SEPARATORS.get(key)
    if sep is None:
        from ..kernel.discourse import sentence_connective_separators

        sep = sentence_connective_separators(
            p["tokens"], p["pos_tags"], tree, prev_ctx, next_ctx)
        _memo.SEPARATORS.put(key, sep)
    key = (sentence, sep)
    evs = _memo.CLAUSES.get(key)
    if evs is None:
        from ..kernel.discourse import _sentence_clause_eventualities

        evs = _sentence_clause_eventualities(
            p["tokens"], p["lemmas"], p["pos_tags"], p["dependencies"], tree,
            set(sep), ners=p.get("ners"), mentions=p.get("mentions"))
        _memo.CLAUSES.put(key, evs)
    return p, evs, tree


_discourse_sentence.parse = _discourse_parse


def _ev_record_to_row(conv_id, turn_idx, sent_idx, e):
    return (
        conv_id, turn_idx, sent_idx, e["eid"], e["pattern"], e["words"],
        e["pos_tags"], [tuple(d) for d in e["dependencies"]],
        e["skeleton_word_indices"], e["verb_indices"], e["position"],
        e["frequency"],
    )


def extract_eventualities(parsed):
    """parsed sentences -> eventuality instance rows (no shuffle)."""
    import pandas as pd

    def run(batches):
        from ..kernel import extract_sentence_eventualities

        for pdf in batches:
            out = []
            for conv_id, turn_idx, sent_idx, tokens, lemmas, tags, deps in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["sent_idx"], pdf["tokens"],
                pdf["lemmas"], pdf["pos_tags"], pdf["dependencies"],
            ):
                evs = extract_sentence_eventualities(
                    list(tokens), list(lemmas), list(tags),
                    [(int(d["gov"]), d["rel"], int(d["dep"])) for d in deps],
                )
                out.extend(
                    _ev_record_to_row(conv_id, int(turn_idx), int(sent_idx), e)
                    for e in evs
                )
            yield _frame(out, _EV_COLS)

    return parsed.mapInPandas(run, schema=EVENTUALITY_INSTANCE_SCHEMA)


def _conversation_stream(batches, columns, key_col="conv_id"):
    """Group sorted Arrow batches into per-conversation row lists, carrying
    the boundary conversation across batch edges.

    Hot path: boundaries are found on the raw numpy id array and rows are
    materialized via zip over .tolist() columns — ~5x cheaper than
    pandas groupby + itertuples for many small groups."""
    import numpy as np

    carry_key, carry_rows = None, []
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        ids = pdf[key_col].to_numpy()
        arrs = [pdf[c].tolist() for c in columns]
        change = np.flatnonzero(ids[1:] != ids[:-1]) + 1
        bounds = [0, *change.tolist(), n]
        for s, e in zip(bounds[:-1], bounds[1:]):
            key = ids[s]
            rows = list(zip(*(a[s:e] for a in arrs)))
            if key == carry_key:
                carry_rows.extend(rows)
                continue
            if carry_key is not None:
                yield carry_key, carry_rows
            carry_key, carry_rows = key, rows
    if carry_key is not None:
        yield carry_key, carry_rows


def _frame(rows, columns):
    """Columnar DataFrame construction (avoids per-cell object inference)."""
    import pandas as pd

    if not rows:
        return pd.DataFrame({c: [] for c in columns})
    return pd.DataFrame(dict(zip(columns, map(list, zip(*rows)))))


def _conversation_stream_arrow(batches, columns, key_col="conv_id"):
    """Arrow-native sibling of ``_conversation_stream`` for ``mapInArrow``
    stages: consumes pyarrow RecordBatches instead of pandas frames.
    Same boundary-carry contract; ``to_pylist`` is a single C call per
    column versus pandas' block extraction + ``tolist``."""
    import numpy as np

    carry_key, carry_rows = None, []
    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        ids = np.asarray(rb.column(key_col).to_pylist(), dtype=object)
        arrs = [rb.column(c).to_pylist() for c in columns]
        change = np.flatnonzero(ids[1:] != ids[:-1]) + 1
        bounds = [0, *change.tolist(), n]
        for s, e in zip(bounds[:-1], bounds[1:]):
            key = ids[s]
            rows = list(zip(*(a[s:e] for a in arrs)))
            if key == carry_key:
                carry_rows.extend(rows)
                continue
            if carry_key is not None:
                yield carry_key, carry_rows
            carry_key, carry_rows = key, rows
    if carry_key is not None:
        yield carry_key, carry_rows


def _arrow_frame(rows, arrow_schema):
    """RecordBatch straight from row tuples: one typed pa.array per column.
    Skips the pandas DataFrame detour (block consolidation + the
    pandas->Arrow conversion Spark would do per yielded frame) — the
    instance payload is flat scalars, exactly Arrow's fast path."""
    import pyarrow as pa

    if not rows:
        cols = [pa.array([], type=f.type) for f in arrow_schema]
    else:
        cols = [pa.array(col, type=f.type)
                for f, col in zip(arrow_schema, zip(*rows))]
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


def _group_by_conv(df, num_partitions=None):
    """Hash-repartition by conv_id with an EXPLICIT partition count.

    Critical at scale: without it, AQE coalesces this exchange by byte size
    (a few MB of text -> 1-2 partitions) and the downstream Python UDF stage
    — which is CPU-bound, not byte-bound — serializes onto a couple of
    cores.  Explicit numPartitions pins the exchange.  Default = cores:
    each Arrow-UDF task costs ~40ms in worker handshake alone, so
    oversplitting a CPU-bound stage (the classic 2-3x rule for JVM stages)
    measurably hurts; conversations hash uniformly, so straggler risk at 1x
    is minimal.  Raise it for skewed real corpora."""
    if num_partitions is None:
        sc = df.sparkSession.sparkContext
        num_partitions = max(sc.defaultParallelism, 8)
    cols = ["conv_id", "turn_idx"] + (["sent_idx"] if "sent_idx" in df.columns else [])
    return df.repartition(num_partitions, "conv_id").sortWithinPartitions(*cols)


def extract_relations(parsed, num_partitions=None):
    """parsed sentences -> relation instance rows.

    Re-runs the (cheap) eventuality kernel inside the conversation group so
    this operator composes standalone; the fused path below shares the work.
    """
    import pandas as pd

    cols = ["turn_idx", "sent_idx", "tokens", "lemmas", "pos_tags", "dependencies"]

    def run(batches):
        from ..kernel import (extract_paragraph_relations,
                              extract_sentence_eventualities)

        _memo.freeze_once()
        out = []
        for conv_id, rows in _conversation_stream(batches, cols):
            sentences, para_evs = [], []
            for turn_idx, sent_idx, tokens, lemmas, tags, deps in rows:
                dep_t = [(int(d["gov"]), d["rel"], int(d["dep"])) for d in deps]
                sentences.append({"tokens": list(tokens), "dependencies": dep_t})
                para_evs.append(extract_sentence_eventualities(
                    list(tokens), list(lemmas), list(tags), dep_t))
            for hid, tid, sense, w in extract_paragraph_relations(sentences, para_evs):
                out.append((conv_id, hid, tid, sense, w))
            if len(out) >= 8192:
                yield _frame(out, _REL_COLS)
                out = []
        yield _frame(out, _REL_COLS)

    return _group_by_conv(parsed, num_partitions).mapInPandas(
        run, schema=RELATION_INSTANCE_SCHEMA
    )


def conversation_instance_rows(conv_id, turns, memo=None, mode="seed",
                               emit_turns=None):
    """Pure per-conversation kernel: ``turns`` = (turn_idx, text) pairs in
    turn order -> INSTANCE_SCHEMA tuples (node + edge rows).

    ``emit_turns=(lo, hi)`` restricts emission to rows anchored at turns in
    ``lo <= turn_idx < hi`` while the surrounding turns still provide
    context (neighbor tokens, prev-sentence arguments, 10-raw-token
    flanks).  This is the giant-conversation split contract: a chunk
    receives its core turns plus a few carried context turns on each side,
    computes over the whole window, and emits only what it owns — node
    rows by turn, relation rows by the kernel's per-sentence anchor
    (kernel/relations.py + kernel/discourse.py ``window=``).

    This is the single source of truth for the fused extraction semantics:
    the Spark ``mapInPandas`` stage below streams conversations through it,
    and the oracle stager (aser_spark/oracle_stage.py) drives the SAME
    function from plain Python to materialize the DuckDB-verifiable
    instances table — so the driver's oracle checks every downstream
    aggregation against an input produced by identical kernel code (which
    is itself golden-parity-gated vs the reference extractor)."""
    from ..kernel import extract_paragraph_relations
    from ..nlp import split_sentences

    if memo is None:
        memo = _sentence_cache(mode)
    out = []
    sentences, para_evs, keys, trees = [], [], [], []
    if mode == "discourse":
        # two passes: parse everything first so each sentence's one-token
        # neighbor context (the only cross-sentence state the connective
        # classifier sees) is known, then fetch memoized eventualities
        flat = [(int(turn_idx), sent_idx, sent)
                for turn_idx, text in turns
                for sent_idx, sent in enumerate(split_sentences(text))]
        parsed = [memo.parse(sent)[0] for _, _, sent in flat]
        n = len(flat)
        for i, (turn_idx, sent_idx, sent) in enumerate(flat):
            prev_ctx = next_ctx = None
            if i > 0 and parsed[i - 1]["tokens"]:
                pp = parsed[i - 1]
                prev_ctx = (pp["tokens"][-1], pp["pos_tags"][-1])
            if i + 1 < n and parsed[i + 1]["tokens"]:
                np_ = parsed[i + 1]
                next_ctx = (np_["tokens"][0], np_["pos_tags"][0])
            res = memo(sent, prev_ctx, next_ctx)
            sentences.append(res[0])
            para_evs.append(res[1])
            trees.append(res[2])
            keys.append((turn_idx, sent_idx))
    else:
        for turn_idx, text in turns:
            for sent_idx, sent in enumerate(split_sentences(text)):
                res = memo(sent)
                sentences.append(res[0])
                para_evs.append(res[1])
                trees.append(res[2] if len(res) > 2 else None)
                keys.append((int(turn_idx), sent_idx))
    if emit_turns is None:
        s_lo, s_hi = 0, len(keys)
    else:
        lo, hi = emit_turns
        s_lo = next((k for k, (t, _) in enumerate(keys) if t >= lo), len(keys))
        s_hi = next((k for k, (t, _) in enumerate(keys) if t >= hi), len(keys))
    for (turn_idx, sent_idx), evs in zip(keys[s_lo:s_hi], para_evs[s_lo:s_hi]):
        for e in evs:
            w = e["words"]
            out.append((
                "node", conv_id, turn_idx, sent_idx, e["eid"],
                e["pattern"], " ".join(w), " ".join(e["pos_tags"]),
                " ".join(w[i] for i in e["skeleton_word_indices"]),
                " ".join(w[i] for i in e["verb_indices"]),
                e["position"], e["frequency"],
                None, None, None, None,
                " ".join(e.get("ners") or ["O"] * len(w)),
            ))
    win = None if emit_turns is None else (s_lo, s_hi)
    if mode == "discourse":
        from ..kernel.discourse import extract_paragraph_relations_discourse

        rel_rows = extract_paragraph_relations_discourse(
            sentences, para_evs, trees, window=win)
    else:
        rel_rows = extract_paragraph_relations(sentences, para_evs, window=win)
    for hid, tid, sense, wt in rel_rows:
        out.append((
            "edge", conv_id, None, None, None, None, None, None,
            None, None, None, None, hid, tid, sense, wt, None,
        ))
    return out


def extract_graph_instances(transcripts, num_partitions=None, pre_grouped=False,
                            mode="seed", max_turns=None, context_turns=2,
                            memo_generation=None):
    """Fused flagship pass: transcripts -> unified node+edge instance rows.

    One shuffle (repartition by conv_id), one parse per turn, kernel
    extraction + in-conversation relation pairing in the same UDF —
    the Spark analog of the reference worker loop
    (/root/reference/aser/extract/utils.py:538-620) with the partial-dict
    merge replaced by downstream hash aggregation.

    ``pre_grouped=True`` skips the exchange entirely for input whose
    partitions already hold each conversation contiguously in turn order —
    the layout an Iceberg table written ``bucket(conv_id), sorted by
    (conv_id, turn_idx)`` gives every scan for free (and what the built-in
    generator emits).  The whole pipeline is then shuffle-free up to the
    final aggregations.

    ``max_turns`` is the skew guard for untrusted corpora: keyed by
    conv_id alone, a pathological million-turn conversation is ONE task.
    With ``max_turns=m`` each conversation is split into rank-range chunks
    ``chunk = rank div m`` — rank = the dense per-conversation position of
    the turn (``row_number() over (partition by conv_id order by
    turn_idx)``), NOT the raw turn_idx value, so gapped or sparse turn
    indices (exactly the untrusted corpora the guard targets) still chunk
    into full m-turn groups with the true previous/next turns as carried
    context.  The rank itself is computed in TWO PHASES so that no task
    anywhere in the plan scales with the pathological conversation's
    length (a naive ``Window.partitionBy(conv_id)`` rank would): a
    bucket-local row_number inside bounded (conv_id, turn_idx div 4096)
    partitions, plus prefix-summed per-bucket counts over a tiny
    one-row-per-bucket table, joined back on the co-partitioned bucket
    key — the pack_documents distributed-prefix-sum shape.  The guard is
    opt-in, and a value-based chunking is silently WRONG on gaps (a chunk
    boundary would separate a turn from its actual predecessor, changing
    the kernel's prev-sentence context).  The
    exchange keys on (conv_id, chunk), so per-task work is bounded by
    ``m + 2*context_turns`` turns no matter the conversation length.
    Each chunk also receives COPIES of the last
    ``context_turns`` turns of the previous chunk and the first
    ``context_turns`` of the next (one extra exchange row per boundary
    turn — no extra shuffle stage), and the kernel computes over the whole
    window but emits only rows anchored in the core range
    (``conversation_instance_rows(emit_turns=...)``), so a split
    conversation yields byte-identical rows.  Exactness needs the carried
    context to cover what the kernel actually reads across a boundary —
    seed mode: the previous sentence; discourse mode: the previous
    sentence, 1-token neighbors, and 10-raw-token flanks — which
    ``context_turns=2`` covers whenever two adjacent turns jointly contain
    >=2 sentences and >=10 tokens + the boundary sentence (any realistic
    transcript; raise it for corpora of one-word turns).

    Precondition (both paths): ``(conv_id, turn_idx)`` is a key.  With
    duplicate turn indices the within-turn order is undefined in the
    unsplit path already (the conversation stream sorts by turn_idx
    only), and under the guard the row_number tie-break may additionally
    place duplicates in different chunks run-to-run; the bucket bound
    (<= 4096 rows per (conv, bucket) window partition) also assumes
    distinct indices.  Deduplicate or re-index malformed corpora first.
    """
    from pyspark.sql import functions as F

    cols = ["turn_idx", "text"]

    def run_whole(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(INSTANCE_SCHEMA)
        # resets a stale mode's — or, under a new memo_generation, this
        # mode's own — memos FIRST, then freezes what survives
        memo = _sentence_cache(mode, memo_generation)
        _memo.freeze_once()
        out = []
        for conv_id, rows in _conversation_stream_arrow(batches, cols):
            out.extend(conversation_instance_rows(conv_id, rows, memo, mode))
            if len(out) >= 16384:
                yield _arrow_frame(out, arrow_schema)
                out = []
        yield _arrow_frame(out, arrow_schema)

    narrow = transcripts.select("conv_id", "turn_idx", "text")
    if max_turns is None:
        grouped = narrow if pre_grouped else _group_by_conv(narrow, num_partitions)
        return grouped.mapInArrow(run_whole, schema=INSTANCE_SCHEMA)

    m, k = int(max_turns), int(context_turns)
    if m <= 0 or k < 0 or k >= m:
        raise ValueError(f"need max_turns > context_turns >= 0, got {m}, {k}")

    def run_chunks(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(INSTANCE_SCHEMA)
        memo = _sentence_cache(mode, memo_generation)  # reset stale FIRST
        _memo.freeze_once()
        out = []
        chunk_cols = ["rk", "turn_idx", "text"]
        for gkey, rows in _conversation_stream_arrow(batches, chunk_cols,
                                                     key_col="gkey"):
            conv_id, _, chunk = gkey.rpartition("\x00")
            lo = int(chunk) * m
            # core = ranks in [lo, lo+m); ranks map monotonically onto
            # turn_idx, so the core is a contiguous turn-value range and
            # the existing emit_turns contract applies unchanged
            lo_t = next((t for r, t, _ in rows if r >= lo), None)
            if lo_t is None:  # boundary-context-only group (conv ends at m)
                continue
            hi_t = next((t for r, t, _ in rows if r >= lo + m),
                        rows[-1][1] + 1)
            out.extend(conversation_instance_rows(
                conv_id, [(t, x) for _, t, x in rows], memo, mode,
                emit_turns=(lo_t, hi_t)))
            if len(out) >= 16384:
                yield _arrow_frame(out, arrow_schema)
                out = []
        yield _arrow_frame(out, arrow_schema)

    from pyspark.sql import Window

    # TWO-PHASE dense rank (the pack_documents distributed-prefix-sum
    # shape): a single `Window.partitionBy(conv_id)` rank would funnel the
    # pathological conversation's ENTIRE row set through one window task —
    # re-introducing at the rank stage exactly the unbounded task the
    # guard exists to remove (measured: the giant conv's rank task read
    # more records than the unsplit kernel task, scripts/scale_evidence.py
    # giant_conv_tasks).  Instead: (1) bucket by turn_idx VALUE range
    # (buckets are order-contiguous, so gap-safety is preserved; turn_idx
    # is unique per conversation, so a bucket holds <= rank_bucket rows),
    # (2) local row_number + bucket row-count inside the bounded
    # (conv_id, bucket) partitions — one exchange, reused by both window
    # specs and by the counts branch (ReuseExchange), (3) prefix-sum the
    # per-bucket counts over a TINY one-row-per-bucket table (the only
    # conv_id-keyed task left reads n_turns/rank_bucket count rows, not
    # turns), (4) join offsets back on the co-partitioned (conv_id,
    # bucket) key.  rank = bucket_offset + local_rank.
    rank_bucket = 4096
    bucket = F.floor(F.col("turn_idx") / rank_bucket)
    w_local = Window.partitionBy("conv_id", "_b").orderBy("turn_idx")
    pre = (narrow
           .withColumn("_b", bucket)
           .withColumn("_lrk", (F.row_number().over(w_local) - 1).cast("long")))
    w_off = (Window.partitionBy("conv_id").orderBy("_b")
             .rowsBetween(Window.unboundedPreceding, -1))
    # counts via map-side-combining hash agg over the 2-column projection
    # (NOT a second big window): the exchange ships one partial row per
    # (conv, bucket) per map partition
    offsets = (narrow.select("conv_id", bucket.alias("_b"))
               .groupBy("conv_id", "_b").agg(F.count("*").alias("_cnt"))
               .select("conv_id", "_b",
                       F.coalesce(F.sum("_cnt").over(w_off),
                                  F.lit(0)).alias("_off")))
    ranked = (pre.join(offsets, ["conv_id", "_b"])
              .withColumn("rk", F.col("_off") + F.col("_lrk"))
              .drop("_b", "_lrk", "_off"))
    chunk = (F.col("rk") / m).cast("long")
    pos = F.col("rk") % m
    # one row per (target chunk) a turn participates in: its own, plus
    # context copies into the neighboring chunks near a boundary
    targets = F.array_compact(F.array(
        F.struct(chunk.alias("c")),
        F.when(pos >= m - k, F.struct((chunk + 1).alias("c"))),
        F.when((pos < k) & (chunk > 0), F.struct((chunk - 1).alias("c"))),
    ))
    exploded = (ranked
                .withColumn("_t", F.explode(targets))
                .withColumn("gkey", F.concat_ws("\x00", F.col("conv_id"),
                                                F.col("_t.c").cast("string")))
                .select("gkey", "rk", "turn_idx", "text"))
    if num_partitions is None:
        sc = narrow.sparkSession.sparkContext
        num_partitions = max(sc.defaultParallelism, 8)
    grouped = (exploded.repartition(num_partitions, "gkey")
               .sortWithinPartitions("gkey", "turn_idx"))
    return grouped.mapInArrow(run_chunks, schema=INSTANCE_SCHEMA)


COVERAGE_SCHEMA = ("conv_id string, turn_idx int, sent_idx int, "
                   "n_tokens int, pos_tags string, n_eventualities int, "
                   "covered boolean")
_COV_COLS = ["conv_id", "turn_idx", "sent_idx", "n_tokens", "pos_tags",
             "n_eventualities", "covered"]


def _coverage_struct():
    """StructType equivalent of COVERAGE_SCHEMA, built without a JVM (the
    DDL parser needs an active session — unavailable inside workers)."""
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("sent_idx", T.IntegerType()),
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("pos_tags", T.StringType()),
        T.StructField("n_eventualities", T.IntegerType()),
        T.StructField("covered", T.BooleanType()),
    ])


def turn_coverage_rows(conv_id, turn_idx, text, memo=None):
    """Pure per-turn parse-coverage kernel: EVERY sentence yields exactly
    one row — covered sentences report how many eventualities the grammar
    produced, out-of-grammar sentences degrade to a token/POS-only
    fallback row (n_eventualities=0, covered=false) instead of vanishing.
    This is the defined OOG behavior: the parser/kernel never raise on
    arbitrary text, and the coverage table makes the grammar's reach over
    a corpus measurable (fraction of covered sentences)."""
    from ..nlp import split_sentences

    if memo is None:
        memo = _sentence_cache("seed")
    rows = []
    for sent_idx, sent in enumerate(split_sentences(text)):
        p, evs = memo(sent)[:2]
        rows.append((conv_id, int(turn_idx), sent_idx, len(p["tokens"]),
                     " ".join(p["pos_tags"]), len(evs), bool(evs)))
    return rows


def parse_coverage(transcripts):
    """Per-sentence grammar-coverage table over a transcript corpus:
    (conv_id, turn_idx, sent_idx, n_tokens, pos_tags, n_eventualities,
    covered).  Shuffle-free ``mapInPandas`` (rows are independent per
    turn — no cross-sentence context is needed for seed-mode coverage),
    memoized per worker like the extraction kernel.  The aggregate
    coverage fraction is one map-side-combining AVG over the output."""
    def run(batches):
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(_coverage_struct())
        memo = _sentence_cache("seed")
        _memo.freeze_once()
        for rb in batches:
            out = []
            for conv_id, turn_idx, text in zip(
                    rb.column("conv_id").to_pylist(),
                    rb.column("turn_idx").to_pylist(),
                    rb.column("text").to_pylist()):
                out.extend(turn_coverage_rows(conv_id, turn_idx, text, memo))
            yield _arrow_frame(out, arrow_schema)

    return (transcripts.select("conv_id", "turn_idx", "text")
            .mapInArrow(run, schema=COVERAGE_SCHEMA))
