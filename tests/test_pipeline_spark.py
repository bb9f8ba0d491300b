"""Spark-level pipeline tests: invariants, fused-extraction parity with the
kernel, checkpoint/resume, salted aggregation correctness."""

import shutil
from collections import Counter

import pytest
from pyspark.sql import Window, functions as F

N_CONVS = 60


@pytest.fixture(scope="module")
def transcripts(spark):
    from aser_spark.datagen import transcripts_df

    return transcripts_df(spark, N_CONVS, seed=42).cache()


@pytest.fixture(scope="module")
def kernel_expected():
    """Ground truth computed by the pure-Python kernel, no Spark."""
    from aser_spark.datagen.transcripts import gen_conversation_rows
    from aser_spark.kernel import (extract_paragraph_relations,
                                   extract_sentence_eventualities)
    from aser_spark.nlp import parse_text

    ev, rel = Counter(), Counter()
    node_freq = Counter()
    for ci in range(N_CONVS):
        parsed = []
        for r in gen_conversation_rows(42, ci):
            parsed.extend(parse_text(r[3]))
        para_evs = [
            extract_sentence_eventualities(s["tokens"], s["lemmas"],
                                           s["pos_tags"], s["dependencies"])
            for s in parsed
        ]
        for evs in para_evs:
            for e in evs:
                ev[e["eid"]] += 1
                node_freq[e["eid"]] += 1
        for h, t, s, w in extract_paragraph_relations(parsed, para_evs):
            rel[(h, t, s)] += 1
    return ev, rel, node_freq


def test_per_turn_text_equality_under_stable_ordering(spark, transcripts):
    """BASELINE.json per-row invariant: regenerating the same conv yields
    identical per-turn text under Window ordering by turn_idx."""
    from aser_spark.datagen import transcripts_df

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    a = transcripts.withColumn("rn", F.row_number().over(w)) \
                   .select("conv_id", "rn", "text")
    b = transcripts_df(spark, N_CONVS, seed=42) \
        .withColumn("rn", F.row_number().over(w)).select("conv_id", "rn", "text")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # turn_idx dense from 0
    gaps = (transcripts.groupBy("conv_id")
            .agg(F.max("turn_idx").alias("mx"), F.count("*").alias("n"))
            .filter(F.col("mx") != F.col("n") - 1))
    assert gaps.count() == 0


@pytest.fixture(scope="module")
def discourse_expected():
    """Discourse-mode instance rows from the same kernel function the UDF
    streams through, run driver-side over the same conversations."""
    from aser_spark.datagen.transcripts import gen_conversation_rows
    from aser_spark.pipeline.extract import conversation_instance_rows

    rows = Counter()
    for ci in range(N_CONVS):
        turns = gen_conversation_rows(42, ci)
        rows.update(conversation_instance_rows(
            turns[0][0], [(r[1], r[3]) for r in turns], mode="discourse"))
    return rows


@pytest.mark.parametrize("pre_grouped", [False, True],
                         ids=["shuffled", "pre_grouped"])
@pytest.mark.parametrize("mode", ["seed", "discourse"])
def test_fused_extraction_matches_kernel(spark, transcripts, kernel_expected,
                                         discourse_expected, mode,
                                         pre_grouped):
    """The fused pass equals the driver-side kernel in both modes, through
    the conv_id exchange and — transcripts_df emits each conversation
    contiguously in turn order — without it."""
    from aser_spark.pipeline import extract_graph_instances

    inst = extract_graph_instances(transcripts, mode=mode,
                                   pre_grouped=pre_grouped)
    if mode == "discourse":
        assert Counter(map(tuple, inst.collect())) == discourse_expected
        return
    ev_exp, rel_exp, _ = kernel_expected
    inst = inst.cache()
    got_ev = Counter(
        r.eid for r in inst.filter("kind = 'node'").select("eid").collect())
    got_rel = Counter(
        (r.hid, r.tid, r.sense)
        for r in inst.filter("kind = 'edge'").select("hid", "tid", "sense").collect())
    assert got_ev == ev_exp
    assert got_rel == rel_exp


def test_aggregation_and_core_filter(spark, transcripts, kernel_expected):
    from aser_spark.pipeline import build_knowledge_graph, extract_graph_instances
    from aser_spark.pipeline.graph import build_core_kg, edges_wide

    _, rel_exp, node_freq = kernel_expected
    inst = extract_graph_instances(transcripts)
    nodes, edges, lineage = build_knowledge_graph(inst)
    nodes = nodes.cache(); edges = edges.cache()

    got = {r.eid: r.frequency for r in nodes.select("eid", "frequency").collect()}
    assert got == {k: float(v) for k, v in node_freq.items()}

    got_edges = {(r.hid, r.tid, r.sense): r.weight for r in edges.collect()}
    assert got_edges == {k: float(v) for k, v in rel_exp.items()}

    core_nodes, core_edges = build_core_kg(nodes, edges)
    kept = {r.eid for r in core_nodes.select("eid").collect()}
    assert kept == {k for k, v in node_freq.items() if v >= 2.0}
    for r in core_edges.collect():
        assert r.hid in kept and r.tid in kept

    wide = edges_wide(edges)
    long_mass = edges.agg(F.sum("weight")).collect()[0][0]
    sense_cols = [c for c in wide.columns if c not in ("rid", "hid", "tid")]
    wide_mass = wide.select(
        sum(F.col(c) for c in sense_cols).alias("s")).agg(F.sum("s")).collect()[0][0]
    assert abs(long_mass - wide_mass) < 1e-6

    # lineage covers every node and counts every mention
    lg = lineage.agg(F.sum("n_mentions")).collect()[0][0]
    assert lg == sum(node_freq.values())


def test_rid_is_reference_sha1(spark, transcripts):
    from aser_spark.kernel.relations import rid_of
    from aser_spark.pipeline import extract_graph_instances
    from aser_spark.pipeline.aggregate import aggregate_edges, edges_from_instances

    edges = aggregate_edges(
        edges_from_instances(extract_graph_instances(transcripts))).limit(20).collect()
    for r in edges:
        assert r.rid == rid_of(r.hid, r.tid)


def test_salted_sum_matches_plain(spark, transcripts):
    from aser_spark.pipeline import extract_graph_instances
    from aser_spark.pipeline.aggregate import nodes_from_instances, salted_sum

    ev = nodes_from_instances(extract_graph_instances(transcripts)).cache()
    plain = {r.eid: r.s for r in
             ev.groupBy("eid").agg(F.sum("frequency").alias("s")).collect()}
    salted = {r.eid: r.frequency for r in
              salted_sum(ev, ["eid"], "frequency", "conv_id", n_salts=8).collect()}
    assert plain == salted


def test_incremental_upsert_equivalence(spark, transcripts):
    """Incremental ingest (the reference's node/edge frequency '+='
    upsert, kg_connection.py:257-341): merging the AGGREGATED KGs of two
    disjoint extraction batches equals building one KG over their union —
    frequencies and edge weights sum exactly, payload columns agree."""
    from pyspark.sql import functions as F

    from aser_spark.pipeline import extract_graph_instances
    from aser_spark.pipeline.aggregate import (aggregate_edges,
                                               aggregate_nodes,
                                               edges_from_instances,
                                               nodes_from_instances)
    from aser_spark.pipeline.graph import merge_kgs

    half = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    kgs = []
    for i in (0, 1):
        inst = extract_graph_instances(transcripts.filter(half == i))
        kgs.append((aggregate_nodes(nodes_from_instances(inst)),
                    aggregate_edges(edges_from_instances(inst))))
    merged_nodes, merged_edges = merge_kgs([n for n, _ in kgs],
                                           [e for _, e in kgs])

    inst_full = extract_graph_instances(transcripts)
    full_nodes = aggregate_nodes(nodes_from_instances(inst_full))
    full_edges = aggregate_edges(edges_from_instances(inst_full))

    def rows(df, val):
        df = df.withColumn(val, F.round(val, 6))
        return sorted(tuple(r) for r in df.collect())

    assert rows(merged_nodes, "frequency") == rows(full_nodes, "frequency")
    assert rows(merged_edges, "weight") == rows(full_edges, "weight")


def test_merge_into_kg_matches_full_build(spark, transcripts):
    """First-class incremental update (r6 VERDICT #4): folding batch B's
    RAW instance rows into the already-aggregated KG of batch A via
    merge_into_kg (delta agg + one co-keyed full-outer join per table)
    equals building the KG over A ∪ B in one shot — the Spark mirror of
    test_serving_sqlite's upsert==union-merge invariant.  Also checks the
    pass-through contract: rows untouched by the delta keep their payload
    and measure bit-for-bit."""
    from pyspark.sql import functions as F

    from aser_spark.pipeline import extract_graph_instances
    from aser_spark.pipeline.aggregate import (aggregate_edges,
                                               aggregate_nodes,
                                               edges_from_instances,
                                               nodes_from_instances)
    from aser_spark.pipeline.graph import merge_into_kg

    half = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    inst_a = extract_graph_instances(transcripts.filter(half == 0))
    inst_b = extract_graph_instances(transcripts.filter(half == 1))
    nodes_a = aggregate_nodes(nodes_from_instances(inst_a))
    edges_a = aggregate_edges(edges_from_instances(inst_a))
    merged_nodes, merged_edges = merge_into_kg(nodes_a, edges_a, inst_b)

    inst_full = extract_graph_instances(transcripts)
    full_nodes = aggregate_nodes(nodes_from_instances(inst_full))
    full_edges = aggregate_edges(edges_from_instances(inst_full))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # exact, not rounded: instance weights are dyadic rationals and
    # frequencies integral doubles, so addition order cannot perturb them
    assert rows(merged_nodes) == rows(full_nodes)
    assert rows(merged_edges) == rows(full_edges)

    # folding an EMPTY delta is the identity (schema included)
    empty = inst_full.limit(0)
    id_nodes, id_edges = merge_into_kg(full_nodes, full_edges, empty)
    assert rows(id_nodes) == rows(full_nodes)
    assert rows(id_edges) == rows(full_edges)


@pytest.mark.parametrize("mode", ["seed", "discourse"])
def test_memo_generation_and_release_identical_rows(spark, transcripts, mode):
    """The r7 worker-memory controls are pure memory management: bumping
    memo_generation (same-mode reset at task start) and running the
    release_extraction_memory flush job between runs must leave the
    extraction output byte-identical — and a release or a mode switch
    must leave no memo resident."""
    from aser_spark.kernel import memo
    from aser_spark.pipeline.extract import (_sentence_cache,
                                             conversation_instance_rows,
                                             extract_graph_instances,
                                             release_extraction_memory)

    # populate a DRIVER-side memo first: the flush closure must not
    # capture a memo by value (its lock does not pickle) — the
    # regression only surfaced when the driver process also held memos
    _sentence_cache(mode)("the dog sees the cat.")

    t = transcripts.limit(120)

    def rows(**kw):
        return sorted(map(repr,
                          extract_graph_instances(t, mode=mode, **kw).collect()))

    base = rows()
    gen1 = rows(memo_generation=1)
    release_extraction_memory(spark)
    gen2 = rows(memo_generation=2)
    # driver-side flush path too (covers the spark=None branch)
    release_extraction_memory()
    assert base == gen1 == gen2
    assert {m.name: len(m) for m in memo.MEMOS if len(m)} == {}

    # a mode switch drops the discourse relation-pass memo as well
    conversation_instance_rows(
        "c", [(0, "i stayed home because it was raining."),
              (1, "so we watched a movie.")], mode="discourse")
    assert len(memo.CANDIDATES)
    _sentence_cache("seed")
    assert {m.name: len(m) for m in memo.MEMOS if len(m)} == {}


@pytest.mark.parametrize("mode", ["seed", "discourse"])
def test_extract_leaves_workers_ready_for_next_task(spark, transcripts,
                                                    mode):
    """After an extract, every reused worker that ran it starts its next
    task cheaply: no subpackage zipimporter is left for pyspark's per-task
    ``importlib.invalidate_caches()`` to re-read, and what the task left
    resident is frozen, so the cyclic GC's post-task collect scans little.
    Structural facts only (scripts/worker_tax.py reports the timings)."""
    import importlib.util
    from pathlib import Path

    from aser_spark.pipeline import extract_graph_instances

    spec = importlib.util.spec_from_file_location(
        "worker_tax",
        Path(__file__).resolve().parent.parent / "scripts" / "worker_tax.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    n = spark.sparkContext.defaultParallelism
    # 4x oversubscribed: the idle-worker queue is FIFO, so every pooled
    # worker runs an extract task last
    extract_graph_instances(transcripts, num_partitions=4 * n,
                            mode=mode).count()
    workers = [w for w in mod.probe_workers(spark, n) if w["memo_entries"]]
    assert workers
    for w in workers:
        assert w["subpackage_importers"] == 0, w
        assert w["tracked"] * 10 < w["frozen"], w


def test_merge_lineage_matches_full_build(spark, transcripts):
    """Bounded lineage composes: min-K of a union is recoverable from the
    union of the min-Ks, so merge_lineage(lineage(A), B) equals
    build_lineage(A ∪ B) bit-for-bit (sids arrays AND exact n_mentions)."""
    from pyspark.sql import functions as F

    from aser_spark.pipeline import extract_graph_instances
    from aser_spark.pipeline.aggregate import (build_lineage,
                                               nodes_from_instances)
    from aser_spark.pipeline.graph import merge_lineage

    half = F.pmod(F.xxhash64("conv_id"), F.lit(2))
    inst_a = extract_graph_instances(transcripts.filter(half == 0))
    inst_b = extract_graph_instances(transcripts.filter(half == 1))
    lin_a = build_lineage(nodes_from_instances(inst_a), max_sids=8)
    merged = merge_lineage(lin_a, inst_b, max_sids=8)

    inst_full = extract_graph_instances(transcripts)
    full = build_lineage(nodes_from_instances(inst_full), max_sids=8)

    def rows(df):
        return sorted((r.eid, tuple(r.sids), r.n_mentions)
                      for r in df.collect())

    assert rows(merged) == rows(full)


def test_checkpoint_mode_mismatch_fails_fast(spark, transcripts, tmp_path):
    """Resuming a workdir under a different extraction mode must raise —
    the seed and discourse kernels emit different eids/relations."""
    from aser_spark.pipeline.checkpoint import run_extraction_checkpointed

    wd = str(tmp_path / "kg_mode")
    run_extraction_checkpointed(spark, transcripts.limit(50), wd, n_parts=4,
                                mode="seed")
    with pytest.raises(ValueError, match="mode"):
        run_extraction_checkpointed(spark, transcripts.limit(50), wd,
                                    n_parts=4, mode="discourse")


def test_lineage_capped_matches_full_prefix(spark, transcripts):
    """Bounded-lineage mode: per eid, sids == the min-K prefix of the
    FULL lineage's sorted sid set, and n_mentions stays exact — the
    head-key-safe representation (scripts/scale_evidence.py skew)."""
    from aser_spark.pipeline import extract_graph_instances
    from aser_spark.pipeline.aggregate import (build_lineage,
                                               nodes_from_instances)

    inst = nodes_from_instances(
        extract_graph_instances(transcripts.limit(120)))
    full = {r.eid: (sorted(r.sids), r.n_mentions)
            for r in build_lineage(inst).collect()}
    k = 2
    capped = {r.eid: (list(r.sids), r.n_mentions)
              for r in build_lineage(inst, max_sids=k).collect()}
    assert set(full) == set(capped)
    for eid, (sids, n) in full.items():
        assert capped[eid] == (sids[:k], n)


def test_export_driver_memory_bounded(spark, tmp_path):
    """The SQLite export must stream (toLocalIterator): python-side peak
    allocation while exporting a multi-partition KG stays far below the
    table's materialized size — the 'bandwidth-bound, never memory-bound'
    property of the serving cut."""
    import tracemalloc

    from pyspark.sql import functions as F

    from aser_spark.serving_sqlite import export_kg_to_sqlite

    n = 120_000
    nodes = (spark.range(n).select(
        F.concat(F.lit("e"), "id").alias("eid"),
        F.lit("s-v-o").alias("pattern"),
        F.concat(F.lit("w w w w w w w w "), "id").alias("words"),
        F.lit("PRP VB NN").alias("pos_tags"),
        F.lit("w w").alias("skeleton_words"), F.lit("w").alias("verbs"),
        F.lit(1.0).alias("frequency")).repartition(16))
    edges = (spark.range(200).select(
        F.concat(F.lit("e"), "id").alias("hid"),
        F.concat(F.lit("e"), F.col("id") + 1).alias("tid"),
        F.lit("Precedence").alias("sense"), F.lit(1.0).alias("weight"))
        .withColumn("rid", F.concat(F.lit("r"), "hid"))
        .select("rid", "hid", "tid", "sense", "weight"))
    db = str(tmp_path / "big.db")
    tracemalloc.start()
    tracemalloc.reset_peak()
    stats = export_kg_to_sqlite(nodes, edges, db)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert stats["n_eventualities"] == n
    # ~120k rows x ~100B > 12 MB materialized; streaming peak must stay
    # bounded by a partition, not the table (empirically ~6 MB here)
    assert peak < 48 * 1024 * 1024, f"export peak {peak/1e6:.1f} MB"


def test_parse_coverage_fallback_rows():
    """Out-of-grammar / degenerate sentences must NEVER crash and must
    degrade to a token/POS-only fallback row (covered=false) instead of
    vanishing — the defined S7 OOG behavior."""
    from aser_spark.pipeline.extract import turn_coverage_rows

    probes = ["", "   ", "???", "\U0001f916\U0001f916", "asdf qwerty zxcv",
              "click here http://example.com/x?y=1 for more",
              "word " * 200, "a", "DON'T PANIC",
              "the dog barked because the cat slept."]
    rows = []
    for text in probes:
        rows.extend(turn_coverage_rows("c0", 0, text))
    # every non-empty probe produced at least one row, none raised
    assert len(rows) >= len(probes) - 2
    fallback = [r for r in rows if not r[6]]
    covered = [r for r in rows if r[6]]
    assert fallback, "degenerate probes should yield uncovered rows"
    assert covered, "the grammatical probe should be covered"
    for r in fallback:
        assert r[5] == 0                       # n_eventualities
        assert len(r[4].split()) == r[3] or r[3] == 0   # POS per token


def test_parse_coverage_spark_matches_kernel(spark, transcripts):
    """The Spark parse_coverage operator equals the pure per-turn kernel
    row-for-row, and the corpus coverage fraction is computable as one
    aggregate."""
    from pyspark.sql import functions as F

    from aser_spark.pipeline.extract import parse_coverage, turn_coverage_rows

    t = transcripts.limit(40)
    got = sorted(tuple(r) for r in parse_coverage(t).collect())
    want = []
    for r in t.select("conv_id", "turn_idx", "text").collect():
        want.extend(turn_coverage_rows(r.conv_id, r.turn_idx, r.text))
    assert got == sorted(want)
    cov = (parse_coverage(t)
           .agg(F.avg(F.col("covered").cast("double")).alias("c"))
           .collect()[0].c)
    assert 0.0 < cov <= 1.0


def test_checkpoint_legacy_unrecorded_mode_refuses(spark, transcripts,
                                                   tmp_path):
    """A pre-mode-column workdir (committed rows with NULL mode) must
    refuse to resume under ANY mode — we cannot prove which kernel
    produced the committed partitions, mirroring the streaming path's
    '<unrecorded>' marker refusal."""
    from aser_spark.pipeline.checkpoint import (CHECKPOINT_SCHEMA,
                                                run_extraction_checkpointed)

    wd = str(tmp_path / "kg_legacy")
    legacy = spark.createDataFrame(
        [(0, 1, 1, 1, "done", "transcripts", None, 1, "2025-01-01")],
        CHECKPOINT_SCHEMA)
    legacy.write.parquet(f"{wd}/_checkpoints")
    for m in ("seed", "discourse"):
        with pytest.raises(ValueError, match="no recorded extraction mode"):
            run_extraction_checkpointed(spark, transcripts.limit(50), wd,
                                        n_parts=4, mode=m)


def test_checkpoint_resume(spark, transcripts, tmp_path):
    from aser_spark.pipeline.checkpoint import (done_part_ids,
                                                run_extraction_checkpointed)

    wd = str(tmp_path / "kg")
    n_parts = 8
    inst1 = run_extraction_checkpointed(spark, transcripts, wd, n_parts=n_parts)
    c1 = inst1.count()
    assert done_part_ids(spark, wd) == set(range(n_parts))

    # simulate a crashed run: drop 3 partitions' staging + checkpoint rows
    import pandas as pd
    ck = spark.read.parquet(f"{wd}/_checkpoints").toPandas()
    keep = ck[~ck.part_id.isin([1, 3, 5])]
    shutil.rmtree(f"{wd}/_checkpoints")
    spark.createDataFrame(keep).write.parquet(f"{wd}/_checkpoints")
    for p in (1, 3):  # partial staging for 1,3; missing entirely for 5
        pass  # leave staged files as orphans — resume must replace them

    inst2 = run_extraction_checkpointed(spark, transcripts, wd, n_parts=n_parts)
    assert inst2.count() == c1
    assert done_part_ids(spark, wd) == set(range(n_parts))
    # idempotent third run: nothing pending, same data
    inst3 = run_extraction_checkpointed(spark, transcripts, wd, n_parts=n_parts)
    assert inst3.count() == c1


def test_connected_components_label_propagation(spark):
    """Generic iterative CC: chain 1-2-3-4, pair 5-6, singleton excluded
    (only nodes appearing in edges are labeled)."""
    from aser_spark.pipeline.entities import connected_components

    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("c", "d"), ("e", "f")], "src string, dst string")
    got = {r.node: r.component for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "f": "e"}


def test_coref_components_containment_union_find(spark):
    """Scope-local union-find matches the reference DisjointSet semantics:
    word-boundary containment, transitive merge, per-scope isolation."""
    from aser_spark.pipeline.entities import coref_components

    rows = [
        ("c1", "the dog bark"), ("c1", "dog"), ("c1", "the dog"),
        ("c1", "cat"), ("c2", "dog"), ("c2", "cat sleep"), ("c2", "cat"),
    ]
    m = spark.createDataFrame(rows, "conv_id string, mention string")
    got = {(r.conv_id, r.mention): r.component
           for r in coref_components(m).collect()}
    assert got[("c1", "the dog bark")] == "dog"   # via "the dog" and "dog"
    assert got[("c1", "the dog")] == "dog"
    assert got[("c1", "cat")] == "cat"            # singleton
    assert got[("c2", "dog")] == "dog"            # scopes don't leak
    assert got[("c2", "cat sleep")] == "cat"


def test_expand_mention_aliases(spark):
    from aser_spark.pipeline.entities import expand_mention_aliases

    m = spark.createDataFrame(
        [("september",), ("board of directors",), ("dog",)], "mention string")
    got = {r.mention: sorted(r.aliases)
           for r in expand_mention_aliases(m).collect()}
    assert "Sept." in got["september"] and "september" in got["september"]
    assert got["board of directors"] == sorted(
        ["board of directors", "Board of Directors"])
    assert got["dog"] == sorted(["dog", "Dog"])


def test_node_ner_profile_counter_merge(spark):
    """F8/A1-ners: per-position NER tags merge into frequency-weighted
    counters across instances of the same eid (eventuality.py:66-78)."""
    from aser_spark.pipeline.aggregate import node_ner_profiles

    rows = [
        ("e1", 1.0, "O PERSON"),
        ("e1", 2.0, "O ORGANIZATION"),
        ("e1", 1.0, "O PERSON"),
        ("e2", 1.0, "O O"),
    ]
    df = spark.createDataFrame(rows, "eid string, frequency double, ners string")
    got = {r.eid: r.ner_profile for r in node_ner_profiles(df).collect()}
    assert got["e1"][0] == {"O": 4.0}
    assert got["e1"][1] == {"PERSON": 2.0, "ORGANIZATION": 2.0}
    assert got["e2"] == [{"O": 1.0}, {"O": 1.0}]


def test_instances_carry_ner_column(spark):
    from aser_spark.datagen import transcripts_df
    from aser_spark.pipeline import extract_graph_instances

    inst = extract_graph_instances(transcripts_df(spark, 5, seed=42))
    row = inst.filter("kind = 'node'").select("words", "ners").first()
    assert len(row.ners.split(" ")) == len(row.words.split(" "))


def test_checkpoint_uri_workdir_and_empty_input(spark, tmp_path):
    """Object-store safety: a file:// URI workdir must work (all FS
    inspection goes through Hadoop FS, not local Path/shutil), and a run
    that produces ZERO instance rows must still commit markers and read
    back as an empty DataFrame instead of failing schema inference."""
    from aser_spark.datagen.transcripts import TRANSCRIPT_SCHEMA
    from aser_spark.pipeline.checkpoint import (done_part_ids,
                                                run_extraction_checkpointed)

    wd = "file://" + str(tmp_path / "kg_uri")
    empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    inst = run_extraction_checkpointed(spark, empty, wd, n_parts=4)
    assert inst.count() == 0
    assert done_part_ids(spark, wd) == {0, 1, 2, 3}   # zero-count commit markers
    # resume on the fully-committed empty workdir is a no-op
    assert run_extraction_checkpointed(spark, empty, wd, n_parts=4).count() == 0


def test_link_entities_coref_merges_candidate_pools(spark):
    """Coref-aware linking (entity_linker.py:124-182 semantics): mentions
    in one containment component share a merged candidate pool and resolve
    to the same best entity; other scopes are untouched."""
    from aser_spark.pipeline.entities import link_entities_coref

    m = spark.createDataFrame(
        [("c1", "the engineer"), ("c1", "engineer"), ("c1", "dog"),
         ("c2", "engineer")],
        "conv_id string, mention string")
    kb = spark.createDataFrame(
        # only the bare form has a KB entry, and a weak competitor for the
        # long form; merged pool must prefer the strong Q7 for BOTH members
        [("engineer", "Q7", 0.9), ("the engineer", "Q8", 0.2),
         ("dog", "Q1", 0.9)],
        "alias string, entity_id string, prior double")
    got = {(r.conv_id, r.mention): (r.entity_id, r.prior, r.component)
           for r in link_entities_coref(m, kb).collect()}
    assert got[("c1", "engineer")][0] == "Q7"
    assert got[("c1", "the engineer")][0] == "Q7"      # inherited via coref
    assert got[("c1", "engineer")][2] == got[("c1", "the engineer")][2]
    assert got[("c1", "dog")][0] == "Q1"
    assert got[("c2", "engineer")][0] == "Q7"
