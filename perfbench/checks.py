"""Output checks for one KG build.  Each returns failure messages; an
operation with any failure counts as failed.

Sums are taken Spark-side over the materialised outputs.  The sample
check compares against the single-process kernel, which is the
specification of the fused extraction.
"""

from __future__ import annotations

import math
from collections import Counter


def _close(a, b) -> bool:
    return math.isclose(a or 0.0, b or 0.0, rel_tol=1e-9, abs_tol=1e-9)


def _row_hash(*cols):
    from pyspark.sql import functions as F

    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).cast("string")


def digest(nodes, edges) -> tuple:
    """Order-independent digest of (eid, frequency) and (rid, sense,
    weight): row counts plus a sum of per-row 64-bit hashes."""
    from pyspark.sql import functions as F

    n = nodes.agg(F.count(F.lit(1)), _row_hash("eid", "frequency")).first()
    e = edges.agg(F.count(F.lit(1)),
                  _row_hash("rid", "sense", "weight")).first()
    return n[0], n[1], e[0], e[1]


def graph_invariants(out: dict) -> tuple:
    """(failures, stats) for conservation and core-KG invariants; stats
    carries the graph digest so a resume can be compared against it."""
    from pyspark.sql import functions as F

    kinds = {r["kind"]: r for r in out["instances"].groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"), F.sum("weight").alias("w")).collect()}
    n_node_inst = kinds["node"]["n"] if "node" in kinds else 0
    n_edge_inst = kinds["edge"]["n"] if "edge" in kinds else 0
    w_inst = kinds["edge"]["w"] if "edge" in kinds else 0.0
    nodes = out["nodes"].agg(F.count(F.lit(1)), F.sum("frequency"),
                             _row_hash("eid", "frequency")).first()
    edges = out["edges"].agg(F.count(F.lit(1)), F.sum("weight"),
                             _row_hash("rid", "sense", "weight")).first()
    mentions = out["lineage"].agg(F.count(F.lit(1)),
                                  F.sum("n_mentions")).first()
    core = out["core_nodes"].agg(F.count(F.lit(1)),
                                 F.min("frequency")).first()
    ends = out["core_edges"].select(F.explode(F.array("hid", "tid")).alias("eid"))
    dangling = ends.join(out["core_nodes"].select("eid"), "eid",
                         "left_anti").count()

    fails = []
    if n_node_inst == 0 or n_edge_inst == 0:
        fails.append(f"empty extraction: {n_node_inst} node, "
                     f"{n_edge_inst} edge instances")
    if not _close(nodes[1], n_node_inst):
        fails.append(f"sum(node frequency)={nodes[1]} != "
                     f"{n_node_inst} node instances")
    if not _close(edges[1], w_inst):
        fails.append(f"sum(edge weight)={edges[1]} != "
                     f"instance weight sum {w_inst}")
    if (mentions[1] or 0) != n_node_inst:
        fails.append(f"sum(lineage n_mentions)={mentions[1]} != "
                     f"{n_node_inst} node instances")
    if core[0] and core[1] < 2:
        fails.append(f"core node with frequency {core[1]} < 2")
    if dangling:
        fails.append(f"{dangling} core edge endpoints outside the core nodes")
    stats = {"node_instances": n_node_inst, "edge_instances": n_edge_inst,
             "nodes": nodes[0], "edges": edges[0], "lineage": mentions[0],
             "core_nodes": core[0],
             "digest": (nodes[0], nodes[2], edges[0], edges[2])}
    return fails, stats


def sample_matches_kernel(instances, convs, mode: str) -> list:
    """Instance rows of the sampled conversations equal the single-process
    ``conversation_instance_rows`` output, as multisets."""
    from pyspark.sql import functions as F

    from aser_spark.pipeline.extract import conversation_instance_rows

    ids = [c for c, _ in convs]
    got = Counter(tuple(r) for r in
                  instances.filter(F.col("conv_id").isin(ids)).collect())
    want = Counter(tuple(row) for conv_id, turns in convs
                   for row in conversation_instance_rows(conv_id, turns,
                                                         mode=mode))
    if got == want:
        return []
    return [f"sample rows differ from the single-process kernel: "
            f"{sum((got - want).values())} extra, "
            f"{sum((want - got).values())} missing"]


def parts_committed(spark, workdir: str, n_parts: int) -> tuple:
    """(failures, number of committed parts) of a checkpointed workdir."""
    from aser_spark.pipeline.checkpoint import done_part_ids

    done = done_part_ids(spark, workdir)
    if done != set(range(n_parts)):
        return [f"{len(done)} parts committed, expected {n_parts}"], len(done)
    return [], len(done)
