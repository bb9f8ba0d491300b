"""aser_spark — a from-scratch, PySpark-native knowledge-graph construction
engine with the query/data-processing capabilities of HKUST-KnowComp/ASER.

The reference (read-only at /root/reference) is a single-node Python
multiprocessing pipeline; this package re-expresses every stage as Spark
DataFrame transformations plus a small number of Arrow-batched Python UDFs:

    transcripts (conv_id, turn_idx, role, text, tool, ts)
        -> one fused mapInArrow pass per conversation (pipeline/extract.py):
             parse          (deterministic dependency parser)
             eventualities  (ASER syntactic patterns, SURVEY §2.3)
             relations      (adjacent-sentence pairing + connective senses,
                             §2.4/§2.10-D7)
        -> salted aggregation -> nodes/edges graph tables  (§2.5 A1/A2)
        -> core-KG filters + dangling-edge semi-join        (F6/J4)

Everything here derives from public knowledge only (the reference's published
algorithms, cited file:line in docstrings, and the Apache Spark API).
"""

__version__ = "0.1.0"
