"""text2nkg_spark — a PySpark-native n-ary knowledge-graph construction engine.

A from-scratch re-expression of the extraction semantics of LHRLAB/Text2NKG
(reference at /root/reference, NeurIPS 2024) as an idiomatic Spark pipeline:

    Iceberg/parquet transcript turns
      -> mention detection                        (native SQL run-segmentation)
      -> span-triple candidate scoring, 6-permutation ensemble + decode + NMS
                                                  (one Arrow mapInPandas UDF,
                                                   extract_facts_fused, per batch)
      -> n-ary fact assembly + compaction         (native SQL groupBy)
      -> entity canonicalization                  (MinHash-LSH + connected components)
      -> partitioned fact/entity tables + lineage manifests

Everything outside that one extraction UDF (and the NER head's) is
declarative DataFrame/SQL so Catalyst/AQE handle pushdown, pruning,
broadcast and skew-join selection.
"""

__version__ = "0.1.0"

# No imports here: the Python worker daemon (worker_daemon.py) runs as a
# submodule and must start before anything loads pyspark or numpy.
