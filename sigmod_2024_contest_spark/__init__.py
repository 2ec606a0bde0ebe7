"""PySpark-native hybrid vector search + data-pipeline engine.

A from-scratch, Spark-first re-expression of the capabilities of the
SIGMOD 2024 contest winner (KevinZeng08/sigmod-2024-contest, read-only
reference at /root/reference): filtered top-k nearest-neighbor search
over a vector corpus (4 query types: unfiltered / category / time-range
/ both — reference ``searcher.hpp:29-43``), SQ8 quantization
(``sq8_sym_quant.hpp``), selectivity-based routing
(``hybrid_graph.cpp:147-503``), and a partitioned index whose shards
are scanned exactly in SQ8 code space where the reference walks HNSW
graphs (``hnswalg.h``) — plus the large-scale training-data
pipeline operators (dedup, similarity search, multimodal columns, text
analysis) a 100 TB corpus needs.

Everything is declared through the DataFrame API so Catalyst handles
pushdown/pruning/join strategy; vector math runs either JVM-side
(higher-order functions) or through Arrow-batched NumPy
(``mapInArrow``/``applyInPandas``) — never row-at-a-time Python.
"""

__version__ = "0.1.0"
