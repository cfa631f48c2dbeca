"""marginaliasearch_spark — a PySpark-native inverted-index + BM25 engine.

A from-scratch rebuild of the indexing core and keyword query engine of
Marginalia Search (reference: FLOSSBoxIN/MarginaliaSearch) re-expressed in
idiomatic PySpark: DataFrame/SQL plans, Arrow-batched pandas UDFs for the
row-level hot paths (tokenize / posting-block codec / scoring), shuffle-based
sort-merge replacing the reference's hand-rolled pre-index merge machinery.

Input shape (fixed): a table of multi-turn conversation transcripts
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``; a *document* is one conversation with turns concatenated in
``turn_idx`` order (cf. reference ``DocumentPositionMapper``).

Package layout
--------------
- ``functions/``  tokenization, hashing, codecs, scoring math
- ``sources/``    transcript corpus generators and adapters
- ``plans/``      query parsing / compiled-query tree / physical planning
- ``operators/``  index construction, query execution, dedup/ANN/text-analysis
- ``streaming/``  incremental (Structured Streaming) ingestion
"""

__version__ = "0.1.0"
