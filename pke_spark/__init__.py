"""pke_spark — a from-scratch PySpark-native full-text indexing and
retrieval engine with the query/data-processing capabilities of
boudinfl/pke (reference at /root/reference, studied for semantics only).

Layout
------
- ``tokenizer``  : code-aware tokenizer, one spec with three synchronized
                   implementations (Spark Column, pandas-vectorized, DuckDB SQL)
- ``corpus``     : deterministic synthetic source-code corpus in the
                   (repo, path, commit, lang, content) input shape + loaders
- ``ops``        : query operators (BM25, tfidf, firstphrases, kpminer,
                   candidate generation, dedup, similarity, text stats)
- ``index``      : inverted-index build (delta + varint/PForDelta posting blocks,
                   block-max stats, salted merge, checkpoint/resume) and
                   Block-Max WAND top-k
- ``session``    : SparkSession factory
"""

__version__ = "0.1.0"
