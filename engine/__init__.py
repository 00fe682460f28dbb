"""PySpark-native inverted-index + BM25 query engine.

A from-scratch Spark-first re-expression of the capabilities of
jramsdell/jsr-lucene-project (a Lucene 7.2.1-based TREC CAR retrieval
system). The reference builds a Lucene inverted index and answers
boolean-OR bag-of-words queries with Okapi BM25 top-k; here the index
is a set of DataFrames (postings, doc_stats, collection_stats) and the
query path is declarative DataFrame algebra that Catalyst optimizes.

Module map (SURVEY.md section 7.2):
  analysis    - tokenization (reference: StandardAnalyzer,
                LuceneIndexBuilder.java:34, LuceneQueryBuilder.java:60-81)
  indexer     - tf/df/doc-stats + posting-list build
                (reference: LuceneIndexBuilder.java:31-95)
  codec       - delta + varbyte posting compression (numpy, Arrow-batched)
  search      - BM25 scoring + top-k (reference: LuceneQueryBuilder.java:98-117,163)
  runfile     - TREC run-file sink (reference: LuceneQueryBuilder.java:142-153)
  checkpoint  - resumable build manifest + per-partition lineage
  queries_set - the fixed "reference query set" used for rank-identity
  rerank      - feature z-score rerank layer (reference: ranklib/KotlinRanklibFormatter.kt)
  graph       - bipartite graph + distribution ops (reference: KotlinGraphBuilder.kt)
  textops     - language-id / quality / token-count / fingerprints
  dedup       - exact, minhash-LSH, simhash, ngram-jaccard dedup
  similarity  - embedding cosine top-k (brute force + LSH-bucketed)
  zipcache    - stat-keyed zipimporter cache refresh for Python workers
"""

from . import zipcache as _zipcache

K1 = 1.2
B = 0.75
TOP_K = 100  # reference: LuceneQueryBuilder.java:163,186 (search(query, 100))

# a no-op on the driver; inside a Python task, stops PySpark's per-task
# importlib.invalidate_caches() from re-reading pyspark.zip (zipcache doc)
_zipcache.install_in_worker()
