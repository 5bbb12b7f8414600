"""liresolr_spark — a PySpark-native inverted-index build + BM25 top-k query engine.

Re-expresses the query/data-processing capabilities of the reference
``halisyilboga/liresolr`` (a Lucene/Solr content-based-retrieval plugin) as
idiomatic Spark DataFrame pipelines:

- code-aware tokenization + liresolr-style hash-token emission
  (ref: ParallelSolrIndexer.java:459-472, hex tokens :197-206)
- posting-list construction as (term, docID, tf) with delta-gap + varint
  block compression (ref: Lucene46StoredFieldsFormat.java:53-84 surface)
- document-sharded index layout (ref: Solr collection shards, AddImages.java:46)
- BM25 top-k scoring, k1=1.2 b=0.75 (ref: SimilarRequestHandler.java:98)
- two-phase retrieval: candidate top-n -> exact re-rank
  (ref: LireRequestHandler.java:458,464-491)

Everything is DataFrame/Arrow-vectorized; no per-row Python anywhere.
"""

# Index format / hash-function version. Index and query MUST share this —
# the analog of liresolr's shared BitSampling hash file invariant
# (ref: LireRequestHandler.java:68-74,409 "hash functions must match").
HASH_VERSION = 1
# bumped whenever the on-disk block layout changes (v2: doclens varint
# stream denormalized into every posting block; v3: per-block (max_tf,
# min_dl) avgdl-independent WAND bounds + append-segment support; v4:
# dictionary fragments partitioned by seg= and manifest by shard= so
# segment-append retries are idempotent, epoch ledger folded into meta.json
# for an atomic commit point; v5: blocks carry a `positions` stream — per
# posting, within-doc token positions delta-gapped + varint'd, empty when
# the index is built with_positions=False or for the hash-token family —
# the Lucene .pos analog backing index-only phrase queries)
INDEX_FORMAT_VERSION = 5

# Lucene 4.10 BM25 defaults (ref: SimilarRequestHandler.java:98 `new BM25Similarity()`).
BM25_K1 = 1.2
BM25_B = 0.75

# Default page size (ref: LireRequestHandler.java:48-49 rows=60, start=0).
DEFAULT_ROWS = 60

# Max query clauses guard (ref: SimilarRequestHandler.java:101).
MAX_QUERY_TERMS = 10000
