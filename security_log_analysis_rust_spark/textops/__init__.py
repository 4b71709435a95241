"""Training-data pipeline operators: dedup, similarity, text analysis,
corpus assembly.

The exact/minhash/jaccard dedup and langid/quality/token/fingerprint ops are
exposed (with DuckDB oracles) in ``__spark_entry__``; this package holds the
operators that need more than single-statement SQL: simhash (band-blocked
near-dups), the ANN stack (distributed brute-force baseline, hyperplane-LSH
and IVF top-k with per-bucket numpy kernels, LSH-bucketed cosine near-dup
dedup), and the corpus-assembly family: C4-style cleanup with corpus-global
line dedup (``c4``), sharded Bloom-filter incremental dedup with a streaming
foreachBatch variant (``bloom``), per-domain stats/caps + deterministic
mixture thinning (``domains``), bigram-LM perplexity scoring (``lm``),
sequence packing via a two-phase distributed prefix sum (``pack``),
exact-substring span dedup (``exactsubstr``, Lee et al. ACL'22),
semantic embedding-space dedup (``semdedup``, Abbas et al. 2023),
URL canonicalization + URL dedup (``domains``), distributed BPE
tokenizer training (``bpe``, Sennrich ACL'16), DSIR importance
resampling (``dsir``, Xie et al. NeurIPS'23), a fastText-style hashed
quality classifier with GPT-3 Pareto selection (``classifier``, Joulin
et al. 2017 / Brown et al. 2020 App. A), deterministic shuffle-shard
training output (``shard``) + token-budget mixture waterfilling
(``domains.plan_mixture``), distributed spherical k-means for trained
SemDeDup/IVF centroids (``kmeans``), and HTML ->
text extraction with a link-density boilerplate signal (``html``) —
the entry stage for corpora arriving as raw markup. Standalone pure-Python
media codec parsers (``jpeg``, ``gif`` pixel decoders; ``mp3``, ``adts``,
``flac``, ``ogg`` audio and ``mp4``, ``webm`` video header walks) sit
beside them with no Spark operator on top. Every
operator carries a DuckDB oracle — via shared deterministic literals
(seeded planes / md5-sampled centroids) or a generated SQL twin — checked
with the driver's own comparator in tests; the exceptions (kmeans,
classifier training) are certified against same-order numpy references
instead, with their *outputs* oracle-paired downstream.
"""
