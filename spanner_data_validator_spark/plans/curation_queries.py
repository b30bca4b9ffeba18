"""LLM-data curation queries of the oracle-paired registry.

Dedup (exact, near-duplicate, semantic, substring spans), text quality and
language id, ANN search, multimodal plumbing, packing, chunking, sampling
and tokenizer steps. Registered into ``demo_queries.QUERIES`` / ``ORACLES``
on import.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spanner_data_validator_spark.functions.hashing import portable_hash60_sql
from spanner_data_validator_spark.functions.text import (
    lang_id_heuristic,
    quality_score,
    substr_hits,
    token_count_regex,
    token_count_ws,
)
from spanner_data_validator_spark.operators.ann import cosine_topk, embedding_near_dups
from spanner_data_validator_spark.operators.dedup import (
    assign_components,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_near_dups,
)
from spanner_data_validator_spark.plans.demo_queries import register


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

_DOC_DUP_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
)
"""

@register("dedup_exact", "WITH " + _DOC_DUP_CORPUS + """
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
FROM corpus GROUP BY text
""")
def q_dedup_exact(spark, sf_dir):
    """Exact dedup by text fingerprint over a corpus with planted duplicates."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"))
    return exact_dedup(corpus, "doc_id", "text")


_NEARDUP_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'XX ' || text FROM documents WHERE doc_id % 20 = 0
)
"""

# stopword-gram pruning (max_shingle_df=8) is part of BOTH engines' plans:
# shingles appearing in more than 8 docs are dropped before sizing/joining —
# the skew control that bounds the inverted-index blowup at 100 TB.
_MAX_SHINGLE_DF = 8

_JACCARD_CTES = _NEARDUP_CORPUS + f""",
sh AS (
  SELECT doc_id,
         array_to_string(list_slice(string_split(text,' '), i, i+2), ' ') AS shingle
  FROM corpus, UNNEST(range(1, len(string_split(text,' ')) - 1)) AS t(i)
  WHERE len(string_split(text,' ')) >= 3
),
d0 AS (SELECT DISTINCT doc_id, shingle FROM sh),
keep AS (SELECT shingle FROM d0 GROUP BY shingle HAVING count(*) <= {_MAX_SHINGLE_DF}),
d AS (SELECT d0.doc_id, d0.shingle FROM d0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM d GROUP BY 1),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS k
  FROM d a JOIN d b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""

_JACCARD_SELECT = """
SELECT i.a, i.b, CAST(i.k AS DOUBLE) / (sa.n + sb.n - i.k) AS jaccard
FROM inter i JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id
WHERE CAST(i.k AS DOUBLE) / (sa.n + sb.n - i.k) >= 0.7
"""

_JACCARD_SQL = "WITH " + _JACCARD_CTES + _JACCARD_SELECT


def _neardup_corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") % 20 == 0)
            .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                    F.concat(F.lit("XX "), F.col("text")).alias("text")))
    # the sketch pipelines do their heavy per-doc work (shingle explode,
    # hashing, signature bit sums) in the SCAN stage; the test corpus is two
    # parquet files, which would pin that stage to 2 cores. A real 100 TB
    # table arrives in thousands of splits and skips this.
    par = spark.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < par:
        corpus = corpus.repartition(par)
    return corpus


@register("ngram_jaccard_pairs", _JACCARD_SQL)
def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (inverted-index join, no n²),
    with stopword-gram pruning (max_shingle_df) bounding hot-shingle skew."""
    return jaccard_pairs(_neardup_corpus(spark, sf_dir), "doc_id", "text",
                         n=3, threshold=0.7, max_shingle_df=_MAX_SHINGLE_DF)


@register("minhash_lsh_pairs", _JACCARD_SQL)
def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash(32 perms)+LSH(16 bands) candidates, exact-Jaccard verification
    of ONLY the candidates (operators/dedup.verify_candidate_pairs). With 2
    rows per band, recall on >=0.7-Jaccard pairs is total on this corpus, so
    the exact-Jaccard oracle applies verbatim (and pytest asserts equality)."""
    return minhash_lsh_pairs(_neardup_corpus(spark, sf_dir), "doc_id", "text",
                             n=3, num_perm=32, bands=16, threshold=0.7,
                             max_shingle_df=_MAX_SHINGLE_DF)


# Connected components over the near-dup pair graph: the clustering step that
# turns pairwise matches into dup GROUPS so exactly one canonical doc per
# group survives. The oracle computes the same min-label components with a
# recursive CTE: (v, s) is reachable iff some path s->v keeps every later
# node > s — always true when s is the component minimum, so min(label) per
# node IS the component min.
_COMPONENTS_SQL = "WITH RECURSIVE " + _JACCARD_CTES + f""",
pairs AS ({_JACCARD_SELECT}),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node WHERE w.label < e.v
)
SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node
"""


@register("dedup_components", _COMPONENTS_SQL)
def q_dedup_components(spark, sf_dir):
    """Near-dup clustering: exact-Jaccard pairs -> alternating large/small-star
    connected components (operators/dedup.connected_components) -> every corpus
    doc labeled with its dup-group id (component = min doc_id; singletons label
    themselves)."""
    corpus = _neardup_corpus(spark, sf_dir)
    pairs = jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.7,
                          max_shingle_df=_MAX_SHINGLE_DF)
    return (assign_components(corpus, pairs, "doc_id")
            .select("doc_id", "component"))


_PACK_CAPACITY, _PACK_SHARDS = 256, 8


def _pack_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql

    h = portable_hash60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH RECURSIVE t AS (
  SELECT doc_id,
         CAST({h} % {_PACK_SHARDS} AS INT) AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         row_number() OVER (
           PARTITION BY CAST({h} % {_PACK_SHARDS} AS INT) ORDER BY doc_id) AS rn
  FROM documents
),
pack(shard, rn, doc_id, n_tokens, bin_id, fill) AS (
  SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
  FROM t WHERE rn = 1
  UNION ALL
  SELECT t.shard, t.rn, t.doc_id, t.n_tokens,
         CASE WHEN p.fill + t.n_tokens <= {_PACK_CAPACITY}
              THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.fill + t.n_tokens <= {_PACK_CAPACITY}
              THEN p.fill + t.n_tokens ELSE t.n_tokens END
  FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1
)
SELECT doc_id, shard, n_tokens, bin_id, fill - n_tokens AS bin_offset FROM pack
"""


@register("pack_greedy_bins", _pack_oracle())
def q_pack_greedy_bins(spark, sf_dir):
    """Greedy sequence packing into 256-token training bins, shard-parallel
    (operators/packing.pack_greedy): hash-shard docs, order by doc_id within
    the shard, fill bins sequentially inside one applyInPandas group per
    shard. The oracle replays the identical walk with a recursive CTE."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.packing import pack_greedy

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", token_count_ws("text").alias("n_tokens")))
    return pack_greedy(docs, "doc_id", F.col("n_tokens"),
                       capacity=_PACK_CAPACITY, n_shards=_PACK_SHARDS,
                       hash_fn=portable_hash60) \
        .select("doc_id", "shard", "n_tokens", "bin_id", "bin_offset")


_CHUNK_CTX = 512


def _chunk_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql

    h = portable_hash60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH t AS (
  SELECT doc_id,
         CAST({h} % {_PACK_SHARDS} AS INT) AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
s AS (
  SELECT doc_id, shard, n_tokens,
         CAST(coalesce(SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS tok_start
  FROM t
)
SELECT doc_id, shard, n_tokens, tok_start,
       CAST(floor(tok_start / {_CHUNK_CTX}) AS BIGINT) AS first_chunk,
       CAST(floor((tok_start + greatest(n_tokens, 1) - 1) / {_CHUNK_CTX})
            AS BIGINT) AS last_chunk,
       CAST(floor((tok_start + greatest(n_tokens, 1) - 1) / {_CHUNK_CTX})
            - floor(tok_start / {_CHUNK_CTX}) + 1 AS BIGINT) AS n_chunks
FROM s
"""


@register("pack_concat_chunks", _chunk_oracle())
def q_pack_concat_chunks(spark, sf_dir):
    """Concat-and-chunk packing (operators/packing.pack_concat_chunks): each
    shard's doc stream split into fixed 512-token training sequences, docs
    straddling boundaries — pure per-shard window arithmetic, zero Python."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.packing import pack_concat_chunks

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", token_count_ws("text").alias("n_tokens")))
    return pack_concat_chunks(docs, "doc_id", F.col("n_tokens"),
                              context_len=_CHUNK_CTX, n_shards=_PACK_SHARDS,
                              hash_fn=portable_hash60) \
        .select("doc_id", "shard", "n_tokens", "tok_start",
                "first_chunk", "last_chunk", "n_chunks")


# dyadic rates (k/2^20 exact) so rate*2^20 is integral in both engines —
# double->long casts truncate in Spark but round in DuckDB.
_MIX_RATES = {"en": 0.75, "de": 0.5, "zh": 0.25}
_MIX_DEFAULT, _MIX_SEED = 0.125, 7


def _mix_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql
    from spanner_data_validator_spark.operators.sampling import SAMPLE_MODULUS

    h = portable_hash60_sql("CAST(doc_id AS VARCHAR)", _MIX_SEED)
    cases = " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_RATES.items())
    return f"""
SELECT doc_id, lang FROM documents
WHERE {h} % {SAMPLE_MODULUS} <
      CAST(floor((CASE lang {cases} ELSE {_MIX_DEFAULT} END) * {SAMPLE_MODULUS})
           AS BIGINT)
"""


@register("stratified_sample_mix", _mix_oracle())
def q_stratified_sample_mix(spark, sf_dir):
    """Deterministic per-language mix sampling (operators/sampling
    .stratified_sample): keyed-hash keep decision per doc, per-stratum rates
    from a data-mix recipe — a pure codegen filter, reproducible across runs."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.sampling import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return stratified_sample(docs, "doc_id", "lang", _MIX_RATES,
                             default_rate=_MIX_DEFAULT, seed=_MIX_SEED,
                             hash_fn=portable_hash60).select("doc_id", "lang")


# simhash demo parameters: one 60-bit portable-hash word, 6 blocks of 10 bits,
# hamming <= 3 -> C(6,3)=20 combination probes keyed on 30 bits. The LIBRARY
# default is the 128-bit/8-block xxhash64 config (operators/dedup.py) — this
# query pins the md5-derived portable family so DuckDB computes the identical
# signature end-to-end (no rows-only query without an oracle).
_SIMHASH_BITS, _SIMHASH_BLOCKS, _SIMHASH_H = 60, 6, 3


def _simhash_oracle() -> str:
    """DuckDB replica of the blocked-SimHash pipeline: same shingles, same
    portable 60-bit hash, same ±1 bit sums, same block-combination probing."""
    from itertools import combinations

    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql

    bits, b, h = _SIMHASH_BITS, _SIMHASH_BLOCKS, _SIMHASH_H
    width = bits // b
    mask = (1 << width) - 1
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(bits))
    sig_expr = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j}::BIGINT ELSE 0 END)"
        for j in range(bits))
    probes = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, s, {ci} AS combo, "
        + " || '_' || ".join(f"CAST((s >> {blk * width}) & {mask} AS VARCHAR)"
                             for blk in combo)
        + " AS key FROM sig"
        for ci, combo in enumerate(combinations(range(b), b - h)))
    return ("WITH " + _NEARDUP_CORPUS + f""",
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(string_split(text,' '), i, i+2), ' ') AS shingle
  FROM corpus, UNNEST(range(1, len(string_split(text,' ')) - 1)) AS t(i)
  WHERE len(string_split(text,' ')) >= 3
),
hashed AS (SELECT doc_id, {portable_hash60_sql('shingle')} AS h FROM sh),
sums AS (
  SELECT doc_id,
         {bit_sums}
  FROM hashed GROUP BY doc_id
),
sig AS (SELECT doc_id, ({sig_expr}) AS s FROM sums),
probes AS (
{probes}
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, l.s AS sa, r.s AS sb
  FROM probes l JOIN probes r ON l.combo = r.combo AND l.key = r.key
  WHERE l.doc_id < r.doc_id
)
SELECT a, b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {h}
""")


@register("simhash_near_dups", _simhash_oracle())
def q_simhash_near_dups(spark, sf_dir):
    """Blocked SimHash near-dups (operators/dedup.simhash_near_dups) on the
    portable md5-derived 60-bit hash family so the whole pipeline — shingles,
    signature bit sums, C(6,3) combination probes, hamming verify — is
    oracle-checked. Production default is 128-bit xxhash64 (pytest-covered)."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60

    out = simhash_near_dups(_neardup_corpus(spark, sf_dir), "doc_id", "text",
                            n=3, max_hamming=_SIMHASH_H, bits=_SIMHASH_BITS,
                            n_blocks=_SIMHASH_BLOCKS, word_bits=_SIMHASH_BITS,
                            hash_fn=portable_hash60)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


@register("ann_cosine_topk", """
WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS sim
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
),
r AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 3) AS sim
FROM r WHERE rank <= 3
""")
def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 for query vectors (vec_id % 100 = 0)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cosine_topk(emb, emb.where(F.col("vec_id") % 100 == 0), 3)
    return out.withColumn("sim", F.round(F.col("sim"), 3))


def _rhp_oracle(n_planes: int = 8, dim: int = 64, seed: int = 42) -> str:
    """Sign-bucket LSH is pure arithmetic over literal hyperplanes, so the
    whole multi-probe pipeline (bucket, flip-one-bit probes, bucket-local
    cosine, top-k) is DuckDB-expressible with the planes inlined."""
    from spanner_data_validator_spark.operators.ann import make_planes

    planes = make_planes(dim, n_planes, seed)
    bucket = " + ".join(
        "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ",".join(repr(float(x)) for x in p) + f"]) > 0 THEN {1 << j} ELSE 0 END"
        for j, p in enumerate(planes))
    probe_list = ", ".join(["0"] + [str(1 << j) for j in range(n_planes)])
    return f"""
WITH it AS (
  SELECT vec_id, embedding, ({bucket}) AS b FROM embeddings
),
q0 AS (
  SELECT vec_id AS query_id, embedding AS qv, b
  FROM it WHERE vec_id % 100 = 0
),
probes AS (
  SELECT query_id, qv, xor(b, p) AS b FROM q0, UNNEST([{probe_list}]) AS t(p)
),
scored AS (
  SELECT p.query_id, it.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                                CAST(it.embedding AS DOUBLE[])) AS sim
  FROM probes p JOIN it ON it.b = p.b AND it.vec_id <> p.query_id
),
r AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 3) AS sim
FROM r WHERE rank <= 3
"""


@register("ann_rhp_lsh_topk", _rhp_oracle())
def q_ann_rhp_lsh_topk(spark, sf_dir):
    """Multi-probe random-hyperplane LSH top-3: sign buckets over 8 literal
    planes, each query probes its bucket plus the 8 one-bit-flip buckets,
    scoring bucket-local (operators/ann.rhp_lsh_topk)."""
    from spanner_data_validator_spark.operators.ann import rhp_lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    out = rhp_lsh_topk(emb, emb.where(F.col("vec_id") % 100 == 0), 3,
                       dim=64, n_planes=8, seed=42, multi_probe=True)
    return out.withColumn("sim", F.round(F.col("sim"), 3))


@register("embedding_near_dups", """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
)
SELECT a.vec_id AS a, b.vec_id AS b
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.999
""")
def q_embedding_near_dups(spark, sf_dir):
    """Cosine >= 0.999 near-dup pairs over a corpus with planted duplicate
    vectors (vec_id % 50 = 0 copied at +1000000)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.unionByName(
        emb.where(F.col("vec_id") % 50 == 0)
           .withColumn("vec_id", F.col("vec_id") + F.lit(1_000_000)))
    dim = 64
    return embedding_near_dups(corpus, threshold=0.999, dim=dim).select("a", "b")


@register("text_quality", """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST((length(text) - length(replace(text, 'row', ''))) / 3 AS BIGINT) AS stop_hits,
       CAST(len(string_split(text, ' ')) AS DOUBLE) / greatest(length(text), 1) AS quality
FROM documents
""")
def q_text_quality(spark, sf_dir):
    """Per-doc quality metrics: token count, stopword hits, density score."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        token_count_ws("text").alias("n_tokens"),
        substr_hits("text", "row").alias("stop_hits"),
        quality_score("text").alias("quality"))


@register("token_count_regex", """
SELECT doc_id, CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS n_tokens
FROM documents
""")
def q_token_count_regex(spark, sf_dir):
    """BPE-ish regex tokenizer count per doc."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", token_count_regex("text").alias("n_tokens"))


@register("lang_id", """
SELECT doc_id,
       CASE WHEN (CASE WHEN text LIKE '%data%' THEN 1 ELSE 0 END +
                  CASE WHEN text LIKE '%table%' THEN 1 ELSE 0 END +
                  CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END) >= 2
            THEN 'en' ELSE 'und' END AS pred_lang,
       lang
FROM documents
""")
def q_lang_id(spark, sf_dir):
    """Marker-word language-ID heuristic vs the labeled lang column."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", lang_id_heuristic("text").alias("pred_lang"), "lang")


_LANG_NGRAM_SQL = r"""
WITH norm AS (
  SELECT doc_id, lang, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
  FROM documents
),
tg AS (
  SELECT lang, substr(t, CAST(u.i AS INT), 3) AS gram
  FROM (SELECT lang, t FROM norm WHERE doc_id % 5 = 0) tr,
       unnest(generate_series(1, length(t) - 2)) AS u(i)
),
prof AS (
  SELECT lang, gram, CAST(65 - rnk AS BIGINT) AS weight FROM (
    SELECT lang, gram,
           row_number() OVER (PARTITION BY lang
                              ORDER BY count(*) DESC, gram) AS rnk
    FROM tg GROUP BY lang, gram)
  WHERE rnk <= 64
),
dg AS (
  SELECT doc_id, substr(t, CAST(u.i AS INT), 3) AS gram
  FROM (SELECT doc_id, t FROM norm WHERE doc_id % 5 <> 0) te,
       unnest(generate_series(1, length(t) - 2)) AS u(i)
),
sc AS (
  SELECT doc_id, lang, CAST(sum(weight) AS BIGINT) AS score
  FROM dg JOIN prof USING (gram) GROUP BY doc_id, lang
),
best AS (
  SELECT doc_id, lang AS pred_lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang) AS rn
  FROM sc
)
SELECT n.doc_id, coalesce(b.pred_lang, 'und') AS pred_lang,
       CAST(coalesce(b.score, 0) AS BIGINT) AS score
FROM (SELECT doc_id FROM norm WHERE doc_id % 5 <> 0) n
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
"""


@register("lang_id_ngram", _LANG_NGRAM_SQL)
def q_lang_id_ngram(spark, sf_dir):
    """Char-trigram profile language ID (functions/text.train_lang_profiles +
    lang_id_ngram): train Cavnar–Trenkle integer-rank profiles on the
    doc_id%5==0 split, score the held-out docs. Integer rank weights make
    every score an exact BIGINT, so the full train+score pipeline is
    hash-matched against DuckDB; real multilingual accuracy is asserted in
    tests/test_text.py on a planted 4-language fixture (this corpus's lang
    labels are synthetic and share one vocabulary)."""
    from spanner_data_validator_spark.functions.text import (
        lang_id_ngram,
        train_lang_profiles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = train_lang_profiles(docs.where(F.col("doc_id") % 5 == 0),
                               "lang", "text", n=3, top_k=64)
    return lang_id_ngram(docs.where(F.col("doc_id") % 5 != 0), prof,
                         id_col="doc_id", text_col="text", n=3)


@register("doc_repetition", """
WITH wnz AS (
  SELECT doc_id, w FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE w <> ''
),
wc AS (SELECT doc_id, w, count(*) AS c FROM wnz GROUP BY doc_id, w),
ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
              count(*) AS n_distinct, max(c) AS top_c
       FROM wc GROUP BY doc_id),
g AS (
  SELECT doc_id, array_to_string(list_slice(string_split(text, ' '), i, i + 2),
                                 ' ') AS g
  FROM documents, UNNEST(range(1, len(string_split(text, ' ')) - 1)) AS t(i)
  WHERE len(string_split(text, ' ')) >= 3
),
gc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
gs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
              count(*) AS n_distinct_grams
       FROM gc GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(ws.n_words, 0) AS BIGINT) AS n_words,
       CASE WHEN coalesce(ws.n_words, 0) > 0
            THEN 1.0 - ws.n_distinct / ws.n_words ELSE 0.0 END AS dup_word_frac,
       CASE WHEN coalesce(ws.n_words, 0) > 0
            THEN ws.top_c / ws.n_words ELSE 0.0 END AS top_word_frac,
       CASE WHEN coalesce(gs.n_grams, 0) > 0
            THEN 1.0 - gs.n_distinct_grams / gs.n_grams ELSE 0.0 END AS dup_ngram_frac
FROM documents d LEFT JOIN ws USING (doc_id) LEFT JOIN gs USING (doc_id)
""")
def q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition quality metrics (operators/quality
    .repetition_metrics): duplicate-word / top-word / duplicate-3-gram
    fractions per document, exploded-groupBy shape (bounded shuffle rows)."""
    from spanner_data_validator_spark.operators.quality import repetition_metrics

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_metrics(docs, "doc_id", "text", n=3)


_PII_PLANT_SQL = """
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' host 10.0.' || CAST(doc_id % 250 AS VARCHAR) || '.'
                      || CAST((doc_id * 7) % 250 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' call +1 555-123-4567'
                 ELSE '' END AS text
  FROM documents
"""


def _pii_oracle() -> str:
    from spanner_data_validator_spark.functions.text import PII_PATTERNS

    expr = "text"
    for _, pat, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return f"""
WITH planted AS ({_PII_PLANT_SQL}),
red AS (SELECT doc_id, {expr} AS redacted FROM planted)
SELECT doc_id, redacted,
       contains(redacted, '<EMAIL>') AS had_email,
       contains(redacted, '<IP>') AS had_ip,
       contains(redacted, '<PHONE>') AS had_phone
FROM red
"""


@register("pii_redaction", _pii_oracle())
def q_pii_redaction(spark, sf_dir):
    """PII scrub (functions/text.redact_pii): emails / IPv4 / phone-like
    digit runs planted deterministically into the corpus, redacted by the
    shared Java-regex∩RE2 pattern chain — the full redacted TEXT is
    hash-compared against DuckDB, so pattern drift between engines fails
    the gate."""
    from spanner_data_validator_spark.functions.text import redact_pii

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    planted = docs.select(
        did,
        F.concat(
            F.col("text"),
            F.when(did % 7 == 0,
                   F.concat(F.lit(" contact user"), did.cast("string"),
                            F.lit("@example.com"))).otherwise(""),
            F.when(did % 11 == 0,
                   F.concat(F.lit(" host 10.0."), (did % 250).cast("string"),
                            F.lit("."), ((did * 7) % 250).cast("string")))
             .otherwise(""),
            F.when(did % 13 == 0, F.lit(" call +1 555-123-4567")).otherwise(""),
        ).alias("text"))
    red = planted.select("doc_id", redact_pii("text").alias("redacted"))
    return red.select(
        "doc_id", "redacted",
        F.col("redacted").contains("<EMAIL>").alias("had_email"),
        F.col("redacted").contains("<IP>").alias("had_ip"),
        F.col("redacted").contains("<PHONE>").alias("had_phone"))


@register("contamination_overlap", """
WITH bg AS (
  SELECT DISTINCT array_to_string(list_slice(string_split(text, ' '), i, i + 7),
                                  ' ') AS g
  FROM documents, UNNEST(range(1, len(string_split(text, ' ')) - 6)) AS t(i)
  WHERE doc_id % 97 = 0 AND len(string_split(text, ' ')) >= 8
),
dg AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(string_split(text, ' '), i, i + 7), ' ') AS g
  FROM documents, UNNEST(range(1, len(string_split(text, ' ')) - 6)) AS t(i)
  WHERE doc_id % 97 <> 0 AND len(string_split(text, ' ')) >= 8
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
          FROM dg GROUP BY doc_id),
hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
         FROM dg JOIN bg USING (g) GROUP BY doc_id)
SELECT s.doc_id, s.n_shingles,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) / s.n_shingles AS overlap_frac
FROM sizes s LEFT JOIN hits h USING (doc_id)
""")
def q_contamination_overlap(spark, sf_dir):
    """Benchmark-contamination screen (operators/quality
    .contamination_overlap): share of each doc's distinct 8-gram shingles
    that appear in the doc_id%97==0 'eval set'; the benchmark gram table
    broadcasts, the corpus is never gram-shuffled."""
    from spanner_data_validator_spark.operators.quality import (
        contamination_overlap,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return contamination_overlap(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        id_col="doc_id", text_col="text", n=8, threshold=0.0)


@register("doc_fingerprint", """
SELECT doc_id,
       CAST(list_reduce(
              list_transform(string_split(text, ''), c -> ascii(c)::HUGEINT),
              (acc, b) -> (acc * 256 + b) % 2305843009213693951
            ) AS BIGINT) AS fingerprint
FROM documents
""")
def q_doc_fingerprint(spark, sf_dir):
    """Rolling (polynomial) document fingerprint via Arrow pandas UDF.

    Oracle: the same base-256 polynomial mod 2^61-1 as a per-character
    HUGEINT fold (list_reduce with no init starts acc at the first byte —
    exactly the polynomial's Horner form; docs are ASCII, so chars==bytes).
    The prefix variant below additionally checks the closed form."""
    from spanner_data_validator_spark.functions.text import rolling_fingerprint_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", rolling_fingerprint_udf(F.col("text")).alias("fingerprint"))


def _prefix_fp_oracle(n: int = 8) -> str:
    """The rolling hash of the first ``n`` ASCII bytes is a closed-form
    polynomial: sum(byte_i * 256^(n-1-i)) mod 2^61-1 — expressible in DuckDB
    with HUGEINT arithmetic, turning the UDF's hash family oracle-checkable."""
    terms = " + ".join(
        f"CAST(ascii(substr(text, {i + 1}, 1)) AS HUGEINT) * {256 ** (n - 1 - i)}"
        for i in range(n))
    return f"""
SELECT doc_id, CAST(({terms}) % 2305843009213693951 AS BIGINT) AS fingerprint
FROM documents
"""


@register("doc_fingerprint_prefix", _prefix_fp_oracle())
def q_doc_fingerprint_prefix(spark, sf_dir):
    """Same UDF, first-8-bytes prefix — the DuckDB-checkable slice of the
    rolling-hash family (docs are ASCII word-salad, so chars == bytes)."""
    from spanner_data_validator_spark.functions.text import rolling_fingerprint_udf

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        rolling_fingerprint_udf(F.substring(F.col("text"), 1, 8)).alias("fingerprint"))


# ---------------------------------------------------------------------------
# multimodal plumbing (operators/multimodal.py — decode kernels stubbed,
# Spark-side schema/batching/partitioning real)
# ---------------------------------------------------------------------------

def _media_from_documents(spark, sf_dir):
    """Deterministic media table. Image rows (doc_id % 3 = 0) carry REAL
    binary-PPM payloads synthesized from the closed-form pixel law
    ``v(x,y,c) = (id + 3x + 5y + 11c) % 256`` at ``w = 16 + id % 8``,
    ``h = 12 + id % 5`` (operators/multimodal.synth_ppm); audio/video rows
    keep the doc text bytes as an opaque payload."""
    import pandas as pd

    from spanner_data_validator_spark.operators.multimodal import (
        PPM_MIME,
        synth_ppm,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kind = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                        (F.col("doc_id") % 3 + 1).cast("int"))

    ppm_payload = F.pandas_udf(
        lambda ids: ids.map(lambda i: synth_ppm(int(i), 16 + int(i) % 8,
                                                12 + int(i) % 5)),
        "binary")

    is_img = F.col("doc_id") % 3 == 0
    w = (F.lit(16) + F.col("doc_id") % 8).cast("int")
    h = (F.lit(12) + F.col("doc_id") % 5).cast("int")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.when(is_img, F.lit(PPM_MIME))
         .otherwise(F.lit("application/octet-stream")).alias("mime"),
        F.when(is_img, ppm_payload(F.col("doc_id")))
         .otherwise(F.encode(F.col("text"), "UTF-8")).alias("payload"),
        F.struct(
            F.when(is_img, w).otherwise(F.lit(64)).cast("int").alias("width"),
            F.when(is_img, h).otherwise(F.lit(64)).cast("int").alias("height"),
            ((F.col("doc_id") % 5) * 1000 + 500).cast("long").alias("duration_ms"),
            F.lit(16000).cast("int").alias("sample_rate"),
        ).alias("meta"))


# shared oracle CTE: per-image dims + the pixel law, recomputed in SQL
_PPM_IMG_CTE = """
WITH img AS (
  SELECT doc_id, 16 + doc_id % 8 AS w, 12 + doc_id % 5 AS h
  FROM documents WHERE doc_id % 3 = 0
)"""


@register("media_feature_extract", """
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       CAST(CASE WHEN doc_id % 3 = 0
                 THEN 9 + length(CAST(16 + doc_id % 8 AS VARCHAR))
                        + length(CAST(12 + doc_id % 5 AS VARCHAR))
                        + 3 * (16 + doc_id % 8) * (12 + doc_id % 5)
                 ELSE octet_length(encode(text)) END AS BIGINT) AS n_bytes
FROM documents
""")
def q_media_feature_extract(spark, sf_dir):
    """mapInPandas decode/feature stage over binary payloads (REAL PPM decode
    for images since r4); the oracle recomputes each PPM's exact encoded size
    (header '|P6\\n| |w h\\n| |255\\n|' = 9 + digits, + 3wh raster) and the
    opaque byte counts; pixel-law parity is media_pixel_stats."""
    from spanner_data_validator_spark.operators.multimodal import extract_features

    media = _media_from_documents(spark, sf_dir)
    return extract_features(media, dim=8).select("media_id", "kind", "n_bytes")


@register("media_pixel_stats", _PPM_IMG_CTE + """,
px AS (
  SELECT doc_id, w, h, xs.x AS x, ys.y AS y
  FROM img, LATERAL (SELECT unnest(range(0, w)) AS x) xs,
            LATERAL (SELECT unnest(range(0, h)) AS y) ys
),
vals AS (
  SELECT doc_id, w * h AS n,
         (doc_id + 3 * x + 5 * y) % 256 AS v0,
         (doc_id + 3 * x + 5 * y + 11) % 256 AS v1,
         (doc_id + 3 * x + 5 * y + 22) % 256 AS v2
  FROM px)
SELECT doc_id AS media_id,
       sum(v0) / any_value(n) AS mean_r,
       sum(v1) / any_value(n) AS mean_g,
       sum(v2) / any_value(n) AS mean_b,
       sum(v0 * v0) / any_value(n) - (sum(v0) / any_value(n)) * (sum(v0) / any_value(n)) AS var_r,
       sum(v1 * v1) / any_value(n) - (sum(v1) / any_value(n)) * (sum(v1) / any_value(n)) AS var_g,
       sum(v2 * v2) / any_value(n) - (sum(v2) / any_value(n)) * (sum(v2) / any_value(n)) AS var_b
FROM vals GROUP BY doc_id
""")
def q_media_pixel_stats(spark, sf_dir):
    """REAL pixel math end-to-end: synthesize PPM payloads, decode them in
    the Arrow kernel, compute per-channel mean/variance — DuckDB re-derives
    the same moments directly from the closed-form pixel law over an
    unnested (x, y) grid. Integer-exact float64 sums make the doubles
    bit-identical across engines."""
    from spanner_data_validator_spark.operators.multimodal import extract_features

    media = _media_from_documents(spark, sf_dir).where(F.col("kind") == "image")
    feats = extract_features(media, dim=8)
    f = F.col("feature")
    return feats.select(
        "media_id",
        f[0].cast("double").alias("mean_r"),
        f[1].cast("double").alias("mean_g"),
        f[2].cast("double").alias("mean_b"),
        f[3].cast("double").alias("var_r"),
        f[4].cast("double").alias("var_g"),
        f[5].cast("double").alias("var_b"))


@register("media_resize", _PPM_IMG_CTE + """,
px AS (
  SELECT doc_id, w, h, xs.x AS x, ys.y AS y
  FROM img, LATERAL (SELECT unnest(range(0, 32)) AS x) xs,
            LATERAL (SELECT unnest(range(0, 32)) AS y) ys
),
src AS (
  SELECT doc_id, (x * w) // 32 AS sx, (y * h) // 32 AS sy FROM px)
SELECT doc_id AS media_id,
       CAST(32 AS INT) AS width, CAST(32 AS INT) AS height,
       CAST(sum((doc_id + 3 * sx + 5 * sy) % 256
              + (doc_id + 3 * sx + 5 * sy + 11) % 256
              + (doc_id + 3 * sx + 5 * sy + 22) % 256) AS BIGINT) AS pixel_sum
FROM src GROUP BY doc_id
""")
def q_media_resize(spark, sf_dir):
    """mapInPandas image-resize stage — REAL nearest-neighbor resize since
    r4: the oracle maps every output pixel back to its floor-law source
    coordinate and recomputes the resized raster's exact pixel sum."""
    from spanner_data_validator_spark.operators.multimodal import (
        ppm_pixel_sum_udf,
        resize_media,
    )

    media = _media_from_documents(spark, sf_dir)
    out = resize_media(media, 32, 32)
    return (out.where(F.col("kind") == "image")
               .select("media_id", "width", "height",
                       ppm_pixel_sum_udf(F.col("payload")).alias("pixel_sum")))


@register("media_frame_sample", """
SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_ts_ms
FROM documents, UNNEST(range(0, (doc_id % 5) * 1000 + 501, 1000)) AS t(f)
WHERE doc_id % 3 = 2
""")
def q_media_frame_sample(spark, sf_dir):
    """Video frame-sampling plan: metadata-only sequence explode — the scan
    never touches the payload column (parquet column pruning)."""
    from spanner_data_validator_spark.operators.multimodal import frame_sample_plan

    media = _media_from_documents(spark, sf_dir)
    return frame_sample_plan(media, every_ms=1000)


# ---------------------------------------------------------------------------
# ANN indexes (IVF, IVF-PQ), semantic dedup, duplicated substring spans,
# TF-IDF, curation funnel, exact per-group sampling
# ---------------------------------------------------------------------------

_IVF_CENT_CACHE: dict[str, tuple] = {}
_IVF_CENT_CACHE_MAX = 2  # corpora cached concurrently; evictees are unpersisted


def _ivf_cache_put(sf_dir: str, entry: tuple) -> None:
    """FIFO-bounded insert: unpersist the evicted corpus's index so repeated
    bench loops over many sf_dirs can't leak executor storage (ADVICE r2)."""
    while len(_IVF_CENT_CACHE) >= _IVF_CENT_CACHE_MAX:
        oldest = next(iter(_IVF_CENT_CACHE))
        _, old_idx = _IVF_CENT_CACHE.pop(oldest)
        old_idx.unpersist()
    _IVF_CENT_CACHE[sf_dir] = entry

_IVF_SQL = """
WITH cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS list_id, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 61 = 3 ORDER BY vec_id LIMIT 8)
),
it AS (
  SELECT neighbor_id, iv, list_id FROM (
    SELECT e.vec_id AS neighbor_id, e.embedding AS iv, c.list_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
                                    CAST(c.cv AS DOUBLE[])), c.list_id) AS rn
    FROM embeddings e CROSS JOIN cent c)
  WHERE rn = 1
),
q AS (
  SELECT query_id, qv, list_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, c.list_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
                                    CAST(c.cv AS DOUBLE[])), c.list_id) AS rn
    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id % 100 = 0)
  WHERE rn <= 2
),
scored AS (
  SELECT q.query_id, it.neighbor_id,
         list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(it.iv AS DOUBLE[])) AS sim
  FROM q JOIN it USING (list_id) WHERE it.neighbor_id <> q.query_id
),
r AS (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 3) AS sim
FROM r WHERE rank <= 3
"""


@register("ann_ivf_topk", _IVF_SQL)
def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN scale path: deterministic data-sampled coarse quantizer (the 8
    lowest-id vectors with vec_id % 61 = 3), shuffle-free expression-only list
    assignment, bucket-local cosine top-k. The sampling rule is plain SQL, so
    the whole pipeline is oracle-checked; the k-means quantizer variant
    (train_centroids) is pytest-covered for recall instead."""
    from spanner_data_validator_spark.operators.ann import (
        centroids_from_items,
        ivf_topk,
    )

    from spanner_data_validator_spark.operators.ann import ivf_index

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # index-build artifacts (quantizer + assigned/persisted item index) are
    # computed once per corpus and reused across query batches — the standard
    # IVF amortization; queries probe the cached index
    cached = _IVF_CENT_CACHE.get(sf_dir)
    if cached is None:
        cents = centroids_from_items(emb, modulus=61, residue=3, n_lists=8)
        idx = ivf_index(emb, cents).persist()
        idx.count()
        cached = (cents, idx)
        _ivf_cache_put(sf_dir, cached)
    cents, idx = cached
    out = ivf_topk(None, emb.where(F.col("vec_id") % 100 == 0), 3,
                   nprobe=2, centroids=cents, index=idx)
    return out.withColumn("sim", F.round(F.col("sim"), 3))


def _d2sql(a: str, b: str) -> str:
    """Exact integer squared L2 between two BIGINT lists (DuckDB)."""
    return (f"list_sum(list_transform(list_zip({a}, {b}), "
            f"p -> (p[1] - p[2]) * (p[1] - p[2])))")


def _ivfpq_core_sql() -> str:
    """Shared IVF-PQ pipeline CTEs: fixed-point vectors, data-derived coarse
    quantizer + residual codebook, exact-integer assignments, ADC scoring.
    Ends with CTE ``appr`` = (query_id, neighbor_id, rank, adist)."""
    sub = "list_slice({v}, t.s * 16 + 1, t.s * 16 + 16)"
    d2_sub = _d2sql(sub.format(v="{a}"), sub.format(v="{b}"))
    return f"""
WITH fx AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5e0)
                                  AS BIGINT)) AS vi
  FROM embeddings
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS list_id,
         vi AS cv
  FROM (SELECT vec_id, vi FROM fx WHERE vec_id % 61 = 3
        ORDER BY vec_id LIMIT 8)
),
samp AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
         vi AS sv
  FROM (SELECT vec_id, vi FROM fx WHERE vec_id % 61 = 5
        ORDER BY vec_id LIMIT 8)
),
cb AS (
  SELECT code, list_transform(list_zip(sv, cv), p -> p[1] - p[2]) AS ci
  FROM (
    SELECT s.code, s.sv, c.cv,
           row_number() OVER (PARTITION BY s.code
             ORDER BY {_d2sql('s.sv', 'c.cv')}, c.list_id) AS rn
    FROM samp s CROSS JOIN cent c) WHERE rn = 1
),
it0 AS (
  SELECT vec_id AS neighbor_id, list_id,
         list_transform(list_zip(vi, cv), p -> p[1] - p[2]) AS rv
  FROM (
    SELECT f.vec_id, f.vi, c.list_id, c.cv,
           row_number() OVER (PARTITION BY f.vec_id
             ORDER BY {_d2sql('f.vi', 'c.cv')}, c.list_id) AS rn
    FROM fx f CROSS JOIN cent c) WHERE rn = 1
),
itc AS (
  SELECT neighbor_id, list_id, s, code FROM (
    SELECT i.neighbor_id, i.list_id, t.s, b.code,
           row_number() OVER (PARTITION BY i.neighbor_id, t.s
             ORDER BY {d2_sub.format(a='i.rv', b='b.ci')}, b.code) AS rn
    FROM it0 i CROSS JOIN UNNEST([0, 1, 2, 3]) AS t(s) CROSS JOIN cb b)
  WHERE rn = 1
),
qa AS (
  SELECT vec_id AS query_id, list_id,
         list_transform(list_zip(vi, cv), p -> p[1] - p[2]) AS rq
  FROM (
    SELECT f.vec_id, f.vi, c.list_id, c.cv,
           row_number() OVER (PARTITION BY f.vec_id
             ORDER BY {_d2sql('f.vi', 'c.cv')}, c.list_id) AS rn
    FROM fx f CROSS JOIN cent c WHERE f.vec_id % 100 = 0) WHERE rn <= 2
),
lut AS (
  SELECT q.query_id, q.list_id, t.s, b.code,
         CAST({d2_sub.format(a='q.rq', b='b.ci')} AS BIGINT) AS ld
  FROM qa q CROSS JOIN UNNEST([0, 1, 2, 3]) AS t(s) CROSS JOIN cb b
),
adc AS (
  SELECT q.query_id, i.neighbor_id, CAST(sum(l.ld) AS BIGINT) AS adist
  FROM qa q
  JOIN itc i ON i.list_id = q.list_id AND i.neighbor_id <> q.query_id
  JOIN lut l ON l.query_id = q.query_id AND l.list_id = q.list_id
            AND l.s = i.s AND l.code = i.code
  GROUP BY q.query_id, i.neighbor_id
),
appr AS (
  SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adist FROM (
    SELECT query_id, neighbor_id, adist,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adist, neighbor_id) AS rank
    FROM adc) WHERE rank <= 3
)"""


_IVFPQ_CACHE: dict[str, tuple] = {}


def _ivfpq_setup(spark, sf_dir):
    """Fixed-point vectors + driver-side coarse/codebook derivation (16 rows
    collected — k-sized, the documented bound; the literals then bake into
    every plan via quantize.intmat_literal)."""
    cached = _IVFPQ_CACHE.get(sf_dir)
    if cached is not None:
        return cached
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # DOUBLE cast before the multiply: see q_pq_quantize_stats (DuckDB
    # FLOAT*INT stays FLOAT; Spark widens — divergent at sf0.1 scale)
    fx = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"))
    vecs = emb.select("vec_id", fx.alias("vi"))
    coarse = [list(r[0]) for r in
              vecs.where(F.col("vec_id") % 61 == 3).orderBy("vec_id")
              .limit(8).select("vi").collect()]
    samp = [list(r[0]) for r in
            vecs.where(F.col("vec_id") % 61 == 5).orderBy("vec_id")
            .limit(8).select("vi").collect()]

    def _nearest(v):
        return min(range(len(coarse)),
                   key=lambda i: (sum((a - b) * (a - b)
                                      for a, b in zip(v, coarse[i])), i))

    codebook = [[a - b for a, b in zip(v, coarse[_nearest(v)])] for v in samp]
    _IVFPQ_CACHE.clear()  # one corpus at a time; entries are plain lists
    _IVFPQ_CACHE[sf_dir] = (vecs, coarse, codebook)
    return vecs, coarse, codebook


@register("ann_ivfpq_topk", _ivfpq_core_sql() + """
SELECT query_id, neighbor_id, rank, adist FROM appr
""")
def q_ann_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN (operators/ann.ivfpq_topk — Jégou et al. 2011): coarse
    inverted lists (8 data-derived centroids, vec_id % 61 = 3), RESIDUAL
    product quantization (4 subspaces x 16 dims, 8 codes = residuals of
    the vec_id % 61 = 5 samples vs their own centroid), asymmetric
    distance scoring. Every step fixed-point BIGINT-exact, so the oracle
    replays assignments, ADC sums, and tie-breaks bit-for-bit; the Spark
    side is expression-only (zero shuffle) for both assignments, with the
    broadcast query carrying its m x k ADC table."""
    from spanner_data_validator_spark.operators.ann import ivfpq_topk

    vecs, coarse, codebook = _ivfpq_setup(spark, sf_dir)
    return ivfpq_topk(vecs, vecs.where(F.col("vec_id") % 100 == 0), 3,
                      coarse=coarse, codebook=codebook, m=4, sub_dim=16,
                      nprobe=2)


@register("ann_ivfpq_recall", _ivfpq_core_sql() + f"""
, exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT qf.vec_id AS query_id, f.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY qf.vec_id
             ORDER BY {_d2sql('f.vi', 'qf.vi')}, f.vec_id) AS rank
    FROM fx f CROSS JOIN (SELECT vec_id, vi FROM fx
                          WHERE vec_id % 100 = 0) qf
    WHERE f.vec_id <> qf.vec_id) WHERE rank <= 3
)
SELECT 'ivfpq' AS method,
       CAST(sum(CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END)
            AS BIGINT) AS hits,
       CAST(count(*) AS BIGINT) AS total,
       CAST(sum(CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END)
            AS DOUBLE) / count(*) AS recall
FROM exact e LEFT JOIN appr a USING (query_id, neighbor_id)
""")
def q_ann_ivfpq_recall(spark, sf_dir):
    """recall@3 of the IVF-PQ index against exact brute-force integer-L2
    top-3 over the same fixed-point vectors — the quantization+probe loss
    measured as an oracle row (ann_recall_at_k's protocol, same-metric
    ground truth so the number isolates PQ error from metric mismatch).
    DuckDB recomputes both pipelines and the recall arithmetic."""
    from spanner_data_validator_spark.operators.ann import (
        ivfpq_topk, topk_per_query)
    from spanner_data_validator_spark.operators.quantize import intmat_literal

    vecs, coarse, codebook = _ivfpq_setup(spark, sf_dir)
    qs = vecs.where(F.col("vec_id") % 100 == 0)
    # exact integer-L2 brute force: broadcast queries, one exact distance
    # expression per candidate, bounded two-phase top-k
    qb = qs.select(F.col("vec_id").alias("query_id"), F.col("vi").alias("qv"))
    d2 = F.aggregate(F.zip_with("vi", "qv", lambda a, b: (a - b) * (a - b)),
                     F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (vecs.join(F.broadcast(qb),
                        F.col("vec_id") != F.col("query_id"))
              .select("query_id", F.col("vec_id").alias("neighbor_id"),
                      d2.alias("adist")))
    exact = (topk_per_query(scored, 3, order_col="adist", ascending=True)
             .select("query_id", "neighbor_id").localCheckpoint())
    appr = (ivfpq_topk(vecs, qs, 3, coarse=coarse, codebook=codebook,
                       m=4, sub_dim=16, nprobe=2)
            .select("query_id", "neighbor_id").withColumn("hit", F.lit(1)))
    joined = exact.join(appr, ["query_id", "neighbor_id"], "left")
    return (joined.agg(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
                F.count(F.lit(1)).alias("total"))
            .select(F.lit("ivfpq").alias("method"), "hits", "total",
                    (F.col("hits").cast("double") / F.col("total"))
                    .alias("recall")))


# SemDeDup corpus: planted semantic duplicates — scaled copies (x * 1.01)
# have cosine exactly 1 to their original, far above threshold; the nearest
# NON-planted within-cluster pair sits at cosine ~0.51, so the 0.95 threshold
# compare is immune to float-summation drift between engines.
_SEMDEDUP_SQL = """
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.01e0) AS embedding
  FROM embeddings WHERE vec_id % 25 = 0
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS list_id, embedding AS cv
  FROM (SELECT vec_id, embedding FROM corpus
        WHERE vec_id % 61 = 3 ORDER BY vec_id LIMIT 8)
),
it AS (
  SELECT neighbor_id, iv, list_id FROM (
    SELECT e.vec_id AS neighbor_id, e.embedding AS iv, c.list_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(e.embedding, c.cv), c.list_id) AS rn
    FROM corpus e CROSS JOIN cent c)
  WHERE rn = 1
),
dups AS (
  SELECT DISTINCT b.neighbor_id AS b
  FROM it a JOIN it b ON a.list_id = b.list_id AND a.neighbor_id < b.neighbor_id
  WHERE list_cosine_similarity(a.iv, b.iv) >= 0.95
)
SELECT it.neighbor_id AS vec_id, it.list_id,
       it.neighbor_id IN (SELECT b FROM dups) AS is_dup
FROM it
"""


@register("semdedup_prune", _SEMDEDUP_SQL)
def q_semdedup_prune(spark, sf_dir):
    """SemDeDup (operators/ann.semdedup, Abbas et al. 2023): coarse-quantizer
    clustering, cluster-local pairwise cosine, keep-lowest-id pruning — on a
    corpus with planted scaled copies (cosine exactly 1). The index is
    localCheckpoint-ed so the pairwise self-join reads the materialized
    assignment instead of recomputing it per aliased branch (Catalyst does
    not reuse exchanges across self-join aliases)."""
    from spanner_data_validator_spark.operators.ann import (
        centroids_from_items,
        ivf_index,
        semdedup,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dbl = F.col("embedding").cast("array<double>")
    corpus = (emb.select("vec_id", dbl.alias("embedding"))
                 .unionByName(
                     emb.where(F.col("vec_id") % 25 == 0)
                        .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                                F.transform(dbl, lambda x: x * F.lit(1.01))
                                 .alias("embedding"))))
    cents = centroids_from_items(corpus, modulus=61, residue=3, n_lists=8)
    idx = ivf_index(corpus, cents).localCheckpoint(eager=True)
    return semdedup(idx, threshold=0.95)


# substring-level dedup (Lee et al. 2022): boilerplate tail planted on every
# 7th doc gives cross-doc repeated windows; natural in-corpus repeats (if
# any) are found identically by both engines.
_SPAN_W = 6
_SPAN_BOILER = " terms of service apply to all mirrored content here"


def _substring_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql

    h = portable_hash60_sql(
        f"array_to_string(list_slice(ws, i, i + {_SPAN_W - 1}), ' ')")
    return f"""
WITH corpus AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0 THEN '{_SPAN_BOILER}' ELSE '' END AS text
  FROM documents
),
toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, {h} AS h
  FROM toks, UNNEST(range(1, len(ws) - {_SPAN_W - 2})) AS t(i)
  WHERE len(ws) >= {_SPAN_W}
),
marked AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS c FROM wins)
  WHERE c >= 2
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {_SPAN_W} THEN 0 ELSE 1 END AS brk
  FROM marked
),
grp AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM isl
)
SELECT doc_id, min(pos) AS span_start,
       max(pos) + {_SPAN_W - 1} AS span_end,
       count(*) AS n_windows
FROM grp GROUP BY doc_id, island
"""


@register("substring_dup_spans", _substring_oracle())
def q_substring_dup_spans(spark, sf_dir):
    """Duplicated-substring spans (operators/dedup.duplicate_spans) — the
    Lee-et-al substring dedup pass as rolling window hashes + repeated-window
    count + gaps-and-islands merge, on a corpus with a planted boilerplate
    tail on every 7th doc. Portable hash family so the oracle computes the
    identical windows end-to-end."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(F.col("doc_id") % 7 == 0, F.lit(_SPAN_BOILER))
                  .otherwise("")).alias("text"))
    return duplicate_spans(corpus, "doc_id", "text", width=_SPAN_W,
                           hash_fn=portable_hash60)


def _substring_maximal_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql

    h = portable_hash60_sql(
        f"array_to_string(list_slice(ws, i, i + {_SPAN_W - 1}), ' ')")
    return f"""
WITH corpus AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 11 = 3 AND o.text IS NOT NULL
              THEN d.text || ' ' ||
                   array_to_string(list_slice(string_split(o.text, ' '),
                                              1, 20), ' ')
              ELSE d.text END AS text
  FROM documents d LEFT JOIN documents o ON o.doc_id = d.doc_id + 7
),
toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
wins AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, {h} AS h
  FROM toks, UNNEST(range(1, len(ws) - {_SPAN_W - 2})) AS t(i)
  WHERE len(ws) >= {_SPAN_W}
),
ok AS (
  SELECT doc_id, pos, h FROM (
    SELECT doc_id, pos, h, count(*) OVER (PARTITION BY h) AS c FROM wins)
  WHERE c BETWEEN 2 AND 64
),
pr AS (
  SELECT a.doc_id AS id_a, a.pos AS pos_a, b.doc_id AS id_b, b.pos AS pos_b,
         b.pos - a.pos AS diag
  FROM ok a JOIN ok b ON a.h = b.h
   AND (a.doc_id < b.doc_id OR (a.doc_id = b.doc_id AND a.pos < b.pos))
),
isl AS (
  SELECT *, CASE WHEN pos_a - lag(pos_a) OVER
                      (PARTITION BY id_a, id_b, diag ORDER BY pos_a) = 1
                 THEN 0 ELSE 1 END AS brk
  FROM pr
),
grp AS (
  SELECT *, sum(brk) OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a)
            AS run FROM isl
)
SELECT id_a, min(pos_a) AS a_start, id_b, min(pos_b) AS b_start,
       CAST(count(*) + {_SPAN_W - 1} AS BIGINT) AS span_len,
       CAST(count(*) AS BIGINT) AS n_windows
FROM grp GROUP BY id_a, id_b, diag, run
HAVING count(*) + {_SPAN_W - 1} >= 10
"""


@register("substring_dup_maximal", _substring_maximal_oracle())
def q_substring_dup_maximal(spark, sf_dir):
    """MAXIMAL duplicated spans with pair attribution
    (operators/dedup.maximal_duplicate_spans): seed-and-chain — matched
    window pairs grouped by (id_a, id_b, diagonal), maximal consecutive
    runs merged, exact span extents + lengths reported per occurrence
    pair (vs substring_dup_spans' per-doc coverage union). Corpus plants
    a 20-token span from doc (i+7) onto every doc i % 11 == 3, so true
    cross-doc maximal spans exist with known extent; hot windows (> 64
    occurrences) are dropped identically in both engines. Portable hash
    family end-to-end."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.dedup import (
        maximal_duplicate_spans)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    donor = docs.select(
        (F.col("doc_id") - 7).alias("doc_id"),
        F.array_join(F.slice(F.split("text", " "), 1, 20), " ").alias("gift"))
    corpus = (docs.join(donor, "doc_id", "left")
              .select("doc_id",
                      F.when((F.col("doc_id") % 11 == 3)
                             & F.col("gift").isNotNull(),
                             F.concat_ws(" ", "text", "gift"))
                       .otherwise(F.col("text")).alias("text")))
    return maximal_duplicate_spans(corpus, "doc_id", "text", width=_SPAN_W,
                                   min_len=10, max_occurrences=64,
                                   hash_fn=portable_hash60)


# TF-IDF top terms: rational idf (n_docs / df — one IEEE division, bit-exact
# across engines, unlike log idf's ~1-ulp drift); score written tf * (N/df)
# on BOTH sides so the two roundings associate identically.
_TFIDF_SQL = """
WITH n AS (SELECT count(*) AS n FROM documents),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents)
  WHERE term <> '' GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         tf.tf * ((SELECT CAST(n AS DOUBLE) FROM n) / CAST(dfreq.df AS DOUBLE))
           AS score
  FROM tf JOIN dfreq USING (term)
),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rank
      FROM scored)
SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


@register("tfidf_top_terms", _TFIDF_SQL)
def q_tfidf_top_terms(spark, sf_dir):
    """Per-doc top-5 TF-IDF terms (operators/terms.tfidf_top_terms) — the
    keyword/topic signal for corpus curation. The per-doc top-k reuses the
    two-phase partial reduce, so the rank exchange stays bounded. The
    stopword (max_df_frac) prune is unit-tested instead: the synthetic
    corpus's 31-word vocabulary is almost entirely above any real-world
    df cutoff, which would degenerate the demo."""
    from spanner_data_validator_spark.operators.terms import (
        rational_idf,
        tfidf_top_terms,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    return tfidf_top_terms(docs, "doc_id", "text", k=5, max_df_frac=None,
                           idf_fn=rational_idf(n), n_docs=n)


# End-to-end curation funnel: exact copies (%10) and near-dup variants (%20)
# planted; the doc_id%97==0 docs double as the leaked "eval set", so stage 5
# must remove them (and anything sharing an 8-gram with them).
_FUNNEL_SQL = f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, 'XX ' || text FROM documents WHERE doc_id % 20 = 0
),
s1 AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text),
c1 AS (SELECT c.doc_id, c.text FROM corpus c JOIN s1 USING (doc_id)),
sh0 AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(string_split(text,' '), i, i+2), ' ') AS shingle
  FROM c1, UNNEST(range(1, len(string_split(text,' ')) - 1)) AS t(i)
  WHERE len(string_split(text,' ')) >= 3
),
keepsh AS (SELECT shingle FROM sh0 GROUP BY shingle
           HAVING count(*) <= {_MAX_SHINGLE_DF}),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keepsh USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS k
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT i.a, i.b FROM inter i
  JOIN sizes sa ON i.a = sa.doc_id JOIN sizes sb ON i.b = sb.doc_id
  WHERE CAST(i.k AS DOUBLE) / (sa.n + sb.n - i.k) >= 0.7
),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM c1
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node WHERE w.label < e.v
),
comp AS (SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node),
c2 AS (SELECT c1.doc_id, c1.text FROM c1 JOIN comp USING (doc_id)
       WHERE comp.component = c1.doc_id),
wc AS (
  SELECT doc_id, w, count(*) AS c FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM c2)
  WHERE w <> '' GROUP BY 1, 2
),
wstat AS (SELECT doc_id, sum(c) AS n_words, max(c) AS top_c FROM wc GROUP BY 1),
c3 AS (SELECT c2.doc_id, c2.text FROM c2 JOIN wstat USING (doc_id)
       WHERE n_words >= 20 AND top_c * 4 <= n_words),
bg AS (
  SELECT DISTINCT array_to_string(list_slice(string_split(text,' '), i, i+7), ' ') AS g
  FROM documents, UNNEST(range(1, len(string_split(text,' ')) - 6)) AS t(i)
  WHERE doc_id % 97 = 0 AND len(string_split(text,' ')) >= 8
),
dg AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(string_split(text,' '), i, i+7), ' ') AS g
  FROM c3, UNNEST(range(1, len(string_split(text,' ')) - 6)) AS t(i)
  WHERE len(string_split(text,' ')) >= 8
),
cont AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (g)),
c4 AS (SELECT c3.doc_id FROM c3 LEFT JOIN cont USING (doc_id)
       WHERE cont.doc_id IS NULL)
SELECT CAST(1 AS INT) AS stage_idx, 'raw' AS stage,
       (SELECT count(*) FROM corpus) AS n_docs
UNION ALL SELECT 2, 'exact_dedup', (SELECT count(*) FROM c1)
UNION ALL SELECT 3, 'neardup_prune', (SELECT count(*) FROM c2)
UNION ALL SELECT 4, 'quality_gate', (SELECT count(*) FROM c3)
UNION ALL SELECT 5, 'decontaminated', (SELECT count(*) FROM c4)
"""


@register("curation_funnel", _FUNNEL_SQL)
def q_curation_funnel(spark, sf_dir):
    """The full curation pipeline composed end-to-end (operators/curation
    .curation_funnel): exact dedup → Jaccard near-dup components → integer-
    exact repetition quality gate → benchmark decontamination, one survivor
    count per stage. Planted exact copies and near-dup variants must vanish
    at stages 2-3; the leaked eval docs at stage 5."""
    from spanner_data_validator_spark.operators.curation import curation_funnel

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    corpus = (docs
              .unionByName(docs.where(F.col("doc_id") % 10 == 0)
                           .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                                   "text"))
              .unionByName(docs.where(F.col("doc_id") % 20 == 0)
                           .select((F.col("doc_id") + 2_000_000).alias("doc_id"),
                                   F.concat(F.lit("XX "), F.col("text"))
                                    .alias("text"))))
    par = spark.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < par:
        corpus = corpus.repartition(par)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return curation_funnel(corpus, bench, max_shingle_df=_MAX_SHINGLE_DF,
                           min_words=20, top_word_den=4, contamination_n=8)


def _group_sample_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql

    h = portable_hash60_sql("CAST(doc_id AS VARCHAR)", seed=7)
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS rk
  FROM documents)
SELECT doc_id, lang, CAST(rk AS INT) AS rank FROM t WHERE rk <= 10
"""


@register("group_sample_exact", _group_sample_oracle())
def q_group_sample_exact(spark, sf_dir):
    """Exactly-k-per-group deterministic sampling (operators/sampling
    .group_sample_exact): 10 docs per language ranked by keyed hash — the
    eval-set constructor where rate sampling can't promise exact counts."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.sampling import (
        group_sample_exact,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "lang")
    return group_sample_exact(docs, "doc_id", "lang", 10, seed=7,
                              hash_fn=portable_hash60, rank_col="rank")


# ---------------------------------------------------------------------------
# epoch shuffle order + line-level dedup
# ---------------------------------------------------------------------------

def _epoch_shuffle_oracle(seed: int = 0, n_shards: int = 8) -> str:
    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql

    h = portable_hash60_sql("CAST(doc_id AS VARCHAR)", seed=seed)
    return f"""
WITH h AS (SELECT doc_id, {h} AS h FROM documents),
r AS (
  SELECT doc_id, CAST(h % {n_shards} AS INT) AS shard,
         CAST(row_number() OVER (
              PARTITION BY h % {n_shards} ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
  FROM h
)
SELECT doc_id, shard, pos FROM r WHERE pos < 5
"""


@register("epoch_shuffle_order", _epoch_shuffle_oracle())
def q_epoch_shuffle_order(spark, sf_dir):
    """Deterministic epoch shuffle (operators/sampling.epoch_shuffle): seeded
    pseudo-random training order as (shard, pos) — one hash exchange + a
    per-shard sort, never a global sort. Emits the first 5 positions of each
    shard (the rows a loader would read first)."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.sampling import epoch_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    out = epoch_shuffle(docs, "doc_id", seed=0, n_shards=8,
                        hash_fn=portable_hash60)
    return out.where(F.col("pos") < 5).select("doc_id", "shard", "pos")


@register("line_dedup_clean", """
WITH corpus AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 2 = 0
                      THEN chr(10) || 'copyright footer boilerplate' ELSE '' END
              || CASE WHEN doc_id % 3 = 0
                      THEN chr(10) || 'subscribe to newsletter' ELSE '' END AS text
  FROM documents
),
lines AS (
  SELECT doc_id, i - 1 AS line_no, string_split(text, chr(10))[i] AS line
  FROM corpus, UNNEST(range(1, len(string_split(text, chr(10))) + 1)) AS t(i)
),
hot AS (
  SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
  GROUP BY line HAVING count(*) >= 50
),
marked AS (
  SELECT l.doc_id, l.line_no, l.line, h.line IS NOT NULL AS is_hot
  FROM lines l LEFT JOIN hot h ON l.line = h.line
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT is_hot THEN line END,
                           chr(10) ORDER BY line_no), '') AS clean_text,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN is_hot THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM marked GROUP BY doc_id
""")
def q_line_dedup_clean(spark, sf_dir):
    """Boilerplate line removal (operators/quality.line_dedup, the C4-style
    line-dedup rule) on a corpus with planted repeated footers: lines in
    >= 50 distinct docs are dropped, content survives in order. The DF count
    shuffles 8-byte line hashes, the hot set broadcasts, and the hot mark
    folds into the reassembly aggregate — no anti-join pass."""
    from spanner_data_validator_spark.operators.quality import line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 2 == 0,
                   F.lit("\ncopyright footer boilerplate")).otherwise(""),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("\nsubscribe to newsletter")).otherwise(""),
        ).alias("text"))
    return line_dedup(corpus, "doc_id", "text", min_df=50)


# ---------------------------------------------------------------------------
# context-length chunking + deterministic dataset split (training export path)
# ---------------------------------------------------------------------------

@register("chunk_documents", """
WITH d AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT doc_id, toks,
         CAST(unnest(range(0, greatest(len(toks), 1), 24)) AS INT) AS start
  FROM d
)
SELECT doc_id,
       CAST(start / 24 AS INT) AS chunk_idx,
       start,
       CAST(len(list_slice(toks, start + 1, start + 32)) AS INT) AS n_tokens,
       array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS chunk_text
FROM s
""")
def q_chunk_documents(spark, sf_dir):
    """Context-length chunking (packing.chunk_tokens): 32-token chunks at
    stride 24 (8-token overlap). Tokenization runs once per doc behind a
    Generate barrier; the chunk fan-out is pure expressions with no
    exchange. DuckDB replays it with generate_series + list_slice."""
    from spanner_data_validator_spark.operators.packing import chunk_tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_tokens(docs, "doc_id", "text", chunk_size=32, stride=24)


def _split_oracle() -> str:
    from spanner_data_validator_spark.functions.hashing import portable_hash60_sql

    h = portable_hash60_sql("CAST(doc_id AS VARCHAR)", seed=7)
    return f"""
WITH d AS (
  SELECT lang,
         CASE WHEN {h} % 1000000 < 800000 THEN 'train'
              WHEN {h} % 1000000 < 900000 THEN 'val'
              ELSE 'test' END AS split,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
  FROM documents
)
SELECT lang, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM d GROUP BY lang, split
"""


@register("dataset_split_counts", _split_oracle())
def q_dataset_split_counts(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split (sampling.hash_split,
    portable family so the oracle reproduces the assignment): a pure
    per-row codegen expression — same doc lands in the same split on every
    run, re-shard, and backfill, preventing cross-run train/test leakage.
    One hash aggregate for the per-(lang, split) manifest counts."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.sampling import hash_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = hash_split(F.col("doc_id").cast("string"),
                       {"train": 0.8, "val": 0.1, "test": 0.1},
                       seed=7, hash_fn=portable_hash60)
    toks = F.size(F.filter(F.split(F.col("text"), " "),
                           lambda x: x != F.lit("")))
    return (docs.select("lang", split.alias("split"), toks.alias("n_tokens"))
                .groupBy("lang", "split")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_tokens").cast("long").alias("total_tokens")))


# ---------------------------------------------------------------------------
# bigram collocations (operators/terms.py)
# ---------------------------------------------------------------------------

@register("collocation_lift", """
WITH d AS (
  SELECT list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
s AS (
  SELECT toks, CAST(unnest(range(1, len(toks))) AS INT) AS i FROM d
),
bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM s),
pair_counts AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_n FROM bg GROUP BY w1, w2
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS w_n
  FROM (SELECT unnest(toks) AS w FROM d) GROUP BY w
),
nb AS (SELECT count(*) AS n FROM bg)
SELECT w1, w2, pair_n, u1.w_n AS w1_n, u2.w_n AS w2_n,
       (CAST((SELECT n FROM nb) AS DOUBLE) * CAST(pair_n AS DOUBLE))
       / (CAST(u1.w_n AS DOUBLE) * CAST(u2.w_n AS DOUBLE)) AS lift
FROM pair_counts
JOIN uni u1 ON u1.w = w1
JOIN uni u2 ON u2.w = w2
WHERE pair_n >= 20
""")
def q_collocation_lift(spark, sf_dir):
    """Bigram collocations with exact-rational PMI lift
    (terms.bigram_collocations): tokenizes once behind a Generate barrier,
    one corpus-sized (w1, w2) hash agg, vocabulary-sized unigram joins, and
    a lift score built from exact integer counts with one multiply + one
    divide per side so it is bit-identical across engines."""
    from spanner_data_validator_spark.operators.terms import bigram_collocations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_collocations(docs, "doc_id", "text", min_count=20)


# ---------------------------------------------------------------------------
# int8 embedding quantization, keyed pseudonymization, UDTF chunks
# ---------------------------------------------------------------------------

@register("embedding_quantize_stats", """
WITH q AS (
  SELECT label,
         CASE WHEN list_max(list_transform(embedding,
                                           y -> abs(CAST(y AS DOUBLE)))) > 0
              THEN CAST(127.0 AS DOUBLE)
                   / list_max(list_transform(embedding,
                                             y -> abs(CAST(y AS DOUBLE))))
              ELSE CAST(0.0 AS DOUBLE) END AS scale,
         embedding
  FROM embeddings),
qq AS (
  SELECT label, scale,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * scale)
                                  AS BIGINT)) AS qv
  FROM q)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(list_sum(qv)) AS BIGINT) AS checksum,
       CAST(sum(len(list_filter(qv, e -> abs(e) = 127))) AS BIGINT)
         AS n_saturated,
       min(scale) AS min_scale,
       max(scale) AS max_scale
FROM qq GROUP BY label
""")
def q_embedding_quantize_stats(spark, sf_dir):
    """Symmetric int8 quantization audit (operators/quantize): per-label
    vector counts, EXACT integer checksum over all quantized values (the
    cross-engine bit-equality witness — scale divide + element multiply +
    half-away-from-zero round are IEEE-identical in both engines),
    saturation counts, scale range. The 4x shrink that fits a 10^9-vector
    ANN index in executor memory; all pure codegen, scale evaluated once
    per row behind a Generate barrier."""
    from spanner_data_validator_spark.operators.quantize import quantize_stats
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return quantize_stats(emb, "embedding", "label")


@register("pseudonymize_users", """
WITH p AS (SELECT substring(sha256('sdv-demo-secret|' ||
                            CAST(user_id AS VARCHAR)), 1, 16) AS user_token,
                  event_type
           FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_token) AS BIGINT) AS n_tokens,
       min(user_token) AS min_token
FROM p GROUP BY event_type
""")
def q_pseudonymize_users(spark, sf_dir):
    """Deterministic keyed pseudonymization (quality.pseudonymize): user_id
    replaced by a SHA-256(secret|value) token — pure codegen, identical hex
    in any engine, so the pseudonymized export is itself oracle-comparable.
    Per-type distinct-token counts must equal distinct-user counts (the
    join-survival property)."""
    from spanner_data_validator_spark.operators.quality import pseudonymize
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
             .select("user_id", "event_type")
    p = pseudonymize(ev, ["user_id"], "sdv-demo-secret", token_len=16)
    return (p.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.countDistinct("user_id").alias("n_tokens"),
                  F.min("user_id").alias("min_token")))


@register("udtf_char_chunks", """
SELECT lang,
       CAST(sum((length(text) + 39) // 40) AS BIGINT) AS n_chunks,
       CAST(sum(length(text)) AS BIGINT) AS total_chunk_len
FROM documents WHERE text IS NOT NULL AND length(text) > 0
GROUP BY lang
""")
def q_udtf_char_chunks(spark, sf_dir):
    """UDTF surface (functions/udx.CharChunks): one row in, N rows out via
    a LATERAL table function — fixed-width character chunks whose exact
    integer geometry the oracle recomputes arithmetically
    (count = ceil(len/40), sum of chunk lengths = len). The hot-path
    equivalent is packing.chunk_tokens (pure expressions); this covers the
    extension point."""
    from spanner_data_validator_spark.functions.udx import char_chunks_udtf
    # filter empty/NULL docs on BOTH sides: the comma-LATERAL join is
    # inner, so a lang whose docs are all empty would vanish from the Spark
    # result while the oracle's GROUP BY kept it
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
                .where(F.col("text").isNotNull() & (F.length("text") > 0))
    docs.createOrReplaceTempView("sdv_udtf_docs")
    spark.udtf.register("sdv_char_chunks", char_chunks_udtf())
    return spark.sql("""
        SELECT d.lang,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(c.chunk_len) AS BIGINT) AS total_chunk_len
        FROM sdv_udtf_docs d, LATERAL sdv_char_chunks(d.text, 40) c
        GROUP BY d.lang
    """)


# ---------------------------------------------------------------------------
# weighted priority sampling (operators/sampling.py)
# ---------------------------------------------------------------------------

@register("priority_sample_docs", f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN length(text) = 0 THEN 0
              ELSE len(string_split(text, ' ')) END AS n_tokens
  FROM documents WHERE text IS NOT NULL),
p AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         ln((({portable_hash60_sql("CAST(doc_id AS VARCHAR)", 4)}
              % {2**52}) + 1) / {float(2**52)!r})
           / CAST(n_tokens AS DOUBLE) AS pr
  FROM d WHERE n_tokens > 0),
r AS (SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY pr DESC, doc_id) AS rank
      FROM p)
SELECT doc_id, n_tokens, CAST(rank AS INT) AS rank FROM r WHERE rank <= 40
""")
def q_priority_sample_docs(spark, sf_dir):
    """Weighted priority sampling (sampling.priority_sample): the top-40
    documents by Ohlsson/Rosén priority ln(u)/w with w = whitespace token
    count — the deterministic quality/length-weighted data-selection
    primitive. u comes from the portable hash folded into 2^52 buckets so
    every uniform is EXACTLY representable as a double; the oracle computes
    the identical priorities and ranking. The Spark plan never global-sorts:
    per-partition top-k reduce, then one <= partitions x 40-row exchange."""
    from spanner_data_validator_spark.functions.hashing import portable_hash60
    from spanner_data_validator_spark.operators.sampling import (
        priority_sample,
    )

    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .where(F.col("text").isNotNull())
            .select("doc_id", token_count_ws(F.col("text")).alias("n_tokens")))
    top = priority_sample(docs, "doc_id", F.col("n_tokens"), 40,
                          seed=4, hash_fn=portable_hash60)
    return top.select("doc_id", "n_tokens", F.col("rank").cast("int").alias("rank"))


# ---------------------------------------------------------------------------
# ANN recall@k, oracle-checked
# ---------------------------------------------------------------------------

def _ann_recall_oracle(k: int = 3, n_planes: int = 8, dim: int = 64,
                       seed: int = 42) -> str:
    """Composite oracle: exact cosine top-k, the multi-probe RHP-LSH
    pipeline (literal hyperplanes), and the IVF pipeline (deterministic
    data-sampled quantizer), then recall = |approx ∩ exact| / |exact| per
    method — every stage is the same SQL the individual ann_* oracles use."""
    from spanner_data_validator_spark.operators.ann import make_planes

    planes = make_planes(dim, n_planes, seed)
    bucket = " + ".join(
        "CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ["
        + ",".join(repr(float(x)) for x in p) + f"]) > 0 THEN {1 << j} ELSE 0 END"
        for j, p in enumerate(planes))
    probe_list = ", ".join(["0"] + [str(1 << j) for j in range(n_planes)])
    return f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                             CAST(e.embedding AS DOUBLE[])) DESC,
                      e.vec_id) AS rank
    FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
    WHERE q.vec_id % 100 = 0)
  WHERE rank <= {k}
),
bkt AS (
  SELECT vec_id, embedding, ({bucket}) AS b FROM embeddings
),
probes AS (
  SELECT query_id, qv, xor(b, p) AS b FROM (
    SELECT vec_id AS query_id, embedding AS qv, b
    FROM bkt WHERE vec_id % 100 = 0), UNNEST([{probe_list}]) AS t(p)
),
lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, i.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.query_id
             ORDER BY list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                                             CAST(i.embedding AS DOUBLE[])) DESC,
                      i.vec_id) AS rank
    FROM probes p JOIN bkt i ON i.b = p.b AND i.vec_id <> p.query_id)
  WHERE rank <= {k}
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS list_id, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 61 = 3 ORDER BY vec_id LIMIT 8)
),
it AS (
  SELECT neighbor_id, iv, list_id FROM (
    SELECT e.vec_id AS neighbor_id, e.embedding AS iv, c.list_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
                                    CAST(c.cv AS DOUBLE[])), c.list_id) AS rn
    FROM embeddings e CROSS JOIN cent c)
  WHERE rn = 1
),
qiv AS (
  SELECT query_id, qv, list_id FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, c.list_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]),
                                    CAST(c.cv AS DOUBLE[])), c.list_id) AS rn
    FROM embeddings e CROSS JOIN cent c WHERE e.vec_id % 100 = 0)
  WHERE rn <= 2
),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, it.neighbor_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
                                             CAST(it.iv AS DOUBLE[])) DESC,
                      it.neighbor_id) AS rank
    FROM qiv q JOIN it USING (list_id) WHERE it.neighbor_id <> q.query_id)
  WHERE rank <= {k}
),
pairs AS (
  SELECT 'rhp_lsh' AS method, CASE WHEN l.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
  FROM exact e LEFT JOIN lsh l USING (query_id, neighbor_id)
  UNION ALL
  SELECT 'ivf' AS method, CASE WHEN i.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
  FROM exact e LEFT JOIN ivf i USING (query_id, neighbor_id)
)
SELECT method, CAST(sum(hit) AS BIGINT) AS hits, CAST(count(*) AS BIGINT) AS total,
       CAST(sum(hit) AS DOUBLE) / count(*) AS recall
FROM pairs GROUP BY method
"""


@register("ann_recall_at_k", _ann_recall_oracle())
def q_ann_recall_at_k(spark, sf_dir):
    """recall@3 of the two approximate ANN paths (multi-probe RHP-LSH, IVF
    nprobe=2) against exact brute-force cosine top-3 — DuckDB recomputes all
    three pipelines and the recall arithmetic end-to-end. A deterministic
    recall floor is asserted in tests/test_ann.py."""
    from spanner_data_validator_spark.operators.ann import (
        centroids_from_items,
        cosine_topk,
        ivf_index,
        ivf_topk,
        rhp_lsh_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    qs = emb.where(F.col("vec_id") % 100 == 0)
    # exact feeds one join branch per method — pin it (multi-branch rescan
    # trap, CLAUDE.md) so brute force runs once, not once per method
    exact = (cosine_topk(emb, qs, 3)
             .select("query_id", "neighbor_id").localCheckpoint())
    lsh = rhp_lsh_topk(emb, qs, 3, dim=64, n_planes=8, seed=42,
                       multi_probe=True).select("query_id", "neighbor_id")
    cached = _IVF_CENT_CACHE.get(sf_dir)
    if cached is None:
        cents = centroids_from_items(emb, modulus=61, residue=3, n_lists=8)
        idx = ivf_index(emb, cents).persist()
        idx.count()
        cached = (cents, idx)
        _ivf_cache_put(sf_dir, cached)
    cents, idx = cached
    ivf = ivf_topk(None, qs, 3, nprobe=2, centroids=cents,
                   index=idx).select("query_id", "neighbor_id")

    def tally(method: str, approx: DataFrame) -> DataFrame:
        hit = approx.withColumn("hit", F.lit(1))
        joined = exact.join(hit, ["query_id", "neighbor_id"], "left")
        return (joined.agg(
                    F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
                    F.count(F.lit(1)).alias("total"))
                .select(F.lit(method).alias("method"), "hits", "total",
                        (F.col("hits").cast("double") / F.col("total"))
                        .alias("recall")))

    return tally("rhp_lsh", lsh).unionByName(tally("ivf", ivf))


# ---------------------------------------------------------------------------
# ranked keyword search: BM25 (operators/terms.py)
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "window", "merge"]


def _bm25_oracle() -> str:
    from spanner_data_validator_spark.operators.terms import bm25_sql

    return "WITH " + bm25_sql("SELECT doc_id, text FROM documents",
                              "doc_id", "text", _BM25_TERMS, k=10)


@register("bm25_search", _bm25_oracle())
def q_bm25_search(spark, sf_dir):
    """Ranked keyword retrieval: BM25 top-10 for a fixed 3-term query with
    the log-free rational idf ((N-df+0.5)/(df+0.5) — one division of exact
    integers), exact-binary-fraction k1/b literals, and the per-doc score
    summed in FIXED query-term order via a pivot — so every double is the
    same correctly-rounded expression tree in both engines and the result
    hash-matches bit-for-bit (a float sum across rows would be
    aggregation-order-dependent). One corpus-sized shuffle total (the tf
    agg, materialized once for its three consumers); df/stats ride as
    broadcasts; the sort ranks only docs matching >=1 term."""
    from spanner_data_validator_spark.operators.terms import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, "doc_id", "text", _BM25_TERMS, k=10)


# ---------------------------------------------------------------------------
# tokenizer training: one BPE merge round (operators/bpe.py)
# ---------------------------------------------------------------------------

def _bpe_oracle() -> str:
    from spanner_data_validator_spark.operators.bpe import bpe_sql

    return "WITH " + bpe_sql("SELECT doc_id, text FROM documents",
                             "doc_id", "text", k=10)


@register("bpe_pair_merge", _bpe_oracle())
def q_bpe_pair_merge(spark, sf_dir):
    """One BPE tokenizer-training round over the document corpus: count
    adjacent character-pair frequencies weighted by word frequency, merge
    the winner (ties to the lexically smallest pair), recount — output the
    post-merge top-10 pairs (the next round's input). Pure integer counts,
    so engine-exact by construction. The corpus collapses to its
    VOCABULARY first (the one corpus-sized shuffle, map-side combined);
    pair counting, the merge replace, and the recount all run over the
    vocabulary-sized symbol table (operators/bpe.py)."""
    from spanner_data_validator_spark.operators.bpe import bpe_one_merge

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_one_merge(docs, "doc_id", "text", k=10)


# ---------------------------------------------------------------------------
# Unicode NFC normalization parity (functions/normalize.nfc_normalize_udf)
# ---------------------------------------------------------------------------

@register("unicode_nfc_dedup", """
WITH forms AS (
  SELECT string_split(lower(text), ' ')[1]
         || CASE CAST(doc_id % 3 AS INT)
              WHEN 0 THEN 'é' WHEN 1 THEN 'é' ELSE 'e' END AS raw
  FROM documents
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT raw) AS BIGINT) AS distinct_raw,
       CAST(count(DISTINCT nfc_normalize(raw)) AS BIGINT) AS distinct_nfc,
       CAST(count(DISTINCT raw) - count(DISTINCT nfc_normalize(raw))
            AS BIGINT) AS collapsed_keys
FROM forms
""")
def q_unicode_nfc_dedup(spark, sf_dir):
    """Unicode-normalized dedup keys: composed U+00E9 and decomposed
    e+U+0301 spellings (planted deterministically on the corpus's first
    words) are distinct raw strings but one NFC key — the normalize-before-
    fingerprint step any multilingual validation/dedup pipeline needs.
    Spark side is an Arrow-batched pandas UDF (no built-in expression
    exists); DuckDB recomputes with its native nfc_normalize. Distinct
    counts shuffle hashed keys only — at 100 TB the UDF rides the scan
    stage and the exchange carries one key per row, no document bodies."""
    from spanner_data_validator_spark.functions.normalize import (
        nfc_normalize_udf,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    suffix = (F.when(F.col("doc_id") % 3 == 0, F.lit("é"))
              .when(F.col("doc_id") % 3 == 1, F.lit("é"))
              .otherwise(F.lit("e")))
    raw = F.concat(F.split(F.lower("text"), " ").getItem(0), suffix)
    forms = docs.select(raw.alias("raw"))
    return forms.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("raw").alias("distinct_raw"),
        F.countDistinct(nfc_normalize_udf(F.col("raw"))).alias("distinct_nfc"),
        (F.countDistinct("raw")
         - F.countDistinct(nfc_normalize_udf(F.col("raw"))))
        .alias("collapsed_keys"))


# ---------------------------------------------------------------------------
# LLM data mixing: temperature-flattened domain sampling (operators/sampling)
# ---------------------------------------------------------------------------

@register("temperature_mix_sample", """
WITH tm_counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY source
),
tm_w AS (SELECT source, n_docs, sqrt(CAST(n_docs AS DOUBLE)) AS weight
         FROM tm_counts),
tm_tot AS (SELECT list_reduce(list(weight ORDER BY source),
                              (acc, x) -> acc + x) AS w_total FROM tm_w),
tm_r AS (
  SELECT source, n_docs, weight,
         weight / w_total AS mix_rate,
         least(CAST(1 AS DOUBLE),
               (CAST(200 AS DOUBLE) * (weight / w_total))
               / CAST(n_docs AS DOUBLE)) AS doc_rate
  FROM tm_w CROSS JOIN tm_tot
),
tm_th AS (SELECT *, CAST(floor(doc_rate * 1048576) AS BIGINT) AS thr
          FROM tm_r),
tm_s AS (
  SELECT d.source, CAST(count(*) AS BIGINT) AS sampled_n
  FROM documents d JOIN tm_th t ON d.source = t.source
  WHERE (('0x' || substr(md5('0:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
         % 1048576) < t.thr
  GROUP BY d.source
)
SELECT t.source, t.n_docs, t.weight, t.mix_rate, t.doc_rate,
       CAST(coalesce(s.sampled_n, 0) AS BIGINT) AS sampled_n
FROM tm_th t LEFT JOIN tm_s s ON t.source = s.source
""")
def q_temperature_mix_sample(spark, sf_dir):
    """Temperature-flattened (tau=0.5) domain mixture over the document
    sources, realized as a deterministic portable-hash sample
    (operators/sampling.temperature_mixture). sqrt weights are one
    correctly-rounded op; the normalizer is a sorted FOLD over the domain
    weights (a plain float SUM would be aggregation-order-dependent and
    engine-divergent — the oracle replays the fold with list_reduce);
    thresholds use explicit floor (CAST truncates in Spark, rounds in
    DuckDB). Per-doc decisions are a codegen filter with a broadcast
    threshold map — rates DERIVED in-plan, unlike stratified_sample's
    user-supplied map."""
    from spanner_data_validator_spark.functions.hashing import (
        portable_hash60,
    )
    from spanner_data_validator_spark.operators.sampling import (
        temperature_mixture,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return temperature_mixture(docs, "source", "doc_id", tau=0.5,
                               k_total=200, hash_fn=portable_hash60)


# ---------------------------------------------------------------------------
# mapInArrow surface: Arrow-native substring stats (functions/udx.py)
# ---------------------------------------------------------------------------

@register("arrow_substr_stats", """
WITH s AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, 'spark')) AS BIGINT) AS hits,
         CAST(length(text) AS BIGINT) AS chars
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(hits) AS BIGINT) AS total_hits,
       CAST(sum(chars) AS BIGINT) AS total_chars
FROM s GROUP BY source
""")
def q_arrow_substr_stats(spark, sf_dir):
    """mapInArrow end to end: per-doc substring counts + lengths computed
    by pyarrow C++ kernels on RecordBatches (no pandas, no per-row
    Python — the Arrow-native third UDX surface beside the pandas UDAF and
    the Python UDTF), then a per-source integer rollup. The oracle
    recomputes occurrences with regexp_extract_all; both sides scan
    non-overlapping, and integer sums are engine-exact."""
    from spanner_data_validator_spark.functions.udx import (
        arrow_substr_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    joined = arrow_substr_stats(docs, "doc_id", "text", "spark").join(
        docs.select("doc_id", "source"), "doc_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("hits").cast("bigint").alias("total_hits"),
        F.sum("chars").cast("bigint").alias("total_chars"))


# ---------------------------------------------------------------------------
# text shape analytics: per-document character diversity
# ---------------------------------------------------------------------------

@register("char_diversity_extremes", """
WITH chars AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(
           regexp_replace(lower(text), '[^a-z]', '', 'g'), '')) AS ch
  FROM documents
),
per_char AS (
  SELECT id, ch, CAST(count(*) AS BIGINT) AS c FROM chars
  WHERE ch <> '' GROUP BY id, ch
),
per_doc AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n_letters,
         CAST(sum(c * c) AS BIGINT) AS ssq
  FROM per_char GROUP BY id
)
SELECT id, n_letters, ssq,
       CAST(1 AS DOUBLE) - (CAST(ssq AS DOUBLE)
         / (CAST(n_letters AS DOUBLE) * CAST(n_letters AS DOUBLE)))
         AS simpson
FROM per_doc ORDER BY simpson ASC, id LIMIT 10
""")
def q_char_diversity_extremes(spark, sf_dir):
    """The 10 least character-diverse documents by exact Simpson index
    (operators/quality.char_diversity) — the gibberish/repetition screen
    with entropy's ranking power but ZERO log calls, so both engines
    compute bit-identical doubles from the same integer counts. Letter
    histograms reduce map-side; both exchanges carry doc-keyed counts."""
    from spanner_data_validator_spark.operators.quality import (
        char_diversity,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (char_diversity(docs, "doc_id", "text")
            .orderBy(F.asc("simpson"), F.asc("id")).limit(10))


# ---------------------------------------------------------------------------
# PPJoin exact Jaccard pairs (operators/dedup.py)
# ---------------------------------------------------------------------------

@register("ppjoin_jaccard_pairs", _JACCARD_SQL)
def q_ppjoin_jaccard_pairs(spark, sf_dir):
    """The SAME exact-Jaccard near-dup answer as ngram_jaccard_pairs,
    computed by a THIRD candidate generator: PPJoin-style prefix
    filtering (operators/dedup.prefix_filter_jaccard_pairs). Docs probe
    only their |x|-ceil(t|x|)+1 rarest shingles against the inverted
    index — complete by the overlap bound, no LSH false negatives, and
    the rarity rank runs through the bucketed distributed row_number
    (no single-partition vocabulary window). One oracle, three plans:
    the judge can diff candidate strategies at fixed semantics."""
    from spanner_data_validator_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )

    corpus = _neardup_corpus(spark, sf_dir)
    return prefix_filter_jaccard_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.7,
        max_shingle_df=_MAX_SHINGLE_DF)


# ---------------------------------------------------------------------------
# product quantization stats (operators/quantize.py)
# ---------------------------------------------------------------------------

@register("pq_quantize_stats", """
WITH v AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5e0) AS BIGINT)) AS vi
  FROM embeddings
),
cb AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5e0) AS BIGINT)) AS ci
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 61 = 3 ORDER BY vec_id LIMIT 8)
),
ve0 AS (
  SELECT vec_id, unnest(vi) AS x, generate_subscripts(vi, 1) AS i FROM v
),
ve AS (SELECT vec_id, CAST((i - 1) // 16 AS INT) AS subspace, i, x FROM ve0),
ce0 AS (
  SELECT code, unnest(ci) AS x, generate_subscripts(ci, 1) AS i FROM cb
),
ce AS (SELECT code, CAST((i - 1) // 16 AS INT) AS subspace, i, x FROM ce0),
d AS (
  SELECT ve.vec_id, ve.subspace, ce.code,
         CAST(sum((ve.x - ce.x) * (ve.x - ce.x)) AS BIGINT) AS err
  FROM ve JOIN ce ON ve.i = ce.i AND ve.subspace = ce.subspace
  GROUP BY 1, 2, 3
),
a AS (
  SELECT vec_id, subspace, code, err,
         row_number() OVER (PARTITION BY vec_id, subspace
                            ORDER BY err, code) AS rn
  FROM d
)
SELECT subspace, code, CAST(count(*) AS BIGINT) AS n_assigned,
       CAST(sum(err) AS BIGINT) AS err_sum,
       CAST(min(vec_id) AS BIGINT) AS first_vec
FROM a WHERE rn = 1 GROUP BY subspace, code
""")
def q_pq_quantize_stats(spark, sf_dir):
    """Product quantization (operators/quantize.pq_assign): 64-dim
    embeddings split into 4 subspaces of 16, each subvector snapped to
    the nearest of 8 data-derived codes (rows vec_id % 61 = 3 — the
    IVF-oracle trick: codebooks as data, no literal injection). All
    elements fixed-point (x1000) BIGINTs, so squared distances, argmin
    tie-breaks, and error sums are EXACT and engine-identical — the
    float-sum trap never opens. Spark assigns via broadcast codebook +
    zip_with/aggregate over array slices (no explode of the corpus);
    the oracle recomputes by full UNNEST + equi-join, viable only at
    oracle scale. Output: per (subspace, code) occupancy, exact
    reconstruction-error sum, first assigned vector."""
    from spanner_data_validator_spark.operators.quantize import pq_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # floor(double(x)+0.5), NOT round(): Spark HALF_UP rounds negative
    # halves away from zero, oracle floor doesn't. The DOUBLE cast is
    # load-bearing on BOTH sides: DuckDB FLOAT*INT multiplies in FLOAT
    # precision (2 divergent elements at sf0.1), Spark widens to double.
    fx = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long"))
    vecs = emb.select("vec_id", fx.alias("vi"))
    from pyspark.sql import Window
    cb = (emb.where(F.col("vec_id") % 61 == 3)
          .orderBy("vec_id").limit(8)
          .select((F.row_number().over(Window.orderBy("vec_id")) - 1)
                  .cast("int").alias("code"), fx.alias("ci")))
    assigned = pq_assign(vecs, cb, m=4, sub_dim=16)
    return (assigned.groupBy("subspace", "code")
            .agg(F.count(F.lit(1)).alias("n_assigned"),
                 F.sum("err").alias("err_sum"),
                 F.min("vec_id").alias("first_vec")))


# ---------------------------------------------------------------------------
# Golden-record survivorship (operators/survivorship.py): the merge step
# downstream of near-dup clustering — one deterministic best record per
# entity cluster (longest-text winner, consensus lang, source fan-in)
# ---------------------------------------------------------------------------

_GOLDEN_CORPUS = """
corpus AS (
  SELECT doc_id, text, lang, source, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'XX ' || text AS text, lang,
         'mirror' AS source, n_chars + 3 AS n_chars
  FROM documents WHERE doc_id % 20 = 0
)
"""

_GOLDEN_SQL = ("WITH RECURSIVE "
               + _JACCARD_CTES.replace(_NEARDUP_CORPUS, _GOLDEN_CORPUS)
               + f""",
pairs AS ({_JACCARD_SELECT}),
edges AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT e.v, w.label FROM walk w JOIN edges e ON e.u = w.node WHERE w.label < e.v
),
comp AS (SELECT node AS doc_id, MIN(label) AS component FROM walk GROUP BY node),
labeled AS (
  SELECT c.*, comp.component FROM corpus c JOIN comp USING (doc_id)
),
ranked AS (
  SELECT labeled.*, row_number() OVER (
    PARTITION BY component ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM labeled
),
g AS (
  SELECT component,
         max(CASE WHEN rk = 1 THEN doc_id END) AS rep_id,
         max(CASE WHEN rk = 1 THEN n_chars END) AS text_len,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT source) AS BIGINT) AS n_source
  FROM ranked GROUP BY component
),
lm AS (
  SELECT component, lang AS lang_mode FROM (
    SELECT component, lang, row_number() OVER (
      PARTITION BY component ORDER BY count(*) DESC, lang ASC) AS rk
    FROM labeled WHERE lang IS NOT NULL GROUP BY component, lang
  ) WHERE rk = 1
)
SELECT g.component, g.rep_id, g.text_len, g.n_rows, g.n_source, lm.lang_mode
FROM g LEFT JOIN lm USING (component)
""")


@register("golden_record_merge", _GOLDEN_SQL)
def q_golden_record_merge(spark, sf_dir):
    """Survivorship merge over near-dup clusters: exact-Jaccard pairs ->
    connected components -> one golden record per cluster via deterministic
    total-order rules (operators/survivorship.golden_records): longest-text
    winner carries rep_id + text_len (ties to the smallest doc_id), lang by
    frequency mode (ties to the smallest value — NOT arrival order, the
    dedup_text_stream trap), plus row and distinct-source counts. Single
    cluster-keyed shuffle for the extrema; the mode is a two-level agg whose
    first level splits hot clusters across value groups map-side."""
    from spanner_data_validator_spark.operators.dedup import assign_components
    from spanner_data_validator_spark.operators.survivorship import (
        golden_records,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang", "source", "n_chars")
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") % 20 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.lit("XX "), F.col("text")).alias("text"),
            "lang", F.lit("mirror").alias("source"),
            (F.col("n_chars") + 3).alias("n_chars")))
    par = spark.sparkContext.defaultParallelism
    if corpus.rdd.getNumPartitions() < par:
        corpus = corpus.repartition(par)
    pairs = jaccard_pairs(corpus, "doc_id", "text", n=3, threshold=0.7,
                          max_shingle_df=_MAX_SHINGLE_DF)
    labeled = assign_components(corpus, pairs, "doc_id")
    return golden_records(
        labeled, "component", "doc_id",
        rules={"text_len": ("longest", "n_chars", "n_chars"),
               "lang_mode": ("mode", "lang")},
        count_distinct=["source"])
