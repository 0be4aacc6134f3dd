"""SURVEY.md §2C — extension operators as declared queries with oracles.

The oracle SQL for the hash-based operators is *generated* from the same
constants the Spark plans use (``functions.hashing`` / ``operators.*``) so
both engines run literally the same algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Tables
from ..functions import hashing, text, vectors
from ..operators import dedup, multimodal, similarity, textstats
from ..operators import events as events_ops
from ..operators import graph as graph_ops
from .registry import query

# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    oracle="""
        SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        FROM documents GROUP BY md5(text) ORDER BY content_hash
    """,
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: single shuffle on the content hash (map-side combined)."""
    t = Tables(spark, sf_dir)
    return dedup.exact_duplicates(t.documents).orderBy("content_hash")


# 25 near-dup pairs at sf0.01 (measured) — the same clone families the
# minhash/setsim gates find, via an independent algorithm.
@query(
    "dedup_winnow_fingerprints",
    oracle=dedup.winnow_fingerprint_pairs_sql("documents")
    + " ORDER BY doc_a, doc_b",
)
def dedup_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    plagiarism detector): char-16-gram hashes, minimum selected per
    sliding window of 8 (any shared substring of >= 23 chars is
    GUARANTEED to yield a shared fingerprint), doc pairs scored by
    shared-fingerprint count. Spark winnows RELATIONALLY — posexplode +
    one frame-min window pass — because the array-lambda formulation
    tempts CollapseProject into inlining the gram-hash transform per
    window position (the O(n²)-md5 trap, caught live); the posting
    self-join is df-pruned so no boilerplate fingerprint funnels df²
    pairs through one reducer (operators/dedup.py:winnow_fingerprint_pairs)."""
    t = Tables(spark, sf_dir)
    return dedup.winnow_fingerprint_pairs(t.documents).orderBy("doc_a", "doc_b")


# 1461/1500 best-matches link the true entity at sf0.01 (measured 97.4%
# precision) — both flag outcomes carry real rows.
@query(
    "er_record_linkage",
    oracle=dedup.record_linkage_blocked_sql("customer") + " ORDER BY a_key",
)
def er_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source record linkage with blocking (the Fellegi-Sunter
    entity-resolution skeleton): a deterministically single-edit-corrupted
    clone of the customer file is linked back through
    (nation, mktsegment) blocks + edit-distance scoring + per-record
    best-match resolution. Blocking turns all-pairs O(|A|x|B|) into
    per-block products (equi-join on the block key, AQE-splittable);
    best-match is a WindowGroupLimit. The matched_same_entity flag
    measures linkage precision of the 1-edit rule — deliberately
    imperfect, exactly like production coarse blocking
    (operators/dedup.py:record_linkage_blocked)."""
    t = Tables(spark, sf_dir)
    return dedup.record_linkage_blocked(t.customer).orderBy("a_key")


def _minhash_oracle(shingle_n: int, threshold: float) -> str:
    tok = text.tokens_sql("text")
    sh = text.word_shingles_sql("tok", shingle_n)
    sig_cols = ",\n           ".join(
        f"{hashing.minhash_sig_sql('hs32', i)} AS mh{i}" for i in range(hashing.MINHASH_K)
    )
    band_selects = []
    for b in range(dedup.MINHASH_BANDS):
        cols = " || ',' || ".join(
            f"CAST(mh{b * dedup.MINHASH_ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(dedup.MINHASH_ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT id, {b} AS band, "
            f"(('0x' || substring(md5({cols}), 1, 15))::BIGINT) AS bkey FROM sigs"
        )
    bands = "\n    UNION ALL\n    ".join(band_selects)
    jac = "CAST(i.n_inter AS DOUBLE) / (sa.sz + sb.sz - i.n_inter)"
    return f"""
    WITH tokenized AS (
        SELECT doc_id AS id, {tok} AS tok FROM documents
    ), base AS (
        SELECT id, {sh} AS shingles FROM tokenized
    ), hashed AS (
        SELECT id, list_transform(shingles, s -> md5(s)) AS md5s
        FROM base WHERE len(shingles) > 0
    ), keyed AS (
        SELECT id,
               list_transform(md5s, m -> (('0x' || substring(m, 1, 8))::BIGINT)) AS hs32,
               list_transform(md5s, m -> (('0x' || substring(m, 1, 15))::BIGINT)) AS hs60
        FROM hashed
    ), sigs AS (
        SELECT id, hs60,
           {sig_cols}
        FROM keyed
    ), bands AS (
    {bands}
    ), cand AS (
        SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
    ), expl AS (
        SELECT DISTINCT id, unnest(hs60) AS sh FROM sigs
    ), sz AS (
        SELECT id, COUNT(*) AS sz FROM expl GROUP BY id
    ), inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN expl ea ON ea.id = c.doc_a
        JOIN expl eb ON eb.id = c.doc_b AND eb.sh = ea.sh
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, {jac} AS jaccard
    FROM inter i JOIN sz sa ON sa.id = i.doc_a JOIN sz sb ON sb.id = i.doc_b
    WHERE {jac} >= {threshold}
    ORDER BY doc_a, doc_b
    """


@query("dedup_minhash_lsh", oracle=_minhash_oracle(3, 0.8), bench=True)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4x4) near-dup pairs, exact-Jaccard verified >= 0.8."""
    t = Tables(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(t.documents, shingle_n=3, threshold=0.8)
    return pairs.orderBy("doc_a", "doc_b")


def _simhash_oracle() -> str:
    vote_cols = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(dedup.SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(dedup.SIMHASH_BITS)
    )
    return f"""
    WITH e AS (
        SELECT doc_id AS id, unnest({text.tokens_sql('text')}) AS w FROM documents
    ), h AS (
        SELECT id, {hashing.md5_int32_sql('w')} AS h FROM e
    ), g AS (
        SELECT id,
               {vote_cols}
        FROM h GROUP BY id
    )
    SELECT id AS doc_id, {sig} AS simhash FROM g ORDER BY doc_id
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash signature per document (token bit-voting aggregate)."""
    t = Tables(spark, sf_dir)
    return dedup.simhash(t.documents).orderBy("doc_id")


def _ngram_jaccard_oracle(ngram_n: int, df_max: int, threshold: float) -> str:
    tok = text.tokens_sql("text")
    sh = text.word_shingles_sql("tok", ngram_n)
    jac = "CAST(i.n_inter AS DOUBLE) / (sa.sz + sb.sz - i.n_inter)"
    return f"""
    WITH tokenized AS (
        SELECT doc_id AS id, {tok} AS tok FROM documents
    ), base AS (
        SELECT id, {sh} AS shingles FROM tokenized
    ), expl AS (
        SELECT DISTINCT id,
               unnest(list_transform(shingles, s -> (('0x' || substring(md5(s), 1, 15))::BIGINT))) AS sh
        FROM base WHERE len(shingles) > 0
    ), sz AS (
        SELECT id, COUNT(*) AS sz FROM expl GROUP BY id
    ), rare AS (
        SELECT sh FROM expl GROUP BY sh HAVING COUNT(*) <= {df_max}
    ), rare_expl AS (
        SELECT e.id, e.sh FROM expl e JOIN rare r ON e.sh = r.sh
    ), cand AS (
        SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
        FROM rare_expl a JOIN rare_expl b ON a.sh = b.sh AND a.id < b.id
    ), inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN expl ea ON ea.id = c.doc_a
        JOIN expl eb ON eb.id = c.doc_b AND eb.sh = ea.sh
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b, {jac} AS jaccard
    FROM inter i JOIN sz sa ON sa.id = i.doc_a JOIN sz sb ON sb.id = i.doc_b
    WHERE {jac} >= {threshold}
    ORDER BY doc_a, doc_b
    """


@query("dedup_ngram_jaccard", bench=True, oracle=_ngram_jaccard_oracle(2, 20, 0.9))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram Jaccard >= 0.9 with DF-pruned (df<=20) candidate join."""
    t = Tables(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(t.documents, ngram_n=2, df_max=20, threshold=0.9)


def _embedding_neardup_oracle(threshold: float) -> str:
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, embedding, {b} AS band, {similarity.band_key_sql('embedding', b)} AS bkey FROM embeddings"
        for b in range(similarity.LSH_BANDS)
    )
    cos = vectors.cosine_sql("c.emb_a", "c.emb_b")
    return f"""
    WITH banded AS (
        {band_selects}
    ), cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                        a.embedding AS emb_a, b.embedding AS emb_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b, {cos} AS cos_sim
    FROM cand c
    WHERE {cos} >= {threshold}
    ORDER BY id_a, id_b
    """


@query("dedup_embedding_cosine", oracle=_embedding_neardup_oracle(0.4))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: hyperplane-LSH candidates, cosine >= 0.4."""
    t = Tables(spark, sf_dir)
    return similarity.cosine_neardup_pairs(t.embeddings, threshold=0.4)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

ANN_QUERY_IDS = [0, 1, 2, 3, 4]
ANN_K = 5


def _ann_bruteforce_oracle() -> str:
    cos = vectors.cosine_sql("q.q_emb", "e.embedding")
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
        WHERE vec_id IN ({ids})
    ), scored AS (
        SELECT q.query_id, e.vec_id, {cos} AS cos_sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, vec_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {ANN_K} ORDER BY query_id, rnk
    """


@query("ann_bruteforce_topk", oracle=_ann_bruteforce_oracle(), bench=True)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 5 broadcast query vectors (ANN baseline)."""
    t = Tables(spark, sf_dir)
    df = similarity.topk_bruteforce(t.embeddings, ANN_QUERY_IDS, k=ANN_K)
    return df.withColumn("rnk", F.col("rnk").cast("int"))


@query("rank_mmr_diverse", oracle=similarity.mmr_rerank_sql("embeddings"))
def rank_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein
    1998) — the post-retrieval diversity pass: greedy
    λ·rel − (1−λ)·max-sim-to-selected selection over the brute-force
    top-12 candidates for query vector 0, k=3, λ=0.7. The corpus-sized
    work is exactly the ann_bruteforce plan (broadcast query, no corpus
    shuffle, WindowGroupLimit); the greedy rounds touch only the ≤12-row
    candidate set and never the driver. Cosines are fixed-order folds, so
    the unrolled DuckDB CTE chain reproduces every score bit-for-bit
    (operators/similarity.py:mmr_rerank)."""
    t = Tables(spark, sf_dir)
    return similarity.mmr_rerank(t.embeddings)


def _ann_lsh_oracle() -> str:
    band_selects = "\n        UNION ALL\n        ".join(
        f"SELECT vec_id, embedding, {b} AS band, {similarity.band_key_sql('embedding', b)} AS bkey FROM embeddings"
        for b in range(similarity.LSH_BANDS)
    )
    cos = vectors.cosine_sql("c.q_emb", "c.c_emb")
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    return f"""
    WITH banded AS (
        {band_selects}
    ), q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, band, bkey FROM banded
        WHERE vec_id IN ({ids})
    ), cand AS (
        SELECT DISTINCT q.query_id, q.q_emb, e.vec_id, e.embedding AS c_emb
        FROM banded e JOIN q ON e.band = q.band AND e.bkey = q.bkey
        WHERE e.vec_id <> q.query_id
    ), scored AS (
        SELECT query_id, vec_id, {cos} AS cos_sim FROM cand c
    ), ranked AS (
        SELECT query_id, vec_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {ANN_K} ORDER BY query_id, rnk
    """


@query("ann_lsh_topk", oracle=_ann_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-5 (the scale path: bucket-pruned scan)."""
    t = Tables(spark, sf_dir)
    df = similarity.topk_lsh(t.embeddings, ANN_QUERY_IDS, k=ANN_K)
    return df.withColumn("rnk", F.col("rnk").cast("int"))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def _text_stats_oracle() -> str:
    tok = text.tokens_sql("text")
    stop_list = "[" + ", ".join(f"'{s}'" for s in text.STOPWORDS) + "]"
    return f"""
    WITH t AS (SELECT doc_id, text, {tok} AS tok FROM documents)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(tok) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(tok)) AS INTEGER) AS n_distinct_tokens,
           CAST(list_reduce(list_transform(tok, w -> CAST(length(w) AS BIGINT)), (a, b) -> a + b) AS DOUBLE)
               / len(tok) AS avg_token_len,
           CAST(len(list_filter(tok, w -> list_contains({stop_list}, w))) AS DOUBLE)
               / len(tok) AS stopword_ratio,
           {text.bpe_token_estimate_sql('text')} AS bpe_tokens
    FROM t ORDER BY doc_id
    """


@query("text_stats", oracle=_text_stats_oracle(), bench=True)
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document stats: chars/tokens/diversity/stopwords/BPE estimate."""
    t = Tables(spark, sf_dir)
    return textstats.text_stats(t.documents).orderBy("doc_id")


def _quality_oracle() -> str:
    return f"SELECT * FROM ({textstats.quality_score_sql('documents')}) ORDER BY doc_id"


@query("text_quality_score", oracle=_quality_oracle())
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (length/diversity/stopword components)."""
    t = Tables(spark, sf_dir)
    return textstats.quality_score(t.documents).orderBy("doc_id")


def _lang_id_oracle() -> str:
    tok = text.tokens_sql("text")
    hit_cols = ",\n               ".join(
        "len(list_filter(tok, w -> list_contains(["
        + ", ".join(f"'{m}'" for m in markers)
        + f"], w))) AS h_{lang}"
        for lang, markers in textstats.LANG_MARKERS.items()
    )
    # replicate the greedy strictly-greater argmax chain
    stages = ["SELECT *, 'und' AS best0, 0 AS bh0 FROM h"]
    for i, lang in enumerate(textstats.LANG_MARKERS, start=1):
        stages.append(
            f"SELECT *, CASE WHEN h_{lang} > bh{i-1} THEN '{lang}' ELSE best{i-1} END AS best{i}, "
            f"CASE WHEN h_{lang} > bh{i-1} THEN h_{lang} ELSE bh{i-1} END AS bh{i} FROM s{i-1}"
        )
    n = len(textstats.LANG_MARKERS)
    ctes = ",\n    ".join(f"s{i} AS ({stage})" for i, stage in enumerate(stages))
    return f"""
    WITH t AS (SELECT doc_id, {tok} AS tok FROM documents),
    h AS (
        SELECT doc_id,
               {hit_cols}
        FROM t
    ),
    {ctes}
    SELECT doc_id, best{n} AS lang_pred, CAST(bh{n} AS INTEGER) AS marker_hits
    FROM s{n} ORDER BY doc_id
    """


@query("text_lang_id", oracle=_lang_id_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic (argmax of stopword hits)."""
    t = Tables(spark, sf_dir)
    return textstats.lang_id(t.documents).orderBy("doc_id")


@query(
    "text_fingerprint",
    oracle=f"""
        SELECT doc_id, {textstats.fingerprint_sql('text')} AS fingerprint
        FROM documents ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling (Rabin-Karp style) document fingerprint."""
    t = Tables(spark, sf_dir)
    return textstats.fingerprint(t.documents).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal plumbing (JVM-side subset; pandas-UDF kernels tested in pytest)
# ---------------------------------------------------------------------------

@query(
    "multimodal_binary_meta",
    oracle="""
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS checksum,
               'text/plain' AS mime
        FROM documents ORDER BY media_id
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata path: size + checksum computed on bytes
    JVM-side (the decode kernels are mapInPandas, tested in pytest)."""
    t = Tables(spark, sf_dir)
    media = multimodal.as_media(t.documents, "text", "doc_id", "text/plain")
    return multimodal.binary_meta(media).orderBy("media_id")


def _hex_byte(pos: int) -> str:
    """DuckDB: parse the md5-hex byte whose first nibble is at 1-indexed pos."""
    return f"('0x' || substr(md5(text), {pos}, 2))::INT"


def _hex_mean(byte_offsets: list[int]) -> str:
    """DuckDB: mean of 4 md5 bytes (byte k lives at hex position 2k+1)."""
    return "(" + " + ".join(_hex_byte(2 * k + 1) for k in byte_offsets) + ") / 4.0"


@query(
    "multimodal_image_decode",
    oracle=f"""
        SELECT doc_id AS media_id,
               2 AS width,
               2 AS height,
               {_hex_mean([0, 3, 6, 9])} AS mean_r,
               {_hex_mean([1, 4, 7, 10])} AS mean_g,
               {_hex_mean([2, 5, 8, 11])} AS mean_b
        FROM documents ORDER BY media_id
    """,
)
def multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode end-to-end: synthesize a 2x2 binary PPM per document
    JVM-side (pixel bytes = the first 12 md5 bytes of the text), run it
    through the real pure-Python PPM decode kernel (fake=False), and emit
    per-channel means. The oracle recomputes the same means directly from the
    md5 hex, so the whole mapInPandas decode path is driver-verified.

    The means are exact cross-engine: each is (sum of 4 ints <= 1020)/4,
    representable exactly in float32 and double alike.
    """
    t = Tables(spark, sf_dir)
    header = F.encode(F.lit("P6\n2 2\n255\n"), "UTF-8")
    digest = F.md5(F.encode(F.col("text"), "UTF-8"))
    media = t.documents.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.concat(header, F.unhex(F.substring(digest, 1, 24))).alias("content"),
    )
    decoded = multimodal.decode_images(media, fake=False)
    return decoded.select(
        "media_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.element_at("features", 1).cast("double").alias("mean_r"),
        F.element_at("features", 2).cast("double").alias("mean_g"),
        F.element_at("features", 3).cast("double").alias("mean_b"),
    ).orderBy("media_id")


@query(
    "multimodal_image_resize",
    oracle=f"""
        SELECT doc_id AS media_id,
               2 AS src_width, 2 AS src_height,
               3 AS width, 3 AS height,
               (4 * {_hex_byte(1)} + 2 * {_hex_byte(7)} + 2 * {_hex_byte(13)} + {_hex_byte(19)}) / 9.0 AS mean_r,
               (4 * {_hex_byte(3)} + 2 * {_hex_byte(9)} + 2 * {_hex_byte(15)} + {_hex_byte(21)}) / 9.0 AS mean_g,
               (4 * {_hex_byte(5)} + 2 * {_hex_byte(11)} + 2 * {_hex_byte(17)} + {_hex_byte(23)}) / 9.0 AS mean_b
        FROM documents ORDER BY media_id
    """,
)
def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real nearest-neighbor resize end-to-end: the same synthesized 2x2 PPM
    as multimodal_image_decode, upsampled 2x2 -> 3x3 through the real resize
    kernel. The integer index map (i * src) // dst picks rows/cols [0,0,1],
    so the resized means weight the four source pixels 4/2/2/1 over 9 — the
    oracle recomputes exactly that from the md5 hex (channel c of pixel k is
    md5 byte 3k+c, hex position 6k+2c+1). Round-3 addition queued in
    NEXT_WINDOW_QUEUE for a round-4 verification slot."""
    t = Tables(spark, sf_dir)
    header = F.encode(F.lit("P6\n2 2\n255\n"), "UTF-8")
    digest = F.md5(F.encode(F.col("text"), "UTF-8"))
    media = t.documents.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.concat(header, F.unhex(F.substring(digest, 1, 24))).alias("content"),
    )
    resized = multimodal.resize_images(media, dst_w=3, dst_h=3, fake=False)
    return resized.select(
        "media_id",
        F.col("src_width").cast("int").alias("src_width"),
        F.col("src_height").cast("int").alias("src_height"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("mean_r").cast("double").alias("mean_r"),
        F.col("mean_g").cast("double").alias("mean_g"),
        F.col("mean_b").cast("double").alias("mean_b"),
    ).orderBy("media_id")


def _ivf_oracle() -> str:
    dist2 = (
        "list_reduce(list_transform(generate_series(1, len(e.embedding)), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) "
        "* (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))), (a, b) -> a + b)"
    )
    cos = vectors.cosine_sql("cd.q_emb", "cd.c_emb")
    ids = ", ".join(str(i) for i in ANN_QUERY_IDS)
    # mirrors similarity.ivf_assign with one Lloyd refinement: argmin over
    # the deterministic seed, decimal-exact per-dimension means (bit-stable
    # regardless of aggregation order), then a second argmin
    return f"""
    WITH seed AS (
        SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < {similarity.IVF_K}
    ), scored0 AS (
        SELECT e.vec_id, e.embedding, c.cid, {dist2} AS dist2
        FROM embeddings e CROSS JOIN seed c
    ), a0 AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
            FROM scored0
        ) WHERE rn = 1
    ), dims AS (
        SELECT cell, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
        FROM a0, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ), centroids AS (
        SELECT cell AS cid, list(mean_val ORDER BY dim) AS cvec FROM (
            SELECT cell, dim,
                   CAST(SUM(CAST(val AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*) AS mean_val
            FROM dims GROUP BY cell, dim
        ) GROUP BY cell
    ), scored AS (
        SELECT e.vec_id, e.embedding, c.cid, {dist2} AS dist2
        FROM embeddings e CROSS JOIN centroids c
    ), assigned AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
            FROM scored
        ) WHERE rn = 1
    ), q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, cell FROM assigned
        WHERE vec_id IN ({ids})
    ), cand AS (
        SELECT q.query_id, q.q_emb, a.vec_id, a.embedding AS c_emb
        FROM assigned a JOIN q ON a.cell = q.cell
        WHERE a.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, vec_id, {cos} AS cos_sim,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {cos} DESC, vec_id) AS rnk
        FROM cand cd
    )
    SELECT query_id, vec_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= {ANN_K} ORDER BY query_id, rnk
    """


@query("ann_ivf_topk", oracle=_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-partitioned approximate top-5: relational argmin cell assignment,
    probe only the query's cell (operators/similarity.py topk_ivf)."""
    t = Tables(spark, sf_dir)
    df = similarity.topk_ivf(t.embeddings, ANN_QUERY_IDS, k=ANN_K)
    return df.withColumn("rnk", F.col("rnk").cast("int"))


# ---------------------------------------------------------------------------
# Continuous-aggregate rollup (hypertable analog)
# ---------------------------------------------------------------------------

@query(
    "rollup_time_buckets",
    bench=True,
    oracle="""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS bucket,
                   COUNT(*) AS n_events,
                   SUM(CAST(value AS DECIMAL(30,8))) AS s
            FROM events GROUP BY 1
        ), daily AS (
            SELECT date_trunc('day', bucket) AS bucket,
                   CAST(SUM(n_events) AS BIGINT) AS n_events,
                   SUM(s) AS s
            FROM hourly GROUP BY 1
        )
        SELECT 'hour' AS grain, bucket, n_events, CAST(s AS DOUBLE) AS sum_value FROM hourly
        UNION ALL
        SELECT 'day' AS grain, bucket, n_events, CAST(s AS DOUBLE) AS sum_value FROM daily
        ORDER BY grain, bucket
    """,
)
def rollup_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour+day continuous-aggregate rollup; the day level re-aggregates the
    hour level (sums of exact decimal sums), never rescanning raw events."""
    from ..operators.rollup import time_bucket_rollup

    t = Tables(spark, sf_dir)
    return time_bucket_rollup(t.events, "ts", "value").orderBy("grain", "bucket")


@query(
    "funnel_stages",
    oracle="SELECT * FROM ("
    + events_ops.funnel_stages_sql("events")
    + ") ORDER BY user_id",
)
def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view->click->purchase funnel per user: earliest
    step-1 event, earliest step-2 after it, earliest step-3 after that,
    each within a 1-day conversion window (at sf0.01 the stages split
    150/60/25, so every stage value is exercised); stage = completed
    steps. User-keyed aggregate/join chain."""
    t = Tables(spark, sf_dir)
    return events_ops.funnel_stages(t.events).orderBy("user_id")


@query(
    "retention_cohorts",
    oracle="SELECT * FROM ("
    + events_ops.retention_cohorts_sql("events")
    + ") ORDER BY cohort_day, day_offset",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen day-cohort retention: distinct active users per
    (cohort, day-offset) cell; all-integer date arithmetic."""
    t = Tables(spark, sf_dir)
    return events_ops.retention_cohorts(t.events).orderBy("cohort_day", "day_offset")


@query(
    "embed_pq_encode",
    oracle="SELECT * FROM ("
    + similarity.pq_encode_sql("embeddings")
    + ") ORDER BY vec_id",
)
def embed_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encode (Jégou et al.): 8 subspaces x 4-entry
    deterministic codebooks; per-subspace argmin is a map-side-combinable
    min(struct) aggregate; recon_err is a fixed-order fold. The compressed
    codes relation is the in-memory ANN working set at 100 TB."""
    t = Tables(spark, sf_dir)
    return similarity.pq_encode(t.embeddings).orderBy("vec_id")


@query(
    "ann_pq_adc_topk",
    oracle=similarity.topk_pq_adc_sql("embeddings", ANN_QUERY_IDS)
    + " ORDER BY query_id, rnk",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k: per-query (m x ks) LUT broadcast,
    candidates ranked by m table lookups over the compressed codes — the
    original vectors are never touched after encoding, completing the ANN
    ladder (brute -> LSH -> IVF -> PQ/ADC)."""
    t = Tables(spark, sf_dir)
    return similarity.topk_pq_adc(t.embeddings, ANN_QUERY_IDS)


@query(
    "ann_ivfadc_topk",
    oracle=similarity.topk_ivf_adc_sql("embeddings", ANN_QUERY_IDS)
    + " ORDER BY query_id, rnk",
    bench=True,
)
def ann_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the FAISS-style composition production ANN deploys
    (operators/similarity.py topk_ivf_adc): coarse IVF cell probe prunes
    the corpus to ~1/K, then PQ asymmetric-distance ranks the probed
    candidates over their compressed codes; original vectors are touched
    only at index-build time. Completes the ANN ladder: brute -> LSH ->
    IVF -> PQ-ADC -> IVF+ADC composed."""
    t = Tables(spark, sf_dir)
    return similarity.topk_ivf_adc(t.embeddings, ANN_QUERY_IDS)


@query(
    "events_sessionize",
    oracle="SELECT * FROM ("
    + events_ops.sessionize_sql("events")
    + ") ORDER BY user_id, session_no",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min idle gap): per-user lag + running
    boundary-sum windows, one shuffle on user_id, exact integer-microsecond
    gap/duration arithmetic. Batch counterpart of stream_session_windows."""
    t = Tables(spark, sf_dir)
    return events_ops.sessionize(t.events).orderBy("user_id", "session_no")


@query(
    "events_sessionize_bounded",
    oracle="SELECT * FROM ("
    + events_ops.sessionize_sql("events")
    + ") ORDER BY user_id, session_no",
)
def events_sessionize_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-BOUNDED sessionization (operators/events.py
    sessionize_bounded): bit-identical output to events_sessionize — the
    oracle is literally the same SQL — but no task ever sorts a user's
    entire history. Events pre-bucket by day, sessionize within
    (user_id, bucket), then ONE per-user chain-merge pass runs over the
    resulting SESSION rows (at most bucket_s/gap_s + 1 per bucket — 49
    at the defaults), so the per-key window state is O(sessions), not
    O(events): a hot key's event-sized sort splits across its buckets.
    This is the mitigation for the per-user window family's documented
    skew cliff (a single key holding >= ~1/cores of the corpus, where
    AQE cannot help because skew splitting applies to joins, not window
    sorts)."""
    t = Tables(spark, sf_dir)
    return events_ops.sessionize_bounded(t.events).orderBy(
        "user_id", "session_no"
    )


@query(
    "events_transition_matrix",
    oracle="SELECT * FROM ("
    + events_ops.transition_matrix_sql("events")
    + ") ORDER BY prev_type, next_type",
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts/probabilities between
    consecutive event types per user stream; the pair space is |types|²,
    so the final aggregate is constant-sized at any corpus scale."""
    t = Tables(spark, sf_dir)
    return events_ops.transition_matrix(t.events).orderBy("prev_type", "next_type")


@query(
    "merge_scd2_history",
    oracle="""
        WITH base AS (
            SELECT c_custkey, c_mktsegment, c_acctbal,
                   CAST(CASE WHEN c_custkey % 17 = 0 THEN 1 ELSE 0 END AS INTEGER)
                       AS version,
                   TRUE AS is_current
            FROM customer
        ), legacy AS (
            SELECT c_custkey, 'LEGACY' AS c_mktsegment, c_acctbal,
                   CAST(0 AS INTEGER) AS version, FALSE AS is_current
            FROM customer WHERE c_custkey % 17 = 0
        ), existing AS (
            SELECT * FROM base UNION ALL SELECT * FROM legacy
        ), incoming AS (
            SELECT c_custkey, 'MOVED' AS c_mktsegment, c_acctbal
            FROM customer WHERE c_custkey % 5 = 0
            UNION ALL
            SELECT c_custkey, c_mktsegment, c_acctbal
            FROM customer WHERE c_custkey % 13 = 0 AND c_custkey % 5 <> 0
            UNION ALL
            SELECT c_custkey + 1000000, 'NEW', 0.0
            FROM customer WHERE c_custkey % 11 = 0
        ), cur AS (
            SELECT * FROM existing WHERE is_current
        ), hist AS (
            SELECT * FROM existing WHERE NOT is_current
        ), j AS (
            SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal, c.version,
                   c.is_current, i.c_mktsegment AS i_seg, i.c_acctbal AS i_bal,
                   (i.c_custkey IS NOT NULL)
                   AND (c.c_mktsegment IS DISTINCT FROM i.c_mktsegment
                        OR c.c_acctbal IS DISTINCT FROM i.c_acctbal) AS is_changed
            FROM cur c LEFT JOIN incoming i ON c.c_custkey = i.c_custkey
        )
        SELECT c_custkey, c_mktsegment, c_acctbal, version, is_current FROM hist
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal, version, is_current
        FROM j WHERE NOT is_changed
        UNION ALL
        SELECT c_custkey, c_mktsegment, c_acctbal, version, FALSE
        FROM j WHERE is_changed
        UNION ALL
        SELECT c_custkey, i_seg, i_bal, CAST(version + 1 AS INTEGER), TRUE
        FROM j WHERE is_changed
        UNION ALL
        SELECT i.c_custkey, i.c_mktsegment, i.c_acctbal, CAST(0 AS INTEGER), TRUE
        FROM incoming i WHERE i.c_custkey NOT IN (SELECT c_custkey FROM cur)
        ORDER BY c_custkey, version, is_current
    """,
)
def merge_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge (operators/upsert.py:upsert_scd2): versioned
    dimension history with close-and-append semantics. The fixture seeds
    every path — pre-existing closed history (1/17 of keys carry a LEGACY
    version 0), attribute changes (1/5 re-segmented -> close + bump),
    no-op incoming rows (1/13 unchanged), and brand-new keys (1/11
    offset). The batch side broadcasts; closed history never shuffles."""
    from ..operators import upsert

    t = Tables(spark, sf_dir)
    c = t.customer.select("c_custkey", "c_mktsegment", "c_acctbal")
    base = c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.when(F.col("c_custkey") % 17 == 0, 1).otherwise(0).cast("int").alias("version"),
        F.lit(True).alias("is_current"),
    )
    legacy = c.filter(F.col("c_custkey") % 17 == 0).select(
        "c_custkey",
        F.lit("LEGACY").alias("c_mktsegment"),
        "c_acctbal",
        F.lit(0).cast("int").alias("version"),
        F.lit(False).alias("is_current"),
    )
    existing = base.unionByName(legacy)
    incoming = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select("c_custkey", F.lit("MOVED").alias("c_mktsegment"), "c_acctbal")
        .unionByName(
            c.filter((F.col("c_custkey") % 13 == 0) & (F.col("c_custkey") % 5 != 0))
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 11 == 0).select(
                (F.col("c_custkey") + 1000000).alias("c_custkey"),
                F.lit("NEW").alias("c_mktsegment"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    merged = upsert.upsert_scd2(
        existing, incoming, "c_custkey", ["c_mktsegment", "c_acctbal"]
    )
    return merged.orderBy("c_custkey", "version", "is_current")


@query(
    "dedup_chunk_substring",
    oracle="SELECT * FROM ("
    + dedup.chunk_exact_dedup_sql("documents")
    + ") ORDER BY doc_id",
)
def dedup_chunk_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact substring dedup at 32-token chunk granularity
    (Lee et al. keep-first semantics): duplicate chunks anywhere in the
    corpus are removed and documents reassembled. First-occurrence
    resolution is a map-side-combinable min(struct) aggregate on the chunk
    hash — hot-chunk-skew-robust, unlike a per-hash sort window. At sf0.01
    the fixture's duplicated documents remove 31 chunks across 23 docs."""
    t = Tables(spark, sf_dir)
    return dedup.chunk_exact_dedup(t.documents).orderBy("doc_id")


def _components_oracle() -> str:
    """Recursive-CTE oracle for connected components over the MinHash pairs:
    transitive closure + min-reachable label — exact match for the Spark
    side's iterative label propagation at fixpoint."""
    base = _minhash_oracle(3, 0.8)
    head, final = base.split("    SELECT i.doc_a", 1)
    final_select = "SELECT i.doc_a" + final.rsplit("ORDER BY", 1)[0]
    return f"""{head.replace("WITH ", "WITH RECURSIVE ", 1)}, pairs AS (
        {final_select}
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ), reach AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    )
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component_id
    FROM reach GROUP BY src ORDER BY doc_id
    """


@query(
    "dedup_keep_best_in_cluster",
    oracle=f"""
        WITH grp AS (
            SELECT COALESCE(c.component_id, d.doc_id) AS component_id,
                   d.doc_id, d.n_chars AS q
            FROM documents d
            LEFT JOIN ({_components_oracle()}) c ON d.doc_id = c.doc_id
        )
        SELECT component_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               struct_extract(MIN(struct_pack(negq := -q, doc_id := doc_id)),
                              'doc_id') AS survivor_id,
               CAST(-struct_extract(MIN(struct_pack(negq := -q, doc_id := doc_id)),
                              'negq') AS BIGINT) AS survivor_quality
        FROM grp GROUP BY component_id ORDER BY component_id
    """,
)
def dedup_keep_best_in_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster consolidation: MinHash-LSH pair graph -> connected
    components -> one survivor per cluster (longest doc, ties by min id);
    singletons survive as their own cluster. The argmax is a map-side-
    combinable min(struct) so a pathological million-member cluster
    partial-aggregates instead of funneling one task."""
    t = Tables(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(t.documents, shingle_n=3, threshold=0.8)
    comps = dedup.connected_components(pairs)
    return dedup.keep_best_in_cluster(t.documents, comps).orderBy("component_id")


@query("dedup_connected_components", oracle=_components_oracle(), bench=True)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs resolved into duplicate GROUPS: iterative min-label
    propagation (DataFrame union-find) over the MinHash-LSH pair graph; the
    oracle is a recursive-CTE transitive closure. The one iterative
    algorithm in the corpus — driver loops, every step stays distributed."""
    t = Tables(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(t.documents, shingle_n=3, threshold=0.8)
    return dedup.connected_components(pairs).orderBy("doc_id")


def _clean_corpus_oracle() -> str:
    """Full pipeline oracle: quality scoring + near-dup components composed
    into the surviving clean-corpus id set."""
    components = _components_oracle()
    # strip the trailing ORDER BY of the components query and reuse as a CTE
    comp_body = components.rsplit("ORDER BY doc_id", 1)[0]
    tok = text.tokens_sql("text")
    stop_list = "[" + ", ".join(f"'{s}'" for s in text.STOPWORDS) + "]"
    return f"""
    WITH comp AS (
        {comp_body}
    ), q AS (
        SELECT doc_id,
               CAST(len(tok) AS INTEGER) AS n_tokens,
               LEAST(CAST(len(tok) AS DOUBLE) / 100.0, 1.0) * 0.4
                 + CAST(len(list_distinct(tok)) AS DOUBLE) / len(tok) * 0.4
                 + (1.0 - CAST(len(list_filter(tok, w -> list_contains({stop_list}, w))) AS DOUBLE)
                        / len(tok)) * 0.2 AS quality
        FROM (SELECT doc_id, {tok} AS tok FROM documents)
    )
    SELECT q.doc_id, q.n_tokens, q.quality
    FROM q
    LEFT JOIN comp ON comp.doc_id = q.doc_id
    WHERE q.quality >= 0.5
      AND (comp.doc_id IS NULL OR comp.component_id = q.doc_id)
    ORDER BY q.doc_id
    """


@query("pipeline_clean_corpus", oracle=_clean_corpus_oracle())
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship LLM-data-pipeline composition: quality-score every
    document, resolve MinHash near-dup pairs into duplicate groups, and keep
    one canonical survivor per group (min doc id) among documents passing
    the quality bar — the end-to-end 'clean corpus' materialization."""
    t = Tables(spark, sf_dir)
    docs = t.documents
    quality = textstats.quality_score(docs)  # (doc_id, n_tokens, quality)
    pairs = dedup.minhash_lsh_pairs(docs, shingle_n=3, threshold=0.8)
    comp = dedup.connected_components(pairs)  # (doc_id, component_id)
    return (
        quality.join(comp, "doc_id", "left")
        .filter(
            (F.col("quality") >= 0.5)
            & (F.col("component_id").isNull() | (F.col("component_id") == F.col("doc_id")))
        )
        .select("doc_id", "n_tokens", "quality")
        .orderBy("doc_id")
    )


def _semantic_dedup_oracle(threshold: float) -> str:
    dist2 = vectors.l2sq_sql("e.embedding", "c.cvec")
    cos = vectors.cosine_sql("a.embedding", "b.embedding")
    return f"""
    WITH seed AS (
        SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < {similarity.IVF_K}
    ), scored AS (
        SELECT e.vec_id, e.embedding, c.cid, {dist2} AS dist2
        FROM embeddings e CROSS JOIN seed c
    ), assigned AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
            FROM scored
        ) WHERE rn = 1
    ), dropped AS (
        SELECT DISTINCT a.cell, b.vec_id AS id_b
        FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {cos} >= {threshold}
    ), n_by_cell AS (
        SELECT cell, COUNT(*) AS n_vectors FROM assigned GROUP BY cell
    ), d_by_cell AS (
        SELECT cell, COUNT(*) AS n_dropped FROM dropped GROUP BY cell
    )
    SELECT CAST(n.cell AS INTEGER) AS cell,
           CAST(n.n_vectors AS BIGINT) AS n_vectors,
           CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
           CAST(n.n_vectors - COALESCE(d.n_dropped, 0) AS BIGINT) AS n_kept
    FROM n_by_cell n LEFT JOIN d_by_cell d ON n.cell = d.cell
    ORDER BY cell
    """


@query("dedup_semantic_cells", oracle=_semantic_dedup_oracle(0.4))
def dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: coarse centroid cells (broadcast
    argmin assignment), within-cell cosine pairs only, min-id keep rule;
    per-cell kept/dropped summary (operators/similarity.py)."""
    t = Tables(spark, sf_dir)
    return similarity.semantic_dedup_cells(t.embeddings, threshold=0.4)


# 44-byte canonical PCM WAV header: mono, 16 kHz, 16-bit, 16-byte data chunk
# (8 samples). Precomputed with struct.pack — constant because every
# synthesized payload carries exactly the 16 md5 digest bytes as samples.
_WAV_HEADER_HEX = (
    "524946463400000057415645666d7420100000000100010080"
    "3e0000007d0000020010006461746110000000"
)


def _wav_byte(j: int) -> str:
    """DuckDB: unsigned byte j (0-based) of md5(text) from its hex form."""
    return f"('0x' || substr(md5(text), {2 * j + 1}, 2))::INT"


def _wav_feature(i: int) -> str:
    """DuckDB: |int16 LE sample i| / 32768 — exact (k/2^15 is exact in
    float32 and double), so it matches the kernel's float32 RMS bit-for-bit
    after the widening cast."""
    s = f"({_wav_byte(2 * i)} + 256 * {_wav_byte(2 * i + 1)})"
    signed = f"(CASE WHEN {s} >= 32768 THEN {s} - 65536 ELSE {s} END)"
    return f"(abs({signed}) / 32768.0)"


@query(
    "multimodal_audio_decode",
    oracle=f"""
        SELECT doc_id AS media_id,
               CAST(60 AS BIGINT) AS n_bytes,
               CAST(CAST(0.0005 AS REAL) AS DOUBLE) AS duration_s,
               {", ".join(f"{_wav_feature(i)} AS f{i}" for i in range(8))}
        FROM documents ORDER BY media_id
    """,
)
def multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode end-to-end: synthesize a PCM WAV per document
    (44-byte canonical header + the 16 md5 digest bytes as 8 LE int16
    samples), run the real pure-Python RIFF/WAV decode kernel
    (fake=False), and emit duration + the 8 per-segment RMS features.
    With 8 samples each RMS window holds exactly one sample, so
    feature_i = |sample_i| / 32768 — recomputed independently by the
    oracle from the md5 hex. Driver-verifies the whole mapInPandas
    audio path (operators/multimodal.py:extract_audio_features)."""
    t = Tables(spark, sf_dir)
    digest = F.md5(F.encode(F.col("text"), "UTF-8"))
    media = t.documents.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.concat(F.unhex(F.lit(_WAV_HEADER_HEX)), F.unhex(digest)).alias("content"),
    )
    decoded = multimodal.extract_audio_features(media, fake=False)
    return decoded.select(
        "media_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("duration_est_s").cast("double").alias("duration_s"),
        *[
            F.element_at("mfcc_like", i + 1).cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    ).orderBy("media_id")


@query(
    "multimodal_video_frames",
    oracle="""
        SELECT doc_id AS media_id, 0 AS frame_idx,
               CAST(12 AS BIGINT) AS n_frame_bytes,
               substr(md5(text), 1, 24) AS frame_hex
        FROM documents
        UNION ALL
        SELECT doc_id AS media_id, 1 AS frame_idx,
               CAST(12 AS BIGINT) AS n_frame_bytes,
               substr(md5(text || 'f2'), 1, 24) AS frame_hex
        FROM documents
        ORDER BY media_id, frame_idx
    """,
)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real video frame sampling end-to-end: synthesize a 2-frame 2x2 C444
    Y4M stream per document (frame payloads = md5 digest bytes), run the
    real pure-Python YUV4MPEG2 parser (fake=False), and emit each sampled
    frame's exact payload as hex. The oracle reproduces the payloads
    directly from the md5 hex, driver-verifying the whole mapInPandas
    video path (operators/multimodal.py:sample_video_frames)."""
    t = Tables(spark, sf_dir)
    d1 = F.md5(F.encode(F.col("text"), "UTF-8"))
    d2 = F.md5(F.encode(F.concat(F.col("text"), F.lit("f2")), "UTF-8"))
    header = F.encode(F.lit("YUV4MPEG2 W2 H2 C444\n"), "UTF-8")
    marker = F.encode(F.lit("FRAME\n"), "UTF-8")
    media = t.documents.select(
        F.col("doc_id").cast("long").alias("media_id"),
        F.concat(
            header,
            marker,
            F.unhex(F.substring(d1, 1, 24)),
            marker,
            F.unhex(F.substring(d2, 1, 24)),
        ).alias("content"),
    )
    frames = multimodal.sample_video_frames(media, every_n=1, fake=False)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.octet_length("frame").cast("bigint").alias("n_frame_bytes"),
        F.lower(F.hex("frame")).alias("frame_hex"),
    ).orderBy("media_id", "frame_idx")


@query(
    "dedup_incremental_ingest",
    oracle="""
        WITH incoming AS (
            SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT doc_id + 200000 AS doc_id, text || ' novel' FROM documents WHERE doc_id % 4 = 1
        ), inc AS (
            SELECT doc_id, md5(text) AS content_hash FROM incoming
        ), dups AS (
            SELECT md5(e.text) AS content_hash, MIN(e.doc_id) AS dup_of
            FROM documents e
            WHERE md5(e.text) IN (SELECT content_hash FROM inc)
            GROUP BY 1
        )
        SELECT i.doc_id, d.dup_of
        FROM inc i LEFT JOIN dups d ON i.content_hash = d.content_hash
        ORDER BY i.doc_id
    """,
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup: an incoming batch (seeded deterministically —
    one quarter of the corpus re-ingested verbatim, one quarter genuinely
    novel) probed against the existing corpus; every incoming doc is
    annotated with the existing document it duplicates, or NULL if novel.
    The corpus side is never shuffled (operators/dedup.py:
    incremental_exact_dedup)."""
    t = Tables(spark, sf_dir)
    clones = t.documents.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    novel = t.documents.filter(F.col("doc_id") % 4 == 1).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" novel")).alias("text"),
    )
    return dedup.incremental_exact_dedup(t.documents, clones.unionAll(novel))


def _random_projection_oracle() -> str:
    cols = ", ".join(
        f"{vectors.dot_sql('embedding', vectors.const_array_sql(similarity.RP_PLANES[j]))} AS p{j}"
        for j in range(similarity.RP_DIM)
    )
    return f"SELECT vec_id, {cols} FROM embeddings ORDER BY vec_id"


@query("embed_random_projection", oracle=_random_projection_oracle())
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random projection 64 -> 16 dims (JL transform): the deterministic
    dimensionality-reduction pre-pass for cheap ANN/clustering
    (operators/similarity.py:random_projection)."""
    t = Tables(spark, sf_dir)
    return similarity.random_projection(t.embeddings)


@query(
    "rollup_approx_users_daily",
    oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               1 AS within_tolerance
        FROM events GROUP BY 1 ORDER BY day
    """,
)
def rollup_approx_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day approximate distinct users — the sketch rollup every
    activity dashboard runs at scale. HLL sketch values are
    algorithm-specific, so the verifiable contract is the per-bucket
    invariant: approx_count_distinct(rsd=0.02) within ±20% of exact for
    EVERY day. At 100 TB the approx path is the only viable one — the
    sketch is map-side combinable with bounded size per bucket, while
    exact COUNT(DISTINCT) re-shuffles raw user ids; here both are
    computed side-by-side precisely to verify the sketch against truth."""
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.count_distinct("user_id").cast("bigint").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.02)
            .between(
                F.count_distinct("user_id") * 0.8,
                F.count_distinct("user_id") * 1.2,
            )
            .cast("int")
            .alias("within_tolerance"),
        )
        .orderBy("day")
    )


@query(
    "merge_scd1_upsert",
    oracle="""
        WITH incoming AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CAST(CAST(o_totalprice AS DECIMAL(24,8)) * 1.1 AS DOUBLE)
                       AS o_totalprice
            FROM orders WHERE o_orderkey % 7 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_custkey, 'N', 100.0
            FROM orders WHERE o_orderkey % 11 = 0
        ), existing AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        ), merged AS (
            SELECT * FROM existing
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)
            UNION ALL
            SELECT * FROM incoming
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(24,8))), 2) AS DOUBLE)
                   AS sum_price
        FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def merge_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 upsert (last-write-wins merge) via broadcast anti-join +
    union — the incremental-sync generalization of the reference's
    full-reload copy (operators/upsert.py). The incoming batch is seeded
    deterministically: 1/7 of orders re-priced (updates) plus 1/11 as
    brand-new keys (inserts); the per-status summary pins both paths.

    The re-price multiplies in EXACT decimal (decimal(24,8) * 1.1), not
    double — a double product carries a full binary expansion whose
    DECIMAL(24,8) rounding differs between Spark (exact-expansion
    HALF_UP) and DuckDB (double ``x*1e8`` arithmetic), drifting ±1e-8
    per row; invisible at sf0.01 but a hash mismatch at sf0.1 (caught by
    the round-3 big-SF conformance probe). The exact 7-decimal product
    round-trips through DOUBLE and back bit-identically on both engines.

    The final sum is ROUNDed to 2 decimals (cents) while still DECIMAL:
    at ~1.3e10 the scale-8 scaled integer exceeds 2^53, where DuckDB's
    decimal->double (hugeint->double, then /1e8) double-rounds and can
    land 1 ulp away from Spark's single-rounded BigDecimal conversion;
    at scale 2 the scaled integer is exact in double and both engines
    round the same rational exactly once."""
    from ..operators import upsert

    t = Tables(spark, sf_dir)
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    existing = t.orders.select(*cols)
    updates = existing.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "o_totalprice",
        (F.col("o_totalprice").cast("decimal(24,8)") * F.lit(1.1).cast("decimal(3,1)"))
        .cast("double"),
    )
    inserts = existing.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        F.lit(100.0).alias("o_totalprice"),
    )
    merged = upsert.upsert_scd1(existing, updates.unionByName(inserts), "o_orderkey")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(24,8)")), 2)
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "report_key_skew",
    oracle="""
        WITH counts AS (
            SELECT o_custkey AS key_value, CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM orders GROUP BY o_custkey
        ), stats AS (
            SELECT CAST(SUM(n_rows) AS BIGINT) AS total_rows,
                   CAST(COUNT(*) AS BIGINT) AS n_keys
            FROM counts
        )
        SELECT key_value, n_rows,
               CAST(n_rows AS DOUBLE) / total_rows AS share,
               CAST(n_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
                   / CAST(total_rows AS DOUBLE) AS skew_ratio
        FROM counts CROSS JOIN stats
        ORDER BY n_rows DESC, key_value LIMIT 10
    """,
)
def report_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics (operators/joins.py:key_skew_report): the
    10 heaviest customer keys in orders with share and mean-load ratio —
    the pre-flight that decides between a plain shuffle join, AQE skew
    splitting, and explicit salting. Map-side-combined counts + one-row
    stats broadcast + TakeOrderedAndProject."""
    from ..operators.joins import key_skew_report

    t = Tables(spark, sf_dir)
    return key_skew_report(t.orders, "o_custkey", top=10)


def _cms_oracle() -> str:
    from ..operators import sketch as sk

    idx = ", ".join(str(i) for i in range(sk.CMS_DEPTH))
    buckets_build = " UNION ALL ".join(
        f"SELECT {i} AS i, {sk._bucket_sql('l_partkey', i)} AS bucket FROM lineitem"
        for i in range(sk.CMS_DEPTH)
    )
    buckets_probe = " UNION ALL ".join(
        f"SELECT l_partkey, true_count, {i} AS i,"
        f" {sk._bucket_sql('l_partkey', i)} AS bucket FROM truth"
        for i in range(sk.CMS_DEPTH)
    )
    return f"""
        WITH cms AS (
            SELECT i, bucket, COUNT(*) AS c FROM ({buckets_build}) GROUP BY i, bucket
        ), truth AS (
            SELECT l_partkey, COUNT(*) AS true_count FROM lineitem
            GROUP BY l_partkey ORDER BY true_count DESC, l_partkey LIMIT 20
        ), probe AS ({buckets_probe})
        SELECT p.l_partkey,
               CAST(MAX(p.true_count) AS BIGINT) AS true_count,
               CAST(MIN(COALESCE(cms.c, 0)) AS BIGINT) AS cms_count
        FROM probe p LEFT JOIN cms ON cms.i = p.i AND cms.bucket = p.bucket
        GROUP BY p.l_partkey
        ORDER BY true_count DESC, l_partkey
    """


@query("sketch_count_min", oracle=_cms_oracle())
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch build + probe over the l_partkey stream
    (operators/sketch.py): constant d x w counter state however many
    distinct keys flow through — the exact-groupBy-free way to answer
    "how often did key X appear" on a 100 TB log. Probes the top-20 true
    heavy hitters so the verdict checks real overestimates: cms_count is
    provably >= true_count, equal when no collision lands in all d rows."""
    from ..operators import sketch as sk

    t = Tables(spark, sf_dir)
    cms = sk.count_min_build(t.lineitem, "l_partkey")
    truth = (
        t.lineitem.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("l_partkey"))
        .limit(20)
    )
    est = sk.count_min_estimate(cms, truth.select("l_partkey"), "l_partkey")
    return (
        truth.join(est, "l_partkey")
        .select(
            "l_partkey",
            F.col("true_count").cast("bigint").alias("true_count"),
            "cms_count",
        )
        .orderBy(F.col("true_count").desc(), "l_partkey")
    )


def _bloom_oracle() -> str:
    from ..operators import sketch as sk

    bits_build = " UNION ALL ".join(
        f"SELECT {sk._bloom_bit_sql('l_suppkey', i)} AS bit FROM seen"
        for i in range(sk.BLOOM_HASHES)
    )
    bits_probe = " UNION ALL ".join(
        f"SELECT s_suppkey, {sk._bloom_bit_sql('s_suppkey', i)} AS bit FROM supplier"
        for i in range(sk.BLOOM_HASHES)
    )
    return f"""
        WITH seen AS (
            SELECT DISTINCT l_suppkey FROM lineitem
            WHERE l_shipdate < TIMESTAMP '1995-07-01 00:00:00'
        ), bloom AS (
            SELECT DISTINCT bit FROM ({bits_build})
        ), probe AS ({bits_probe}),
        marked AS (
            SELECT p.s_suppkey, COUNT(b.bit) = COUNT(*) AS maybe_present
            FROM probe p LEFT JOIN bloom b ON p.bit = b.bit
            GROUP BY p.s_suppkey
        )
        SELECT m.s_suppkey, m.maybe_present,
               EXISTS (SELECT 1 FROM seen WHERE seen.l_suppkey = m.s_suppkey)
                   AS actually_present
        FROM marked m
        ORDER BY s_suppkey
    """


@query("sketch_bloom_membership", oracle=_bloom_oracle())
def sketch_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (operators/sketch.py): an m-bit / k-hash
    filter over suppliers active before 1995-07-01, probed with EVERY
    supplier and compared against exact membership — so the verdict pins
    both the no-false-negative guarantee and the concrete false-positive
    pattern of these hash constants. The filter relation is <= 2048 rows
    however large the activity log: the "have we seen this key" pre-check
    that saves a 100 TB anti-join probe."""
    from ..operators import sketch as sk

    t = Tables(spark, sf_dir)
    seen = (
        t.lineitem.filter(F.col("l_shipdate") < F.lit("1995-07-01").cast("timestamp"))
        .select(F.col("l_suppkey"))
        .distinct()
    )
    bloom = sk.bloom_build(seen, "l_suppkey")
    probes = t.supplier.select("s_suppkey")
    maybe = sk.bloom_probe(bloom, probes, "s_suppkey")
    actual = seen.withColumnRenamed("l_suppkey", "s_suppkey").withColumn(
        "actually_present", F.lit(True)
    )
    return (
        maybe.join(F.broadcast(actual), "s_suppkey", "left")
        .select(
            "s_suppkey",
            "maybe_present",
            F.coalesce("actually_present", F.lit(False)).alias("actually_present"),
        )
        .orderBy("s_suppkey")
    )


def _hll_oracle() -> str:
    from ..operators import sketch as sk

    return f"""
        WITH est AS ({sk.hll_sql('orders', 'o_custkey')})
        SELECT (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders)
                   AS true_distinct,
               hll_estimate
        FROM est
    """


@query("sketch_hll_distinct", oracle=_hll_oracle())
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch HyperLogLog over orders.o_custkey
    (operators/sketch.py): 64 max-rank registers — constant state for any
    key cardinality, map-side-combined MAX — and a fixed-order harmonic
    fold for the estimate, next to the exact COUNT(DISTINCT). Completes
    the sketch family (count-min = frequency, bloom = membership, HLL =
    cardinality); approx_count_distinct is Spark's native HLL++, this one
    is engine-portable so DuckDB pins every register and the estimate
    bit-for-bit."""
    from ..operators import sketch as sk

    t = Tables(spark, sf_dir)
    est = sk.hll_estimate(sk.hll_registers(t.orders, "o_custkey"))
    truth = t.orders.agg(
        F.countDistinct("o_custkey").cast("bigint").alias("true_distinct")
    )
    return truth.crossJoin(F.broadcast(est))


def _cms_join_size_oracle() -> str:
    from ..operators import sketch as sk

    def build(table, key):
        return " UNION ALL ".join(
            f"SELECT {i} AS i, {sk._bucket_sql(key, i)} AS bucket FROM {table}"
            for i in range(sk.CMS_DEPTH)
        )

    return f"""
        WITH cms_a AS (
            SELECT i, bucket, COUNT(*) AS ca FROM ({build('lineitem', 'l_orderkey')})
            GROUP BY i, bucket
        ), cms_b AS (
            SELECT i, bucket, COUNT(*) AS cb FROM ({build('orders', 'o_orderkey')})
            GROUP BY i, bucket
        ), dots AS (
            SELECT a.i, SUM(a.ca * b.cb) AS dot
            FROM cms_a a JOIN cms_b b ON a.i = b.i AND a.bucket = b.bucket
            GROUP BY a.i
        )
        SELECT (SELECT CAST(COUNT(*) AS BIGINT)
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
                   AS true_join_size,
               (SELECT CAST(MIN(dot) AS BIGINT) FROM dots) AS est_join_size
    """


@query("sketch_cms_join_size", oracle=_cms_join_size_oracle())
def sketch_cms_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from two count-min sketches (min over
    rows of the counter dot product) next to the true join count — the
    planner pre-flight that predicts a shuffle join's output volume from
    two constant-size relations instead of running the join. At 100 TB
    the sketches build in one bounded pass per side; the estimate itself
    is a broadcast join of two <= 1024-row relations."""
    from ..operators import sketch as sk

    t = Tables(spark, sf_dir)
    est = sk.count_min_join_size(
        sk.count_min_build(t.lineitem, "l_orderkey"),
        sk.count_min_build(t.orders, "o_orderkey"),
    )
    truth = (
        t.lineitem.join(t.orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_join_size"))
    )
    return truth.crossJoin(F.broadcast(est))



def _mad_screen(df, keys: list[str], tiebreak: str):
    """Shared rank-based median/MAD screen: per-``keys`` group, lower
    medians by row_number selection (no interpolation), dev > 3*MAD
    outlier counts. Both the per-user (events_anomaly_mad) and the
    seasonal per-(type, hour) (events_seasonal_hourly) gates build the
    SAME expression chain through here — one place to fix the median
    selection or the threshold (review catch: the two builders were
    near-verbatim copies)."""
    from pyspark.sql.window import Window

    w_rank = Window.partitionBy(*keys).orderBy("value", tiebreak)
    w_grp = Window.partitionBy(*keys)
    ranked = df.select(
        *keys,
        tiebreak,
        "value",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_grp).alias("n"),
    )
    with_med = ranked.select(
        *keys,
        tiebreak,
        "value",
        "n",
        F.max(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("value")))
        .over(w_grp)
        .alias("med"),
    )
    dev = F.abs(F.col("value") - F.col("med"))
    w_dev = Window.partitionBy(*keys).orderBy(dev, tiebreak)
    devs = with_med.select(
        *keys,
        "value",
        "n",
        "med",
        dev.alias("dev"),
        F.row_number().over(w_dev).alias("drn"),
    )
    with_mad = devs.select(
        *keys,
        "value",
        "n",
        "med",
        "dev",
        F.max(F.when(F.col("drn") == F.expr("(n + 1) div 2"), F.col("dev")))
        .over(w_grp)
        .alias("mad"),
    )
    return (
        with_mad.groupBy(*keys)
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(F.when(F.col("dev") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .orderBy(*keys)
    )


def _mad_screen_sql(source_sql: str, keys: list[str], tiebreak: str) -> str:
    """DuckDB fragment matching :func:`_mad_screen` over ``source_sql``
    (a query producing ``keys`` + ``tiebreak`` + ``value``)."""
    ks = ", ".join(keys)
    return f"""
        WITH src AS ({source_sql}),
        ranked AS (
            SELECT {ks}, {tiebreak}, value,
                   ROW_NUMBER() OVER (PARTITION BY {ks}
                                      ORDER BY value, {tiebreak}) AS rn,
                   COUNT(*) OVER (PARTITION BY {ks}) AS n
            FROM src
        ), with_med AS (
            SELECT {ks}, {tiebreak}, value, n,
                   MAX(CASE WHEN rn = (n + 1) // 2 THEN value END)
                       OVER (PARTITION BY {ks}) AS med
            FROM ranked
        ), devs AS (
            SELECT {ks}, value, n, med, ABS(value - med) AS dev,
                   ROW_NUMBER() OVER (PARTITION BY {ks}
                                      ORDER BY ABS(value - med), {tiebreak}) AS drn
            FROM with_med
        ), with_mad AS (
            SELECT {ks}, value, n, med, dev,
                   MAX(CASE WHEN drn = (n + 1) // 2 THEN dev END)
                       OVER (PARTITION BY {ks}) AS mad
            FROM devs
        )
        SELECT {ks},
               CAST(MAX(n) AS BIGINT) AS n_events,
               MAX(med) AS med, MAX(mad) AS mad,
               CAST(SUM(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_outliers
        FROM with_mad
        GROUP BY {ks}
        ORDER BY {ks}
    """


@query(
    "events_anomaly_mad",
    oracle=_mad_screen_sql("SELECT user_id, event_id, value FROM events",
                           ["user_id"], "event_id"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation anomaly screen per user: rank-based lower
    medians (row_number selection, NO percentile interpolation — lerp
    formulas differ in last-ulp between engines on arbitrary doubles, so
    the exact order statistic is the portable choice), dev > 3*MAD flags.

    Scale shape: two keyed window passes over events partitioned by
    user_id — the same exchange reused (both windows key on user_id), no
    global sort, robust to any per-user event volume. Shared recipe:
    :func:`_mad_screen`."""
    t = Tables(spark, sf_dir)
    return _mad_screen(
        t.events.select("user_id", "event_id", "value"), ["user_id"], "event_id"
    )


@query(
    "events_seasonal_hourly",
    oracle=_mad_screen_sql(
        """SELECT event_type,
                  CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hod,
                  event_id, value
           FROM events""",
        ["event_type", "hod"],
        "event_id",
    ),
)
def events_seasonal_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (hour-of-day) robust anomaly baseline — the
    deseasonalized upgrade of events_anomaly_mad: a metric that is
    normally high at 14:00 must not be flagged just for being higher
    than the 03:00 trough, so the median/MAD baseline is computed PER
    (event_type, hour-of-day) slot and deviations are measured against
    the slot's own baseline. Same shared rank-median recipe
    (:func:`_mad_screen`), keyed by the slot; all three window passes
    reuse one exchange; output is O(types x 24) regardless of volume."""
    t = Tables(spark, sf_dir)
    slotted = t.events.select(
        "event_type",
        F.hour("ts").cast("int").alias("hod"),
        "event_id",
        "value",
    )
    return _mad_screen(slotted, ["event_type", "hod"], "event_id")


QH_QS = [0.5, 0.9, 0.99]


def _quantile_histogram_oracle() -> str:
    from ..operators import sketch as sk

    return sk.quantile_histogram_sql("lineitem", "l_extendedprice", QH_QS)


@query("sketch_quantile_histogram", oracle=_quantile_histogram_oracle())
def sketch_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a 256-bucket equi-width histogram sketch
    (operators/sketch.py) beside the exact rank-based quantile: P50/P90/
    P99 of l_extendedprice with error bounded by one bucket width. The
    sketch is the product (bounded state, mergeable by adding counters).

    The exact side is a DISTRIBUTED two-pass selection, not a global
    window: the histogram's own bucket counts locate, for each q, the
    bucket containing global rank ceil(q*n) and the residual rank inside
    it; only those <= 3 buckets' rows (~n/256 each) are then ranked, in
    per-q window partitions. Equi-width bucketing is monotone in the
    value, so within-bucket rank == global rank minus the preceding
    buckets' count — bit-identical to the old global-window selection
    (same oracle), but the largest sort partition shrinks from n to
    ~n/256. (Round-5 forced-spill probes OOM'd the global-window version
    at sf0.1 on 2 GB executors; this shape survives it. Degenerate
    all-one-bucket distributions fall back to the old cost, no worse.)"""
    from pyspark.sql.window import Window

    from ..operators import sketch as sk

    t = Tables(spark, sf_dir)
    li = t.lineitem.select("l_extendedprice")
    hist = sk.quantile_histogram(li, "l_extendedprice")
    est = sk.quantile_estimates(hist, QH_QS)

    # pass 1 locates, on the <=256-row histogram, each q's target bucket
    # and the rank remaining inside it
    w_cum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket",
        "lo",
        "w",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    qdf = spark.createDataFrame([(q,) for q in QH_QS], "q double")
    targets = (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("q")
        .agg(F.min(F.struct("bucket", "cum", "c", "lo", "w", "n")).alias("t"))
        .select(
            "q",
            F.col("t.bucket").alias("bucket"),
            (
                F.ceil(F.col("q") * F.col("t.n")) - (F.col("t.cum") - F.col("t.c"))
            ).alias("residual"),
            F.col("t.lo").alias("lo"),
            F.col("t.w").alias("w"),
        )
    )

    # pass 2 re-buckets the rows with the SAME (lo, w) frame and ranks
    # only the target buckets' rows, partitioned per q
    b = F.least(
        F.lit(sk.QH_BUCKETS - 1),
        F.greatest(
            F.lit(0).cast("bigint"),
            F.floor((F.col("l_extendedprice") - F.col("lo")) / F.col("w")),
        ),
    )
    bucketed = li.crossJoin(F.broadcast(targets)).filter(b == F.col("bucket"))
    w_in = Window.partitionBy("q").orderBy("l_extendedprice")
    exact = (
        bucketed.withColumn("rn", F.row_number().over(w_in))
        .filter(F.col("rn") == F.col("residual"))
        .select("q", F.col("l_extendedprice").alias("exact"))
    )
    return est.join(exact, "q").select("q", "est", "exact").orderBy("q")


@query(
    "text_ngram_novelty",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {text.tokens_sql('text')} AS tok FROM documents
        ), grams AS (
            SELECT doc_id, unnest({text.word_shingles_sql('tok', 3)}) AS gram
            FROM toks
        ), dfreq AS (
            SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram
        )
        SELECT g.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_novel,
               CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*) AS novelty
        FROM grams g JOIN dfreq d ON g.gram = d.gram
        GROUP BY g.doc_id
        ORDER BY doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level novelty score per document: the fraction of its
    distinct word trigrams that occur NOWHERE else (document frequency 1).
    High novelty separates original text from boilerplate/templated docs —
    the cross-document complement of text_repetition's within-document
    score. One shingle explode, one df count, one keyed join back — the
    same DF-relation shape as the n-gram dedup path, so the hot-shingle
    behavior at 100 TB is already characterized (df counts are map-side
    combined; no pairwise step exists here at all)."""
    t = Tables(spark, sf_dir)
    toks = t.documents.select("doc_id", text.tokens(F.col("text")).alias("tok"))
    grams = toks.select(
        "doc_id", F.explode(text.word_shingles(F.col("tok"), 3)).alias("gram")
    )
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("bigint").alias("n_novel"),
            (
                F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


def _semantic_coverage_oracle() -> str:
    from ..operators.similarity import band_key_sql

    return f"""
        WITH keyed AS (
            SELECT vec_id,
                   {band_key_sql("embedding", 0)} AS bkey
            FROM embeddings
        )
        SELECT bkey,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(MIN(vec_id) AS BIGINT) AS representative_id
        FROM keyed GROUP BY bkey ORDER BY bkey
    """


@query("sample_semantic_coverage", oracle=_semantic_coverage_oracle())
def sample_semantic_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-first sampling: one deterministic representative per
    hyperplane-LSH cell (band 0) of the embedding space, with cell
    population counts — coreset selection that guarantees every occupied
    region of the space contributes, where uniform sampling oversamples
    dense clusters. One narrow projection + one keyed aggregate; the
    number of cells (not the corpus) bounds the output, and the same
    bucketing already underpins dedup_embedding_cosine, so cells are
    consistent across curation passes."""
    t = Tables(spark, sf_dir)
    emb = F.col("embedding")
    key = F.lit(0)
    from ..operators.similarity import BITS_PER_BAND, HYPERPLANES, plane_bit

    for j in range(BITS_PER_BAND):
        key = key * 2 + plane_bit(emb, HYPERPLANES[j])
    return (
        t.embeddings.select("vec_id", key.alias("bkey"))
        .groupBy("bkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.min("vec_id").cast("bigint").alias("representative_id"),
        )
        .orderBy("bkey")
    )


def _setsim_exact_naive_oracle(shingle_n: int, t_num: int, t_den: int) -> str:
    """NAIVE ground truth — deliberately algorithm-independent (no prefix
    filter, no df cap, no size heuristic), so a prefix-filter bug on the
    Spark side cannot be mirrored into the oracle. Pairs sharing zero
    shingles can't reach any positive threshold, so the exploded
    equi-join enumeration is complete.
    """
    tok = text.tokens_sql("text")
    sh = text.word_shingles_sql("tok", shingle_n)
    jac = "CAST(i.n_inter AS DOUBLE) / (sa.sz + sb.sz - i.n_inter)"
    return f"""
    WITH tokenized AS (
        SELECT doc_id AS id, {tok} AS tok FROM documents
    ), base AS (
        SELECT id, {sh} AS shingles FROM tokenized
    ), expl AS (
        SELECT DISTINCT id, unnest(shingles) AS w
        FROM base WHERE len(shingles) > 0
    ), sz AS (
        SELECT id, COUNT(*) AS sz FROM expl GROUP BY id
    ), i AS (
        SELECT ea.id AS doc_a, eb.id AS doc_b, COUNT(*) AS n_inter
        FROM expl ea JOIN expl eb ON ea.w = eb.w AND ea.id < eb.id
        GROUP BY ea.id, eb.id
    )
    SELECT i.doc_a, i.doc_b, {jac} AS jaccard
    FROM i JOIN sz sa ON sa.id = i.doc_a JOIN sz sb ON sb.id = i.doc_b
    WHERE {t_den} * i.n_inter >= {t_num} * (sa.sz + sb.sz - i.n_inter)
    ORDER BY doc_a, doc_b
    """


@query(
    "dedup_setsim_exact",
    oracle=_setsim_exact_naive_oracle(3, dedup.SETSIM_T_NUM, dedup.SETSIM_T_DEN),
    bench=True,
)
def dedup_setsim_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join (word-trigram-set Jaccard >= 4/5)
    via prefix filtering (operators/dedup.py:setsim_prefix_pairs) — the
    no-false-negative rung of the dedup ladder, and the exact reference
    for minhash_lsh_pairs (same 3-gram basis, same 0.8 threshold): its
    output certifies what any banding scheme may miss. The oracle is the
    naive ground truth, so the driver verdict certifies the prefix
    filter's completeness, not just self-consistency. Round-4 addition
    (5/5 of the growth budget), registered behind the window;
    NEXT_WINDOW_QUEUE slot for the round-5 gate."""
    t = Tables(spark, sf_dir)
    return dedup.setsim_prefix_pairs(t.documents)


@query(
    "events_gap_fill",
    oracle=events_ops.gap_fill_hourly_sql("events"),
    bench=True,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly time series per event type with LOCF gap filling: the
    full hour grid is built from one broadcast min/max row × the distinct
    type set (metadata-sized at any event volume), missing hours carry the
    last observed hourly sum forward via the portable two-window trick
    (running non-null COUNT names the carry group, MAX over the group
    materializes the value — no IGNORE NULLS dependence). Sums are exact
    through DECIMAL(30,8) (edge-corpus 1e18 values fit)."""
    t = Tables(spark, sf_dir)
    return events_ops.gap_fill_hourly(t.events)


@query(
    "graph_pagerank",
    oracle=graph_ops.pagerank_sql(graph_ops.user_transition_edges_sql("events")),
    bench=True,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the user-transition graph (consecutive
    same-type events link their users), 4 rounds of power iteration from a
    uniform start — the iterative-analytics shape SQL alone can't express
    unboundedly, pinned here at fixed depth so the DuckDB oracle unrolls
    to chained CTEs. Per-node incoming sums are TWO-LEVEL fixed-order
    folds on both engines (float addition is not associative — a plain
    SUM would hash differently; bucketing by md5(src) mod 1024 bounds the
    largest collected array at O(max_indeg/1024), so a power-law hub
    can't OOM an executor — round-11 de-skew, probed by
    ``capacity_check.py --hub``); each round is one edges ⋈ ranks join
    plus the two-stage aggregate, state bounded by |V|+|E|. Production
    deployments that don't need cross-engine hashes pass
    ``exact_hashes=False`` for plain partial-aggregatable sums."""
    t = Tables(spark, sf_dir)
    return graph_ops.pagerank(graph_ops.user_transition_edges(t.events))


@query(
    "report_column_profile",
    oracle="""
        WITH long AS (
            SELECT 'o_custkey' AS col_name,
                   CAST(o_custkey AS VARCHAR) AS val_str,
                   CAST(o_custkey AS DOUBLE) AS val_num FROM orders
            UNION ALL
            SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR), NULL FROM orders
            UNION ALL
            SELECT 'o_orderstatus', o_orderstatus, NULL FROM orders
            UNION ALL
            SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR), o_totalprice
            FROM orders
        )
        SELECT col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT(val_str) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT val_str) AS BIGINT) AS n_distinct,
               MIN(val_num) AS min_val,
               MAX(val_num) AS max_val
        FROM long GROUP BY col_name ORDER BY col_name
    """,
)
def report_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the ANALYZE/data-quality report): per-column null
    count, exact distinct count, and numeric min/max in ONE scan — each
    row fans out map-side into (column, value) entries (an Expand node,
    no rescan), then one aggregate keyed on the column name. Distinct
    counting runs on a per-engine-injective string rendering, so only the
    COUNT must agree cross-engine, never the rendering itself.

    Deliberately NOT the multi-COUNT(DISTINCT)-in-one-agg form: Catalyst's
    RewriteDistinctAggregates orders its distinct-column groups by
    expression id — session-history-dependent, which made the physical
    plan (not the result) unstable under the plan-fingerprint gate. The
    long-form shape has a deterministic plan AND the better scale story:
    per-column jobs would rescan the table N times at 100 TB."""
    t = Tables(spark, sf_dir)
    long = t.orders.select(
        F.expr(
            "stack(4,"
            " 'o_custkey', CAST(o_custkey AS STRING), CAST(o_custkey AS DOUBLE),"
            " 'o_orderdate', CAST(o_orderdate AS STRING), CAST(NULL AS DOUBLE),"
            " 'o_orderstatus', o_orderstatus, CAST(NULL AS DOUBLE),"
            " 'o_totalprice', CAST(o_totalprice AS STRING), o_totalprice"
            ") AS (col_name, val_str, val_num)"
        )
    )
    return (
        long.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.count(F.lit(1)) - F.count("val_str")).cast("bigint").alias("n_null"),
            F.countDistinct("val_str").cast("bigint").alias("n_distinct"),
            F.min("val_num").alias("min_val"),
            F.max("val_num").alias("max_val"),
        )
        .orderBy("col_name")
    )


def _ivf_incremental_oracle() -> str:
    dist2 = (
        "list_reduce(list_transform(generate_series(1, len(e.embedding)), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)) "
        "* (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE))), (a, b) -> a + b)"
    )
    # the builder's exact recurrence (seed -> one Lloyd step) over the BASE
    # 90%, then a single frozen-centroid argmin for the NEW 10%
    return f"""
    WITH base AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 <> 9
    ), newv AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 9
    ), seed AS (
        SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec
        FROM base WHERE vec_id < {similarity.IVF_K}
    ), scored0 AS (
        SELECT e.vec_id, e.embedding, c.cid, {dist2} AS dist2
        FROM base e CROSS JOIN seed c
    ), a0 AS (
        SELECT vec_id, embedding, cid AS cell FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
            FROM scored0
        ) WHERE rn = 1
    ), dims AS (
        SELECT cell, i AS dim, CAST(embedding[i] AS DOUBLE) AS val
        FROM a0, UNNEST(generate_series(1, len(embedding))) AS t(i)
    ), centroids AS (
        SELECT cell AS cid, list(mean_val ORDER BY dim) AS cvec FROM (
            SELECT cell, dim,
                   CAST(SUM(CAST(val AS DECIMAL(24,8))) AS DOUBLE) / COUNT(*) AS mean_val
            FROM dims GROUP BY cell, dim
        ) GROUP BY cell
    ), base_assigned AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (
                PARTITION BY e.vec_id ORDER BY {dist2}, c.cid) AS rn
            FROM base e CROSS JOIN centroids c
        ) WHERE rn = 1
    ), new_assigned AS (
        SELECT vec_id, cid AS cell FROM (
            SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (
                PARTITION BY e.vec_id ORDER BY {dist2}, c.cid) AS rn
            FROM newv e CROSS JOIN centroids c
        ) WHERE rn = 1
    )
    SELECT cell,
           CAST(SUM(CASE WHEN origin = 'base' THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
           CAST(SUM(CASE WHEN origin = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
    FROM (
        SELECT cell, 'base' AS origin FROM base_assigned
        UNION ALL SELECT cell, 'new' AS origin FROM new_assigned
    )
    GROUP BY cell ORDER BY cell
    """


@query("ann_ivf_incremental", oracle=_ivf_incremental_oracle())
def ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance: the index (k-means-lite
    centroids + cell assignments) is built over the BASE 90% of the
    corpus, then the arriving 10% is folded in with ONE frozen-centroid
    broadcast-argmin pass — O(new) per ingest tick, the existing
    assignments never reshuffle, no inline retraining (periodic
    re-clustering is a separate offline job, as in production IVF).
    The gate hashes per-cell (base, new) occupancy; the deterministic
    seed + decimal-exact Lloyd step make every assignment bit-stable
    cross-engine."""
    t = Tables(spark, sf_dir)
    base = t.embeddings.filter(F.col("vec_id") % 10 != 9)
    new = t.embeddings.filter(F.col("vec_id") % 10 == 9)
    index = similarity.ivf_build_index(base).persist()
    new_assigned = similarity.ivf_incremental_assign(index, new)
    both = index.assignments.select("cell", F.lit("base").alias("origin")).unionAll(
        new_assigned.select("cell", F.lit("new").alias("origin"))
    )
    return (
        both.groupBy("cell")
        .agg(
            F.sum((F.col("origin") == "base").cast("bigint")).cast("bigint").alias("n_base"),
            F.sum((F.col("origin") == "new").cast("bigint")).cast("bigint").alias("n_new"),
        )
        .orderBy("cell")
    )


@query(
    "graph_reachability",
    oracle=f"""
        WITH RECURSIVE edges AS ({graph_ops.user_transition_edges_sql("events")}),
        seeds AS (
            SELECT DISTINCT user_id AS node FROM events WHERE user_id % 97 = 0
        ),
        walk AS (
            SELECT node, 0 AS depth FROM seeds
            UNION
            SELECT e.dst AS node, w.depth + 1 AS depth
            FROM walk w JOIN edges e ON e.src = w.node
            WHERE w.depth < 3
        )
        SELECT node, CAST(MIN(depth) AS INTEGER) AS depth
        FROM walk GROUP BY node ORDER BY node
    """,
)
def graph_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth min-hop reachability over the user-transition graph
    (BFS from the ``user_id % 97 = 0`` seed set, 3 hops). The Spark loop
    keeps frontier and visited bounded by |V| (per-hop distinct +
    anti-join) — the shape that survives 100 TB where the naive
    recursive-CTE UNION ALL materializes PATH MULTIPLICITY (deg^hops
    rows); the DuckDB oracle uses recursive UNION (set semantics) for the
    same boundedness and takes MIN(depth) over the deduped walk — both
    compute first-reached depth exactly."""
    t = Tables(spark, sf_dir)
    edges = graph_ops.user_transition_edges(t.events)
    seeds = (
        t.events.filter(F.col("user_id") % 97 == 0)
        .select(F.col("user_id").alias("node"))
        .distinct()
    )
    out = graph_ops.reachability(edges, seeds, max_hops=3)
    return out.select("node", F.col("depth").cast("int").alias("depth"))


@query(
    "graph_triangle_count",
    oracle=f"""
        WITH e AS ({graph_ops.user_transition_edges_sql("events")}),
        {graph_ops.triangle_counts_sql("e")}
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM tri_members GROUP BY node ORDER BY node
    """,
    bench=True,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the user-transition graph — the
    clustering-coefficient numerator behind community/spam detection on
    interaction graphs. Degree-ordered edge orientation
    (``operators/graph.py:triangle_counts``) caps every node's oriented
    out-degree at O(√m), so the wedge join is bounded at O(m^1.5) total
    work no matter how skewed the hubs — the naive shared-endpoint join
    materializes indeg² wedges on a hub and dies at 100 TB. All-BIGINT
    counts; each triangle counted exactly once via the rank-ordered
    x→y→z canonical form."""
    t = Tables(spark, sf_dir)
    edges = graph_ops.user_transition_edges(t.events)
    return graph_ops.triangle_counts(edges).orderBy("node")


@query(
    "report_freshness_lag",
    oracle="""
        WITH per_feed AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MAX(ts) AS last_ts
            FROM events GROUP BY event_type
        ), g AS (
            SELECT MAX(last_ts) AS global_ts FROM per_feed
        )
        SELECT event_type, n_events, last_ts,
               (CAST(floor(epoch(g.global_ts)) AS BIGINT)
                - CAST(floor(epoch(last_ts)) AS BIGINT)) // 60 AS lag_minutes,
               CAST(floor(epoch(g.global_ts)) AS BIGINT)
                - CAST(floor(epoch(last_ts)) AS BIGINT) >= 3600 AS stale
        FROM per_feed CROSS JOIN g
        ORDER BY event_type
    """,
)
def report_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed data-freshness report (the ops dashboard behind every
    watermark-triggered pipeline): each feed's last event time, its lag in
    whole minutes behind the freshest feed, and a staleness flag at the
    1-hour threshold. One aggregate + a broadcast one-row global max —
    O(feeds) output at any event volume; lag computed on FLOORED integer
    epoch seconds on both sides (Spark's unix_timestamp truncates
    sub-second fractions; DuckDB's epoch() keeps them — the raw diff is
    off by one minute whenever the fractions straddle a boundary)."""
    t = Tables(spark, sf_dir)
    per_feed = t.events.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("ts").alias("last_ts"),
    )
    g = per_feed.agg(F.max("last_ts").alias("global_ts"))
    lag_s = F.unix_timestamp("global_ts") - F.unix_timestamp("last_ts")
    return (
        per_feed.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "n_events",
            "last_ts",
            F.floor(lag_s / 60).cast("bigint").alias("lag_minutes"),
            (lag_s >= 3600).alias("stale"),
        )
        .orderBy("event_type")
    )


@query(
    "events_funnel_timing",
    oracle=f"""
        WITH f AS ({events_ops.funnel_stages_sql("events")}),
        deltas AS (
            SELECT 'step1_to_2' AS transition,
                   epoch_us(t_step2) - epoch_us(t_step1) AS delta_us
            FROM f WHERE t_step2 IS NOT NULL
            UNION ALL
            SELECT 'step2_to_3',
                   epoch_us(t_step3) - epoch_us(t_step2)
            FROM f WHERE t_step3 IS NOT NULL
        ),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY transition
                                      ORDER BY delta_us) AS rn,
                   COUNT(*) OVER (PARTITION BY transition) AS n
            FROM deltas
        )
        SELECT transition,
               CAST(MAX(n) AS BIGINT) AS n_converted,
               CAST(MIN(delta_us) AS BIGINT) AS min_us,
               CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN delta_us END)
                    AS BIGINT) AS median_us,
               CAST(MAX(delta_us) AS BIGINT) AS max_us
        FROM ranked GROUP BY transition ORDER BY transition
    """,
)
def events_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per funnel transition: count, min,
    lower-median, max of the step1→2 and step2→3 latencies. Deltas are
    exact integer MICROSECONDS (``unix_micros`` / ``epoch_us`` — no
    truncation ambiguity) and the median is rank-based order-statistic
    selection (row_number at (n+1)//2) — the portable form; interpolated
    percentiles differ in the last ulp cross-engine. Cost on top of the
    funnel itself: one union of per-user deltas + one window over each
    transition's converts."""
    from pyspark.sql.window import Window

    t = Tables(spark, sf_dir)
    f = events_ops.funnel_stages(t.events)
    d12 = f.filter(F.col("t_step2").isNotNull()).select(
        F.lit("step1_to_2").alias("transition"),
        (F.unix_micros("t_step2") - F.unix_micros("t_step1")).alias("delta_us"),
    )
    d23 = f.filter(F.col("t_step3").isNotNull()).select(
        F.lit("step2_to_3").alias("transition"),
        (F.unix_micros("t_step3") - F.unix_micros("t_step2")).alias("delta_us"),
    )
    u = d12.unionAll(d23)
    w = Window.partitionBy("transition").orderBy("delta_us")
    wc = Window.partitionBy("transition")
    ranked = u.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    return (
        ranked.groupBy("transition")
        .agg(
            F.max("n").cast("bigint").alias("n_converted"),
            F.min("delta_us").cast("bigint").alias("min_us"),
            F.max(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("delta_us"))
            ).cast("bigint").alias("median_us"),
            F.max("delta_us").cast("bigint").alias("max_us"),
        )
        .orderBy("transition")
    )
