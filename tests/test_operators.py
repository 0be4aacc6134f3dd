"""Library-level operator semantics not fully covered by the oracle gate:
dedup recall on planted near-dups, simhash pair blocking, similarity top-k
sanity, jdbc option builders, csv-compat sink roundtrip."""

from __future__ import annotations

from mssql2monetdb_spark.catalog import load_table
from mssql2monetdb_spark.config.spec import CopyJob, SourceSpec
from mssql2monetdb_spark.operators import dedup, similarity
from mssql2monetdb_spark.sources.jdbc import jdbc_read_options, jdbc_write_options
from mssql2monetdb_spark.sources.readers import CSV_OPTIONS, write_csv_compat

SF = "/root/testdata/sf0.001"


def test_minhash_finds_planted_neardups(spark):
    docs = load_table(spark, SF, "documents")
    pairs = dedup.minhash_lsh_pairs(docs, shingle_n=3, threshold=0.8).collect()
    assert len(pairs) > 0  # the fixture plants near-identical doc pairs
    for r in pairs:
        assert r["doc_a"] < r["doc_b"] and 0.8 <= r["jaccard"] <= 1.0


def test_minhash_self_consistency(spark):
    # a doc unioned with itself is a perfect duplicate: jaccard 1.0
    docs = load_table(spark, SF, "documents").limit(5)
    clones = docs.withColumn("doc_id", docs.doc_id + 100000)
    pairs = dedup.minhash_lsh_pairs(docs.unionAll(clones), threshold=0.99).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in pairs}
    for i in range(5):
        assert (i, i + 100000) in found
        assert next(r["jaccard"] for r in pairs if r["doc_a"] == i) == 1.0


def test_simhash_pairs_blocking(spark):
    docs = load_table(spark, SF, "documents")
    pairs = dedup.simhash_pairs(docs, max_hamming=6).collect()
    for r in pairs:
        assert r["hamming"] <= 6 and r["doc_a"] < r["doc_b"]


def test_exact_dup_detection(spark):
    docs = load_table(spark, SF, "documents").limit(10)
    doubled = docs.unionAll(docs)
    groups = dedup.exact_duplicates(doubled).collect()
    assert all(g["n_dups"] == 2 for g in groups) and len(groups) == 10


def test_topk_bruteforce_contains_best(spark):
    emb = load_table(spark, SF, "embeddings")
    out = similarity.topk_bruteforce(emb, [0, 1], k=3).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert [r["rnk"] for r in rows] == [1, 2, 3]
        sims = [r["cos_sim"] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r["vec_id"] != q for r in rows)


def test_topk_lsh_subset_of_corpus(spark):
    emb = load_table(spark, SF, "embeddings")
    out = similarity.topk_lsh(emb, [0], k=5).collect()
    assert 0 < len(out) <= 5  # bucket-pruned: at most k, possibly fewer


def test_jdbc_option_builders():
    src = SourceSpec(name="s", format="jdbc", options={"url": "jdbc:postgresql://h/db"})
    job = CopyJob(job_id="j", from_table="t", from_columns=("a", "b"), to_table="t")
    opts = jdbc_read_options(src, job)
    # projection is applied Spark-side in jdbc_reader (dialect-quoted pruned
    # SELECT); the option map stays in table mode
    assert opts["dbtable"] == "t" and "query" not in opts
    assert opts["fetchsize"] == "10000"  # reference batch.size default

    job2 = CopyJob(job_id="j2", from_table="t", to_table="t")
    assert jdbc_read_options(src, job2)["dbtable"] == "t"

    wopts = jdbc_write_options(src, "t", locked_mode=True)
    assert wopts["batchsize"] == "10000" and wopts["isolationLevel"] == "NONE"


def test_csv_compat_roundtrip(spark, tmp_path):
    # \N nulls + quoted/escaped fields (CopyTool.java:50,697-730)
    df = spark.createDataFrame(
        [(1, 'has "quotes"', None), (2, "back\\slash, comma", "x")],
        "id long, s string, t string",
    )
    path = str(tmp_path / "csv_out")
    write_csv_compat(df, path)
    back = (
        spark.read.options(**CSV_OPTIONS)
        .schema("id long, s string, t string")
        .csv(path)
    )
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_partition_bounds_options():
    from mssql2monetdb_spark.sources.jdbc import partition_bounds_options

    opts = partition_bounds_options("id", 0, 1000, num_partitions=16)
    assert opts == {
        "partitionColumn": "id",
        "lowerBound": "0",
        "upperBound": "1000",
        "numPartitions": "16",
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        partition_bounds_options("id", 10, 5)


def test_quarantine_split(spark):
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.operators.validate import split_quarantine

    df = spark.createDataFrame(
        [(1, "ok", 10.0), (2, None, 5.0), (3, "ok", -1.0), (4, None, -2.0)],
        "id long, s string, v double",
    )
    rules = {
        "s_not_null": F.col("s").isNotNull(),
        "v_positive": F.col("v") > 0,
    }
    valid, bad = split_quarantine(df, rules)
    assert [r["id"] for r in valid.orderBy("id").collect()] == [1]
    reasons = {r["id"]: r["_reject_reason"] for r in bad.collect()}
    # first failing rule wins (dict order)
    assert reasons == {2: "s_not_null", 3: "v_positive", 4: "s_not_null"}


def test_connected_components_vs_union_find(spark):
    """Label propagation must equal a plain union-find on the same edges."""
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4), (50, 1)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    from mssql2monetdb_spark.operators.dedup import connected_components

    got = {r["doc_id"]: r["component_id"] for r in connected_components(df).collect()}

    # reference union-find
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expected = {x: find(x) for x in parent}
    assert got == expected
    # chain 1-2-3-4 merged with 50 via (50,1): all map to 1
    assert got[4] == 1 and got[50] == 1 and got[22] == 20


def test_connected_components_adversarial_chain(spark):
    """A depth-15 chain needs 15 propagation rounds — crossing the
    CC_CHECKPOINT_EVERY lineage truncation 3 times — and must still
    resolve to a single min-label component."""
    from mssql2monetdb_spark.operators.dedup import connected_components

    n = 16  # path graph 0-1-...-15: diameter 15 > 2 * CC_CHECKPOINT_EVERY
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["component_id"] for r in connected_components(df).collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_edges_read_pairs_once(spark, tmp_path, monkeypatch):
    """The symmetric edge list comes from ONE pass over the pairs: its
    optimized plan has no Union and scans the pairs source once, so an
    upstream pair pipeline (MinHash band join, verify joins) is planned
    and run once, not once per direction."""
    from mssql2monetdb_spark.engine import caches
    from mssql2monetdb_spark.operators.dedup import connected_components

    path = str(tmp_path / "pairs.parquet")
    spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long").write.parquet(path)
    plans = []
    track = caches.tracked

    def spy(df):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return track(df)

    monkeypatch.setattr(caches, "tracked", spy)
    got = {r["doc_id"]: r["component_id"] for r in connected_components(spark.read.parquet(path)).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
    edges_plan = plans[0]  # the first tracked frame is the edge list
    assert "Union" not in edges_plan
    assert edges_plan.count("Relation [") == 1, edges_plan


def test_scrub_pii_redacts_and_counts(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b-c_d@test-site.org or 555-123-4567 today"),
            (2, "no pii here"),
            (3, "two mails x@y.io and z@w.co"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in corpus_prep.scrub_pii(df).collect()}
    assert (rows[1]["n_emails"], rows[1]["n_phones"]) == (1, 1)
    assert rows[1]["clean_text"] == "mail me at [EMAIL] or [PHONE] today"
    assert (rows[2]["n_emails"], rows[2]["n_phones"]) == (0, 0)
    assert rows[2]["clean_text"] == "no pii here"
    assert rows[3]["n_emails"] == 2
    assert rows[3]["clean_text"] == "two mails [EMAIL] and [EMAIL]"


def test_pack_sequences_invariants(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    docs = load_table(spark, SF, "documents")
    out = corpus_prep.pack_sequences(docs, budget=100, shards=4).collect()
    assert len(out) == docs.count()  # every doc assigned exactly once
    by_shard: dict[int, list] = {}
    for r in out:
        assert r["seq_id"] >> 32 == r["shard"]  # seq encodes its shard
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) == 4
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["doc_id"])
        # bin ids are non-decreasing as the running total grows
        bins = [r["seq_id"] & 0xFFFFFFFF for r in rows]
        assert bins == sorted(bins)
        # a new bin starts exactly when the running total crosses the budget
        cum = 0
        for r, b in zip(rows, bins):
            assert b == cum // 100
            cum += r["n_tokens"]


def test_assign_split_deterministic_proportions(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    docs = load_table(spark, SF, "documents")
    out1 = {r["doc_id"]: r["split"] for r in corpus_prep.assign_split(docs).collect()}
    out2 = {r["doc_id"]: r["split"] for r in corpus_prep.assign_split(docs).collect()}
    assert out1 == out2  # deterministic
    n = len(out1)
    counts = {s: list(out1.values()).count(s) for s in ("train", "val", "test")}
    assert counts["train"] / n > 0.6 and counts["val"] > 0 and counts["test"] > 0


# --- round-2 corpus-prep additions ---------------------------------------


def test_sample_stratified_rates(spark):
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.operators import corpus_prep

    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    total = docs.count()
    # rate 1.0 everywhere keeps every row; rate 0.0 drops the stratum entirely
    assert corpus_prep.sample_stratified(docs, {}).count() == total
    zeroed = corpus_prep.sample_stratified(docs, {"src0": 0.0})
    assert zeroed.filter(F.col("source") == "src0").count() == 0
    assert zeroed.count() < total
    # deterministic: identical result on re-run
    a = sorted(r["doc_id"] for r in corpus_prep.sample_stratified(docs, {"src0": 0.5}).collect())
    b = sorted(r["doc_id"] for r in corpus_prep.sample_stratified(docs, {"src0": 0.5}).collect())
    assert a == b


def test_filter_length_outliers_band(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    docs = load_table(spark, SF, "documents")
    total = docs.count()
    kept = corpus_prep.filter_length_outliers(docs).count()
    # trims at most the outer 10% by construction, and trims something
    # unless every length is inside the band
    assert 0.85 * total <= kept <= total
    # degenerate band keeps everything
    assert corpus_prep.filter_length_outliers(docs, lo_pct=0, hi_pct=100).count() == total


def test_oov_rate_bounds(spark):
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.operators import ranking

    docs = load_table(spark, SF, "documents")
    scored = ranking.oov_rate(docs, k=10).collect()
    assert all(0 <= r["n_oov"] <= r["n_tokens"] for r in scored)
    assert any(r["n_oov"] > 0 for r in scored)  # k=10 < vocab size
    # a vocabulary larger than the corpus vocabulary has zero OOV
    full = ranking.oov_rate(docs, k=100000)
    assert full.agg(F.sum("n_oov")).collect()[0][0] == 0


def test_ngram_overlap_flags_planted_clone(spark):
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.operators import corpus_prep

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    # clone every doc with a shifted id: clones landing in the test split
    # have a 100%-overlap twin in train whenever the twin landed in train
    clones = docs.select((F.col("doc_id") + 500000).alias("doc_id"), "text")
    seeded = docs.unionAll(clones)
    split = {r["doc_id"]: r["split"] for r in corpus_prep.assign_split(seeded).collect()}
    expect_full = {
        d
        for d in split
        if d >= 500000 and split[d] == "test" and split.get(d - 500000) == "train"
    }
    result = {r["doc_id"]: r for r in corpus_prep.ngram_overlap_contamination(seeded).collect()}
    assert expect_full  # the planted layout must actually produce such docs
    for d in expect_full:
        assert result[d]["contaminated"] == 1
        assert result[d]["n_matched"] == result[d]["n_shingles"]


def test_repetition_score_extremes(spark):
    from mssql2monetdb_spark.operators import textstats

    rows = spark.createDataFrame(
        [(1, "spam spam spam spam spam"), (2, "a b c d e f")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textstats.repetition_score(rows).collect()}
    # all-identical bigrams -> ratio 1.0; all-distinct bigrams -> 1/n
    assert out[1]["repetition_ratio"] == 1.0
    assert out[1]["top_ngram_count"] == 4
    assert abs(out[2]["repetition_ratio"] - 1.0 / 5.0) < 1e-12


def test_write_training_shards_layout(spark, tmp_path):
    import os

    from mssql2monetdb_spark.operators import corpus_prep

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    out = str(tmp_path / "shards")
    corpus_prep.write_training_shards(docs, out, files_per_split=4)
    # split directories exist and reading back preserves every row exactly
    splits = sorted(d for d in os.listdir(out) if d.startswith("split="))
    assert splits == ["split=test", "split=train", "split=val"]
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert sorted(r["doc_id"] for r in back.collect()) == sorted(
        r["doc_id"] for r in docs.collect()
    )
    # deterministic layout: a second write produces identical per-split
    # row-to-file routing (same doc_ids in the same shard files)
    out2 = str(tmp_path / "shards2")
    corpus_prep.write_training_shards(docs, out2, files_per_split=4)

    def layout(root):
        m = {}
        for split in os.listdir(root):
            if not split.startswith("split="):
                continue
            for f in sorted(os.listdir(os.path.join(root, split))):
                if f.endswith(".parquet"):
                    rows = spark.read.parquet(os.path.join(root, split, f))
                    # part index is stable; the rest of the name is a run UUID
                    part = f.split("-")[1]
                    m[(split, part)] = tuple(sorted(r["doc_id"] for r in rows.collect()))
        return m

    assert layout(out) == layout(out2)


def test_remove_boilerplate_semantics(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    # "hot span" appears in 3/4 docs (75% >= 8% threshold); "cold words"
    # appear once. doc 4 is pure boilerplate and must survive as ''.
    rows = [
        (1, "alpha hot span beta"),
        (2, "hot span gamma"),
        (3, "delta epsilon zeta"),
        (4, "hot span"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in corpus_prep.remove_boilerplate(docs, n=2, min_df_pct=50).collect()
    }
    assert out[1]["clean_text"] == "alpha beta" and out[1]["n_removed"] == 2
    assert out[2]["clean_text"] == "gamma"
    # untouched doc: zero removed, text reassembled identically
    assert out[3]["clean_text"] == "delta epsilon zeta" and out[3]["n_removed"] == 0
    # fully-boilerplate doc is preserved as a row with empty text
    assert out[4]["clean_text"] == "" and out[4]["n_removed"] == out[4]["n_tokens"] == 2


def test_remove_boilerplate_overlapping_spans(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    # "a b" and "b c" both frequent: coverage union removes a,b,c once each,
    # not double-counting the shared middle token
    rows = [(1, "x a b c y"), (2, "a b c"), (3, "a b c")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in corpus_prep.remove_boilerplate(docs, n=2, min_df_pct=60).collect()
    }
    assert out[1]["clean_text"] == "x y" and out[1]["n_removed"] == 3


def test_sample_quality_weighted_deterministic_subset(spark):
    from mssql2monetdb_spark.operators import corpus_prep, textstats

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    kept = corpus_prep.sample_quality_weighted(docs)
    n_docs, n_kept = docs.count(), kept.count()
    assert 0 < n_kept < n_docs  # both outcomes exercised
    # kept rows are a subset of the scored relation, repeatable across runs
    again = {r["doc_id"] for r in corpus_prep.sample_quality_weighted(docs).collect()}
    assert {r["doc_id"] for r in kept.collect()} == again
    scores = {r["doc_id"]: r["quality"] for r in textstats.quality_score(docs).collect()}
    for r in kept.collect():
        assert scores[r["doc_id"]] == r["quality"]


def test_corpus_health_counters(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    rows = [
        (1, "one two three four five", "s1", "en"),
        (2, "one two three four five", "s1", "en"),  # exact dup of 1
        (3, "short", "s1", "de"),
        (4, "unique text here", "s2", "en"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source", "lang"])
    out = {r["source"]: r for r in corpus_prep.corpus_health(docs, short_tokens=4).collect()}
    s1 = out["s1"]
    assert s1["n_docs"] == 3 and s1["n_dup_docs"] == 2 and s1["n_langs"] == 2
    assert s1["n_short_docs"] == 1 and s1["total_tokens"] == 11
    assert abs(s1["avg_tokens"] - 11.0 / 3.0) < 1e-12
    s2 = out["s2"]
    assert s2["n_docs"] == 1 and s2["n_dup_docs"] == 0 and s2["n_short_docs"] == 1


def test_funnel_stages_ordering_and_window(spark):
    from datetime import datetime

    from mssql2monetdb_spark.operators import events as events_ops

    def ts(h, m=0):
        return datetime(2024, 1, 1, h, m)

    rows = [
        # user 1: full funnel in order, inside the window
        (1, ts(1), "view"), (1, ts(2), "click"), (1, ts(3), "purchase"),
        # user 2: click BEFORE the first view — not a conversion
        (2, ts(1), "click"), (2, ts(2), "view"), (2, ts(3), "purchase"),
        # user 3: click after view but outside the window
        (3, ts(1), "view"), (3, ts(4), "click"),
        # user 4: never views — outside the funnel entirely
        (4, ts(1), "purchase"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {
        r["user_id"]: r
        for r in events_ops.funnel_stages(df, within_s=7200).collect()
    }
    assert out[1]["stage"] == 3 and out[1]["t_step3"] == ts(3)
    # purchase without a post-view click never counts, even though both exist
    assert out[2]["stage"] == 1 and out[2]["t_step2"] is None
    assert out[3]["stage"] == 1  # window expired
    assert 4 not in out


def test_retention_cohorts_counts(spark):
    from datetime import datetime

    from mssql2monetdb_spark.operators import events as events_ops

    rows = [
        (1, datetime(2024, 1, 1, 5)), (1, datetime(2024, 1, 2, 6)),
        (1, datetime(2024, 1, 2, 7)),  # same day twice: counted once
        (2, datetime(2024, 1, 1, 8)),
        (3, datetime(2024, 1, 2, 9)), (3, datetime(2024, 1, 4, 1)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        (r["cohort_day"].date().isoformat(), r["day_offset"]): r["n_users"]
        for r in events_ops.retention_cohorts(df).collect()
    }
    assert out[("2024-01-01", 0)] == 2  # users 1 and 2 on their first day
    assert out[("2024-01-01", 1)] == 1  # user 1 returns next day
    assert out[("2024-01-02", 0)] == 1 and out[("2024-01-02", 2)] == 1  # user 3
    assert len(out) == 4


def test_chunk_documents_overlap_and_coverage(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(100))),  # 100 toks -> 2 chunks
            (2, "short doc"),  # 2 toks -> exactly 1 chunk
            (3, " ".join(f"w{i}" for i in range(64))),  # == size -> 1 chunk
            (4, " ".join(f"w{i}" for i in range(65))),  # size+1 -> 2 chunks
        ],
        "doc_id long, text string",
    )
    rows = corpus_prep.chunk_documents(docs, size=64, stride=48).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 2 and len(by_doc[2]) == 1
    assert len(by_doc[3]) == 1 and len(by_doc[4]) == 2
    # chunk 0 is the full window; chunk 1 starts at stride -> 16-token overlap
    c0, c1 = by_doc[1]
    assert c0.n_chunk_tokens == 64 and c1.n_chunk_tokens == 100 - 48
    assert c0.chunk_text.split()[48:] == c1.chunk_text.split()[:16]
    # every token of the document appears in at least one chunk
    covered = set(c0.chunk_text.split()) | set(c1.chunk_text.split())
    assert covered == {f"w{i}" for i in range(100)}


def test_normalize_url_rules(spark):
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.operators import corpus_prep

    cases = [
        ("HTTPS://WWW.Example.COM/A/b/?x=1", "example.com/a/b"),
        ("http://example.com/a/b", "example.com/a/b"),
        ("https://example.com/a/b///", "example.com/a/b"),
        ("http://www.example.com/a/b?utm=z", "example.com/a/b"),
        ("https://example.com/a#top", "example.com/a"),
        ("https://example.com/a?x=1#frag", "example.com/a"),
        ("https://example.com/a/#frag", "example.com/a"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(corpus_prep.normalize_url(F.col("url"))).collect()]
    assert got == [want for _, want in cases]


def test_url_dedup_keeps_one_per_canonical_url(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    docs = spark.createDataFrame(
        [
            (1, "https://www.a.com/x"),
            (2, "HTTP://A.COM/x/"),  # same canonical URL as 1
            (3, "https://a.com/y"),
            (4, "https://b.com/x?utm=1"),
        ],
        "doc_id long, url string",
    )
    rows = {r.domain: r for r in corpus_prep.url_dedup_domain_summary(docs).collect()}
    assert rows["a.com"].n_docs == 3 and rows["a.com"].n_unique_urls == 2
    assert rows["a.com"].n_dropped == 1 and rows["a.com"].first_keep_id == 1
    assert rows["b.com"].n_dropped == 0


def test_semantic_dedup_cells_invariants(spark, sf_dir):
    from mssql2monetdb_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    rows = similarity.semantic_dedup_cells(emb, threshold=0.4).collect()
    n_total = emb.count()
    assert sum(r.n_vectors for r in rows) == n_total  # partition of the corpus
    for r in rows:
        assert r.n_kept + r.n_dropped == r.n_vectors
        assert r.n_kept >= 1  # min-id keep rule retains at least one per cell
    # a self-duplicate corpus collapses: threshold 1.01 never drops anything
    none = similarity.semantic_dedup_cells(emb, threshold=1.01).collect()
    assert all(r.n_dropped == 0 for r in none)


def test_token_freq_stats_exact_values(spark):
    from mssql2monetdb_spark.operators import ranking

    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),        # the:3 cat:2 sat:1
            (2, "the cat ran"),        # ran:1
            (3, "the unique"),         # unique:1
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in ranking.token_freq_stats(docs).collect()}
    r1 = rows[1]
    assert (r1.n_tokens, r1.sum_freq, r1.min_freq, r1.max_freq, r1.n_hapax) == (3, 6, 1, 3, 1)
    assert r1.mean_freq == 6 / 3
    r3 = rows[3]
    assert (r3.n_tokens, r3.sum_freq, r3.n_hapax) == (2, 4, 1)
    # invariants: every token counted at least once; hapaxes bounded
    for r in rows.values():
        assert r.sum_freq >= r.n_tokens
        assert 0 <= r.n_hapax <= r.n_tokens
        assert r.min_freq <= r.mean_freq <= r.max_freq


def test_ivf_index_build_probe_split(spark, sf_dir):
    """The production IVF contract: build the index ONCE, persist it, and
    probe without re-clustering — plus nprobe recall monotonicity."""
    from mssql2monetdb_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [3, 11, 19]
    idx = similarity.ivf_build_index(emb).persist()

    # probing a prebuilt index matches the build-inline path exactly
    from_index = similarity.topk_ivf(emb, qids, index=idx).collect()
    inline = similarity.topk_ivf(emb, qids).collect()
    assert from_index == inline

    # the probe plan contains NO clustering stages: the Lloyd-step
    # explode+aggregate is behind the checkpoint, so re-probing is cheap
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        similarity.topk_ivf(emb, qids, index=idx).explain("formatted")
    plan = buf.getvalue()
    assert "Generate" not in plan  # posexplode of the corpus = re-clustering
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan  # checkpointed index

    # nprobe widens the candidate set: per-query top-1 similarity can only
    # improve (or stay equal) as more cells are probed
    top1 = {
        r.query_id: r.cos_sim
        for r in similarity.topk_ivf(emb, qids, index=idx, nprobe=1).collect()
        if r.rnk == 1
    }
    top1_n3 = {
        r.query_id: r.cos_sim
        for r in similarity.topk_ivf(emb, qids, index=idx, nprobe=3).collect()
        if r.rnk == 1
    }
    assert set(top1) == set(top1_n3)
    for qid in top1:
        assert top1_n3[qid] >= top1[qid]

    # nprobe=K probes every cell == brute force over the whole corpus
    k_cells = idx.centroids.count()
    full = similarity.topk_ivf(emb, qids, index=idx, nprobe=k_cells).collect()
    brute = similarity.topk_bruteforce(emb, qids).collect()
    assert [(r.query_id, r.vec_id) for r in full] == [
        (r.query_id, r.vec_id) for r in brute
    ]


def test_ivfadc_prebuilt_codes_match_one_shot(spark, sf_dir):
    """The amortized IVFADC contract: codes + codebook + index built once
    and passed in must rank identically to the one-shot inline encode —
    this is the path where probes never touch the raw vectors."""
    from mssql2monetdb_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [3, 11, 19]
    idx = similarity.ivf_build_index(emb).persist()
    cb = similarity._pq_codebook(
        emb, "vec_id", "embedding", similarity.PQ_M, similarity.PQ_KS
    ).localCheckpoint()
    codes = (
        similarity._pq_codes(
            emb, "vec_id", "embedding", similarity.PQ_M, similarity.PQ_KS, codebook=cb
        )
        .select("vec_id", "j", "cid")
        .localCheckpoint()
    )
    prebuilt = similarity.topk_ivf_adc(
        emb, qids, index=idx, codes=codes, codebook=cb
    ).collect()
    one_shot = similarity.topk_ivf_adc(emb, qids).collect()
    assert prebuilt == one_shot


def test_ivf_index_parquet_roundtrip(spark, sf_dir, tmp_path):
    """An index written to parquet (assignments partitioned by cell) probes
    identically to the in-memory one — the cluster-scale persistence path."""
    from mssql2monetdb_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [3, 11, 19]
    idx = similarity.ivf_build_index(emb).write(str(tmp_path / "ivf"))
    loaded = similarity.ivf_read_index(spark, str(tmp_path / "ivf"))
    assert similarity.topk_ivf(emb, qids, index=loaded).collect() == \
        similarity.topk_ivf(emb, qids, index=idx).collect()
    # cell is a partition directory on disk
    assert any(p.name.startswith("cell=") for p in (tmp_path / "ivf" / "assignments").iterdir())


def test_sample_domain_cap_quota_and_order(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    docs = spark.createDataFrame(
        [(i, "a" if i < 30 else "b", 1000 - i) for i in range(40)],
        "doc_id long, source string, n_chars long",
    )
    rows = corpus_prep.sample_domain_cap(docs, cap=10).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src["a"]) == 10  # 30 docs capped to 10
    assert len(by_src["b"]) == 10  # exactly at quota
    # best-quality-first: domain a keeps its 10 largest docs (ids 0..9)
    assert sorted(r.doc_id for r in by_src["a"]) == list(range(10))
    assert [r.rnk for r in by_src["a"]] == list(range(1, 11))


def test_cross_split_contamination_semantics(spark, sf_dir):
    from mssql2monetdb_spark.operators import corpus_prep, similarity

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cross_split_contamination(emb, threshold=-2.0)
    rows = out.collect()
    # at threshold -2 every train vector sharing a cell with a test vector
    # is reported exactly once (the argmax dedups)
    assert len(rows) == len({r.train_id for r in rows})
    splits = {
        r.vec_id: r.split for r in corpus_prep.assign_split(emb, "vec_id").collect()
    }
    for r in rows:
        assert splits[r.train_id] == "train" and splits[r.test_id] == "test"
    # tightening the threshold can only shrink the result
    tight = similarity.cross_split_contamination(emb, threshold=0.4).collect()
    assert len(tight) <= len(rows)
    assert all(r.cos_sim >= 0.4 for r in tight)


def test_upsert_scd1_semantics(spark):
    from mssql2monetdb_spark.operators import upsert

    existing = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    incoming = spark.createDataFrame(
        [(2, "B"), (4, "D")], "k long, v string"
    )
    rows = {r.k: r.v for r in upsert.upsert_scd1(existing, incoming, "k").collect()}
    # update wins, untouched passes through, new key appends
    assert rows == {1: "a", 2: "B", 3: "c", 4: "D"}


def test_upsert_scd1_collapses_duplicate_batch_keys(spark):
    from mssql2monetdb_spark.operators import upsert

    existing = spark.createDataFrame([(1, "a", 0), (2, "b", 0)], "k long, v string, seq long")
    # the batch carries TWO rows for key 2 — the higher seq must win, and
    # the merge must emit exactly one row for the key
    incoming = spark.createDataFrame(
        [(2, "B-old", 1), (2, "B-new", 2), (3, "C", 1)], "k long, v string, seq long"
    )
    out = upsert.upsert_scd1(existing, incoming, "k", order_col="seq").collect()
    rows = {r.k: r.v for r in out}
    assert len(out) == 3
    assert rows == {1: "a", 2: "B-new", 3: "C"}


def test_sessionize_gap_boundary_and_numbering(spark):
    from datetime import datetime, timedelta

    from mssql2monetdb_spark.operators import events as events_ops

    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, user, offset_s):
        return (eid, user, t0 + timedelta(seconds=offset_s))

    rows = [
        # user 1: pause of EXACTLY the gap stays in one session; gap+1 splits
        ev(1, 1, 0), ev(2, 1, 1800), ev(3, 1, 1800 + 1800),
        ev(4, 1, 3600 + 1801),
        # user 2: single event -> single 0-duration session
        ev(5, 2, 0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    out = {
        (r["user_id"], r["session_no"]): r
        for r in events_ops.sessionize(df, gap_s=1800).collect()
    }
    assert len(out) == 3
    s = out[(1, 0)]
    assert s["n_events"] == 3 and s["duration_us"] == 3600 * 1_000_000
    assert out[(1, 1)]["n_events"] == 1
    assert out[(2, 0)]["duration_us"] == 0


def _sessions_key(rows):
    return sorted(
        (
            r["user_id"],
            r["session_no"],
            r["session_start"],
            r["session_end"],
            r["n_events"],
            r["duration_us"],
        )
        for r in rows
    )


def test_sessionize_bounded_equals_plain_on_adversarial_boundaries(spark):
    """The hot-key-bounded variant must be bit-identical to plain
    sessionize, especially across bucket boundaries: exact-gap merges,
    gap+1 splits, sessions chaining through several whole buckets, and
    single-session buckets."""
    from datetime import datetime, timedelta

    import pytest as _pytest

    from mssql2monetdb_spark.operators import events as events_ops

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    gap, bucket = 1800, 3600  # small bucket so the fixture spans many

    def ev(eid, user, offset_s, frac_us=0):
        return (eid, user, t0 + timedelta(seconds=offset_s, microseconds=frac_us))

    rows = [
        # user 1: events straddle a bucket edge exactly gap apart (merge),
        # then gap + 1 us later (split)
        ev(1, 1, 3600 - 900), ev(2, 1, 3600 + 900),
        ev(3, 1, 3600 + 900 + gap, 1),
        # user 2: continuous activity every 600 s across 5 buckets — one
        # session chaining transitively through whole buckets
        *[ev(100 + i, 2, i * 600) for i in range(30)],
        # user 3: one lone event per bucket, each > gap from the next
        ev(200, 3, 0), ev(201, 3, 7200), ev(202, 3, 14400),
        # user 4: two events in the same microsecond + one at exact gap
        ev(300, 4, 50), ev(301, 4, 50), ev(302, 4, 50 + gap),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    plain = events_ops.sessionize(df, gap_s=gap).collect()
    bounded = events_ops.sessionize_bounded(
        df, gap_s=gap, bucket_s=bucket
    ).collect()
    assert _sessions_key(bounded) == _sessions_key(plain)
    # sanity on the fixture itself: user 2 really is one long session
    by_user = {}
    for r in bounded:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[2]) == 1 and by_user[2][0]["n_events"] == 30
    assert len(by_user[3]) == 3
    with _pytest.raises(ValueError, match="bucket_s"):
        events_ops.sessionize_bounded(df, gap_s=1800, bucket_s=60)


def test_sessionize_bounded_equals_plain_on_random_streams(spark):
    """Randomized equivalence: many users, geometric-ish gaps spanning the
    split threshold, several bucket widths."""
    import random

    from datetime import datetime, timedelta

    from mssql2monetdb_spark.operators import events as events_ops

    rng = random.Random(20260814)
    t0 = datetime(2024, 3, 1)
    rows = []
    eid = 0
    for user in range(12):
        t = rng.randrange(0, 4000)
        for _ in range(rng.randrange(1, 60)):
            rows.append((eid, user, t0 + timedelta(seconds=t)))
            eid += 1
            t += rng.choice([1, 30, 1799, 1800, 1801, 5000, 90000])
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    plain = _sessions_key(events_ops.sessionize(df, gap_s=1800).collect())
    for bucket_s in (1800, 3600, 86400):
        bounded = events_ops.sessionize_bounded(
            df, gap_s=1800, bucket_s=bucket_s
        ).collect()
        assert _sessions_key(bounded) == plain, f"bucket_s={bucket_s}"


def test_sessionize_bounded_equals_plain_on_extreme_era_timestamps(spark):
    """Timestamps far outside the double-exact integer range (year 9999:
    ts_us ~ 2.5e17 > 2^53) and pre-epoch negatives must flow through the
    BIGINT bucket arithmetic unharmed — the regression this pins was a
    double-division floor whose bucket assignment went inexact past 2^53
    (output survived only via the monotone-bucketing tolerance)."""
    from datetime import datetime, timedelta

    from mssql2monetdb_spark.operators import events as events_ops

    gap = 1800
    rows = []
    # year 9999: a merge pair straddling a day edge at exact gap, a split
    # at gap + 1 us, and a microsecond-adjacent pair
    t9999 = datetime(9999, 12, 30, 23, 45, 0)
    rows += [
        (1, 1, t9999), (2, 1, t9999 + timedelta(seconds=gap)),
        (3, 1, t9999 + timedelta(seconds=2 * gap, microseconds=1)),
        (4, 1, t9999 + timedelta(seconds=2 * gap, microseconds=2)),
    ]
    # pre-epoch: negative ts_us exercises the floor-for-negatives branch
    t1902 = datetime(1902, 6, 15, 0, 10, 0)
    rows += [
        (10, 2, t1902), (11, 2, t1902 + timedelta(seconds=gap)),
        (12, 2, t1902 + timedelta(seconds=3 * gap)),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    plain = _sessions_key(events_ops.sessionize(df, gap_s=gap).collect())
    for bucket_s in (gap, 86400):
        bounded = events_ops.sessionize_bounded(
            df, gap_s=gap, bucket_s=bucket_s
        ).collect()
        assert _sessions_key(bounded) == plain, f"bucket_s={bucket_s}"


def test_transition_matrix_counts_and_rownorm(spark):
    from datetime import datetime, timedelta

    from mssql2monetdb_spark.operators import events as events_ops

    t0 = datetime(2024, 1, 1)
    rows = [
        (1, 1, t0, "a"), (2, 1, t0 + timedelta(1), "b"),
        (3, 1, t0 + timedelta(2), "a"), (4, 1, t0 + timedelta(3), "b"),
        # user 2 contributes a->a; transitions never cross users
        (5, 2, t0, "a"), (6, 2, t0 + timedelta(1), "a"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "event_type"])
    out = {
        (r["prev_type"], r["next_type"]): r
        for r in events_ops.transition_matrix(df).collect()
    }
    assert out[("a", "b")]["n_transitions"] == 2
    assert out[("a", "a")]["n_transitions"] == 1
    assert out[("b", "a")]["n_transitions"] == 1
    assert abs(out[("a", "b")]["p_transition"] - 2 / 3) < 1e-12
    assert ("b", "b") not in out


def test_upsert_scd2_all_paths(spark):
    from mssql2monetdb_spark.operators import upsert

    existing = spark.createDataFrame(
        [
            # key 1: one closed + one current version
            (1, "a-old", 0, False), (1, "a", 1, True),
            # key 2: single current version
            (2, "b", 0, True),
            # key 3: current, will be unchanged by the batch
            (3, "c", 0, True),
        ],
        "k long, v string, version int, is_current boolean",
    )
    incoming = spark.createDataFrame(
        [(1, "a2"), (3, "c"), (9, "new")], "k long, v string"
    )
    out = upsert.upsert_scd2(existing, incoming, "k", ["v"]).collect()
    rows = {(r.k, r.version): (r.v, r.is_current) for r in out}
    assert len(out) == 6
    assert rows[(1, 0)] == ("a-old", False)  # closed history untouched
    assert rows[(1, 1)] == ("a", False)      # changed current is closed
    assert rows[(1, 2)] == ("a2", True)      # bumped version appended
    assert rows[(2, 0)] == ("b", True)       # untouched current key
    assert rows[(3, 0)] == ("c", True)       # no-op incoming row
    assert rows[(9, 0)] == ("new", True)     # brand-new key


def test_pq_encode_seeds_are_exact(spark, sf_dir):
    """A codebook seed vector quantizes to its own codeword in every
    subspace: codes = 'id,id,...,id' and recon_err == 0."""
    from mssql2monetdb_spark.catalog import load_table
    from mssql2monetdb_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    out = {r.vec_id: r for r in similarity.pq_encode(emb).collect()}
    for vid in range(similarity.PQ_KS):
        assert out[vid].codes == ",".join([str(vid)] * similarity.PQ_M)
        assert out[vid].recon_err == 0.0
    # non-seed vectors quantize with strictly positive error
    assert out[similarity.PQ_KS + 1].recon_err > 0.0


def test_pq_adc_excludes_self_and_ranks_seeds_first(spark, sf_dir):
    from mssql2monetdb_spark.catalog import load_table
    from mssql2monetdb_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    rows = similarity.topk_pq_adc(emb, [0, 1], k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert all(r.vec_id != q for r in rs)
        assert [r.rnk for r in rs] == [1, 2, 3]
        assert rs[0].adc_dist <= rs[1].adc_dist <= rs[2].adc_dist


def test_keep_best_in_cluster_survivors(spark):
    docs = spark.createDataFrame(
        [(1, 100), (2, 300), (3, 300), (4, 50), (5, 10)],
        "doc_id long, n_chars long",
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, component_id long"
    )
    out = {
        r.component_id: r
        for r in dedup.keep_best_in_cluster(docs, comps).collect()
    }
    assert len(out) == 3
    # quality tie between 2 and 3 -> smaller id wins
    assert out[1].survivor_id == 2 and out[1].survivor_quality == 300
    assert out[1].n_members == 3
    assert out[4].survivor_id == 4 and out[4].n_members == 1
    assert out[5].survivor_id == 5


def test_write_jsonl_shards_reproducible(spark, sf_dir, tmp_path):
    import glob
    import json

    from mssql2monetdb_spark.operators import corpus_prep

    docs = load_table(spark, sf_dir, "documents")
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    corpus_prep.write_jsonl_shards(docs, out1, n_shards=4)
    corpus_prep.write_jsonl_shards(docs, out2, n_shards=4)

    def read_all(d):
        rows = []
        for f in sorted(glob.glob(f"{d}/shard=*/part-*")):
            with open(f) as fh:
                rows.append(fh.read())
        return rows

    a, b = read_all(out1), read_all(out2)
    # one file per shard value (hash routing colocates, partitionBy names)
    assert len(a) == 4
    # deterministic hash routing + within-shard sort -> byte-identical runs
    assert a == b
    parsed = [json.loads(line) for chunk in a for line in chunk.splitlines()]
    assert len(parsed) == docs.count()
    assert {p["id"] for p in parsed} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }
    assert all(set(p) == {"id", "text"} for p in parsed[:5])


def test_chunk_dedup_invariants(spark, sf_dir):
    """Keep-first chunk dedup invariants: one survivor per distinct chunk
    text, removals never exceed chunks, kept text is a prefix-free
    reassembly (token count == kept chunks' tokens)."""
    from mssql2monetdb_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = dedup.chunk_exact_dedup(docs, size=8)
    from pyspark.sql import functions as F

    row = out.agg(
        F.sum("n_chunks").alias("chunks"),
        F.sum("n_removed").alias("removed"),
    ).first()
    # survivors = distinct chunk texts corpus-wide
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n_chunks = F.greatest(F.floor((F.size(toks) + 7) / 8), F.lit(1)).cast("int")
    e = docs.select(toks.alias("t"), F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("c"))
    distinct_chunks = (
        e.select(F.concat_ws(" ", F.slice(F.col("t"), (F.col("c") * 8 + 1).cast("int"), 8)).alias("ct"))
        .distinct()
        .count()
    )
    assert row["chunks"] - row["removed"] == distinct_chunks
    assert out.filter(F.col("n_removed") > F.col("n_chunks")).count() == 0
    assert out.filter((F.col("n_removed") == 0) & (F.col("kept_text") == "")).count() == 0


def test_inverted_index_invariants(spark, sf_dir):
    """df equals the number of distinct docs containing the gram; postings
    materialize exactly below the cap and list exactly df doc ids."""
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.catalog import load_table
    from mssql2monetdb_spark.operators import ranking

    docs = load_table(spark, sf_dir, "documents")
    idx = ranking.inverted_index(docs, df_cap=10)
    bad_null = idx.filter((F.col("df") <= 10) & F.col("postings").isNull())
    bad_mat = idx.filter((F.col("df") > 10) & F.col("postings").isNotNull())
    assert bad_null.count() == 0 and bad_mat.count() == 0
    mismatch = idx.filter(
        F.col("postings").isNotNull()
        & (F.size(F.split(F.col("postings"), ",")) != F.col("df"))
    )
    assert mismatch.count() == 0


def test_count_min_upper_bounds_every_key(spark):
    """CMS estimate >= true count for EVERY distinct key (the structural
    guarantee), and the sketch state never exceeds d x w rows."""
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.operators import sketch as sk

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    cms = sk.count_min_build(li, "l_partkey")
    assert cms.count() <= sk.CMS_DEPTH * sk.CMS_WIDTH
    truth = li.groupBy("l_partkey").count()
    est = sk.count_min_estimate(cms, truth.select("l_partkey"), "l_partkey")
    joined = truth.join(est, "l_partkey")
    assert joined.filter(F.col("cms_count") < F.col("count")).count() == 0
    # and the sketch is genuinely informative: most keys estimate exactly
    n = joined.count()
    exact = joined.filter(F.col("cms_count") == F.col("count")).count()
    assert exact > 0 and n > 0


def test_hll_estimate_within_expected_error(spark):
    """Raw HLL with m=64 has ~1.04/sqrt(m) = 13% standard error; pin the
    estimate within 3 sigma of truth for two different key columns."""
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.operators import sketch as sk

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    for key in ("o_custkey", "o_orderkey"):
        true = orders.select(key).distinct().count()
        est = sk.hll_estimate(sk.hll_registers(orders, key)).collect()[0][0]
        assert abs(est - true) / true < 3 * 1.04 / (sk.HLL_M ** 0.5), (key, est, true)


def test_hll_production_mode_matches_exact_within_tolerance(spark):
    """``exact_hashes=False`` (plain partial-aggregatable SUM over the 64
    register terms) must agree with the fixed-order fold up to float
    reassociation — last-ulp territory on a 64-term dyadic sum."""
    from mssql2monetdb_spark.operators import sketch as sk

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    regs = sk.hll_registers(orders, "o_custkey")
    exact = sk.hll_estimate(regs).collect()[0][0]
    prod = sk.hll_estimate(regs, exact_hashes=False).collect()[0][0]
    assert abs(exact - prod) / exact < 1e-12


def test_hll_registers_merge_by_max(spark):
    """HLL registers are mergeable with a plain MAX — the property that
    makes the sketch distributable: sketching two halves and merging
    equals sketching the whole."""
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.operators import sketch as sk

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    whole = sk.hll_registers(orders, "o_custkey")
    lo = sk.hll_registers(orders.filter(F.col("o_orderkey") % 2 == 0), "o_custkey")
    hi = sk.hll_registers(orders.filter(F.col("o_orderkey") % 2 == 1), "o_custkey")
    merged = lo.unionAll(hi).groupBy("bucket").agg(F.max("rho").alias("rho"))
    a = {(r["bucket"], r["rho"]) for r in whole.collect()}
    b = {(r["bucket"], r["rho"]) for r in merged.collect()}
    assert a == b and len(a) > 0


def test_jsonl_shards_round_trip_through_spark_reader(spark, sf_dir, tmp_path):
    """The JSONL export reads back losslessly through spark.read.json with
    an explicit schema (the loader-side contract of the shard format)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mssql2monetdb_spark.operators import corpus_prep

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "shards")
    corpus_prep.write_jsonl_shards(docs, out, n_shards=4)
    schema = StructType(
        [StructField("id", LongType()), StructField("text", StringType())]
    )
    back = spark.read.schema(schema).json(f"{out}/shard=*/")
    assert back.count() == docs.count()
    orig = {(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()}
    got = {(r["id"], r["text"]) for r in back.collect()}
    assert got == orig


def test_sketches_handle_empty_and_singleton_input(spark):
    """Edge inputs: an empty key stream yields empty sketch relations (no
    exceptions, no null rows); a single-key stream estimates exactly."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from mssql2monetdb_spark.operators import sketch as sk

    schema = StructType([StructField("k", LongType())])
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame([(7,)], schema)

    assert sk.count_min_build(empty, "k").count() == 0
    assert sk.bloom_build(empty, "k").count() == 0
    assert sk.hll_registers(empty, "k").count() == 0
    assert sk.quantile_histogram(empty, "k").count() == 0

    cms = sk.count_min_build(one, "k")
    est = sk.count_min_estimate(cms, one, "k").collect()
    assert est[0]["cms_count"] == 1
    probe = sk.bloom_probe(sk.bloom_build(one, "k"), one, "k").collect()
    assert probe[0]["maybe_present"] is True
    hll = sk.hll_estimate(sk.hll_registers(one, "k")).collect()[0][0]
    assert 0 < hll  # raw estimator; small-range bias expected, not a crash

    # Singleton / constant-valued histogram: width floors at 1e-9 instead
    # of producing floor(0/0) = NaN; the single value lands in bucket 0
    # and every quantile estimate stays finite.
    hist = sk.quantile_histogram(one, "k").collect()
    assert len(hist) == 1 and hist[0]["bucket"] == 0 and hist[0]["c"] == 1
    qs = sk.quantile_estimates(sk.quantile_histogram(one, "k"), [0.5, 0.9]).collect()
    assert len(qs) == 2
    for r in qs:
        assert r["est"] == r["est"]  # not NaN
        assert abs(r["est"] - 7.0) < 1e-6


def test_count_min_estimates_unseen_keys_as_zero(spark):
    """A probe key whose counters were never incremented must appear in
    the output with estimate 0 (left join + COALESCE), and a key with
    only partial collisions must not overshoot by taking MIN over only
    the colliding counters."""
    from pyspark.sql.types import LongType, StructField, StructType

    from mssql2monetdb_spark.operators import sketch as sk

    schema = StructType([StructField("k", LongType())])
    seen = spark.createDataFrame([(1,), (1,), (2,)], schema)
    cms = sk.count_min_build(seen, "k")
    probes = spark.createDataFrame([(1,), (999_999,)], schema)
    est = {r["k"]: r["cms_count"] for r in sk.count_min_estimate(cms, probes, "k").collect()}
    assert est[1] >= 2  # CMS upper bound on the true count
    assert 999_999 in est  # unseen key does NOT vanish from the output
    # an unseen key may collide into nonzero counters, but with 3 keys in
    # a 4x256 sketch a full-depth collision is (3/256)^4-improbable; the
    # contract being pinned is presence + the 0-when-untouched floor
    assert est[999_999] == 0


def test_bloom_probe_duplicate_probe_keys_no_false_negative(spark):
    """A genuinely-seen key repeated in the probes relation must still
    report maybe_present = True: the membership test compares
    matched-lookup-rows to total-lookup-rows, not to the literal k."""
    from pyspark.sql.types import LongType, StructField, StructType

    from mssql2monetdb_spark.operators import sketch as sk

    schema = StructType([StructField("k", LongType())])
    seen = spark.createDataFrame([(7,), (8,)], schema)
    bloom = sk.bloom_build(seen, "k")
    probes = spark.createDataFrame([(7,), (7,), (7,), (42,)], schema)
    got = {r["k"]: r["maybe_present"] for r in sk.bloom_probe(bloom, probes, "k").collect()}
    assert got[7] is True  # duplicated seen key: no false negative


def test_hll_oracle_sql_survives_max_rho_sentinel(spark):
    """The DuckDB oracle's dyadic term must use a BIGINT shift: the v = 0
    sentinel sets rho = HLL_MAX_RHO = 55, and a 32-bit `1 << 55` raises
    Out of Range in DuckDB. Run the oracle over a relation engineered to
    exercise a high rho register and compare against the Spark estimate."""
    import duckdb

    from mssql2monetdb_spark.operators import sketch as sk

    duckdb_conn = duckdb.connect()
    # 1 << rho for rho up to HLL_MAX_RHO must evaluate, not raise
    val = duckdb_conn.execute(
        f"SELECT 1.0 / (1::BIGINT << {sk.HLL_MAX_RHO})"
    ).fetchone()[0]
    assert val > 0
    # and the full oracle matches Spark on a small key stream
    import pandas as pd

    keys = pd.DataFrame({"k": list(range(100))})
    duckdb_conn.register("hll_keys", keys)
    oracle = duckdb_conn.execute(sk.hll_sql("hll_keys", "k")).fetchone()[0]
    sdf = spark.createDataFrame(keys)
    got = sk.hll_estimate(sk.hll_registers(sdf, "k")).collect()[0][0]
    assert abs(oracle - got) < 1e-9 * max(1.0, abs(oracle))


def test_pq_codebook_lloyd_refinement_reduces_error(spark, sf_dir):
    """Opt-in PQ codebook training (refine_iters): each Lloyd iteration can
    only lower the total reconstruction error vs the seeded codebook (the
    k-means objective is monotone non-increasing), and the default
    refine_iters=0 path is byte-identical to the seeded behavior the
    oracle-pinned queries rely on."""
    from pyspark.sql import functions as F

    from mssql2monetdb_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")

    def total_err(refine_iters):
        return (
            sim.pq_encode(emb, refine_iters=refine_iters)
            .agg(F.sum("recon_err"))
            .first()[0]
        )

    seeded = total_err(0)
    seeded_again = total_err(0)
    assert seeded == seeded_again  # deterministic default path

    one = total_err(1)
    two = total_err(2)
    assert one <= seeded * (1 + 1e-12)
    assert two <= one * (1 + 1e-12)
    # and refinement genuinely moves the objective on this data
    assert one < seeded


def test_pq_trained_preset_serves_same_contract(spark, sf_dir):
    """topk_pq_adc_trained (the production quality preset) returns the
    same (query_id, vec_id, adc_dist, rnk) contract as the oracle-pinned
    seeded path: k dense ranks per query, no self-matches. Recall lift is
    measured offline (scripts/ann_recall.py -> SCALE.md), not asserted
    here — it is data-dependent."""
    from mssql2monetdb_spark.operators import similarity as sim

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2]
    # small ks/refine on the tiny fixture keeps this a smoke test
    out = sim.topk_pq_adc_trained(emb, qids, ks=8, refine_iters=2, k=4).collect()
    by_q = {}
    for r in out:
        assert r["vec_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r["rnk"])
    assert set(by_q) == set(qids)
    assert all(sorted(v) == [1, 2, 3, 4] for v in by_q.values())


def test_chunk_overlap_short_doc_is_single_chunk(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    rows = [
        (1, "only three tokens"),  # < size
        (2, " ".join(f"w{i}" for i in range(32))),  # exactly size
        (3, ""),  # empty text -> [''] token -> one chunk of ''
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = corpus_prep.chunk_overlap(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert {len(v) for v in by_doc.values()} == {1}
    assert by_doc[1][0]["chunk_text"] == "only three tokens"
    assert by_doc[1][0]["n_tokens"] == 3
    assert by_doc[2][0]["n_tokens"] == 32
    assert by_doc[3][0]["chunk_text"] == "" and by_doc[3][0]["n_tokens"] == 1


def test_chunk_overlap_covers_every_token_with_expected_overlap(spark):
    from mssql2monetdb_spark.operators import corpus_prep

    n, size, stride = 100, 32, 24
    toks = [f"t{i:03d}" for i in range(n)]
    docs = spark.createDataFrame([(7, " ".join(toks))], "doc_id long, text string")
    out = sorted(
        corpus_prep.chunk_overlap(docs, size=size, stride=stride).collect(),
        key=lambda r: r["chunk_id"],
    )
    # chunk count: 1 + ceil((100 - 32) / 24) = 1 + 3 = 4
    assert [r["chunk_id"] for r in out] == [0, 1, 2, 3]
    seen = []
    for r in out:
        piece = r["chunk_text"].split(" ")
        assert piece == toks[r["chunk_id"] * stride : r["chunk_id"] * stride + size]
        assert r["n_tokens"] == len(piece)
        seen.extend(piece)
    # every token covered; consecutive full chunks overlap by size - stride
    assert set(seen) == set(toks)
    assert out[0]["chunk_text"].split(" ")[stride:] == out[1]["chunk_text"].split(" ")[: size - stride]


def test_tfidf_ranks_distinctive_term_above_ubiquitous(spark):
    from mssql2monetdb_spark.operators import ranking

    # 'common' appears in all 4 docs; 'zebra' only in doc 0. Within doc 0
    # both have tf=2, so idf must decide — zebra outranks common.
    rows = [
        (0, "zebra common zebra common filler0"),
        (1, "common common filler1 filler1b x1"),
        (2, "common filler2 y2 y2b y2c"),
        (3, "common filler3 z3 z3b z3c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = ranking.tfidf_top_terms(docs, k=3).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], {})[r["term"]] = r
    assert all(len(v) <= 3 for v in per_doc.values())
    d0 = per_doc[0]
    assert "zebra" in d0
    assert d0["zebra"]["df"] == 1 and d0["zebra"]["tf"] == 2
    assert d0["zebra"]["rank"] < d0.get("common", d0["zebra"])["rank"] or "common" not in d0
    # ranks are 1..k dense per doc
    for v in per_doc.values():
        assert sorted(r["rank"] for r in v.values()) == list(range(1, len(v) + 1))


def test_tfidf_broadcast_guard_paths_agree(spark):
    """The adaptive df-broadcast guard (round-4 VERDICT item 4): below the
    vocabulary-cardinality threshold the (term, df) relation rides a
    broadcast hint; above it the hint is dropped (keyed shuffle join on
    term once Spark's own size estimate also rules out broadcast, as it
    would for a 1e9-term relation). Output is identical either way."""
    from mssql2monetdb_spark.operators import ranking

    rows = [
        (0, "zebra common zebra common filler0"),
        (1, "common common filler1 filler1b x1"),
        (2, "common filler2 y2 y2b y2c"),
        (3, "common filler3 z3 z3b z3c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def plan(df):
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    hinted = ranking.tfidf_top_terms(docs, k=3)
    assert "BroadcastHashJoin" in plan(hinted)

    # above-threshold path: hint dropped; neutralize the planner's own
    # small-size broadcast (fixture relations are tiny) to expose the
    # shuffle join a genuinely overflowing vocabulary would get
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        unhinted = ranking.tfidf_top_terms(docs, k=3, broadcast_df_max_terms=0)
        p = plan(unhinted)
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
        a = sorted(map(tuple, hinted.collect()))
        b = sorted(map(tuple, unhinted.collect()))
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_setsim_exact_contains_every_minhash_pair(spark):
    """Recall certification: minhash_lsh_pairs verifies exact Jaccard on
    its LSH candidates, so every pair it reports truly clears 0.8 — the
    prefix-filter join (no false negatives by theorem) must contain all
    of them. The exact join is what certifies what banding missed."""
    from mssql2monetdb_spark.operators import dedup as _d

    docs = load_table(spark, SF, "documents")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in _d.setsim_prefix_pairs(docs).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"]) for r in _d.minhash_lsh_pairs(docs, shingle_n=3, threshold=0.8).collect()
    }
    assert exact, "fixture must yield qualifying pairs"
    assert approx <= set(exact)
    assert all(j >= 0.8 for j in exact.values())


def test_setsim_broadcast_guard_paths_agree(spark):
    """The shingle-df broadcast guard mirrors the tf-idf one: below the
    ceiling the (shingle, df) relation rides a broadcast hint; past it the
    hint is dropped and the global token ordering degrades to a keyed
    shuffle join — with BIT-IDENTICAL pairs either way (the guard only
    moves a join hint, never the rational threshold math)."""
    from mssql2monetdb_spark.operators import dedup as _d

    docs = load_table(spark, SF, "documents")

    def plan(df):
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    hinted = _d.setsim_prefix_pairs(docs)
    assert "BroadcastHashJoin" in plan(hinted)

    # above-threshold path: hint dropped; neutralize the planner's own
    # small-size broadcast (fixture relations are tiny) to expose the
    # shuffle join a genuinely overflowing shingle space would get
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        unhinted = _d.setsim_prefix_pairs(docs, broadcast_df_max_shingles=0)
        p = plan(unhinted)
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p
        a = sorted(map(tuple, hinted.collect()))
        b = sorted(map(tuple, unhinted.collect()))
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _md5_int32(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_linear_classifier_hand_computed(spark):
    """Single doc 'aa bb' -> features [aa, bb, 'aa bb']; weights derived
    via an independent hashlib reimplementation of the md5 recipe."""
    from mssql2monetdb_spark.operators import ranking

    docs = spark.createDataFrame([(1, "aa bb")], "doc_id bigint, text string")
    row = ranking.linear_classifier_scores(docs).collect()[0]

    def w(feat: str) -> int:
        b = _md5_int32(feat + "|" + ranking.CLS_SALT) % ranking.CLS_BUCKETS
        return (
            _md5_int32(str(b) + "|w" + ranking.CLS_SALT)
            % (2 * ranking.CLS_WEIGHT_SPAN + 1)
            - ranking.CLS_WEIGHT_SPAN
        )

    expected = w("aa") + w("bb") + w("aa bb")
    assert row["n_features"] == 3
    assert row["score_sum"] == expected
    assert row["keep"] == (expected > 0)


def test_importance_resample_single_doc_midpoint(spark):
    """Degenerate corpus (one doc): min == max, acceptance threshold falls
    back to the midpoint; the doc survives iff its salted draw <= 500."""
    from mssql2monetdb_spark.operators import corpus_prep

    docs = spark.createDataFrame([(7, "xx yy zz")], "doc_id bigint, text string")
    rows = corpus_prep.importance_resample(docs).collect()
    draw = _md5_int32("7|u" + corpus_prep.DSIR_SALT) % (corpus_prep.DSIR_SCALE + 1)
    if draw <= corpus_prep.DSIR_SCALE // 2:
        assert len(rows) == 1 and rows[0]["accept_scaled"] == 500
    else:
        assert rows == []


def test_importance_resample_extremes_kept_and_dropped(spark):
    """With two docs the min-importance doc gets accept_scaled 0 (kept only
    on draw 0) and the max doc gets 1000 (always kept)."""
    from mssql2monetdb_spark.operators import corpus_prep

    def imp(tokens):
        total = 0
        for x in tokens:
            b = _md5_int32(x + "|" + corpus_prep.DSIR_SALT) % corpus_prep.DSIR_BUCKETS
            t = _md5_int32(str(b) + "|t" + corpus_prep.DSIR_SALT) % 7
            s = _md5_int32(str(b) + "|s" + corpus_prep.DSIR_SALT) % 7
            total += t - s
        return total

    # find two single-token docs with different importance
    cands = [f"tok{i}" for i in range(50)]
    lo = min(cands, key=lambda c: imp([c]))
    hi = max(cands, key=lambda c: imp([c]))
    assert imp([lo]) < imp([hi])
    docs = spark.createDataFrame(
        [(1, lo), (2, hi)], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: r for r in corpus_prep.importance_resample(docs).collect()}
    draw1 = _md5_int32("1|u" + corpus_prep.DSIR_SALT) % 1001
    draw2 = _md5_int32("2|u" + corpus_prep.DSIR_SALT) % 1001
    assert (1 in out) == (draw1 == 0)
    assert 2 in out and out[2]["accept_scaled"] == corpus_prep.DSIR_SCALE
    if 1 in out:
        assert out[1]["accept_scaled"] == 0


def _lev(a: str, b: str) -> int:
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[len(b)]


def test_record_linkage_best_match_hand_computed(spark):
    """Perturbations recomputed independently via hashlib + a tiny DP
    Levenshtein; every A-record must link its true perturbed clone at the
    known edit distance (distinct names per block -> no confusable
    neighbors)."""
    from mssql2monetdb_spark.operators import dedup

    rows = [
        (1, "alpha#one", 1, 10.0, "SEG"),
        (2, "bravo#two", 1, 20.0, "SEG"),
        (3, "charlie#three", 2, 30.0, "SEG"),
    ]
    df = spark.createDataFrame(
        rows,
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string",
    )
    out = {r["a_key"]: r for r in dedup.record_linkage_blocked(df).collect()}

    def variant(key: int, name: str) -> str:
        v = _md5_int32(f"{key}|" + dedup.ER_SALT) % 3
        return name.replace("#", "-") if v == 0 else name + "x" if v == 1 else name

    for key, name, *_ in rows:
        expected = _lev(name, variant(key, name))
        assert expected <= 1
        assert out[key]["b_key"] == key
        assert out[key]["edit_dist"] == expected
        assert out[key]["matched_same_entity"]


def test_winnow_shared_substring_guarantee(spark):
    """Two docs sharing a substring longer than w+k-1 chars MUST share a
    selected fingerprint (the winnowing guarantee); disjoint docs share
    none; a doc shorter than k yields no fingerprints."""
    from mssql2monetdb_spark.operators import dedup

    shared = "thequickbrownfoxjumpsoverthelazydogagain"  # 40 chars, > 23
    docs = spark.createDataFrame(
        [
            (1, shared + " left tail entirely unlike the other"),
            (2, "different preamble material here " + shared),
            (3, "zz"),  # < k chars after normalization
            (4, "completely unrelated content with no overlap at all xyzw"),
        ],
        "doc_id bigint, text string",
    )
    pairs = dedup.winnow_fingerprint_pairs(docs, min_shared=1).collect()
    keys = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (1, 2) in keys
    assert all(3 not in p for p in keys)
    assert all(4 not in p for p in keys)


def test_weighted_sample_topk_is_weight_proportional(spark):
    """A-ES sanity: over many disjoint salts, items with weight 9 must be
    selected ~9x as often as weight-1 items (binomial bounds are loose on
    purpose); zero/negative weights are never selected; the sample is
    exactly k rows and reproducible."""
    from mssql2monetdb_spark.operators import corpus_prep

    rows = [(i, 9.0 if i < 10 else 1.0) for i in range(110)] + [
        (900, 0.0),
        (901, -3.0),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, w double")
    first = [
        r["doc_id"]
        for r in corpus_prep.weighted_sample_topk(df, 5, weight_col="w").collect()
    ]
    again = [
        r["doc_id"]
        for r in corpus_prep.weighted_sample_topk(df, 5, weight_col="w").collect()
    ]
    assert first == again and len(first) == 5
    assert not {900, 901} & set(first)

    heavy_hits = total = 0
    for trial in range(40):
        sel = corpus_prep.weighted_sample_topk(
            df, 5, weight_col="w", salt=f"t{trial}"
        ).collect()
        ids = [r["doc_id"] for r in sel]
        assert not {900, 901} & set(ids)
        heavy_hits += sum(1 for i in ids if i < 10)
        total += len(ids)
    # heavy items: 10 of 110 positive-weight rows but 90/190 of the mass;
    # expect ~47% of picks, binomial(200, .47) 3-sigma ~ [0.36, 0.58]
    share = heavy_hits / total
    assert 0.30 < share < 0.65, share


def test_winnow_short_identical_docs_do_not_pair(spark):
    """Regression (review catch): Spark sequence(1, 0) is the DESCENDING
    [1, 0], so without the size guard two docs with the same sub-k
    normalized text paired via a spurious whole-string fingerprint while
    the DuckDB oracle (empty generate_series) returned nothing."""
    from mssql2monetdb_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "zz!"), (2, "z z"), (3, "completely different long padding text here")],
        "doc_id bigint, text string",
    )
    assert dedup.winnow_fingerprint_pairs(docs, min_shared=1).count() == 0
