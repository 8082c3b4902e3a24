"""Sanity tests for content dedup + similarity operators: MinHash must
approximate true Jaccard, SimHash must find planted near-dups, and
LSH kNN must recover most exact neighbors."""

from __future__ import annotations
import pytest

from pyspark.sql import functions as F

from reddit_hn_etl_spark.operators import dedup, similarity

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank tonight"),  # near-dup of 1
    (3, "completely different text about spark dataframes and shuffle partitions"),
    (4, "completely different text about spark dataframes and shuffle partitions"),  # exact dup of 3
    (5, "unrelated musings on database query optimization and join ordering"),
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = dedup.dedup_exact(_docs_df(spark), ["text"], "doc_id").collect()
    groups = {r.keep_doc_id: r.dup_count for r in out}
    assert groups[3] == 2  # 3 & 4 identical, min id kept
    assert groups[1] == 1 and groups[2] == 1


def test_jaccard_pairs_finds_near_dup(spark):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(_docs_df(spark), "doc_id", "text", n=1, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.8
    assert (3, 4) in pairs and pairs[(3, 4)] == 1.0
    assert (1, 5) not in pairs


def test_prefix_filtered_jaccard_equals_full_join(spark):
    # Exactness contract: prefix filtering prunes candidates, never
    # the answer — identical pairs AND values at several thresholds.
    docs = spark.createDataFrame(
        DOCS + [(6, "the quick brown fox leaps over the lazy dog near the river bend today")],
        "doc_id long, text string",
    )
    for t in (0.2, 0.5, 0.8):
        full = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.jaccard_pairs(
                docs, "doc_id", "text", n=2, threshold=t
            ).collect()
        }
        pref = {
            (r.doc_a, r.doc_b): r.jaccard
            for r in dedup.jaccard_pairs_prefix(
                docs, "doc_id", "text", n=2, threshold=t
            ).collect()
        }
        assert full == pref
    assert full  # non-vacuous at the tightest threshold


def test_containment_is_asymmetric(spark):
    # Doc 6 is a strict prefix of doc 1: every unigram of 6 appears in
    # 1 (containment 6→1 = 1.0) but 1 has many tokens 6 lacks, so the
    # reverse direction stays below 0.5.
    docs = spark.createDataFrame(
        DOCS + [(6, "the quick brown fox jumps")], "doc_id long, text string"
    )
    pairs = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.containment_pairs(
            docs, "doc_id", "text", n=1, threshold=0.5
        ).collect()
    }
    assert pairs[(6, 1)] == 1.0
    assert (1, 6) not in pairs
    # Exact dups are fully contained in BOTH directions.
    assert pairs[(3, 4)] == 1.0 and pairs[(4, 3)] == 1.0


def test_tf_cosine_sees_frequency_jaccard_misses(spark):
    # Identical token SETS (unigram Jaccard would be 1.0) but opposite
    # frequency profiles: tf vectors (3,1) vs (1,3) → cos = 6/10.
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark shuffle"),
            (2, "spark shuffle shuffle shuffle"),
            (3, "spark spark spark shuffle"),  # exact dup of 1
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.cosine_tf
        for r in similarity.tf_cosine_pairs(
            docs, "doc_id", "text", n=1, threshold=0.5
        ).collect()
    }
    assert pairs[(1, 2)] == 0.6
    assert pairs[(1, 3)] == 1.0
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(
            docs, "doc_id", "text", n=1, threshold=0.5
        ).collect()
    }
    assert jac[(1, 2)] == 1.0  # the set view cannot tell 1-2 from 1-3


def test_minhash_estimates_jaccard(spark):
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(
            _docs_df(spark), "doc_id", "text",
            num_hashes=64, bands=32, shingle_n=1, threshold=0.3,
        ).collect()
    }
    assert (3, 4) in est and est[(3, 4)] == 1.0
    assert (1, 2) in est and est[(1, 2)] > 0.6  # true jaccard ≈ 0.86


@pytest.mark.exhaustive
def test_incremental_equals_full_cross_pairs(spark):
    """For any old/new corpus split, matching the new batch against
    the old batch's persisted index must yield EXACTLY the full run's
    cross-split pairs, with identical estimates — batch-incremental
    processing loses nothing vs recomputing the corpus."""
    df = _docs_df(spark)
    kw = dict(num_hashes=64, bands=32, shingle_n=1)
    full = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.3, **kw
        ).collect()
    }
    old = df.where(F.col("doc_id") <= 3)
    new = df.where(F.col("doc_id") > 3)
    idx = dedup.minhash_index(old, "doc_id", "text", **kw)
    inc = {
        tuple(sorted((r.doc_old, r.doc_new))): r.est_jaccard
        for r in dedup.minhash_pairs_against_index(
            new, idx, "doc_id", "text", threshold=0.3, **kw
        ).collect()
    }
    cross = {
        p: j for p, j in full.items() if (p[0] <= 3) != (p[1] <= 3)
    }
    assert inc == cross
    assert inc  # non-vacuous: the (3, 4) exact dup straddles the split


@pytest.mark.exhaustive
def test_minhash_index_parquet_roundtrip(spark, tmp_path):
    """The index survives a parquet write/read partitioned by band
    (the layout the incremental join partition-prunes against)."""
    df = _docs_df(spark)
    kw = dict(num_hashes=64, bands=32, shingle_n=1)
    idx = dedup.minhash_index(
        df.where(F.col("doc_id") <= 3), "doc_id", "text", **kw
    )
    path = str(tmp_path / "minhash_index")
    idx.write.partitionBy("band").parquet(path)
    reloaded = spark.read.parquet(path)
    live = {
        (r.doc_old, r.doc_new): r.est_jaccard
        for r in dedup.minhash_pairs_against_index(
            df.where(F.col("doc_id") > 3), idx, "doc_id", "text",
            threshold=0.3, **kw
        ).collect()
    }
    persisted = {
        (r.doc_old, r.doc_new): r.est_jaccard
        for r in dedup.minhash_pairs_against_index(
            df.where(F.col("doc_id") > 3), reloaded, "doc_id", "text",
            threshold=0.3, **kw
        ).collect()
    }
    assert persisted == live and persisted
    # the layout claim itself: a band-predicate read must prune at
    # the PARTITION level (PartitionFilters on band, not a post-scan
    # filter) — this is what makes the incremental probe touch only
    # matched band directories at 100 TB index size
    pruned = reloaded.where(F.col("band") == 7)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "band" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    assert pruned.count() == 3  # one row per indexed doc in band 7


def test_simhash_near_pairs(spark):
    fps = {r.doc_id: r.simhash for r in dedup.simhash(_docs_df(spark), "doc_id", "text").collect()}
    assert fps[3] == fps[4]  # identical docs → identical fingerprints
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        # blocks must exceed max_hamming for the pigeonhole recall
        # guarantee (r9 assert); 32 2-bit chunks are fine at test size
        for r in dedup.simhash_near_pairs(
            _docs_df(spark), "doc_id", "text", max_hamming=16, blocks=32
        ).collect()
    }
    assert pairs[(3, 4)] == 0
    assert (1, 2) in pairs  # near-dup within hamming budget


def test_lsh_knn_recall_against_bruteforce(spark, sf_dir):
    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.knn_cosine_bruteforce(emb, queries, k=10)
    # 4 hyperplanes/table keeps the per-table collision probability
    # usable for mid-similarity neighbors ((1-θ/π)^4); 8 tables for
    # recall. More planes = finer buckets = cheaper but lower recall.
    approx = similarity.knn_cosine_lsh(
        emb, queries, dim=64, k=10, n_planes=4, n_tables=8
    )
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_grid_pairs_match_collect_kernel(spark, sf_dir):
    """The distributed grid kernel must emit EXACTLY the pairs of the
    collect/broadcast kernel (same normalized-float64 GEMM math)."""
    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    grid = {
        (r.vec_a, r.vec_b): r.cosine_sim
        for r in similarity.cosine_pairs_grid(
            emb, threshold=0.35, n_blocks=4
        ).collect()
    }
    blocked = {
        (r.vec_a, r.vec_b): r.cosine_sim
        for r in similarity.cosine_pairs_blocked(
            emb, threshold=0.35
        ).collect()
    }
    assert grid == blocked
    assert len(grid) > 0


def test_blocked_kernel_size_guard(spark, sf_dir):
    import pytest

    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="max_rows"):
        similarity.cosine_pairs_blocked(emb, threshold=0.35, max_rows=5)


def test_ivf_query_side_size_guard(spark, sf_dir):
    """knn_cosine_ivf driver-collects the QUERY set for probe-list
    construction; the guard must fail loudly (not OOM silently) when
    the query set exceeds max_query_rows — same contract as the
    blocked-kernel corpus guard above."""
    import pytest
    from pyspark.sql import functions as F  # noqa: F811

    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.knn_cosine_ivf(
            emb, queries, dim=16, k=3, max_query_rows=2
        )


def test_ivf_knn_recall_against_bruteforce(spark, sf_dir):
    from pyspark.sql import functions as F  # noqa: F811

    from reddit_hn_etl_spark.operators.similarity import (
        knn_cosine_bruteforce,
        knn_cosine_ivf,
    )
    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = knn_cosine_bruteforce(emb, queries, k=10)
    approx = knn_cosine_ivf(
        emb, queries, dim=64, k=10, n_cells=8, n_probe=4, iters=2
    )
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_distributed_equals_collected(spark, sf_dir):
    """distributed_queries=True (executor-side probe assignment, one
    shuffle join on cell) must return EXACTLY the collected path's
    rows: same centroids, same (-sim, index) probe tie-break (stable
    argsort on -sims both sides), Spark-side l2_norm for the query
    norm so the cosine is bit-identical."""
    from pyspark.sql import functions as F  # noqa: F811

    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = similarity.knn_cosine_ivf(
        emb, q, dim=64, k=10, n_cells=24, n_probe=6, iters=3
    )
    b = similarity.knn_cosine_ivf(
        emb, q, dim=64, k=10, n_cells=24, n_probe=6, iters=3,
        distributed_queries=True,
    )
    sa = {tuple(r) for r in a.collect()}
    sb = {tuple(r) for r in b.collect()}
    assert sa == sb and len(sa) == 200


def test_ivf_distributed_handles_corpus_scale_queries(spark, sf_dir):
    """The kNN-join regime: a query set far over max_query_rows runs
    through the distributed path (which never counts or collects the
    queries) instead of raising — the documented corpus-scale
    alternative to the guard."""
    from pyspark.sql import functions as F  # noqa: F811

    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.knn_cosine_ivf(
        emb, queries, dim=64, k=3, n_cells=16, n_probe=8, iters=1,
        max_query_rows=2, distributed_queries=True,
    )
    got = out.groupBy("query_id").count()
    n_q = queries.count()
    assert got.count() == n_q  # every query produced neighbors
    # self-retrieval is structural: a vector's own cell is always
    # its first probe, so (q, q) is in every top-3
    self_rows = out.where(F.col("query_id") == F.col("vec_id")).count()
    assert self_rows == n_q


def test_ivf_nprobe_clamped_to_ncells(spark, sf_dir):
    """ADVICE r10: n_probe > n_cells crashed the distributed path
    with an opaque pandas length mismatch (argsort yields only
    n_cells columns) while the collected path degraded gracefully.
    Reachable with explicit n_cells=2 and auto n_probe (=4). Both
    paths must clamp and agree — probing every cell is exact kNN."""
    from pyspark.sql import functions as F  # noqa: F811

    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = similarity.knn_cosine_ivf(
        emb, q, dim=64, k=5, n_cells=2, n_probe="auto", iters=1
    )
    b = similarity.knn_cosine_ivf(
        emb, q, dim=64, k=5, n_cells=2, n_probe="auto", iters=1,
        distributed_queries=True,
    )
    exact = similarity.knn_cosine_bruteforce(emb, q, k=5)
    sa = {(r.query_id, r.vec_id) for r in a.collect()}
    sb = {(r.query_id, r.vec_id) for r in b.collect()}
    se = {(r.query_id, r.vec_id) for r in exact.collect()}
    assert sa == sb == se and len(sa) == 25


def test_embedding_knn_join_measured_floor(spark, sf_dir):
    """Pins the MEASURED recall floor of the embedding_knn_join
    regime (ADVICE r10): the registry differential asserts only the
    STRUCTURAL floor (hits >= 1, self-retrieval), because the
    measured minimum is exactly 2 — zero margin, data-dependent. The
    margin assumption lives HERE, pinned to the current testdata and
    the auto √N-cells / quarter-probe operating point (iters=3), so a
    future data regen or sizing change fails one named test instead
    of the registry-wide differential."""
    from reddit_hn_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.knn_cosine_bruteforce(emb, queries, k=10).select(
        "query_id", "vec_id"
    )
    approx = similarity.knn_cosine_ivf(
        emb, queries, dim=64, k=10, iters=3, distributed_queries=True
    ).select("query_id", "vec_id")
    hits = (
        exact.join(approx, ["query_id", "vec_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("hits"))
    )
    row = hits.agg(
        F.min("hits").alias("mn"), F.avg("hits").alias("mean")
    ).collect()[0]
    assert row.mn >= 2, f"measured floor regressed: min hits {row.mn}"
    assert row.mean >= 5.0, f"measured mean regressed: {row.mean}"


def test_embedding_knn_join_registry_sentinel_row(spark, sf_dir):
    """ADVICE r11: the registry query carries ONE driver-visible
    measured signal — a query_id=-1 sentinel row asserting mean hits
    >= 4/10 (measured 8.5-8.7 at every SF since the half-probe auto;
    the per-query rows keep the structural >= 1 floor). Pins that the
    sentinel exists, is unique, is TRUE on healthy data, and that the
    rollup emits exactly N+1 rows."""
    from reddit_hn_etl_spark.plans.queries import QUERIES
    from reddit_hn_etl_spark.sources.tables import read_table

    out = QUERIES["embedding_knn_join"](spark, sf_dir).collect()
    n_emb = read_table(spark, sf_dir, "embeddings").count()
    assert len(out) == n_emb + 1
    sentinels = [r for r in out if r.query_id == -1]
    assert len(sentinels) == 1 and sentinels[0].recall_ok is True
    assert all(r.recall_ok for r in out)


def test_fan_out_narrow_input(spark):
    from reddit_hn_etl_spark.operators.dedup import fan_out_narrow_input

    target = spark.sparkContext.defaultParallelism
    narrow = spark.range(100).coalesce(1)
    assert fan_out_narrow_input(narrow).rdd.getNumPartitions() == target
    wide = spark.range(100).repartition(target + 4)
    # already wider than the cluster → untouched (no extra shuffle)
    assert fan_out_narrow_input(wide).rdd.getNumPartitions() == target + 4
    # results are partition-invariant
    assert sorted(
        r.id for r in fan_out_narrow_input(narrow).collect()
    ) == list(range(100))


def test_duplicate_spans_planted(spark):
    """Two docs share one 7-token passage (k=5 → 3 consecutive gram
    starts merge into ONE maximal span per doc, exact offsets); a
    third doc has no 5-gram in common with anyone."""
    shared = "alpha bravo charlie delta echo foxtrot golf"
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five"),
            (2, f"{shared} six seven eight nine ten"),
            (3, "eleven twelve thirteen fourteen fifteen sixteen"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in dedup.duplicate_spans(docs, "doc_id", "text", k=5).collect()
    }
    # doc 1: shared passage starts at token 3 (0-based), 7 tokens.
    # doc 2: starts at 0. doc 3: absent.
    assert spans == {(1, 3, 9, 7), (2, 0, 6, 7)}


def test_duplicate_spans_within_doc_repeat_not_flagged(spark):
    """min_docs=2 counts DISTINCT documents: a passage repeated twice
    inside one doc but appearing nowhere else stays unflagged."""
    rep = "red orange yellow green blue"
    docs = spark.createDataFrame(
        [
            (1, f"{rep} stop {rep}"),
            (2, "purple magenta cyan teal olive maroon"),
        ],
        "doc_id long, text string",
    )
    assert dedup.duplicate_spans(docs, "doc_id", "text", k=5).count() == 0


def test_remove_duplicate_spans_planted(spark):
    """r9 ExactSubstr removal: the shared 7-token passage is excised
    from BOTH docs (exact surviving text pinned), the unique doc is
    untouched, a doc that is ENTIRELY a duplicate trims to empty but
    keeps its row, and a token-free doc survives with n_tokens=0."""
    shared = "alpha bravo charlie delta echo foxtrot golf"
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five"),
            (2, f"{shared} six seven eight nine ten"),
            (3, "eleven twelve thirteen fourteen fifteen sixteen"),
            (4, shared),  # pure duplicate -> empty survivor
            (5, "   "),  # no tokens at all
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_tokens_removed)
        for r in dedup.remove_duplicate_spans(
            docs, "doc_id", "text", k=5
        ).collect()
    }
    assert got[1] == ("one two three four five", 12, 7)
    assert got[2] == ("six seven eight nine ten", 12, 7)
    assert got[3] == (
        "eleven twelve thirteen fourteen fifteen sixteen", 6, 0
    )
    assert got[4] == ("", 7, 7)
    assert got[5] == ("", 0, 0)
    assert set(got) == {1, 2, 3, 4, 5}  # no row dropped
    # idempotence: a second pass removes nothing more
    once = dedup.remove_duplicate_spans(docs, "doc_id", "text", k=5)
    twice = dedup.remove_duplicate_spans(
        once.select("doc_id", F.col("cleaned_text").alias("text")),
        "doc_id",
        "text",
        k=5,
    )
    assert twice.agg(F.sum("n_tokens_removed")).first()[0] == 0


def test_incremental_trim_equals_full(spark):
    """r9 growing-corpus ExactSubstr: trimming a batch against the
    persisted gram_index of the already-ingested corpus equals the
    full-corpus remove_duplicate_spans restricted to the batch —
    batch-vs-corpus, batch-internal, AND corpus-internal-only
    duplication all resolve identically (disjoint ids). Also pins
    merge_gram_index: index ∪ batch grams == index built from the
    union."""
    shared = "alpha bravo charlie delta echo foxtrot golf"
    batch_dup = "hotel india juliet kilo lima"
    corpus = spark.createDataFrame(
        [
            (0, f"one two {shared} three"),
            (2, "unique0 unique1 unique2 unique3 unique4 unique5"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, f"{shared} four five six seven"),  # dup vs corpus
            (3, f"{batch_dup} mid0 {batch_dup} tail"),  # within-doc
            (5, f"x0 {batch_dup} x1"),  # dup vs another batch doc
            (7, "lone0 lone1 lone2 lone3 lone4 lone5"),
        ],
        "doc_id long, text string",
    )
    idx = dedup.gram_index(corpus, "doc_id", "text", k=5)
    inc = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_tokens_removed)
        for r in dedup.trim_batch_against_index(
            batch, idx, "doc_id", "text", k=5
        ).collect()
    }
    full = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_tokens_removed)
        for r in dedup.remove_duplicate_spans(
            corpus.unionByName(batch), "doc_id", "text", k=5
        ).collect()
        if r.doc_id in {1, 3, 5, 7}
    }
    assert inc == full
    assert inc[1] == ("four five six seven", 11, 7)
    assert inc[7][2] == 0  # untouched
    # within-doc repeat in 3 and cross-batch dup in 5 both trimmed
    assert inc[3][2] >= 10 and inc[5][2] == 5

    merged = dedup.merge_gram_index(
        idx, dedup.gram_index(batch, "doc_id", "text", k=5)
    )
    rebuilt = dedup.gram_index(
        corpus.unionByName(batch), "doc_id", "text", k=5
    )
    a = {(r.h, r.n_docs) for r in merged.collect()}
    b = {(r.h, r.n_docs) for r in rebuilt.collect()}
    assert a == b


def test_semantic_dedup_planted_clusters(spark):
    """Three planted groups: two near-identical pairs (same cell,
    cosine ≈ 1) and one isolated vector — reps are the min ids, the
    singleton is its own rep."""
    from reddit_hn_etl_spark.operators.similarity import (
        random_hyperplanes,
        semantic_dedup,
    )

    base_a = [1.0, 0.0, 0.5, 0.2]
    base_b = [-1.0, 0.3, -0.7, 0.1]
    lone = [0.0, -1.0, 0.9, -0.8]
    eps = [x + 0.001 for x in base_a]
    eps_b = [x - 0.001 for x in base_b]
    vecs = [(1, base_a), (2, eps), (3, base_b), (4, eps_b), (5, lone)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    planes = random_hyperplanes(dim=4, n_planes=3, seed=11)
    out = {
        r.vec_id: (r.component, r.is_rep)
        for r in semantic_dedup(
            df, planes, threshold=0.99
        ).collect()
    }
    assert out == {
        1: (1, True),
        2: (1, False),
        3: (3, True),
        4: (3, False),
        5: (5, True),
    }


def test_jaccard_pairs_cross_equals_filtered_full(spark):
    """The r6 cross-sides exact join (the decontamination shape)
    returns exactly the cross-parity subset of the full all-pairs
    join — same pairs, same jaccard values — while never scoring a
    same-side pair."""
    docs = _docs_df(spark)
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(
            docs, "doc_id", "text", n=1, threshold=0.2
        ).collect()
        if (r.doc_a % 2) != (r.doc_b % 2)
    }
    cross = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b)): r.jaccard
        for r in dedup.jaccard_pairs_cross(
            a, b, "doc_id", "text", n=1, threshold=0.2
        ).collect()
    }
    assert cross == full and cross


_PAIR_OPS = {
    "jaccard_pairs": lambda d: dedup.jaccard_pairs(d, "doc_id", "text"),
    "jaccard_pairs_df_cap": lambda d: dedup.jaccard_pairs(
        d, "doc_id", "text", df_cap=2
    ),
    "containment_pairs": lambda d: dedup.containment_pairs(d, "doc_id", "text"),
    "tf_cosine_pairs": lambda d: similarity.tf_cosine_pairs(d, "doc_id", "text"),
}


@pytest.mark.parametrize("op", sorted(_PAIR_OPS))
def test_pair_kernel_postings_are_64_bit_and_unhinted(spark, op):
    """The self-join pair ops share one kernel: the materialised
    postings (the LogicalRDD leaves of the analyzed plan) hold only
    64-bit columns — doc id, xxhash64 key and, for tf, the count — and
    no join carries a forced broadcast hint, so AQE picks the strategy
    for the docs-sized re-attach and the df_cap banned set."""
    docs = spark.sql(
        "SELECT * FROM VALUES "
        + ", ".join(f"({i}L, '{t}')" for i, t in DOCS)
        + " AS t(doc_id, text)"
    )
    analyzed = _PAIR_OPS[op](docs)._jdf.queryExecution().analyzed()
    leaves = analyzed.collectLeaves()
    postings = [
        leaves.apply(i)
        for i in range(leaves.length())
        if leaves.apply(i).nodeName() == "LogicalRDD"
    ]
    assert postings
    for leaf in postings:
        out = leaf.output()
        types = {
            out.apply(i).name(): out.apply(i).dataType().simpleString()
            for i in range(out.length())
        }
        assert set(types.values()) == {"bigint"}, types
    assert "strategy=broadcast" not in analyzed.toString()


@pytest.mark.exhaustive
def test_ngram_array_doubling_equals_linear(spark):
    """The binary-doubling n-gram builder is value-identical to the
    linear-chain `ngram_array` at every n, and still analyzes at
    n ~ 100 where the linear chain trips the analyzer's fixed-point
    cap (the reason it exists)."""
    rows = [
        (0, " ".join(f"t{i % 7}" for i in range(120))),
        (1, "a b c"),
        (2, "solo"),
        (3, "x " * 99),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = dedup.tokens("text")
    for n in (1, 2, 3, 4, 5, 7, 8, 9, 16, 31, 33):
        lin = df.select(
            "doc_id", dedup.ngram_array(toks, n).alias("g")
        ).collect()
        dbl = df.select(
            "doc_id", dedup.ngram_array_doubling(toks, n).alias("g")
        ).collect()
        assert {r.doc_id: r.g for r in lin} == {
            r.doc_id: r.g for r in dbl
        }, n
    # n=99 must analyze and produce exactly size-98 grams per doc
    big = df.select(
        "doc_id", F.size(dedup.ngram_array_doubling(toks, 99)).alias("k")
    ).collect()
    assert {r.doc_id: r.k for r in big} == {0: 22, 1: 0, 2: 0, 3: 1}


@pytest.mark.exhaustive
def test_longest_repeated_span_planted(spark):
    """Binary search recovers the EXACT planted maximum: doc pairs
    share runs of known lengths (17, 31, and 60 tokens — 60 planted
    twice); filler tokens are globally unique so nothing else
    repeats. Also: the unique-corpus case returns 0, and min_docs=3
    sees only the triple-planted span."""
    shared60 = " ".join(f"s{i}" for i in range(60))
    shared31 = " ".join(f"u{i}" for i in range(31))
    shared17 = " ".join(f"v{i}" for i in range(17))
    mk = lambda i, body: (i, f"f{i}a f{i}b {body} f{i}c")
    rows = [
        mk(0, shared60), mk(1, shared60), mk(2, shared60),
        mk(3, shared31), mk(4, shared31),
        mk(5, shared17), mk(6, shared17),
        (7, "w1 w2 w3 w4 w5"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert dedup.longest_repeated_span_length(df, "doc_id", "text") == 60
    assert (
        dedup.longest_repeated_span_length(df, "doc_id", "text", min_docs=3)
        == 60
    )
    assert (
        dedup.longest_repeated_span_length(df, "doc_id", "text", min_docs=4)
        == 0
    )
    spans = dedup.repeated_spans_at(df, "doc_id", "text", 60).collect()
    assert len(spans) == 1
    assert spans[0].span == shared60 and spans[0].n_docs == 3
    # unique corpus -> 0
    uniq = spark.createDataFrame(
        [(i, f"q{i}x q{i}y q{i}z") for i in range(4)],
        "doc_id long, text string",
    )
    assert dedup.longest_repeated_span_length(uniq, "doc_id", "text") == 0


@pytest.mark.exhaustive
def test_longest_repeated_span_min_count_within_doc(spark):
    """r9 occurrence mode: a 40-token template pasted three times
    into ONE document is invisible to distinct-doc counting but is
    exactly what min_count sees (the suffix-array diagnostic's
    native semantics). A 12-token span shared across two docs is the
    distinct-doc answer; occurrence thresholds walk the planted
    ladder: >=2 occurrences -> 40+overlap? no — fillers between
    copies break longer spans, so min_count=2 and 3 both find the
    40-token template, min_count=4 falls back to the 12-token span
    (2 cross-doc + filler-free overlap cannot reach 4)."""
    tpl = " ".join(f"t{i}" for i in range(40))
    cross = " ".join(f"c{i}" for i in range(12))
    rows = [
        (0, f"a0 {tpl} a1 {tpl} a2 {tpl} a3"),
        (1, f"b0 {cross} b1 {cross} b2"),
        (2, f"d0 {cross} d1"),
        (3, "e0 e1 e2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # distinct-doc mode can't see the within-doc template
    assert dedup.longest_repeated_span_length(df, "doc_id", "text") == 12
    assert (
        dedup.longest_repeated_span_length(df, "doc_id", "text", min_count=2)
        == 40
    )
    assert (
        dedup.longest_repeated_span_length(df, "doc_id", "text", min_count=3)
        == 40
    )
    # cross appears 3 times total (2 in doc 1 + 1 in doc 2); tpl 3
    # times — nothing reaches 4 except short grams... the longest
    # 4-occurrence span is whatever sub-span overlap allows: none of
    # the planted spans repeat 4 times, so the answer drops below 12
    got4 = dedup.longest_repeated_span_length(
        df, "doc_id", "text", min_count=4
    )
    assert got4 < 12
    spans = dedup.repeated_spans_at(
        df, "doc_id", "text", 40, min_count=3
    ).collect()
    assert len(spans) == 1
    assert spans[0].span == tpl
    assert spans[0].n_docs == 1 and spans[0].n_occurrences == 3


def test_hamming_near_pairs_generic_over_phash(spark):
    """The pigeonhole pairing generalized from simhash works over the
    DCT perceptual hash: brightness-shifted pattern twins land at
    hamming 0, a deliberately corrupted fingerprint at small hamming
    is still FOUND (pigeonhole guarantee for d <= blocks-1), and
    unrelated patterns are not paired. Differential: results equal
    the brute-force all-pairs filter."""
    from reddit_hn_etl_spark.functions.multimodal import (
        perceptual_hash,
        synth_bmp_phash_pattern,
    )

    rows = [
        (i, bytearray(synth_bmp_phash_pattern(g, s)))
        for i, (g, s) in enumerate(
            [(0, 0), (0, 5), (1, 0), (1, 3), (2, 0), (3, 0), (4, 0)]
        )
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    fps = perceptual_hash(df)
    # flip 2 bits of one group-0 twin: still within max_hamming=3
    fps = fps.withColumn(
        "phash",
        F.when(
            F.col("media_id") == 1,
            F.col("phash").bitwiseXOR(F.lit(0b101).cast("long")),
        ).otherwise(F.col("phash")),
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.hamming_near_pairs(
            fps, "media_id", "phash", max_hamming=3, blocks=4
        ).collect()
    }
    brute = {}
    fp = {r.media_id: r.phash for r in fps.collect()}
    for a in fp:
        for b in fp:
            if a < b:
                d = bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1")
                if d <= 3:
                    brute[(a, b)] = d
    assert got == brute
    assert got[(0, 1)] == 2  # corrupted twin still found
    assert got[(2, 3)] == 0  # exact group twin
