"""Deduplication operators: exact key, keep-last, and content dedup.

Reference semantics (SURVEY.md §2.5):
  * A6 `drop_duplicates(subset=["id"], keep="last")`
    (`src/transform/hn_transform.py:109-111`) — pandas keeps the last
    occurrence *in file order*. File order is not stable in a
    distributed engine, so our keep-last takes an explicit ordering
    (SURVEY.md §7.3d) — callers pass e.g. ``extracted_at`` plus a
    unique tiebreaker.
  * A5 duplicate *detection* via GROUP BY key HAVING COUNT(*) > 1
    (`sql/load/04_checks.sql:5-8`) lives in operators/checks.py.

North-star content dedup (exact hash, MinHash-LSH, SimHash, n-gram
Jaccard) for LLM-data pipelines is in this module too — all built on
shuffle-lean groupBy/join plans, no Python row UDFs. MinHash/SimHash
aggregate per-position with plain ``min``/``sum`` expressions so Spark
does map-side partial aggregation (no collect_list memory blowup at
100 TB).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_last(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[str | Column]
) -> DataFrame:
    """Keep, per key group, the single row that sorts LAST by ``order_by``.

    Deterministic replacement for pandas ``keep="last"``
    (`src/transform/hn_transform.py:109-111`): the caller supplies the
    order; pass a unique tiebreaker (e.g. a surrogate id) as the final
    order column for full determinism.

    Plan: single hash shuffle on ``keys`` + per-partition sort
    (window ``row_number``) — no global sort. Skewed hot keys are
    handled by AQE at scale.
    """
    ordering = [
        c.desc() if isinstance(c, Column) else F.col(c).desc() for c in order_by
    ]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*ordering)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_exact(
    df: DataFrame,
    content_cols: Sequence[str],
    id_col: str,
) -> DataFrame:
    """Exact content dedup: keep the min-id row per identical content.

    Content identity is md5 over the concatenated columns (cheap,
    JVM-side, stable across engines). Returns one row per distinct
    content: (content_hash, keep_<id_col>, dup_count).

    Plan: map-side partial agg then one shuffle on the 128-bit hash —
    the canonical web-scale exact-dedup shape.
    """
    h = F.md5(F.concat_ws(" ", *[F.col(c) for c in content_cols]))
    return (
        df.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias(f"keep_{id_col}"),
            F.count("*").alias("dup_count"),
        )
    )


def fan_out_narrow_input(df: DataFrame) -> DataFrame:
    """Fan a narrow input out to the session's default parallelism.

    The shingle/token/signature stages below are CPU-bound
    projections: their parallelism is the INPUT partitioning, not
    ``spark.sql.shuffle.partitions``. A small single-file corpus
    enters as 1 partition and serializes the whole explode onto one
    core (measured 16s → 2s at sf0.1). Any real corpus already enters
    with many partitions and passes through untouched — the
    repartition only fires when the input is narrower than the
    cluster, and shuffling a narrow input is by definition cheap.
    Results are partition-invariant either way.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def tokens(text_col: str | Column, lowercase: bool = True) -> Column:
    """Whitespace tokenization as an array column (no ghost empties)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    if lowercase:
        col = F.lower(col)
    toks = F.split(F.trim(col), r"\s+")
    return F.filter(toks, lambda t: t != "")


def ngram_array(toks: Column, n: int) -> Column:
    """Array of the ``size − n + 1`` space-joined word n-grams, built
    by zip_with over shifted slices; ``n == 1`` is the tokens
    themselves. Deliberately NOT
    ``transform(idx, i -> ... slice(toks, i+1, n))``: a lambda that
    captures the outer array forces the downstream explode off the
    whole-stage-codegen path (measured 6× slower at sf0.1 —
    doc_bigram_lm_logprob went 9.0s → 1.9s on this rewrite alone)."""
    if n == 1:
        return toks
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, k)
    for j in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, 1 + j, k),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return out


def ngram_array_doubling(toks: Column, n: int) -> Column:
    """`ngram_array` for LARGE n: the same zip_with/concat
    construction, but composed by BINARY DOUBLING — G_{2k}[i] =
    G_k[i] ⧺ G_k[i+k], then n assembled from its set bits — so the
    expression tree is O(log n) zip_withs deep instead of n−1.
    The linear chain trips the analyzer's fixed-point iteration cap
    (~100) near n ≈ 100; this builds 99-grams in 12 layers. Values
    are IDENTICAL to `ngram_array`; registered small-n queries keep
    the original to leave their audited plans untouched."""
    if n <= 1:
        return F.filter(toks, lambda t: t.isNotNull())
    pow2: dict[int, Column] = {1: toks}
    k = 1
    while k * 2 <= n:
        pow2[k * 2] = F.zip_with(
            pow2[k],
            F.slice(pow2[k], 1 + k, F.greatest(F.size(toks) - k, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        k *= 2
    bits = [1 << b for b in range(n.bit_length()) if n & (1 << b)]
    bits.sort(reverse=True)
    out = pow2[bits[0]]
    acc = bits[0]
    for b in bits[1:]:
        out = F.zip_with(
            out,
            F.slice(
                pow2[b], 1 + acc, F.greatest(F.size(toks) - acc, F.lit(0))
            ),
            lambda a, bb: F.concat(a, F.lit(" "), bb),
        )
        acc += b
    # positions 1..size-n+1 are complete n-grams; the tail entries are
    # partial/null (zip_with null-pads the shorter side) — slice off
    return F.slice(out, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Explode each document into its distinct word n-gram shingles.

    Built entirely from native array functions (no UDF): tokenize →
    sliding window via zip_with of shifted slices (``ngram_array``) →
    explode distinct; ``n == 1`` gives the distinct tokens. Documents
    shorter than ``n`` tokens yield no shingles. Output: (id_col,
    shingle).
    """
    toks = tokens(text_col)
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(ngram_array(toks, n))).alias("shingle"),
    )


def _postings(
    df: DataFrame, id_col: str, text_col: str, n: int, tf: bool = False
) -> DataFrame:
    """Lazy inverted-index postings, keyed on ``xxhash64`` of the word
    n-gram (see :func:`_self_join_pairs` for the collision class).

    Sets (default): (id_col, shingle), one row per distinct n-gram of a
    doc — hashed after the per-doc distinct, so a doc's row count is
    its exact string-distinct set size. ``tf``: (id_col, shingle, tf),
    the n-grams counted per (doc, key) without the per-doc distinct.
    """
    df = fan_out_narrow_input(df)
    if not tf:
        return word_shingles(df, id_col, text_col, n).select(
            F.col(id_col), F.xxhash64("shingle").alias("shingle")
        )
    return (
        df.select(
            F.col(id_col), F.explode(ngram_array(tokens(text_col), n)).alias("g")
        )
        .select(F.col(id_col), F.xxhash64("g").alias("shingle"))
        .groupBy(id_col, "shingle")
        .agg(F.count("*").alias("tf"))
    )


def _hot_keys(posts: DataFrame, df_cap: int) -> DataFrame:
    """The postings keys held by more than ``df_cap`` docs — at most
    Σ df / df_cap rows, so it stays small where the allow-list would be
    vocabulary-sized. Callers drop them with a left anti-join."""
    return (
        posts.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > df_cap)
        .select("shingle")
    )


def _self_join_pairs(
    posts: DataFrame, id_col: str, df_cap: int | None = None
) -> DataFrame:
    """The inverted-index all-pairs kernel behind :func:`jaccard_pairs`,
    :func:`containment_pairs` and ``similarity.tf_cosine_pairs``.

    ``posts`` come from :func:`_postings`: set rows (id_col, shingle)
    or tf rows (id_col, shingle, tf). Returns one row per doc pair that
    shares a key, doc_a < doc_b: (doc_a, doc_b, inter, size_a, size_b)
    with inter = |A∩B| and size = |A| for sets, inter = Σ tf_a·tf_b and
    size = ‖v‖² for tf vectors — integer sums, exact under any
    partitioning. With ``df_cap``, keys held by more
    than ``df_cap`` docs are dropped from the join only: sizes stay
    those of the full postings.

    64-bit keys: the join compares ``xxhash64`` keys, not n-gram
    strings. Equal n-grams always hash equal, so no pair is missed; a
    collision (odds ~distinct²/2⁶⁴) can only merge two different
    n-grams across the join, inflating an intersection or, for tf,
    adding one n-gram's count to another's. Set sizes are counted
    before hashing and stay exact. There is no exact re-verification —
    the same class as the ExactSubstr gram hashes and the span probes.

    Eager, not fault-tolerant: the postings are ``localCheckpoint``-ed
    eagerly when this is called, so building the plan runs a Spark job,
    and the blocks stay pinned in executor storage until the returned
    frame is garbage-collected. A local checkpoint keeps
    no lineage: losing an executor that holds its blocks fails the
    query instead of recomputing them.
    """
    posts = posts.localCheckpoint(eager=True)
    weighted = "tf" in posts.columns
    size = F.sum(F.col("tf") * F.col("tf")) if weighted else F.count("*")
    inter = F.sum(F.col("tf_a") * F.col("tf_b")) if weighted else F.count("*")
    sizes = posts.groupBy(id_col).agg(size.alias("size"))
    if df_cap is not None:
        posts = posts.join(_hot_keys(posts, df_cap), "shingle", "left_anti")

    def side(s: str) -> DataFrame:
        tf = [F.col("tf").alias(f"tf_{s}")] if weighted else []
        return posts.select(F.col(id_col).alias(f"doc_{s}"), "shingle", *tf)

    # Pair-key repartition BEFORE the aggregate: a pair's candidate
    # rows are scattered across key partitions, so a map-side partial
    # aggregate would compress almost nothing while building a
    # near-distinct-pair-sized hash table per task; co-locating each
    # pair first keeps the aggregation hash tables group-sized.
    # Partition count follows spark.sql.shuffle.partitions.
    pairs = (
        side("a")
        .join(side("b"), "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .repartition(F.col("doc_a"), F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(inter.alias("inter"))
    )
    # Sizes re-attach after the aggregate, so the Σdf² candidate rows
    # never carry them.
    for s in ("a", "b"):
        pairs = pairs.join(
            sizes.select(
                F.col(id_col).alias(f"doc_{s}"), F.col("size").alias(f"size_{s}")
            ),
            f"doc_{s}",
        )
    return pairs


def _jaccard_above(
    pairs: DataFrame, left: str, right: str, threshold: float
) -> DataFrame:
    """(left, right, jaccard) for the pairs whose Jaccard
    inter / (size_a + size_b − inter) is at least ``threshold``,
    rounded to 4 places."""
    j = F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter"))
    return pairs.where(j >= threshold).select(
        left, right, F.round(j, 4).alias("jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard similarity ≥ threshold.

    Inverted-index join: explode to (doc, shingle), self-join on
    shingle, count intersections, then |A∪B| = |A|+|B|−|A∩B|.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Scale: hot shingles blow up the candidate join quadratically;
    ``df_cap`` drops shingles occurring in more than that many docs
    (stopword shingles carry no signal) — at 100 TB use that or
    ``minhash_lsh_pairs``. NOTE: df_cap changes the measured set, so
    it is an approximation switch, off by default.

    Hash keys and eager materialisation: see :func:`_self_join_pairs`.
    """
    pairs = _self_join_pairs(_postings(df, id_col, text_col, n), id_col, df_cap)
    return _jaccard_above(pairs, "doc_a", "doc_b", threshold)


def jaccard_pairs_cross(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 1,
    threshold: float = 0.5,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs BETWEEN two disjoint document sets:
    same inverted-index shape as :func:`jaccard_pairs`, but the
    self-join becomes an A-side ⋈ B-side join — the decontamination
    shape, where A is a small benchmark and B the corpus. Candidate
    volume drops from Σ df² over the union to Σ df_A·df_B, i.e. the
    corpus never pair-scores against itself just to have those rows
    discarded. Callers must keep the id spaces disjoint. Output:
    (id_a, id_b, jaccard) with jaccard ≥ threshold.

    Scale: one boilerplate shingle present in most bench AND corpus
    docs puts |A_df|·|B_df| candidates on a single shuffle bucket —
    the same skew hazard the self-join's cap covers. ``df_cap`` drops
    shingles whose CORPUS-side (df_b) document frequency exceeds the
    cap from BOTH sides of the join: intersections are counted over
    corpus-rare shingles only, while the Jaccard denominators keep
    the FULL set sizes — identical semantics contract to
    :func:`jaccard_pairs`'s cap (pinned vs brute force in
    tests/test_skew.py). Approximation switch, off by default.

    Hash keys: see :func:`_self_join_pairs`.
    """

    def sized(df: DataFrame, id_alias: str, size_alias: str) -> DataFrame:
        return _postings(df, id_col, text_col, n).select(
            F.col(id_col).alias(id_alias),
            "shingle",
            F.count("*").over(Window.partitionBy(id_col)).alias(size_alias),
        )

    a = sized(df_a, "id_a", "size_a")
    b = sized(df_b, "id_b", "size_b")
    if df_cap is not None:
        banned = _hot_keys(b, df_cap)
        a = a.join(banned, "shingle", "left_anti")
        b = b.join(banned, "shingle", "left_anti")
    inter = (
        a.join(b, on="shingle")
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_above(inter, "id_a", "id_b", threshold)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs asymmetric *containment*: |A ∩ B| / |A| ≥ threshold.

    Jaccard under-scores the quote/boilerplate case — a short document
    wholly embedded in a long one has tiny Jaccard but containment
    1.0 from the short side. Containment is the standard measure for
    "A is substantially quoted inside B" (the direction matters, so
    both (a,b) and (b,a) can appear).

    Same inverted-index kernel as :func:`jaccard_pairs`. Since |A∩B|
    plus BOTH set sizes determine BOTH directions, the join runs
    canonically (``doc_a < doc_b``, half the candidate and aggregate
    rows of a ``!=`` join) and a cheap post-aggregation explode emits
    the two directed rows, each filtered by its own denominator.
    Output: (doc_a, doc_b, containment) meaning "doc_a is
    `containment`-contained in doc_b".

    Scale: identical posture to jaccard_pairs — hot shingles are the
    quadratic risk; cap document frequency upstream or route through
    the MinHash index for web-scale corpora.

    Hash keys and eager materialisation: see :func:`_self_join_pairs`.
    """
    pairs = _self_join_pairs(_postings(df, id_col, text_col, n), id_col)
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("da"),
                    F.col("doc_b").alias("db"),
                    (F.col("inter") / F.col("size_a")).alias("c"),
                ),
                F.struct(
                    F.col("doc_b").alias("da"),
                    F.col("doc_a").alias("db"),
                    (F.col("inter") / F.col("size_b")).alias("c"),
                ),
            )
        ).alias("p")
    )
    return (
        directed.where(F.col("p.c") >= threshold)
        .select(
            F.col("p.da").alias("doc_a"),
            F.col("p.db").alias("doc_b"),
            F.round("p.c", 4).alias("containment"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures from word shingles, all JVM-side.

    hash_i(s) = xxhash64(s, seed=i); signature[i] = min over the doc's
    shingles. Implemented as ``num_hashes`` plain ``min`` aggregate
    expressions over an array column, so Spark performs map-side
    partial aggregation and the shuffle carries one signature row per
    document per map task.

    Output: (id_col, sig: array<bigint>).
    """
    sh = word_shingles(fan_out_narrow_input(df), id_col, text_col, n=shingle_n)
    hashed = sh.select(
        F.col(id_col),
        *[
            F.xxhash64(F.col("shingle"), F.lit(i)).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    sig = hashed.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig"),
    )


def _band_rows(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, sig) → exploded LSH band rows (id, sig, band, bucket).
    bucket = xxhash64 over the band's signature slice, salted by the
    band index so identical slices in different bands never collide."""
    assert num_hashes % bands == 0, "num_hashes must be divisible by bands"
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("sig").getItem(b * rows_per_band + r).cast("string")
                            for r in range(rows_per_band)
                        ],
                    ),
                    F.lit(b),
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        F.col(id_col), F.col("sig"), F.explode(band_structs).alias("bb")
    ).select(id_col, "sig", "bb.band", "bb.bucket")


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Persistable LSH index over a corpus: (id, sig, band, bucket).

    The operational pattern for a GROWING corpus: build once, write to
    parquet (partition by ``band`` so the incremental join
    partition-prunes; within a band, bucket is the join key), then
    match each incoming batch with ``minhash_pairs_against_index`` —
    the old corpus text is never re-read and old signatures are never
    recomputed. Append the batch's own index rows afterwards to keep
    the index current. Index size: docs × bands rows of
    (id, 8·num_hashes-byte sig, band, bucket) — ~0.5 KB/doc at the
    defaults, independent of document length.
    """
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n)
    return _band_rows(sig, id_col, num_hashes, bands)


def minhash_pairs_against_index(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup candidates of a NEW batch against an existing
    ``minhash_index`` (same num_hashes/bands/shingle_n as at build
    time — signatures must come from the same hash family).

    Only the new batch is shingled and hashed; the equality join on
    (band, bucket) touches matched buckets only. Output:
    (doc_old, doc_new, est_jaccard), est = fraction of equal
    signature positions — identical to what the full
    ``minhash_lsh_pairs`` would estimate for the same pair, so
    batch-incremental processing loses nothing vs recomputing the
    corpus (pinned by test_incremental_equals_full_cross_pairs).
    Callers must keep new ids disjoint from indexed ids; same-id
    matches are dropped defensively.
    """
    new_banded = minhash_index(
        new_df, id_col, text_col, num_hashes, bands, shingle_n
    )
    return index_pairs(new_banded, index, id_col, num_hashes, threshold)


def index_pairs(
    new_banded: DataFrame,
    index: DataFrame,
    id_col: str,
    num_hashes: int,
    threshold: float = 0.5,
) -> DataFrame:
    """The join half of ``minhash_pairs_against_index`` for callers
    that already hold the batch's band rows (e.g. a streaming
    foreachBatch that computes them once to both screen and append)."""
    n, o = new_banded.alias("n"), index.alias("o")
    cand = (
        n.join(o, on=["band", "bucket"])
        .where(F.col(f"n.{id_col}") != F.col(f"o.{id_col}"))
        .select(
            F.col(f"o.{id_col}").alias("doc_old"),
            F.col(f"n.{id_col}").alias("doc_new"),
            F.col("o.sig").alias("sig_a"),
            F.col("n.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_old", "doc_new"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("est_jaccard", F.round(est / F.lit(num_hashes), 4))
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_old", "doc_new", "est_jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH banding candidate pairs with estimated Jaccard.

    Signature → ``bands`` bands of ``num_hashes/bands`` positions; docs
    sharing any band bucket become candidates (one shuffle on the
    band-bucket hash); estimated similarity = fraction of equal
    signature positions. Output: (doc_a, doc_b, est_jaccard).

    This is the 100 TB-scale near-dup path: candidate cost is
    O(docs × bands) rows into the bucket join instead of all-pairs.

    r12: the band rows are localCheckpoint-ed before the self-join.
    Both join sides reference the same banded frame, but Catalyst
    inlines each side into its own full signature computation
    (shingle + 64 hashes + 64-min agg over the corpus) and at
    broadcast-join sizes no exchange reuse saves the second pass.
    The banded frame is exactly the artifact `minhash_index` tells
    callers to PERSIST at scale (~0.5 KB/doc, corpus-length
    independent), so materializing it once inside the one-shot
    operator is the batch mirror of the production layout, not a
    cache across runs.
    """
    banded = minhash_index(
        df, id_col, text_col, num_hashes, bands, shingle_n
    ).localCheckpoint(eager=True)

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, on=["band", "bucket"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("est_jaccard", F.round(est / F.lit(num_hashes), 4))
        .where(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash fingerprint per document, JVM-side.

    Each distinct token hashes to ``bits`` bits (xxhash64); per bit
    position the signed votes (+1 if set, −1 otherwise) are summed
    across the doc's tokens; the sign of each total forms the
    fingerprint. Near-duplicates differ in few bits — compare with
    ``bit_count(a ^ b)``. Per-position ``sum`` aggregates keep it
    map-side partial-aggregated.

    Output: (id_col, simhash: bigint).
    """
    toks = fan_out_narrow_input(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    )
    h = F.xxhash64("tok")
    votes = toks.select(
        F.col(id_col),
        *[
            F.when(
                h.bitwiseAND(F.shiftleft(F.lit(1).cast("long"), i)) != 0, 1
            ).otherwise(-1).alias(f"b{i}")
            for i in range(bits)
        ],
    )
    summed = votes.groupBy(id_col).agg(
        *[F.sum(f"b{i}").alias(f"s{i}") for i in range(bits)]
    )
    fp = None
    for i in range(bits):
        bit = F.when(
            F.col(f"s{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return summed.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Pigeonhole blocking: split the fingerprint into ``blocks`` chunks;
    any pair within distance ``max_hamming < blocks`` must agree on at
    least one chunk, so candidates are generated by equality join on
    (block_idx, chunk) — one shuffle, no all-pairs.
    Output: (doc_a, doc_b, hamming).

    Choose ``blocks = max_hamming + 1`` (the pigeonhole minimum):
    chunk WIDTH is the selectivity, and every extra block both
    narrows chunks and adds a collision opportunity — candidates only
    grow. Measured (r6, sf0.1 shared-vocabulary corpus, 6k docs):
    8-bit chunks (blocks=8) produced 13.5M candidate pairs — 75% of
    all-pairs, blocking vacuous; 16-bit chunks (blocks=4) produced
    493k, a 27x cut and 4.3x wall-clock win for max_hamming=3.
    """
    fps = simhash(df, id_col, text_col, bits=bits)
    return hamming_near_pairs(
        fps, id_col, "simhash",
        max_hamming=max_hamming, bits=bits, blocks=blocks,
    )


def hamming_near_pairs(
    fp_df: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    blocks: int = 4,
) -> DataFrame:
    """Pigeonhole-blocked near-pairs over ANY int64 fingerprint
    column — the generic scale path shared by SimHash
    (`simhash_near_pairs`), the DCT perceptual hash
    (`multimodal.perceptual_hash` — image near-dup at hamming > 0,
    where the cluster queries' exact hamming-0 groupBy no longer
    applies), and audio fingerprints. Semantics and plan are exactly
    the former `simhash_near_pairs` body: split the fingerprint into
    ``blocks`` chunks; a pair within distance ``max_hamming < blocks``
    must agree on at least one chunk (pigeonhole), so candidates come
    from an equality join on (block_idx, chunk) — one shuffle, never
    all-pairs. ``blocks = max_hamming + 1`` is the measured optimum
    (see `simhash_near_pairs`). Output: (doc_a, doc_b, hamming)."""
    assert bits % blocks == 0
    # Pigeonhole only guarantees recall for d <= blocks - 1; a larger
    # max_hamming would silently MISS pairs (ADVICE r8) — error loudly.
    assert max_hamming < blocks, (
        f"pigeonhole requires max_hamming < blocks "
        f"(got max_hamming={max_hamming}, blocks={blocks}): a pair can "
        f"differ in every chunk once d >= blocks, so recall is lost"
    )
    w = bits // blocks
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("blk"),
                F.shiftrightunsigned(F.col(hash_col), i * w)
                .bitwiseAND(F.lit((1 << w) - 1).cast("long"))
                .alias("chunk"),
            )
            for i in range(blocks)
        ]
    )
    blocked = fp_df.select(
        F.col(id_col), F.col(hash_col), F.explode(chunk_structs).alias("c")
    ).select(id_col, hash_col, "c.blk", "c.chunk")
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(b, on=["blk", "chunk"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
            ).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= max_hamming)
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs Jaccard ≥ threshold via PREFIX FILTERING — the
    ppjoin-family candidate pruner (Chaudhuri et al. SSJoin; Xiao et
    al. WWW'08), the third scale path next to ``df_cap`` (approximate)
    and MinHash-LSH (probabilistic). Unlike both, the result is
    IDENTICAL to :func:`jaccard_pairs`: prefix filtering only shrinks
    the candidate set, never the answer.

    Order all shingles by (document frequency asc, shingle key); a pair
    with J ≥ t must share a shingle within each side's first
    ``|X| − ⌊t·|X|⌋ + 1`` shingles of that order (rare-first makes the
    guaranteed-shared element cheap to join on). So the inverted-index
    self-join runs over PREFIXES only — the df-heavy head shingles
    that drive the quadratic candidate blowup never generate
    candidates from suffix positions — and the exact Jaccard is then
    verified per candidate against the full shingle sets.

    ⌊t·|X|⌋ is used instead of the tight ⌈t·|X|⌉−1 suffix bound: one
    extra prefix element costs a few candidates but makes the bound
    immune to float round-up (0.2·35 → 7.000…01 would otherwise
    truncate a required prefix position).

    Plan: shingle df agg (one shuffle) joined back, per-doc rank
    window, prefix self-join (one reused exchange), then the verify
    join streams each candidate pair's intersection — cost is
    candidates × avg set size, bounded by the pruned candidate count.

    WHEN IT WINS — and when it doesn't: the candidate cut comes from
    prefixes landing on RARE shingles, i.e. it assumes a Zipfian df
    distribution (true of natural-language corpora). The synthetic
    testdata is adversarial: every natural bigram sits at df 251-500
    at sf0.1 (uniform template soup), so prefixes are as hot as
    suffixes and the extra df/rank/verify stages make this SLOWER
    than the full join there (measured 43.5s vs 10.8s at t=0.8,
    sf0.1). The operator is registered for exactness parity
    (`doc_token_jaccard_prefix` — identical answer, hash-checked);
    pick it over the full join only when the df histogram has a rare
    tail, and prefer ``df_cap``/MinHash when approximation is
    acceptable.

    Hash keys: see :func:`_self_join_pairs`.
    """
    sh = _postings(df, id_col, text_col, n)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = (
        sh.join(freq, "shingle")
        .withColumn(
            "set_size", F.count("*").over(Window.partitionBy(id_col))
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("df", "shingle")
            ),
        )
    )
    prefix_len = (
        F.col("set_size")
        - F.floor(F.lit(threshold) * F.col("set_size")).cast("int")
        + 1
    )
    prefix = ranked.where(F.col("rank") <= prefix_len)
    cand = (
        prefix.select(F.col(id_col).alias("doc_a"), "shingle")
        .join(prefix.select(F.col(id_col).alias("doc_b"), "shingle"), "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    full = ranked.select(F.col(id_col), "shingle", "set_size")
    inter = (
        cand.join(
            full.select(
                F.col(id_col).alias("doc_a"), "shingle",
                F.col("set_size").alias("size_a"),
            ),
            "doc_a",
        )
        .join(
            full.select(
                F.col(id_col).alias("_bid"),
                F.col("shingle").alias("shingle_b"),
                F.col("set_size").alias("size_b"),
            ),
            (F.col("doc_b") == F.col("_bid"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count("*").alias("inter"))
    )
    return _jaccard_above(inter, "doc_a", "doc_b", threshold)


def positional_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Explode each document into ALL its word n-grams with 0-based
    token positions (unlike ``word_shingles``, repeats are kept —
    position identity matters here). Output: (id_col, pos, shingle).
    """
    toks = tokens(text_col)
    return df.select(
        F.col(id_col),
        F.posexplode(ngram_array(toks, n)).alias("pos", "shingle"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Maximal cross-document duplicated token spans (the span-level
    exact-dedup primitive from Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — their suffix-array
    pass re-expressed as relational algebra at k-token resolution).

    Any substring of >= k tokens shared by >= ``min_docs`` documents
    is the union of duplicated k-grams, so marking duplicated k-gram
    start positions and merging runs of consecutive starts
    (gaps-and-islands) recovers every maximal duplicated span EXACTLY
    for spans >= k tokens; shorter duplicates are below the detection
    resolution by design.

    Output: (id_col, span_start, span_end, span_tokens) with 0-based
    inclusive token offsets, one row per maximal span occurrence.

    Scale shape: one explode (|tokens| rows), one partial-agg shuffle
    on the gram for the document-frequency filter, one gram-key join
    to mark hit positions (the duplicated-gram side is the small,
    information-carrying head — broadcastable when the corpus is
    mostly unique), and a per-document window for the island merge
    (partitioned by doc, never global). Hot boilerplate grams skew
    the gram key; at 100 TB cap them (they become their own spans
    regardless) the same way ``jaccard_pairs(df_cap=...)`` does.
    """
    ps = positional_shingles(fan_out_narrow_input(df), id_col, text_col, k)
    dup = (
        ps.groupBy("shingle")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("shingle")
    )
    hits = ps.join(dup, "shingle").select(F.col(id_col), "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        islands.groupBy(id_col, "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """EXCISE cross-document duplicated spans from every document —
    the removal step of Lee et al. 2022's ExactSubstr deduplication
    (the paper's suffix-array pass diagnoses AND deletes; this is the
    deletion, composing with :func:`duplicate_spans` which is the
    diagnosis). Every token position covered by a duplicated k-gram
    (>= ``min_docs`` distinct docs) is dropped and the survivors are
    reassembled in order; the span CATALOG (`duplicate_spans` /
    `repeated_spans_at`) is where one canonical copy of each removed
    span remains available, so corpus + catalog preserve information
    while no training document repeats another's k-token span.

    Output: (id_col, cleaned_text, n_tokens, n_tokens_removed) — one
    row per input document, including documents trimmed to empty and
    documents with no tokens at all (a removal operator that DROPS
    rows would silently change corpus membership).

    Scale shape: one gram-frequency agg (partial-aggregatable, 8-byte
    ``xxhash64`` keys — gram strings never shuffle), one hit join on
    the hashed gram (the duplicated-gram side is the small
    information-carrying head), one distinct on (doc, position), one
    anti join, and a per-document reassembly agg (doc-bounded
    collect_list — the same per-doc bound every chunking query
    carries). Nothing global, nothing driver-side. Hash collisions
    can only OVER-trim a k-gram pair (~n²/2⁶⁴ odds) and cannot create
    wrong text — the trimmed output is rebuilt from true tokens."""
    base, ps = _gram_base(df, id_col, text_col, k)
    dup = (
        ps.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("h")
    )
    return _excise_covered(base, ps, dup, id_col, k)


def gram_hash_doubling(toks: Column, n: int) -> Column:
    """Positional n-gram HASHES by binary doubling over per-token
    hashes (r12): H₁[i] = xxhash64(tok[i]), H_{2k}[i] =
    xxhash64(H_k[i], H_k[i+k]), n assembled from its set bits — the
    hash-composition twin of `ngram_array_doubling` for callers that
    only ever HASH the gram (the ExactSubstr trim family, the
    repeated-span probes). The string route materializes O(n)-byte
    gram strings per position before hashing (~2n·token_len bytes
    copied per position through the doubling layers); this composes
    8-byte hashes, so gram hashing costs O(positions · popcount+log n)
    fixed-size ops whatever n is. Equal grams always collide equal;
    two DIFFERENT grams collide with the same ~positions²/2⁶⁴ odds
    the string hash already carried — the family's documented
    false-positive class is unchanged (and the span search keeps its
    exact-string re-verification). Tail entries past size−n+1 are
    garbage from null-padded composition and are sliced off exactly
    like the string version's null tail. NOTE: values differ from
    xxhash64(gram string) — persisted `gram_index` dirs built before
    r12 are not comparable and must be rebuilt."""
    htoks = F.transform(toks, lambda t: F.xxhash64(t))
    if n <= 1:
        return htoks
    pow2: dict[int, Column] = {1: htoks}
    k = 1
    while k * 2 <= n:
        pow2[k * 2] = F.zip_with(
            pow2[k],
            F.slice(
                pow2[k], 1 + k, F.greatest(F.size(toks) - k, F.lit(0))
            ),
            lambda a, b: F.xxhash64(a, b),
        )
        k *= 2
    bits = [1 << b for b in range(n.bit_length()) if n & (1 << b)]
    bits.sort(reverse=True)
    out = pow2[bits[0]]
    acc = bits[0]
    for b in bits[1:]:
        out = F.zip_with(
            out,
            F.slice(
                pow2[b], 1 + acc, F.greatest(F.size(toks) - acc, F.lit(0))
            ),
            lambda a, bb: F.xxhash64(a, bb),
        )
        acc += b
    return F.slice(out, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def _gram_base(df, id_col: str, text_col: str, k: int):
    """(base, ps): tokenized docs and their positional k-gram hashes —
    the shared projection under the ExactSubstr trim family. Gram
    strings are never even BUILT (r12): the positional hash comes
    from `gram_hash_doubling`'s 8-byte hash composition; only 8-byte
    hashes continue."""
    base = fan_out_narrow_input(df).select(
        F.col(id_col), tokens(text_col).alias("_toks")
    )
    ps = base.select(
        F.col(id_col),
        F.posexplode(gram_hash_doubling(F.col("_toks"), k)).alias(
            "pos", "h"
        ),
    )
    return base, ps


def _excise_covered(
    base: DataFrame, ps: DataFrame, dup: DataFrame, id_col: str, k: int
) -> DataFrame:
    """Drop every token position covered by a duplicated gram start
    and reassemble per-doc survivors — the trim/rebuild half shared
    by remove_duplicate_spans and trim_batch_against_index. One row
    per input doc always (empty survivors kept)."""
    covered = (
        ps.join(dup, "h")
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("tpos"),
        )
        .distinct()
    )
    tok_rows = base.select(
        F.col(id_col), F.posexplode("_toks").alias("tpos", "tok")
    )
    kept = tok_rows.join(covered, [id_col, "tpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    sizes = base.select(F.col(id_col), F.size("_toks").alias("n_tokens"))
    return sizes.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        "n_tokens",
        (
            F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))
        ).alias("n_tokens_removed"),
    )


def gram_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Persistable k-gram document-frequency index: (h, n_docs) with
    ``h`` the xxhash64 of the space-joined k-gram. The ExactSubstr
    analogue of :func:`minhash_index` for a GROWING corpus: build
    once, persist (bucket by ``h`` at scale so batch joins co-locate),
    then trim each incoming batch with
    :func:`trim_batch_against_index` — indexed text is never re-read.
    Index size: one 16-byte row per distinct gram, independent of how
    often it repeats."""
    ps = positional_gram_hashes(df, id_col, text_col, k)
    return ps.groupBy("h").agg(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )


def merge_gram_index(index: DataFrame, batch_index: DataFrame) -> DataFrame:
    """Fold a batch's gram_index rows into the persisted index (same
    k; doc ids disjoint by the caller's contract): outer-join on h,
    sum the document counts. Append-merge like the minhash index's
    'append the batch's own rows afterwards' step."""
    a = index.select("h", F.col("n_docs").alias("_a"))
    b = batch_index.select("h", F.col("n_docs").alias("_b"))
    return a.join(b, "h", "full_outer").select(
        "h",
        (
            F.coalesce(F.col("_a"), F.lit(0))
            + F.coalesce(F.col("_b"), F.lit(0))
        ).alias("n_docs"),
    )


def positional_gram_hashes(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, pos, h): xxhash64 of every positional k-gram — the shared
    projection under gram_index / trim_batch_against_index /
    remove_duplicate_spans (gram strings die inside the projection;
    only 8-byte hashes shuffle)."""
    return _gram_base(df, id_col, text_col, k)[1]


def trim_batch_against_index(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """ExactSubstr trim of an incoming batch against the ACCUMULATED
    corpus: a batch position is excised when its k-gram's combined
    document frequency — persisted ``gram_index`` count plus the
    batch's own distinct docs — reaches ``min_docs``, so batch-vs-
    corpus AND batch-internal duplication both trim. With disjoint
    ids this equals :func:`remove_duplicate_spans` over the full
    corpus restricted to the batch (pinned by
    test_incremental_trim_equals_full), while only the BATCH is
    tokenized and hashed; the index join touches (h, n_docs) rows.
    Same output contract as remove_duplicate_spans (no row dropped).

    Scale shape: batch-sized gram projection, one agg, one join
    against the index (bucket the persisted index by h and only the
    batch shuffles), then the per-doc trim/reassembly."""
    base, ps = _gram_base(new_df, id_col, text_col, k)
    batch_df = ps.groupBy("h").agg(
        F.count_distinct(F.col(id_col)).alias("_nd_new")
    )
    dup = (
        batch_df.join(
            index.select("h", F.col("n_docs").alias("_nd_old")), "h", "left"
        )
        .where(
            F.col("_nd_new") + F.coalesce(F.col("_nd_old"), F.lit(0))
            >= min_docs
        )
        .select("h")
    )
    return _excise_covered(base, ps, dup, id_col, k)


def longest_repeated_span_length(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    max_len: int | None = None,
    min_count: int | None = None,
) -> int:
    """EXACT length of the longest token span repeated in >=
    ``min_docs`` distinct documents — the corpus-level duplication
    diagnostic Lee et al. 2022 read off their suffix array, computed
    here by BINARY SEARCH on the span length instead: a repeated span
    of length L exists iff some positional L-gram occurs in >=
    ``min_docs`` docs, and that predicate is monotone in L, so
    O(log max_len) probes — each ONE map-side-combinable aggregation
    — replace suffix-array construction entirely.

    ``min_count`` (r9) switches to OCCURRENCE counting — the span
    must occur at >= ``min_count`` distinct token positions anywhere
    in the corpus, INCLUDING repeats inside a single document (the
    suffix-array diagnostic's native semantics: Lee et al. count
    repeated substrings of the concatenated corpus, so a template
    pasted five times into one document is duplication too, which
    distinct-doc counting can't see). Monotone for the same reason:
    every occurrence of an L-gram contains an occurrence of its
    (L-1)-prefix at the same position, so position counts only grow
    as L shrinks. When set, ``min_docs`` is ignored.

    Scale shape per probe: explode positional L-grams, hash each to
    64 bits IMMEDIATELY (`xxhash64`), aggregate count_distinct(doc)
    per hash — the shuffle carries 8-byte keys, not O(L)-token
    strings, so probe cost is O(corpus positions), independent of L.
    Hashing can only create FALSE positives (collisions), never false
    negatives, so the search result can only err upward — and the
    final answer is re-verified with exact string grams
    (`repeated_spans_at`); a collision-induced inconsistency raises
    loudly rather than returning a wrong length (at 64 bits the
    probability is ~n²/2⁶⁴ — negligible, but checked, not assumed).

    Driver loop over probes mirrors the engine's other iterative
    operators (PageRank, CC, k-core): per-round DataFrame actions,
    nothing data-sized ever collected.
    """
    base = (
        fan_out_narrow_input(df)
        .select(F.col(id_col).alias("_id"), tokens(text_col).alias("_toks"))
        .withColumn(
            # r12: per-token hashes computed ONCE; every probe
            # composes them by binary doubling (the hash-composition
            # twin of `ngram_array_doubling`) instead of building
            # O(L)-byte gram strings per position per probe — same
            # false-positive-only collision class, and the
            # exact-string re-verification below is unchanged.
            "_htoks",
            F.transform(F.col("_toks"), lambda t: F.xxhash64(t)),
        )
        .persist()
    )
    levels: DataFrame | None = None
    try:
        if max_len is None:
            max_len = base.agg(F.max(F.size("_toks"))).first()[0] or 0
        if max_len <= 0:
            return 0

        # r12: every power-of-2 hash level H_{2k}[i] =
        # xxhash64(H_k[i], H_k[i+k]) is computed ONCE and persisted as
        # a column; a probe at any n then composes only n's set bits
        # (≤ log₂ n zip_withs) instead of rebuilding the whole
        # doubling ladder per probe — the ladder is shared across the
        # O(log max_len) binary-search probes. ~7 levels × positions
        # × 8 bytes of extra storage; zip_with's null-padded tail
        # garbage never reaches a probe (sliced to size−n+1 exactly
        # like the string version's null tail).
        lvl_cols: dict[int, str] = {1: "_htoks"}
        lv_frame = base
        k = 1
        while k * 2 <= max_len:
            prev = F.col(lvl_cols[k])
            lv_frame = lv_frame.withColumn(
                f"_h{k * 2}",
                F.zip_with(
                    prev,
                    F.slice(
                        prev,
                        1 + k,
                        F.greatest(F.size("_htoks") - k, F.lit(0)),
                    ),
                    lambda a, b: F.xxhash64(a, b),
                ),
            )
            lvl_cols[k * 2] = f"_h{k * 2}"
            k *= 2
        # localCheckpoint, not persist (r13): a persisted frame keeps
        # its full lineage in the logical plan, so EVERY probe's
        # analysis re-walked the 7-level zip_with ladder (~2-3 s of
        # Catalyst time per probe at any data size); the checkpoint
        # truncates probe plans to a Scan ExistingRDD of the ladder.
        levels = lv_frame.localCheckpoint(eager=True)

        def gram_hashes(n: int) -> Column:
            """Positional n-gram hashes from the persisted levels —
            identical composition to `gram_hash_doubling`."""
            if n <= 1:
                return F.col("_htoks")
            bits = [1 << b for b in range(n.bit_length()) if n & (1 << b)]
            bits.sort(reverse=True)
            out = F.col(lvl_cols[bits[0]])
            acc = bits[0]
            for b in bits[1:]:
                out = F.zip_with(
                    out,
                    F.slice(
                        F.col(lvl_cols[b]),
                        1 + acc,
                        F.greatest(F.size("_htoks") - acc, F.lit(0)),
                    ),
                    lambda a, bb: F.xxhash64(a, bb),
                )
                acc += b
            return F.slice(
                out, 1, F.greatest(F.size("_htoks") - (n - 1), F.lit(0))
            )

        if min_count is not None:
            # occurrence mode: count positions, not documents
            floor = min_count

            def _agg() -> Column:
                return F.count(F.lit(1)).alias("nd")
        else:
            floor = min_docs

            def _agg() -> Column:
                return F.count_distinct("_id").alias("nd")

        # Witness-position restriction (r13, guide §2.3 shuffle fewer
        # bytes): every occurrence of a repeated n'-gram starts where
        # its n-prefix (n < n') also meets the floor — prefix hashes
        # are equal wherever the gram is, and hash collisions only ADD
        # positions — so once a probe at n succeeds, its floor-meeting
        # positions are a SUPERSET of every longer probe's candidate
        # starts. Each successful probe therefore materializes its
        # witness (id, pos) set (lazy localCheckpoint — the probe's
        # own take(1) is the materializing action, no extra job), and
        # later probes compose gram hashes ONLY at those positions
        # via element_at on the persisted level columns instead of
        # exploding every corpus position. Binary search only probes
        # above the best TRUE length, so the newest witness always
        # applies; witness size is bounded by the floor-meeting rows
        # the unrestricted probe's shuffle already carried. probe(1)
        # never adopts a witness (nearly every position shares a
        # common token — the set would be corpus-positions-sized).
        wp: DataFrame | None = None
        wp_n = 0

        def gram_hash_at(n: int) -> Column:
            """Hash of the n-gram at 0-based `pos` — the per-position
            twin of gram_hashes (identical composition order)."""
            bits = [1 << b for b in range(n.bit_length()) if n & (1 << b)]
            bits.sort(reverse=True)
            out = F.element_at(F.col(lvl_cols[bits[0]]), F.col("pos") + 1)
            acc = bits[0]
            for b in bits[1:]:
                out = F.xxhash64(
                    out,
                    F.element_at(F.col(lvl_cols[b]), F.col("pos") + 1 + acc),
                )
                acc += b
            return out

        def occ_at(n: int) -> DataFrame:
            """(_id, pos, h) positional gram hashes at length n,
            witness-restricted when a witness is available."""
            if wp is None or n < 2:
                return levels.select(
                    "_id", F.posexplode(gram_hashes(n)).alias("pos", "h")
                )
            bits = {1 << b for b in range(n.bit_length()) if n & (1 << b)}
            need = ["_htoks"] + [
                lvl_cols[b] for b in sorted(bits) if lvl_cols[b] != "_htoks"
            ]
            return (
                wp.join(levels.select("_id", *need), "_id")
                .where(F.col("pos") <= F.size("_htoks") - n)
                .select("_id", "pos", gram_hash_at(n).alias("h"))
            )

        def probe(n: int) -> bool:
            nonlocal wp, wp_n
            if n < 2:
                # existence gate only (witness never adopted at n=1 —
                # see above): keep the cheap limit-1 aggregate probe
                hit = (
                    levels.select("_id", F.explode(F.col("_htoks")).alias("h"))
                    .groupBy("h").agg(_agg())
                    .where(F.col("nd") >= floor)
                    .limit(1)
                )
                return len(hit.take(1)) > 0
            occ = occ_at(n)
            # The witness semi-join reads occ twice (aggregate side +
            # probe side); cache the one unrestricted (positions-sized)
            # evaluation — restricted probes are witness-sized either
            # way. Volume bound: the same rows the probe's shuffle
            # carries.
            cache = wp is None
            if cache:
                occ = occ.persist()
            try:
                wit_h = (
                    occ.groupBy("h").agg(_agg()).where(F.col("nd") >= floor)
                    .select("h")
                )
                cand = (
                    occ.join(wit_h, "h", "left_semi")
                    .select("_id", "pos")
                    .localCheckpoint(eager=False)
                )
                # count() (not take(1)) so the lazy checkpoint fully
                # materializes while occ is still cached
                hit = cand.count() > 0
            finally:
                if cache:
                    occ.unpersist()
            if not hit:
                return False
            wp, wp_n = cand, n
            return True

        # Plain binary search over [0, max_len] (r13): the old
        # probe(1) / probe(max_len) entry gates cost two extra full
        # probes on every call to fast-path the answer∈{0, max_len}
        # cases the search handles in the same ceil(log₂ max_len)
        # probes anyway — probe(1) now runs only when the search
        # actually descends there. lo == 0 at the end ⇔ nothing
        # repeats.
        lo = 0  # unproven floor; probes establish lo ≥ 1
        hi = max_len + 1  # probe(hi) treated as False
        while hi - lo > 1:
            mid = (lo + hi) // 2
            if probe(mid):
                lo = mid
            else:
                hi = mid
        if lo == 0:
            return 0
        # Exact re-verification of the hash-probed answer, RESTRICTED
        # to witness positions (r12): instead of rebuilding lo-token
        # gram STRINGS at every corpus position (O(positions · lo)
        # bytes — the single most expensive pass of the old search),
        # collect the witness HASHES (those meeting the floor — the
        # probe's own aggregate without the limit), keep only
        # positions carrying a witness hash (a left-semi on 8-byte
        # keys; a handful of rows unless the corpus is one giant
        # template), and build exact strings for those alone.
        # EQUIVALENT accept/reject to the full exact check at length
        # lo: any truly repeated gram g* has equal hashes at all its
        # occurrences, so count(H(g*)) >= count(g*) >= floor makes
        # H(g*) a witness and g* survives the restriction; conversely
        # the restricted check only accepts on a truly repeated gram.
        occ = occ_at(lo)
        witnesses = (
            occ.groupBy("h").agg(_agg()).where(F.col("nd") >= floor)
            .select("h")
        )
        cand_grams = (
            occ.join(witnesses, "h", "left_semi")
            .join(levels.select("_id", "_toks"), "_id")
            .select(
                "_id",
                F.array_join(
                    F.slice(F.col("_toks"), F.col("pos") + 1, lo), " "
                ).alias("g"),
            )
        )
        if min_count is not None:
            exact = cand_grams.groupBy("g").agg(
                F.count(F.lit(1)).alias("nc")
            ).where(F.col("nc") >= min_count)
        else:
            exact = cand_grams.groupBy("g").agg(
                F.count_distinct("_id").alias("nc")
            ).where(F.col("nc") >= min_docs)
        if len(exact.take(1)) == 0:
            raise ValueError(
                "longest_repeated_span_length: hash probe said length "
                f"{lo} but exact verification found no repeated span — "
                "a 64-bit gram-hash collision steered the search; rerun "
                "with exact probes (astronomically rare)"
            )
        return lo
    finally:
        if levels is not None:
            levels.unpersist()
        base.unpersist()


def repeated_spans_at(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    min_docs: int = 2,
    min_count: int | None = None,
) -> DataFrame:
    """All EXACT token spans of length ``n`` occurring in >=
    ``min_docs`` distinct documents: (span, n_docs, n_occurrences).
    The exact-string companion to the hashed probes of
    :func:`longest_repeated_span_length` — used standalone to list
    the offending boilerplate/templates once the length is known, and
    as the collision check inside the binary search. With
    ``min_count`` set, filters on total occurrences (positions)
    instead of distinct docs — the within-doc duplication mode.
    One explode + one agg; the gram strings shuffle here (O(n) bytes
    each), so call it at a FIXED n, not in a loop."""
    grams = fan_out_narrow_input(df).select(
        F.col(id_col).alias("_id"),
        F.explode(ngram_array_doubling(tokens(text_col), n)).alias("span"),
    )
    counted = grams.groupBy("span").agg(
        F.count_distinct("_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )
    if min_count is not None:
        return counted.where(F.col("n_occurrences") >= min_count)
    return counted.where(F.col("n_docs") >= min_docs)
