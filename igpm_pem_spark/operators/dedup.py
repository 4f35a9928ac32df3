"""Deduplication operators over the documents table — the training-data
pipeline surface the engine must provide at 100 TB:

* exact duplicates        — content-hash groupBy (md5, engine-portable)
* MinHash + LSH           — 16 permutations, 8 bands × 2 rows: shingle →
                            minhash → band bucket → bucket self-join
* SimHash                 — 16-bit sign aggregation over token hashes
* n-gram Jaccard          — exact word-trigram Jaccard for candidate pairs
* embedding near-dup      — cosine over the embeddings table (similarity.py)

All of it is joins/aggregations over the tokenized documents (no Python on
the data path); the hash family is plain modular arithmetic
(functions/hashing.py) so the DuckDB oracle mirrors every value exactly.

Scale notes: the LSH band self-join is the standard near-dup plan at
corpus scale — bucket sizes are bounded by band width, so the join is
skew-safe except for degenerate buckets, which `max_bucket` caps
(dropping oversized buckets is the documented MinHashLSH practice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import NUM_BANDS, NUM_PERM, P, ROWS_PER_BAND, perm_coeffs
from ..functions.text import token_id, tokens


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(sha, n_docs, first_doc): exact-content groups via md5."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("sha"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("first_doc"),
        )
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, mh0..mh{NUM_PERM-1}): minimum of each permutation over the
    document's token-id set. Plan: explode tokens, hash each occurrence,
    partial-aggregate the NUM_PERM mins map-side — every expression is
    plain codegen'd arithmetic, no higher-order array functions (the
    previous row-local transform/array_min chain evaluated interpreted
    with per-element boxing; measured 4.0 s → 0.95 s cold at 119.6k docs).
    min over the token-id MULTISET equals min over the distinct set, so
    skipping the array_distinct changes no value, and duplicate doc_id
    rows still merge to the exact min-over-union the SQL oracle's GROUP
    BY produces. The expensive tokenize/hash work still never shuffles:
    the partial aggregate reduces each map partition to NUM_PERM ints
    per distinct doc_id before the exchange."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
    ).where(F.col("token") != "")
    h = toks.select("doc_id", token_id("token").alias("tid"))
    aggs = []
    for i in range(NUM_PERM):
        a, b = perm_coeffs(i)
        aggs.append(
            F.min((F.lit(a) * F.col("tid") + F.lit(b)) % F.lit(P)).alias(f"mh{i}")
        )
    return h.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 50,
) -> DataFrame:
    """(doc_a, doc_b) with doc_a < doc_b: documents sharing at least one
    LSH band bucket. Band key folds ROWS_PER_BAND signature values into
    one 64-bit integer (values < P ≈ 2^30, so 2 rows fit exactly)."""
    sig = minhash_signatures(docs, id_col, text_col)
    band_cols = []
    for band in range(NUM_BANDS):
        lo = band * ROWS_PER_BAND
        key = F.lit(0).cast("long")
        for r in range(ROWS_PER_BAND):
            key = key * F.lit(P) + F.col(f"mh{lo + r}")
        band_cols.append(F.struct(F.lit(band).alias("band"), key.alias("key")))
    # persist: the band-bucket relation is referenced twice (rows + the
    # size histogram) and would otherwise re-derive the whole tokenize →
    # minhash chain per reference — at corpus scale that doubles the most
    # expensive scans (the self-join below then reads it twice more from
    # cache instead of recomputing)
    buckets = (
        sig.select("doc_id", F.explode(F.array(*band_cols)).alias("b"))
        .select("doc_id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
        .persist()
    )
    # cap degenerate buckets (hub protection — the dedup analogue of the
    # kernels' skew salting). Window count over the persisted band
    # relation: ONE shuffle on (band, key) — the same shuffle the
    # self-join below needs anyway — instead of a groupBy + join that
    # re-shuffles the whole relation twice (the round-3 3× bench
    # regression).
    w_bucket = Window.partitionBy("band", "key")
    sized = buckets.withColumn("sz", F.count("*").over(w_bucket)).where(
        F.col("sz") <= max_bucket
    )
    a = sized.select("band", "key", F.col("doc_id").alias("doc_a"))
    b = sized.select("band", "key", F.col("doc_id").alias("doc_b"))
    # eager pair materialization + cache release (same hygiene as the ANN
    # path): the deduped pair set is tiny next to the corpus, and
    # releasing the band cache here keeps long sessions / the bench from
    # accumulating signature-sized caches across sections
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    buckets.unpersist()
    return pairs


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """(doc_id, simhash): sign-aggregated token-hash bits. Uses permutation
    0's hash h(tid); bit k contributes +1/-1 by (h div 2^k) % 2. The sign
    sum is NOT distributive over duplicate doc_id rows (distinct-tid union
    ≠ concat), so the plan explodes tokens, hashes each occurrence in
    codegen, and distincts (doc_id, tid) cross-row before the bit sums —
    the distinct's map-side partial dedup bounds the shuffle at the
    per-partition distinct tid count, and dropping the interpreted
    row-local transform/array_distinct HOF chain measured 5.3 s → 1.3 s
    cold at 119.6k docs (values identical: same distinct tid set)."""
    a, b = perm_coeffs(0)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("token"),
    ).where(F.col("token") != "")
    dt = toks.select("doc_id", token_id("token").alias("tid")).distinct()
    h = (F.lit(a) * F.col("tid") + F.lit(b)) % F.lit(P)
    aggs = [
        F.sum(
            F.when((h.cast("long") / F.lit(2**k)).cast("long") % 2 == 1, 1).otherwise(-1)
        ).alias(f"s{k}")
        for k in range(bits)
    ]
    sums = dt.groupBy("doc_id").agg(*aggs)
    sh = F.lit(0).cast("long")
    for k in range(bits):
        sh = sh + F.when(F.col(f"s{k}") > 0, F.lit(2**k)).otherwise(F.lit(0))
    return sums.select("doc_id", sh.alias("simhash"))


def simhash_near_dup(
    docs: DataFrame,
    max_hamming: int = 2,
    bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, hamming): SimHash near-duplicates — pairs whose
    16-bit simhash differs in ≤ ``max_hamming`` bits. Candidate pairing is
    the pigeonhole band join (split into max_hamming+1 bands; a pair
    within distance k must agree EXACTLY on ≥1 band), then the exact
    hamming distance (bit_count of xor) filters. No all-pairs stage:
    the self-join is keyed on (band index, band value), the same
    skew-bounded shape as MinHash-LSH's."""
    n_bands = max_hamming + 1
    sh = simhash(docs, id_col, text_col, bits)
    width = (bits + n_bands - 1) // n_bands
    band_structs = []
    for k in range(n_bands):
        off = k * width
        w = min(width, bits - off)
        val = F.shiftright(F.col("simhash"), off) % F.lit(2**w)
        band_structs.append(F.struct(F.lit(k).alias("bk"), val.alias("bv")))
    banded = sh.select(
        "doc_id", "simhash", F.explode(F.array(*band_structs)).alias("b")
    ).select("doc_id", "simhash", F.col("b.bk").alias("bk"), F.col("b.bv").alias("bv"))
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "bk", "bv"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "bk", "bv"
    )
    return (
        a.join(b, ["bk", "bv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def word_ngrams(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, ngram): distinct word n-grams via window lead over token
    positions (engine-portable: same lead() construction in SQL)."""
    from pyspark.sql import Window

    t = tokens(docs, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    g = F.col("token")
    for j in range(1, n):
        g = F.concat(g, F.lit(" "), F.lead("token", j).over(w))
    return (
        t.select("doc_id", g.alias("ngram"))
        .where(F.col("ngram").isNotNull())
        .distinct()
    )


def lsh_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.0,
    max_bucket: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, jaccard): the PRODUCTION dedup composition — LSH
    band buckets propose candidate pairs, exact word-n-gram Jaccard
    verifies them, keeping pairs with jaccard ≥ threshold. No quadratic
    stage: candidates come only from the (bucket-capped) band self-join,
    and the verify step is two joins keyed on doc id + ngram."""
    # lsh_candidate_pairs already materializes the pair set (eager
    # localCheckpoint inside); persist only the shared n-gram relation —
    # it feeds ga/gb/sizes and would otherwise re-run the tokenize→ngram
    # chain three times at corpus scale. Released after the verified-pair
    # result is materialized below.
    pairs = lsh_candidate_pairs(docs, id_col, text_col, max_bucket)
    g = word_ngrams(docs, n, id_col, text_col).persist()
    ga = g.select(F.col("doc_id").alias("doc_a"), "ngram")
    gb = g.select(F.col("doc_id").alias("doc_b"), "ngram")
    inter = (
        pairs.join(ga, "doc_a")
        .join(gb, ["doc_b", "ngram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
    out = (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .na.fill(0, ["n_inter"])
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .localCheckpoint(eager=True)
    )
    g.unpersist()
    return out


def ngram_jaccard_consecutive(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for consecutive doc-id pairs (a, a+1) —
    the deterministic pair set that exercises exact n-gram Jaccard without
    a quadratic blowup; production pairs come from lsh_candidate_pairs."""
    g = word_ngrams(docs, n, id_col, text_col)
    ga = g.select(F.col("doc_id").alias("doc_a"), "ngram")
    gb = g.select((F.col("doc_id") - 1).alias("doc_a"), F.col("ngram").alias("ngram_b"))
    inter = (
        ga.join(gb, (ga.doc_a == gb.doc_a) & (ga.ngram == gb.ngram_b))
        .groupBy(ga.doc_a.alias("doc_a"))
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select((F.col("doc_id") - 1).alias("doc_a"), F.col("sz").alias("sz_b"))
    return (
        sa.join(sb, "doc_a")
        .join(inter, "doc_a", "left")
        .na.fill(0, ["n_inter"])
        .select(
            "doc_a",
            (F.col("doc_a") + 1).alias("doc_b"),
            F.round(
                F.col("n_inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


def dedup_clusters(
    spark,
    docs: DataFrame,
    threshold: float = 0.1,
    n: int = 3,
    max_bucket: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, canonical, keep): the END-TO-END dedup pipeline — LSH
    candidate pairs, exact-Jaccard verification at ``threshold``, then
    connected components over the surviving near-dup pair graph; every
    document maps to its cluster's min doc id (canonical) and
    ``keep = (canonical == doc_id)`` marks the one survivor per cluster.
    Singletons keep themselves.

    This is the production composition a 100 TB corpus dedup actually
    runs: the pair graph is tiny relative to the corpus (near-dup pairs
    only), so the hash-min CC over it costs nothing next to the LSH scan,
    and canonical assignment is one broadcast-size join back to the
    corpus. Near-dup transitivity is handled by the components step —
    A≈B≈C collapses to one survivor even when A and C share no band.
    """
    from .components import connected_components

    pairs = lsh_jaccard_pairs(
        docs, n=n, threshold=threshold, max_bucket=max_bucket,
        id_col=id_col, text_col=text_col,
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # the pair graph is orders of magnitude smaller than the corpus —
    # size its superstep shuffle separately (callers pass the same
    # input-proportional width the registry uses; default stays the
    # session's parallelism for standalone use)
    comp = connected_components(
        spark, pairs, num_partitions=num_partitions
    ).components
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("canonical"),
            (
                F.coalesce(F.col("component"), F.col("doc_id")) == F.col("doc_id")
            ).alias("keep"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, n_inter, sz_a, sz_b, cont_a6, cont_b6): ASYMMETRIC
    n-gram containment |A∩B|/|A| (and /|B|) for LSH candidate pairs,
    kept when either side's containment >= threshold.

    Containment catches what symmetric Jaccard misses: doc A = doc B
    plus boilerplate scores cont_a ~ 1 while Jaccard ~ |A|/|B| can sit
    far below any dedup threshold — the copy-with-wrapper pattern that
    dominates crawled corpora (Broder's original resemblance/containment
    split). Same plan shape as ``lsh_jaccard_pairs``: banded-LSH
    candidates (bucket-capped), exact intersection via two id+ngram
    joins, sizes from one groupBy — no quadratic stage."""
    pairs = lsh_candidate_pairs(docs, id_col, text_col, max_bucket)
    g = word_ngrams(docs, n, id_col, text_col).persist()
    ga = g.select(F.col("doc_id").alias("doc_a"), "ngram")
    gb = g.select(F.col("doc_id").alias("doc_b"), "ngram")
    inter = (
        pairs.join(ga, "doc_a")
        .join(gb, ["doc_b", "ngram"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("sz"))
    out = (
        pairs.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .na.fill(0, ["n_inter"])
        .select(
            "doc_a", "doc_b",
            F.col("n_inter").cast("long").alias("n_inter"),
            F.col("sz_a").cast("long").alias("sz_a"),
            F.col("sz_b").cast("long").alias("sz_b"),
            F.round(F.col("n_inter") / F.col("sz_a"), 6).alias("cont_a6"),
            F.round(F.col("n_inter") / F.col("sz_b"), 6).alias("cont_b6"),
        )
        .where(
            (F.col("cont_a6") >= threshold) | (F.col("cont_b6") >= threshold)
        )
        .localCheckpoint(eager=True)
    )
    g.unpersist()
    return out
