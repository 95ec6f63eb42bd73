"""Deduplication operators over ``documents`` (and ``embeddings``):

- exact dedup            (sha256 hash-groupBy)                -> oracle
- n-gram Jaccard near-dup (5-shingle inverted-index self-join) -> oracle
- SimHash near-dup       (hamming distance on 60-bit simhash)  -> oracle
- MinHash-LSH near-dup   (portable banded MinHash)             -> oracle
- MinHash-LSH (spark.ml) (engine-internal hashes, unregistered) -> direct test
- embedding-cosine near-dup (same-bucket pair scan)            -> oracle

Scale notes (100 TB): exact dedup is one hash-partitioned aggregation on
the digest — embarrassingly scalable. The shingle join is the classic
inverted-index pattern: explode shingles, shuffle by shingle, pair only
within a posting list; hot shingles are the skew risk, so the scale path
is MinHash-LSH (q_dedup_minhash_lsh) where the join key is a (band,
bucket-hash) with bounded posting lists. Embedding near-dup pairs only
within a coarse bucket (here the ``label`` cell) — the IVF trick — so
the pair scan is per-cell quadratic, not global.

The text near-dup stages live here once, and their callers share them:

- ``functions.text.shingle_set`` — the let-bound shingle array, used
  by ``_shingle_sets``, ``incremental_dedup._sigs`` and
  ``contamination.contamination_report``;
- ``minhash_digests`` / ``minhash_minima`` / ``lsh_band_keys`` — the
  MinHash signature and its LSH band keys, used by ``_banded_keys``
  (and through it ``q_dedup_minhash_banded`` and
  ``contamination.q_decontaminate_fuzzy``) and by
  ``incremental_dedup._sigs`` / ``_band_rows``;
- ``_posting_pairs`` — the DF-cut posting-list pair counts of
  ``q_dedup_near`` and ``q_dedup_containment``;
- ``_docs_pairs`` — the in-array pair expansion of those two and of
  ``q_dedup_minhash_banded``;
- ``_cand_docs`` — the candidate-doc set of ``q_dedup_minhash_banded``
  and ``q_dedup_snm``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.text import (
    SIMHASH_BITS,
    shingle_set,
    shingles_k,
    sql_simhash_cte,
    sql_tokens,
    token_hash,
    tokenize,
)
from ..sources.loader import load_table, spread_small_scan
from .similarity import IVF_CELLS_CTE as _IVF_CELLS_CTE

SHINGLE_K = 5
JACCARD_THRESHOLD = 0.5
HAMMING_MAX = 3
EMBED_PAIRS_PER_CELL = 3

# Hot-shingle guard for the inverted-index join: a shingle appearing in
# more than max(DF_CUTOFF_MIN, DF_CUTOFF_FRAC * corpus) documents is
# boilerplate, carries no similarity signal, and its posting list is the
# one skew risk of the pattern (pair expansion is O(df^2)). The cutoff
# is part of the operator's SEMANTICS (similarity over the filtered
# shingle space) and is mirrored exactly in the DuckDB oracle, so the
# production guard itself is hash-checked.
DF_CUTOFF_MIN = 20
DF_CUTOFF_FRAC = 0.02


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13 — exact dedup by content digest: one shuffle on sha256(text),
    keep the minimum doc_id per group."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2(F.col("text"), 256).alias("text_sha"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One (doc_id, shingle) row per DISTINCT word 5-gram — the exploded
    view of ``_shingle_sets``; entirely narrow (no shuffle) up to the
    explode."""
    return _shingle_sets(spark, sf_dir).select(
        "doc_id", F.explode("ss").alias("s")
    )


def _docs_pairs() -> Column:
    """Every (doc_a, doc_b) struct with doc_a < doc_b inside the sorted
    ``docs`` array — element i pairs with the elements after it: the
    in-array pair expansion, no self-join of the exploded relation."""
    return F.flatten(
        F.transform(
            "docs",
            lambda x, i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size("docs")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def _posting_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_b, doc_a, common, n_a, n_b) for every doc pair sharing a
    shingle of the FILTERED shingle space — the inverted-index stage of
    q_dedup_near and q_dedup_containment. One shuffle groups shingles
    into per-shingle doc sets (``collect_set`` deduplicates (doc,
    shingle) for free), hot shingles (document frequency above
    ``max(DF_CUTOFF_MIN, DF_CUTOFF_FRAC * corpus)``) are dropped, pairs
    come from INSIDE each surviving posting-list array, and per-doc
    set sizes come from the filtered postings (so numerator and
    denominator agree)."""
    sh = _shingles(spark, sf_dir)
    stats = sh.agg(F.countDistinct("doc_id").alias("n_docs"))
    cutoff = F.greatest(
        F.lit(DF_CUTOFF_MIN),
        F.ceil(F.lit(DF_CUTOFF_FRAC) * F.col("n_docs")),
    )
    postings = (
        sh.groupBy("s")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .crossJoin(F.broadcast(stats))
        .filter(F.size("docs") <= cutoff)
        .select("s", "docs")
    )
    sizes = (
        postings.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    pairs = (
        postings.filter(F.size("docs") >= 2)
        .select(F.explode(_docs_pairs()).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    # size joins left unhinted: AQE broadcasts them while `sizes` fits
    # (one row per doc) and falls back to shuffle joins beyond that
    return pairs.join(sa, "doc_a").join(sb, "doc_b")


def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14 — exact n-gram Jaccard near-dup via inverted-index posting
    lists: one shuffle groups shingles into per-shingle doc sets
    (``collect_set`` deduplicates (doc, shingle) for free), hot shingles
    (document frequency above ``max(DF_CUTOFF_MIN, DF_CUTOFF_FRAC *
    corpus)``) are dropped — boilerplate n-grams carry no similarity
    signal and their posting lists are the pattern's one skew risk —
    then candidate pairs are generated INSIDE each surviving
    posting-list array (no self-join of the raw shingle relation), and
    ``|A∩B| / (|A|+|B|-|A∩B|)`` is computed over the filtered shingle
    space. Per-doc set sizes come from the filtered postings (so
    numerator and denominator agree) and broadcast into the pair
    aggregation. Threshold 0.5 on 5-shingles. The DF cutoff is mirrored
    exactly in the DuckDB oracle: the production skew guard is itself
    under the hash gate."""
    return (
        _posting_pairs(spark, sf_dir)
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: all pairs whose 60-bit simhash hamming distance
    is <= HAMMING_MAX, found by pigeonhole banding: split the hash into
    HAMMING_MAX+1 bands — any pair within distance d agrees exactly on at
    least one band — equi-join on (band_index, band_value), then verify
    the hamming distance and de-duplicate multi-band matches. Same result
    set as the oracle's all-pairs scan, but the join is a hash join on
    band keys instead of an O(n^2) theta-join. 60-bit hash / 15-bit
    bands = 32768 keys per band (the 32-bit first cut had 256, whose
    posting lists grow O(n/256) and go quadratic at corpus scale —
    VERDICT r01 #7)."""
    from .text_analysis import q_doc_fingerprint

    n_bands = HAMMING_MAX + 1
    band_bits = SIMHASH_BITS // n_bands
    sh = q_doc_fingerprint(spark, sf_dir).select("doc_id", "simhash")
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        "simhash",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("key"),
    )
    # pairs INSIDE each (band, key) bucket's posting array (array_sort on
    # the struct orders by doc_id, guaranteeing doc_a < doc_b) — one
    # groupBy instead of a banded self-join, so the fingerprint subplan
    # is evaluated once, not once per join side
    bucket_pairs = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size("ds")),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias(
                        "hamming"
                    ),
                ),
            ),
        )
    )
    return (
        bands.groupBy("band", "key")
        .agg(F.array_sort(F.collect_set(F.struct("doc_id", "simhash"))).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.explode(bucket_pairs).alias("p"))
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("p.hamming").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup — the 100 TB scale path (bounded posting
    lists instead of raw shingle joins). spark.ml MinHashLSH with a fixed
    seed over binary HashingTF shingle vectors; engine-specific hashing,
    so rows-only check by design."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", shingles_k(tokenize(F.col("text")), SHINGLE_K).alias("sh")
    ).filter(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(toks)
    lsh = MinHashLSH(inputCol="features", outputCol="bands", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )


MINHASH_N = 16  # hash functions
MINHASH_R = 2  # rows per band -> 8 bands; P(candidate | J=0.5) ~ 0.90
MINHASH_BANDS = MINHASH_N // MINHASH_R
# Per-(band, key) bucket cap on all-pairs candidate expansion (VERDICT
# r03 #2): a large near-identical cluster shares ALL minima, so one
# bucket would otherwise hold the whole cluster and the in-array pair
# expansion builds O(m^2) structs inside a single aggregation row
# (10^10 structs for a 100k-doc crawl dup cluster -> executor OOM).
# The first LSH_BUCKET_CAP docs of a bucket (by doc_id) keep exact
# all-pairs; every doc PAST the cap still becomes a candidate, paired
# against the bucket's min-doc representative (star edges — linear in
# bucket size, bounded collect buffer, and cluster connectivity is
# preserved for q_dedup_components). Nothing is silently dropped —
# only overflow-overflow pairs that don't route through the
# representative are skipped, which in an over-cap bucket (a dense dup
# cluster by construction) the transitive-closure step recovers; the
# overflow population is observable via minhash_bucket_overflow().
LSH_BUCKET_CAP = 512


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc: the DISTINCT 5-shingle set as an array, built
    SHUFFLE-FREE as one narrow Project over ``shingle_set`` (the
    let-bound form that tokenizes each text once).

    An earlier draft paid two shuffles (posexplode + window ``lead`` +
    collect_set groupBy) just to force one-tokenize-per-doc; the let
    binding gets the same single evaluation with zero exchanges.

    The trailing ``repartition(doc_id)`` is a deliberate REUSE BARRIER,
    not a distribution requirement: the dedup queries consume this
    relation from several subtrees (minhash minima, candidate semi-join,
    set sizes; postings + doc-frequency stats), and without an exchange
    each subtree would re-run the shingling narrowly. Identical Exchange
    subplans are collapsed by Spark's ReuseExchange rule, so the
    tokenize+shingle work runs once and the one linear, key-balanced
    shuffle of compact shingle arrays is shared by every consumer
    (measured 4.9s -> 2.7s on the banded-minhash query at sf0.1).

    The repartition is explicitly NUMBERED (defaultParallelism): AQE
    coalesces shuffles by byte size, and this relation is byte-tiny but
    CPU-heavy — the column-only form was being coalesced to a handful
    of tasks, serializing the shingle featurize (the q_dsir_select
    lesson)."""
    d = load_table(spark, sf_dir, "documents")
    sets = shingle_set(F.col("text"), SHINGLE_K)
    return d.select("doc_id", sets.alias("ss")).repartition(
        d.sparkSession.sparkContext.defaultParallelism, F.col("doc_id")
    )


def minhash_digests(ss: str) -> Column:
    """Per-shingle salted digests of the set-array column ``ss``: one
    struct of ``MINHASH_N // 4`` ``md5(g || ':' || shingle)`` hex
    strings per DISTINCT shingle (one digest yields four independent
    32-bit windows — hashing dominates MinHash cost at corpus scale).
    Bind it as column ``_digs``; ``minhash_minima`` reads it."""
    return F.transform(
        ss,
        lambda s: F.struct(
            *[
                F.md5(F.concat(F.lit(f"{g}:"), s)).alias(f"g{g}")
                for g in range(MINHASH_N // 4)
            ]
        ),
    )


def minhash_minima() -> list[Column]:
    """The ``MINHASH_N`` per-doc minima over the ``_digs`` column: hash
    i is the (i % 4)-th 32-bit window of digest i // 4, minimized by
    one ``array_min`` (no row amplification, no extra shuffle)."""

    def _min_hash(i: int) -> Column:
        # single-arg lambda: a two-arg transform lambda would receive
        # the array INDEX as its second argument
        return F.array_min(
            F.transform(
                "_digs",
                lambda d: F.conv(
                    F.substring(d[f"g{i // 4}"], 8 * (i % 4) + 1, 8), 16, 10
                ).cast("long"),
            )
        )

    return [_min_hash(i) for i in range(MINHASH_N)]


def lsh_band_keys(minima: list[Column]) -> Column:
    """The exploded ``bk`` struct (band, key): ``MINHASH_BANDS`` keys of
    ``MINHASH_R`` consecutive minima each, joined by '-'."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(
                        "-",
                        *[
                            minima[b * MINHASH_R + j].cast("string")
                            for j in range(MINHASH_R)
                        ],
                    ).alias("key"),
                )
                for b in range(MINHASH_BANDS)
            ]
        )
    ).alias("bk")


def _banded_keys(base: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band keys from the per-doc shingle sets:
    ``minhash_digests`` -> the 16 ``minhash_minima`` -> ``MINHASH_BANDS``
    ``lsh_band_keys`` of ``MINHASH_R`` minima each."""
    # shingle-less docs (<SHINGLE_K tokens) never enter banding: their
    # array_min minima are all NULL, concat_ws drops NULLs, and every
    # such doc would share the identical '' key in ALL bands — one
    # degenerate (band, key) bucket with an O(m^2) in-array pair
    # expansion. The oracle's mh CTE excludes them for free (unnest of
    # an empty set emits no rows), so the filter is parity, not a
    # semantic change.
    mh = base.filter(F.size("ss") > 0).withColumn(
        "_digs", minhash_digests("ss")
    ).select(
        "doc_id",
        F.size("ss").alias("n"),
        *[m.alias(f"_m{i}") for i, m in enumerate(minhash_minima())],
    )
    bk = lsh_band_keys([F.col(f"_m{i}") for i in range(MINHASH_N)])
    return mh.select("doc_id", bk).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_bucket_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(band, key, bucket_size) for every LSH bucket past
    ``LSH_BUCKET_CAP`` — the no-silent-caps companion to
    ``q_dedup_minhash_banded``: a production run reports this relation
    alongside the pair output so capped buckets (dense duplicate
    clusters whose overflow docs were star-paired against the bucket
    representative rather than all-paired) are visible, not silently
    absorbed."""
    banded = _banded_keys(_shingle_sets(spark, sf_dir))
    return (
        banded.groupBy("band", "key")
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") > LSH_BUCKET_CAP)
    )


def _cand_docs(cand: DataFrame) -> DataFrame:
    """(doc_id): the distinct docs of a (doc_a, doc_b) candidate-pair
    relation — the semi-join key of candidate-first verification."""
    return (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )


def q_dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable MinHash-LSH, oracle-checkable end to end: 16
    hash functions carved as four 32-bit windows out of each of 4 salted
    ``md5(g || ':' || shingle)`` digests (hashing dominates MinHash cost
    at corpus scale, so digests are reused 4-ways and computed over the
    DISTINCT shingle set, not every occurrence), per-doc minima as 16
    ``array_min`` expressions over the per-doc shingle-set array — no
    row amplification, no extra shuffle — banded into 8 band keys of 2
    minima each, candidates = docs sharing any band key (equi-join on
    the band), then exact Jaccard verification >= 0.5 restricted
    candidate-first (the shingle relation is semi-joined to candidate
    docs BEFORE pair expansion, so the expensive stage never touches
    non-candidate docs).

    Because every hash is deterministic and engine-portable, DuckDB
    replicates the exact candidate set — so the LSH *scale path itself*
    is hash-checked, not just the brute-force fallback (the spark.ml
    variant q_dedup_minhash_lsh stays rows-only: its hashes are
    engine-internal). LSH recall is probabilistic by design; the oracle
    checks parity of the algorithm, not ground-truth completeness.

    Buckets larger than ``LSH_BUCKET_CAP`` (dense duplicate clusters by
    construction — only near-identical docs agree on a whole band) cap
    the all-pairs expansion at the cap and connect every overflow doc
    to the bucket's min-doc representative instead (see the
    ``LSH_BUCKET_CAP`` comment; overflow observable via
    ``minhash_bucket_overflow``). The cap rule is replicated verbatim
    in the oracle SQL, so the hash check covers the capped algorithm
    itself, not an uncapped idealization."""
    base = _shingle_sets(spark, sf_dir)
    banded = _banded_keys(base)
    # candidate pairs INSIDE each (band, key) bucket, CAPPED (VERDICT
    # r03 #2): rank bucket members by doc_id with a window (sort-based,
    # disk-spillable — no unbounded aggregation buffer even for a
    # corpus-sized dup cluster landing in one bucket). The running min
    # over the same ordered frame is the bucket's min doc (ascending
    # order makes running min == docs[0] on every row), so rank and
    # representative ride ONE Window node on one (band, key) exchange.
    wo = W.partitionBy("band", "key").orderBy("doc_id")
    ranked = banded.select(
        "doc_id",
        "band",
        "key",
        F.row_number().over(wo).alias("rn"),
        F.min("doc_id").over(wo).alias("rep"),
    )
    # head of the bucket (<= LSH_BUCKET_CAP docs): exact all-pairs via
    # the in-array expansion — the groupBy rides the window's existing
    # (band, key) partitioning (no second exchange) and the collect is
    # bounded by the cap, so the worst row is CAP^2/2 structs (~2 MB),
    # not m^2
    cand_head = (
        ranked.filter(F.col("rn") <= LSH_BUCKET_CAP)
        .groupBy("band", "key")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
        .select(F.explode(_docs_pairs()).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
    )
    # overflow (rank past the cap): star pairs against the bucket
    # representative — a pure projection, linear in bucket size; rep <
    # doc_id always holds (rep is the bucket min), preserving the
    # doc_a < doc_b invariant
    cand_over = ranked.filter(F.col("rn") > LSH_BUCKET_CAP).select(
        F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    cand = cand_head.unionByName(cand_over).distinct()
    # exact-verification stage, CANDIDATE-FIRST (VERDICT r01 #6): the
    # shingle-set relation is semi-joined down to docs that appear in at
    # least one candidate pair BEFORE posting lists are built and pairs
    # expanded. At corpus scale the candidate set is a vanishing
    # fraction of the corpus, so the expensive pair expansion never
    # touches non-candidate docs — the whole point of LSH. Denominator
    # sizes ride along the minhash projection (size of the per-doc set
    # array) — no separate pass over the shingle subplan.
    cand_docs = _cand_docs(cand)
    sh_cand = base.join(cand_docs, "doc_id", "left_semi").select(
        "doc_id", F.explode("ss").alias("s")
    )
    # denominator sizes from the set relation directly (cheaper subplan
    # than mh, which carries the hash extraction work)
    sizes = base.select("doc_id", F.size("ss").alias("n"))
    # intersection counts PAIR-FIRST, not posting-list-first: the old
    # per-shingle posting-array pair expansion was the same O(m^2)-in-
    # one-row hazard as the bucket stage (a shingle common to every doc
    # of a dup cluster holds the whole cluster in one array). Expanding
    # each candidate pair by doc_a's shingle set and inner-joining the
    # (doc_b, s) side counts the intersection with per-row fan-out
    # bounded by a single document's shingle count — two distributed
    # hash joins, no quadratic row anywhere.
    common = (
        cand.join(
            sh_cand.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a"
        )
        .join(
            sh_cand.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"]
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup candidates: same-cell pair scan over
    the DATA-DERIVED IVF quantizer (``similarity.ivf_assign`` — cell
    count grows ~sqrt(n) with the corpus, VERDICT r02 #2; the round-2
    cells were the data-fixed ``label`` column, constant-k), top-3
    most-similar pairs per cell — the IVF-style bucketed form of
    semantic dedup (a production run would threshold instead; this
    corpus has no semantic dups seeded). With ~sqrt(n) vectors per
    cell the per-cell quadratic scan is O(n*sqrt(n)) corpus-wide.

    Norms are computed ONCE PER VECTOR before the pair join (each side
    carries its norm through the join), so per pair the cosine is one
    dot product and one divide — not three dot products. Identical
    doubles: the division grouping ``dot / (na * nb)`` matches the
    oracle expression exactly."""
    from .similarity import dot_expr, ivf_assign

    asg = ivf_assign(load_table(spark, sf_dir, "embeddings"))
    a = asg.select(
        "cell",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("v_norm").alias("norm_a"),
    )
    b = asg.select(
        "cell",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("v_norm").alias("norm_b"),
    )
    w = W.partitionBy("cell").orderBy(
        F.col("cosine").desc(), F.col("vec_a"), F.col("vec_b")
    )
    return (
        a.join(b, ["cell"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cosine",
            F.round(
                dot_expr("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6
            ),
        )
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= EMBED_PAIRS_PER_CELL)
        .select("cell", "vec_a", "vec_b", "cosine", "rnk")
    )


SPAN_K = 16
# (doc_id, span_no) packs into one long for a hash-aggregable first-
# occurrence min: 2^20 span slots per doc = 16M-token documents at
# SPAN_K=16 before overflow, with doc_id headroom to 2^43
_SPAN_PACK = 1 << 20


def _doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, span_no, span): consecutive ``SPAN_K``-token passages of
    each document, last partial span kept. The tokens array is LET-BOUND
    (``transform(array(tokenize), ts -> ...)``) so the regex tokenizer
    runs once per document, not once per span — the README round-3
    idiom; HOF bodies sit outside codegen subexpression elimination."""
    d = load_table(spark, sf_dir, "documents")
    spans = F.transform(
        F.array(tokenize(F.col("text"))),
        lambda ts: F.when(
            F.size(ts) > 0,
            F.transform(
                F.sequence(
                    F.lit(0), (F.ceil(F.size(ts) / F.lit(SPAN_K)) - 1).cast("int")
                ),
                lambda i: F.concat_ws(" ", F.slice(ts, i * SPAN_K + 1, SPAN_K)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )[0]
    return d.select("doc_id", F.posexplode(spans).alias("span_no", "span"))


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact passage dedup (the C4 duplicate-line rule /
    RefinedWeb exact-substring pass, at fixed 16-token span
    granularity): every span keeps only its FIRST corpus occurrence
    (min (doc_id, span_no)), and documents are reassembled from their
    surviving spans in order. Returns per-doc (n_spans_total,
    n_spans_kept, dedup_text) — a doc whose every span appeared
    earlier elsewhere comes back empty, the cross-document half of
    dedup that whole-doc hashing (q_dedup_exact) cannot see.

    100 TB shape: spans explode ~n_tokens/K rows; the winner pick is
    ONE hash shuffle on the span text with map-side partial min — the
    (doc_id, span_no) order is PACKED into a single long
    (``doc_id * 2^20 + span_no``, numerically equal to the
    lexicographic order) so the aggregate is a plain ``min(long)``
    HashAggregate, not the SortAggregate a ``min(struct)`` would force
    (struct min is sort-based, paying a per-partition sort on the span
    keys) — and the winners themselves ARE the surviving spans, so
    reassembly is one further shuffle keyed by doc_id. No join back to
    the exploded relation, no window over the corpus. Span keys are
    uniformly distributed (full 16-token text as key) — no hot-key
    skew; a production run would hash spans to 128-bit digests to
    shrink shuffle payload, at the cost of oracle comparability here."""
    spans = _doc_spans(spark, sf_dir)
    totals = spans.groupBy("doc_id").agg(F.count("*").alias("n_spans_total"))
    winners = (
        spans.groupBy("span")
        .agg(
            F.min(F.col("doc_id") * _SPAN_PACK + F.col("span_no")).alias("w")
        )
        .select(
            F.expr(f"w div {_SPAN_PACK}").alias("doc_id"),
            (F.col("w") % _SPAN_PACK).cast("int").alias("span_no"),
            "span",
        )
    )
    kept = winners.groupBy("doc_id").agg(
        F.count("*").alias("n_spans_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_no", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_spans_total",
        F.coalesce("n_spans_kept", F.lit(0)).cast("long").alias("n_spans_kept"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtering EXACT set-similarity self-join — the AllPairs /
# PPJoin candidate-generation strategy (Chaudhuri et al. 2006, Bayardo
# et al. 2007, Xiao et al. 2011). Unlike the LSH paths (probabilistic
# recall) and q_dedup_near (similarity over a df-filtered shingle
# space), this returns EXACTLY the pairs with Jaccard >= tau over the
# FULL distinct-shingle space, while joining only on each document's
# PREFIX: with every set sorted by one global token order (rarest
# first), two sets with J >= tau must share a token inside both
# prefixes of length n - ceil(tau*n) + 1, so the equi-join touches the
# rarest ~(1-tau) fraction of each document's shingles and the hot
# boilerplate shingles (which sort LAST) never generate candidates.
# The oracle is the brute-force all-pairs Jaccard join — a SEMANTIC
# check of the published pruning theorem, not a mirror of the
# algorithm, so a recall bug in the prefix logic would hash-mismatch.
# ---------------------------------------------------------------------------

PREFIX_TAU = JACCARD_THRESHOLD


def q_dedup_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= ``PREFIX_TAU`` near-dup pairs via prefix
    filtering. Stages (three shuffles total, all key-balanced):

    1. document frequency per distinct shingle (one shuffle on the
       shingle — map-side combinable count);
    2. per-doc rank in the global (df asc, shingle) order via one
       window on ``doc_id`` (the set-size count rides the same
       exchange as a partition-only window), prefix = ranks
       ``<= n - ceil(tau*n) + 1``;
    3. candidate pairs = equi-join of the prefix relation with itself
       on the shingle (doc_a < doc_b), pre-pruned by the length filter
       ``min(n) >= ceil(tau * max(n))`` (J <= min/max sizes), then
       verified with one ``array_intersect`` over the full per-doc
       shingle arrays.

    100 TB shape: candidate generation never touches hot shingles —
    a shingle enters a prefix only while it is among its document's
    rarest ``~(1-tau)*n`` shingles, so posting lists of the join key
    are df-bounded from both ends; the verification input is the
    candidate pair set, which the pruning theorem keeps a superset of
    (but close to) the true result. On a dense duplicate cluster the
    OUTPUT itself is quadratic in the cluster size — that regime
    belongs to the capped LSH path (q_dedup_minhash_banded); the
    prefix join's value is exactness at moderate similarity.

    REGISTERED in the late-round-4 rotation (slot funded by
    q_media_pipeline): the driver hash-checks this against the
    brute-force all-pairs ground truth every round."""
    base = _shingle_sets(spark, sf_dir).filter(F.size("ss") > 0)
    sh = base.select("doc_id", F.explode("ss").alias("s"))
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    wd = W.partitionBy("doc_id").orderBy("df", "s")
    pref = (
        sh.join(dfreq, "s")
        .select(
            "doc_id",
            "s",
            F.row_number().over(wd).alias("rk"),
            F.count("*").over(W.partitionBy("doc_id")).alias("n"),
        )
        .filter(F.col("rk") <= F.col("n") - F.ceil(F.lit(PREFIX_TAU) * F.col("n")) + 1)
    )
    pa = pref.select(F.col("doc_id").alias("doc_a"), "s", F.col("n").alias("n_a"))
    pb = pref.select(F.col("doc_id").alias("doc_b"), "s", F.col("n").alias("n_b"))
    cand = (
        pa.join(pb, "s")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("n_a", "n_b")
                >= F.ceil(F.lit(PREFIX_TAU) * F.greatest("n_a", "n_b"))
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    ssa = base.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a"))
    ssb = base.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b"))
    common = F.size(F.array_intersect("ss_a", "ss_b"))
    return (
        cand.join(ssa, "doc_a")
        .join(ssb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                common / (F.size("ss_a") + F.size("ss_b") - common), 6
            ),
        )
        .filter(F.col("jaccard") >= PREFIX_TAU)
        .select("doc_a", "doc_b", "jaccard")
    )


DEDUP_QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_near": q_dedup_near,
    "q_dedup_simhash": q_dedup_simhash,
    # q_dedup_minhash_lsh (spark.ml, engine-internal hashes — rows-only
    # by nature) is unregistered: the oracle-checked banded variant is
    # the LSH scale path, and the driver caps CORRECTNESS at 50 slots.
    # The function stays API surface with a direct recall test.
    "q_dedup_minhash_banded": q_dedup_minhash_banded,
    "q_dedup_embedding": q_dedup_embedding,
    # Registered in the late-round-4 rotation (slot funded by
    # q_media_pipeline, which keeps its driver-grade parity test): the
    # exact AllPairs/PPJoin similarity join, whose oracle is the
    # brute-force all-pairs GROUND TRUTH — the strongest oracle shape
    # in the dedup family (semantics, not algorithm mirror).
    "q_dedup_prefix": q_dedup_prefix,
}

_MINHASH_MINS = ",\n         ".join(
    f"min(('0x' || substr(md5('{i // 4}:' || s), {8 * (i % 4) + 1}, 8))::BIGINT) AS m{i}"
    for i in range(MINHASH_N)
)
_MINHASH_BANDS_SQL = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, CAST(m{b * MINHASH_R} AS VARCHAR) || '-' || "
    f"CAST(m{b * MINHASH_R + 1} AS VARCHAR) AS key FROM mh"
    for b in range(MINHASH_BANDS)
)

_TOKS = sql_tokens("text")

_SHINGLE_CTE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS tokens FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(tokens) - {SHINGLE_K - 1}, 0) + 1),
           i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] || ' ' ||
                tokens[i+3] || ' ' || tokens[i+4]))) AS s
  FROM toks
)
"""

BOILER_DF = 3


def q_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-FREQUENCY boilerplate removal (the RefinedWeb/CCNet
    repeated-line rule at the same fixed span granularity as
    q_dedup_spans): a span appearing in >= ``BOILER_DF`` DISTINCT
    documents is boilerplate (nav bars, license headers, cookie
    banners — content whose repetition across documents IS the signal)
    and is removed from EVERY document, including the first. The
    frequency complement of q_dedup_spans' first-occurrence rule: that
    one keeps one copy of everything; this one keeps zero copies of
    the corpus-hot spans and every copy of the rest. Returns per-doc
    (n_spans_total, n_spans_kept, clean_text).

    100 TB shape: the distinct-doc frequency is ONE hash shuffle on
    the span text with a map-side-combinable count-distinct over the
    (span, doc_id)-deduped relation; the removal is a left_anti join
    of the span rows against the (small: frequency >= threshold) hot
    set — the hot spans themselves collapse into single aggregate
    rows, so a license header in a billion documents is one row on
    the build side of the anti join, never a window partition.
    Reassembly is the same per-doc sorted collect as q_dedup_spans."""
    spans = _doc_spans(spark, sf_dir)
    boiler = (
        spans.select("span", "doc_id")
        .distinct()
        .groupBy("span")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= BOILER_DF)
        .select("span")
    )
    totals = spans.groupBy("doc_id").agg(F.count("*").alias("n_spans_total"))
    kept = (
        spans.join(boiler, "span", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("span_no", "span"))),
                    lambda s: s["span"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_spans_total",
        F.coalesce("n_spans_kept", F.lit(0)).cast("long").alias("n_spans_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# Shared span-relation CTE: q_dedup_spans' first-occurrence oracle and
# q_dedup_boilerplate's frequency oracle both start from the identical
# (doc_id, span_no, span) relation + per-doc totals.
_SPANS_CTE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
spans AS (
  SELECT doc_id, i - 1 AS span_no,
         array_to_string(ts[((i-1)*{SPAN_K}+1):((i-1)*{SPAN_K}+{SPAN_K})], ' ') AS span
  FROM toks,
       UNNEST(generate_series(1, CAST(ceil(len(ts) / {SPAN_K}.0) AS BIGINT))) AS g(i)
),
totals AS (SELECT doc_id, count(*) AS n_spans_total FROM spans GROUP BY doc_id)"""

# Oracle for q_dedup_spans (registered in the round-4 rotation; also
# exercised directly by tests/test_unregistered_ops.py's semantics
# tests).
SPAN_DEDUP_ORACLE = _SPANS_CTE + """,
winners AS (
  SELECT doc_id, span_no, span FROM (
    SELECT *, row_number() OVER (PARTITION BY span ORDER BY doc_id, span_no) AS rn
    FROM spans
  ) WHERE rn = 1
),
kept AS (
  SELECT doc_id, count(*) AS n_spans_kept,
         string_agg(span, ' ' ORDER BY span_no) AS dedup_text
  FROM winners GROUP BY doc_id
)
SELECT t.doc_id, t.n_spans_total,
       coalesce(k.n_spans_kept, 0) AS n_spans_kept,
       coalesce(k.dedup_text, '') AS dedup_text
FROM totals t LEFT JOIN kept k USING (doc_id)
"""

# q_dedup_boilerplate's DuckDB twin: the shared span CTE + the
# frequency rule — a span whose DISTINCT-document count reaches
# BOILER_DF is removed from every document.
BOILER_DEDUP_ORACLE = _SPANS_CTE + f""",
hot AS (
  SELECT span FROM (
    SELECT span, count(DISTINCT doc_id) AS df FROM spans GROUP BY span
  ) WHERE df >= {BOILER_DF}
),
kept AS (
  SELECT doc_id, count(*) AS n_spans_kept,
         string_agg(span, ' ' ORDER BY span_no) AS clean_text
  FROM spans WHERE span NOT IN (SELECT span FROM hot)
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_spans_total,
       coalesce(k.n_spans_kept, 0) AS n_spans_kept,
       coalesce(k.clean_text, '') AS clean_text
FROM totals t LEFT JOIN kept k USING (doc_id)
"""


DEDUP_ORACLES = {
    "q_dedup_exact": """
SELECT sha256(text) AS text_sha, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY sha256(text)
""",
    "q_dedup_near": _SHINGLE_CTE
    + f"""
, stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM sh),
df AS (SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s),
sh_f AS (
  SELECT sh.doc_id, sh.s
  FROM sh JOIN df USING (s), stats
  WHERE df <= greatest({DF_CUTOFF_MIN}, CAST(ceil({DF_CUTOFF_FRAC} * n_docs) AS BIGINT))
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh_f GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh_f a JOIN sh_f b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(common * 1.0 / (sa.n + sb.n - common), 6) >= {JACCARD_THRESHOLD}
""",
    "q_dedup_minhash_banded": _SHINGLE_CTE
    + f"""
, mh AS (
  SELECT doc_id,
         {_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
banded AS (
  {_MINHASH_BANDS_SQL}
),
ranked AS (
  SELECT doc_id, band, key,
         row_number() OVER (PARTITION BY band, key ORDER BY doc_id) AS rn,
         min(doc_id) OVER (PARTITION BY band, key ORDER BY doc_id) AS rep
  FROM banded
),
cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM ranked a JOIN ranked b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
     AND a.rn <= {LSH_BUCKET_CAP} AND b.rn <= {LSH_BUCKET_CAP}
    UNION ALL
    SELECT rep AS doc_a, doc_id AS doc_b FROM ranked WHERE rn > {LSH_BUCKET_CAP}
  )
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a
  JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN cand ON cand.doc_a = a.doc_id AND cand.doc_b = b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(common * 1.0 / (sa.n + sb.n - common), 6) >= {JACCARD_THRESHOLD}
""",
    "q_dedup_simhash": sql_simhash_cte()
    + f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
""",
    "q_dedup_embedding": _IVF_CELLS_CTE
    + f""",
pairs AS (
  SELECT a.cell AS cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(
           list_sum(list_transform(range(1, len(a.embedding)+1),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (a.v_norm * b.v_norm), 6) AS cosine
  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT cell, vec_a, vec_b, cosine, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY cell ORDER BY cosine DESC, vec_a, vec_b) AS rnk
  FROM pairs
) WHERE rnk <= {EMBED_PAIRS_PER_CELL}
""",
}

# Evicted in the round-8 rotation (slot funds q_dsir_select): the
# winner-take-first-occurrence idiom stays hash-checked inside the
# registered q_dedup_exact (same min-keyed claim shape at doc rather
# than span granularity), and the evicted slot keeps the driver-grade
# DuckDB comparison plus the independent driver-side model and
# Hypothesis reconstruction tests in tests/test_unregistered_ops.py /
# tests/test_properties.py.
UNREGISTERED_DEDUP_QUERIES = {
    "q_dedup_spans": q_dedup_spans,
}
UNREGISTERED_DEDUP_ORACLES = {
    "q_dedup_spans": SPAN_DEDUP_ORACLE,
}

# Round-12 rotation (VERDICT r11 #5): corpus-frequency boilerplate
# removal enters the registry — full-pipeline DuckDB parity via the
# shared _SPANS_CTE — funded by q_gap_fill (see operators/timeseries.py
# for where the evicted slot keeps its driver-grade comparison).
DEDUP_QUERIES["q_dedup_boilerplate"] = q_dedup_boilerplate
DEDUP_ORACLES["q_dedup_boilerplate"] = BOILER_DEDUP_ORACLE

# Brute-force all-pairs ground truth over the FULL shingle space — the
# SEMANTIC oracle for q_dedup_prefix (the prefix join must reproduce it
# exactly; a recall bug in the pruning logic would hash-mismatch).
# Registered (late-round-4 rotation) and additionally exercised by
# tests/test_unregistered_ops.py.
PREFIX_DEDUP_ORACLE = (
    _SHINGLE_CTE
    + f"""
, sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(common * 1.0 / (sa.n + sb.n - common), 6) >= {PREFIX_TAU}
"""
)

DEDUP_ORACLES["q_dedup_prefix"] = PREFIX_DEDUP_ORACLE


# ---------------------------------------------------------------------------
# Containment detection (Broder 1997's second resemblance measure):
# c(A,B) = |A ∩ B| / |A| — ASYMMETRIC, catching what Jaccard cannot: a
# short document wholly quoted inside a long one has high containment
# but low Jaccard (the union is dominated by the long doc). This is the
# partial-copy / quotation / boilerplate-inclusion detector of the
# dedup family.
# ---------------------------------------------------------------------------

CONTAINMENT_THRESHOLD = 0.8


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_inner, doc_outer, containment): ordered pairs where at
    least ``CONTAINMENT_THRESHOLD`` of doc_inner's distinct 5-shingles
    also appear in doc_outer. Same inverted-index shape and DF-cutoff
    skew guard as q_dedup_near (the cutoff is again part of the
    semantics, mirrored in the oracle); the only differences are the
    asymmetric denominator and that both pair orientations are
    evaluated. (Unregistered — 50-slot cap; driver-grade DuckDB parity
    + constructed quote-inclusion goldens in
    tests/test_unregistered_ops.py.)"""
    both = _posting_pairs(spark, sf_dir)
    # evaluate both orientations of each unordered pair
    fwd = both.select(
        F.col("doc_a").alias("doc_inner"),
        F.col("doc_b").alias("doc_outer"),
        F.round(F.col("common") / F.col("n_a"), 6).alias("containment"),
    )
    rev = both.select(
        F.col("doc_b").alias("doc_inner"),
        F.col("doc_a").alias("doc_outer"),
        F.round(F.col("common") / F.col("n_b"), 6).alias("containment"),
    )
    return fwd.unionByName(rev).filter(
        F.col("containment") >= CONTAINMENT_THRESHOLD
    )


CONTAINMENT_ORACLE = (
    _SHINGLE_CTE
    + f"""
, stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM sh),
df AS (SELECT s, count(DISTINCT doc_id) AS df FROM sh GROUP BY s),
sh_f AS (
  SELECT sh.doc_id, sh.s
  FROM sh JOIN df USING (s), stats
  WHERE df <= greatest({DF_CUTOFF_MIN}, CAST(ceil({DF_CUTOFF_FRAC} * n_docs) AS BIGINT))
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh_f GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh_f a JOIN sh_f b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sized AS (
  SELECT doc_a, doc_b, common, sa.n AS n_a, sb.n AS n_b
  FROM pairs
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
),
oriented AS (
  SELECT doc_a AS doc_inner, doc_b AS doc_outer,
         round(common * 1.0 / n_a, 6) AS containment FROM sized
  UNION ALL
  SELECT doc_b AS doc_inner, doc_a AS doc_outer,
         round(common * 1.0 / n_b, 6) AS containment FROM sized
)
SELECT doc_inner, doc_outer, containment
FROM oriented WHERE containment >= {CONTAINMENT_THRESHOLD}
"""
)


# ---------------------------------------------------------------------------
# Exact-substring duplication audit (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better", arXiv:2107.06499 — the
# ExactSubstr recipe): find every K-token window that occurs more than
# once ANYWHERE in the corpus (across docs or within one), keep the
# first occurrence (min doc_id, then min position), and report per
# document how much of its token stream the non-winner occurrences
# cover. The paper builds a corpus suffix array; the
# relational/Spark-native equivalent is a SLIDING rolling-window
# hash-equality join — same duplicated-substring relation for
# fixed K, no suffix array to shard. This is the sibling of
# q_dedup_spans (B80's fixed non-overlapping K-token passages): the
# sliding stride-1 windows catch duplicated substrings at ANY
# alignment, which the aligned span grid misses.
#
# Scale: windows explode ~n_tokens rows per doc (the published
# algorithm's linear token cost); the duplicate marking is ONE shuffle
# on the window hash (row_number + count share the same window spec →
# one exchange), the per-doc coverage union is ONE lag window
# partitioned by doc. Hot windows (corpus boilerplate) concentrate in
# single hash partitions exactly like LSH band buckets — AQE skew
# handling applies, and the relation is (doc, pos, hash)-slim.
# ---------------------------------------------------------------------------

SUBSTR_K = 20  # window length in tokens (paper: 50 at web scale)


def q_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, n_dup_windows, dup_cov, dup_fraction):
    per-document duplicated-substring audit. ``n_dup_windows`` counts
    this doc's non-winner K-windows, ``dup_cov`` is the union length
    (in tokens) of their [pos, pos+K) intervals — the sweep is a lag
    window over the per-doc dup positions: each position contributes
    ``min(K, pos - prev_pos)``, the first contributes K.
    (Unregistered — 50-slot cap; driver-grade DuckDB parity plus
    constructed repeated-passage goldens in
    tests/test_unregistered_ops.py.)"""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ts = tokenize(F.col("text"))
    nt = docs.select("doc_id", F.size(ts).alias("n_tokens"))
    # the window featurize (tokenize + md5 per stride-1 window) is the
    # CPU-heavy stage; spread_small_scan parallelizes it when the
    # corpus arrives as fewer splits than cores (no-op at real scale)
    wins = spread_small_scan(docs, "doc_id").select(
        "doc_id",
        F.explode(
            F.when(
                F.size(ts) >= SUBSTR_K,
                F.transform(
                    F.sequence(F.lit(1), F.size(ts) - (SUBSTR_K - 1)),
                    lambda i: F.struct(
                        i.alias("pos"),
                        F.md5(
                            F.concat_ws(" ", F.slice(ts, i, SUBSTR_K))
                        ).alias("h"),
                    ),
                ),
            ).otherwise(
                F.array().cast("array<struct<pos:int,h:string>>")
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.pos").alias("pos"), F.col("e.h").alias("h"))
    # Dup marking is a per-hash count + winner (first occurrence by
    # (doc_id, pos)) — computed as a partial-aggregable groupBy + a
    # join back, NOT a Window over partitionBy(h): a window funnels
    # every row of a hot boilerplate hash into ONE task (AQE cannot
    # split window partitions), while the groupBy's map-side combine
    # absorbs the hot key before the shuffle and the join back is
    # AQE-skew-splittable. Same semantics as rn>1 under (doc_id, pos)
    # order: drop exactly the min-(doc_id,pos) row of each cnt>1 hash.
    # The window relation feeds TWO consumers (the per-hash aggregate
    # and the join back), which would re-run the explode+md5 featurize
    # twice — and a repartition reuse barrier measurably does NOT
    # canonicalize equal here (0 ReusedExchange, both subtrees raced).
    # The proven fix is the lazy localCheckpoint boundary (the
    # q_lm2_score/q_kn_score precedent): featurize once, materialize
    # the slim (doc_id, pos, h) relation, both consumers read it.
    wins_r = wins.localCheckpoint(eager=False)
    per_h = wins_r.groupBy("h").agg(
        F.count("*").alias("cnt"),
        F.min(F.struct("doc_id", "pos")).alias("w"),
    )
    dup = (
        wins_r.join(per_h.filter("cnt > 1"), "h")
        .filter(
            (F.col("doc_id") != F.col("w.doc_id"))
            | (F.col("pos") != F.col("w.pos"))
        )
        .select("doc_id", "pos")
    )
    wd = W.partitionBy("doc_id").orderBy("pos")
    cov = (
        dup.select(
            "doc_id",
            F.least(
                F.lit(SUBSTR_K),
                F.coalesce(
                    F.col("pos") - F.lag("pos").over(wd), F.lit(SUBSTR_K)
                ),
            ).alias("contrib"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_dup_windows"),
            F.sum("contrib").alias("dup_cov"),
        )
    )
    return nt.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias(
            "n_dup_windows"
        ),
        F.coalesce("dup_cov", F.lit(0)).cast("long").alias("dup_cov"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce("dup_cov", F.lit(0)) / F.col("n_tokens"), 6
            ),
        ).otherwise(F.lit(0.0)).alias("dup_fraction"),
    )


SUBSTR_DEDUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
nt AS (SELECT doc_id, len(ts) AS n_tokens FROM toks),
wins AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(ts[i:i+{SUBSTR_K - 1}], ' ')) AS h
  FROM toks, UNNEST(range(1, len(ts) - {SUBSTR_K} + 2)) AS g(i)
),
marked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY h) AS cnt
  FROM wins
),
dup AS (SELECT doc_id, pos FROM marked WHERE cnt > 1 AND rn > 1),
contribs AS (
  SELECT doc_id,
         least({SUBSTR_K},
               coalesce(pos - lag(pos) OVER (PARTITION BY doc_id
                                             ORDER BY pos),
                        {SUBSTR_K})) AS contrib
  FROM dup
),
cov AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows,
         CAST(sum(contrib) AS BIGINT) AS dup_cov
  FROM contribs GROUP BY doc_id
)
SELECT nt.doc_id, CAST(nt.n_tokens AS INTEGER) AS n_tokens,
       coalesce(cov.n_dup_windows, 0) AS n_dup_windows,
       coalesce(cov.dup_cov, 0) AS dup_cov,
       CASE WHEN nt.n_tokens > 0
            THEN round(coalesce(cov.dup_cov, 0) * 1.0 / nt.n_tokens, 6)
            ELSE 0.0 END AS dup_fraction
FROM nt LEFT JOIN cov USING (doc_id)
"""

# Round-10 rotation (VERDICT r09 #6): REGISTERED, slot funded by
# q_kmv_overlap (see operators/sketches.py). The best-evidenced
# unregistered dedup query — independent-model parity, planted-skew
# fixture, measured scaling rows (SCALING.json exp 0.662 plain /
# 0.96 skew) — and its oracle is full DuckDB parity.
DEDUP_QUERIES["q_dedup_substrings"] = q_dedup_substrings
DEDUP_ORACLES["q_dedup_substrings"] = SUBSTR_DEDUP_ORACLE


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003, "Winnowing:
# Local Algorithms for Document Fingerprinting", SIGMOD — the MOSS
# algorithm): the GUARANTEED-detection complement to MinHash. MinHash
# detects whole-document similarity probabilistically; winnowing
# selects, from every window of W consecutive k-gram hashes, the window
# MINIMUM — so any shared token run of length >= W + K - 1 is
# GUARANTEED to contribute at least one shared fingerprint, while the
# expected fingerprint density stays 2/(W+1) (the paper's Theorem 1 /
# density bound). The standard plagiarism/partial-copy detector where
# the dedup family's banded MinHash would need luck.
#
# Spark shape: positional k-gram hashes and the window minima are both
# IN-ROW array math over the let-bound token array (O(n·W) per doc, no
# shuffle); the fingerprint relation explodes once to a (doc, fp)
# posting list with the dedup family's document-frequency ubiquity
# guard (a fingerprint in >max(MIN, FRAC·n) docs is boilerplate AND the
# posting list that would blow up the join); pair counting is the same
# capped equi-join discipline as q_dedup_near. Hashes are the
# engine-portable md5-window longs, so DuckDB replicates fingerprint
# selection bit-for-bit.
# ---------------------------------------------------------------------------

WINNOW_K = 4   # k-gram width (tokens)
WINNOW_W = 4   # winnowing window (hashes) -> guarantee length K+W-1 = 7
WINNOW_MIN_SHARED = 2


def _winnow_fps(text_col: str):
    """In-row DISTINCT winnowed fingerprint array of a text column."""
    def hashes(toks):
        kgram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(toks, i + off) for off in range(WINNOW_K)]
        )
        return F.transform(
            F.sequence(F.lit(1), F.size(toks) - WINNOW_K + 1),
            lambda i: token_hash(kgram(i)),
        )

    def windows(hs):
        return F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size(hs) - WINNOW_W + 1, F.lit(1)),
                ),
                lambda j: F.array_min(F.slice(hs, j, WINNOW_W)),
            )
        )

    # DOUBLE let binding: ``toks`` AND ``hs`` are both lambda variables.
    # Passing the hashes EXPRESSION into windows() would let
    # CollapseProject inline it into every window element's size/slice
    # reference — re-running all O(n) md5s once per window, O(n^2) md5
    # per document (measured 53 s -> 1.7 s at sf0.1 for the full pair
    # query once hs became a variable).
    return F.element_at(
        F.transform(
            F.array(tokenize(F.col(text_col))),
            lambda toks: F.when(
                F.size(toks) >= WINNOW_K,
                F.element_at(
                    F.transform(
                        F.array(hashes(toks)), lambda hs: windows(hs)
                    ),
                    1,
                ),
            ).otherwise(F.array().cast("array<long>")),
        ),
        1,
    )


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_shared, winnow_sim) — document pairs sharing >=
    WINNOW_MIN_SHARED winnowed fingerprints; winnow_sim = shared /
    min(|fps_a|, |fps_b|) (containment-style, so a small doc plagiarized
    into a big one still scores high). (Unregistered — 50-slot cap;
    driver-grade DuckDB parity + the winnowing GUARANTEE fixture in
    tests/test_unregistered_ops.py.)"""
    d = load_table(spark, sf_dir, "documents")
    fps = d.select(
        "doc_id", _winnow_fps("text").alias("fps")
    ).repartition(
        d.sparkSession.sparkContext.defaultParallelism, F.col("doc_id")
    )
    posted = fps.select("doc_id", F.explode("fps").alias("fp"))
    # fingerprinted docs only (>= WINNOW_K tokens) — the oracle's nd
    n_docs = fps.filter(F.size("fps") > 0).select(
        F.count("*").alias("n_docs")
    )
    df_guard = (
        posted.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(
            F.col("df")
            <= F.greatest(
                F.lit(DF_CUTOFF_MIN),
                F.ceil(F.lit(DF_CUTOFF_FRAC) * F.col("n_docs")),
            )
        )
        .select("fp")
    )
    filtered = posted.join(df_guard, "fp", "left_semi")
    sizes = fps.select("doc_id", F.size("fps").alias("n_fp"))
    pairs = (
        filtered.alias("a")
        .join(
            filtered.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= WINNOW_MIN_SHARED)
    )
    # `sizes` is one row per fingerprinted doc — it scales with corpus
    # doc count, so it must NOT carry a broadcast hint (a forced
    # broadcast of a corpus-sized relation is a driver OOM at scale).
    # Left unhinted, AQE broadcasts it only while it actually fits —
    # the same convention q_dedup_near / q_dedup_snm follow for their
    # size joins (see the note at the top of this module).
    return (
        pairs.join(
            sizes.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("n_fp", "n_a"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("n_fp", "n_b"),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared") * F.lit(1.0)
                / F.least(F.col("n_a"), F.col("n_b")),
                6,
            ).alias("winnow_sim"),
        )
    )


def _winnow_oracle() -> str:
    kg = " || ' ' || ".join(f"ts[i+{off}]" for off in range(WINNOW_K))
    return f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens("text")} AS ts FROM documents
),
hs AS (
  SELECT doc_id,
         list_transform(
           range(1, len(ts) - {WINNOW_K} + 2),
           i -> CAST(('0x' || substr(md5({kg}), 1, 15)) AS BIGINT)
         ) AS h
  FROM toks WHERE len(ts) >= {WINNOW_K}
),
fps AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(h) - {WINNOW_W} + 1, 1) + 1),
           j -> list_min(h[j:j+{WINNOW_W}-1])
         )) AS fps
  FROM hs
),
posted AS (SELECT doc_id, unnest(fps) AS fp FROM fps),
nd AS (SELECT count(*) AS n_docs FROM fps),
guard AS (
  SELECT fp FROM posted CROSS JOIN nd GROUP BY fp, n_docs
  HAVING count(*) <= greatest({DF_CUTOFF_MIN},
                              CAST(ceil({DF_CUTOFF_FRAC} * n_docs) AS BIGINT))
),
filtered AS (SELECT p.* FROM posted p JOIN guard USING (fp)),
sizes AS (SELECT doc_id, len(fps) AS n_fp FROM fps),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM filtered a JOIN filtered b
    ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING count(*) >= {WINNOW_MIN_SHARED}
)
SELECT doc_a, doc_b, n_shared,
       round(n_shared * 1.0 / least(sa.n_fp, sb.n_fp), 6) AS winnow_sim
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
"""


WINNOW_PAIRS_ORACLE = _winnow_oracle()

UNREGISTERED_DEDUP_QUERIES["q_winnow_pairs"] = q_winnow_pairs
UNREGISTERED_DEDUP_ORACLES["q_winnow_pairs"] = WINNOW_PAIRS_ORACLE


# ---------------------------------------------------------------------------
# Sorted-Neighborhood dedup (Hernández & Stolfo 1995, SIGMOD — the
# Merge/Purge method; with LSH and prefix-filtering this completes the
# THREE classic blocking families: hash-bucket, sorted-order,
# sort-prefix). Sort the corpus by a discriminating key and compare
# each record only against its W sorted neighbors — near-duplicates
# sort adjacently because they share the key. The key here is the
# document's LEXICOGRAPHICALLY SMALLEST shingle: two docs at Jaccard J
# share their shingle-set minimum with probability ~J (the MinHash
# argument with the identity permutation), so high-J pairs almost
# always land within the window.
#
# Scale shape: the global order comes from the two-phase
# ``global_row_number`` (no single-partition sort — rank over
# key-bucket partitions + broadcast offsets); the window join is an
# EQUI-join, not a range join: each doc explodes W offset rows
# (rank + 1 .. rank + W) that equi-join the neighbor's rank — linear
# in n·W, one hash shuffle, no nested-loop. Verification is the dedup
# family's candidate-first exact-Jaccard stage.
# ---------------------------------------------------------------------------

SNM_WINDOW = 8


def q_dedup_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) — pairs within SNM_WINDOW sorted
    neighbors whose exact shingle-Jaccard clears the dedup threshold.
    (Unregistered — 50-slot cap; driver-grade DuckDB parity +
    adjacency fixture in tests/test_unregistered_ops.py.)"""
    from ..plans.ranking import global_row_number

    base = _shingle_sets(spark, sf_dir).localCheckpoint(eager=False)
    keyed = (
        base.filter(F.size("ss") > 0)
        .select("doc_id", F.array_min("ss").alias("k"))
    )
    ranked = global_row_number(
        keyed, ["k"], ["doc_id"], rn_col="rn"
    ).select("doc_id", "rn")
    probes = ranked.select(
        F.col("doc_id").alias("doc_a"),
        F.explode(
            F.sequence(F.col("rn") + 1, F.col("rn") + SNM_WINDOW)
        ).alias("rn"),
    )
    # canonicalize to doc_a < doc_b: rank order is (key, doc_id), so a
    # lower-rank doc can carry the larger doc_id across key boundaries
    cand = (
        probes.join(
            ranked.select(F.col("doc_id").alias("doc_b"), "rn"), "rn"
        )
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
        .distinct()
    )
    # candidate-first exact verification (the banded-minhash stage)
    cand_docs = _cand_docs(cand)
    sh = base.join(cand_docs, "doc_id", "left_semi").select(
        "doc_id", F.size("ss").alias("n"), F.explode("ss").alias("s")
    )
    common = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .join(
            cand,
            (F.col("a.doc_id") == F.col("doc_a"))
            & (F.col("b.doc_id") == F.col("doc_b")),
            "left_semi",
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count("*").alias("common"))
    )
    jac = F.round(
        F.col("common") * F.lit(1.0)
        / (F.col("na") + F.col("nb") - F.col("common")),
        6,
    )
    return common.select(
        "doc_a", "doc_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))


SNM_DEDUP_ORACLE = _SHINGLE_CTE + f"""
, keyed AS (
  SELECT doc_id, min(s) AS k FROM sh GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rn FROM keyed
),
cand AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                  greatest(a.doc_id, b.doc_id) AS doc_b
  FROM ranked a JOIN ranked b
    ON b.rn BETWEEN a.rn + 1 AND a.rn + {SNM_WINDOW}
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a
  JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  JOIN cand ON cand.doc_a = a.doc_id AND cand.doc_b = b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(common * 1.0 / (sa.n + sb.n - common), 6) AS jaccard
FROM common
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(common * 1.0 / (sa.n + sb.n - common), 6) >= {JACCARD_THRESHOLD}
"""

UNREGISTERED_DEDUP_QUERIES["q_dedup_snm"] = q_dedup_snm
UNREGISTERED_DEDUP_ORACLES["q_dedup_snm"] = SNM_DEDUP_ORACLE
