"""Deduplication operators for large-scale corpus curation
(SURVEY.md §2.9): exact, MinHash-LSH near-dup, SimHash, n-gram Jaccard.

Scale posture: every operator here is a pure shuffle-on-key DataFrame plan —
no driver-side loops, no collect. At 100 TB the shapes hold:

- exact dedup: one hash-partitioned window per key group;
- MinHash: shingling is a narrow explode; signatures are one groupBy over
  (doc, hash_idx); band buckets are one groupBy; candidate pairs are an
  equi-join on (band_idx, band_val) — the classic band-bucket join that
  replaces the O(n²) all-pairs comparison;
- SimHash: one narrow pass to a 64-bit signature, then an equi-join on
  signature (or banded sub-keys) for candidates.

MinHash hashes are md5 hex strings (min over VARCHAR) rather than murmur
ints — marginally more bytes per key, but md5 is implemented identically in
DuckDB, making the whole LSH pipeline oracle-verifiable end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from apache_beam_challange_spark.sources.catalog import read_parquet


def exact_dedup(df: DataFrame, keys: list[str], order_by: str) -> DataFrame:
    """Keep exactly one row per key group — the row with the smallest
    ``order_by`` value, so the choice is deterministic (``dropDuplicates``
    keeps an arbitrary row, which would break oracle hashing)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_by).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(
    df: DataFrame, text_col: str = "text", n: int = 3, distinct: bool = False
) -> DataFrame:
    """Word n-gram shingles per document: narrow explode of position
    sequences — no shuffle. Adds ``shingle``; keeps ``doc_id``.

    ``distinct`` de-dupes (doc, shingle) pairs at the cost of a shuffle;
    MinHash consumers should leave it off — MIN() is invariant to
    duplicates, so the signature is identical either way and the whole
    shingle->signature pipeline stays single-shuffle."""
    toks = F.split(F.col(text_col), " ")
    out = (
        df.select("doc_id", toks.alias("__tokens"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.size("__tokens") - (n - 1), F.lit(1)))
            ).alias("__pos"),
            "__tokens",
        )
        .select(
            "doc_id",
            F.array_join(F.slice("__tokens", F.col("__pos"), n), " ").alias("shingle"),
        )
    )
    return out.distinct() if distinct else out


#: Parametric MinHash family modulus (2^31 - 1, prime) and multiplier base.
#: h_i(s) = (base(s) * (MINHASH_A0 + 2i) + i * MINHASH_B) mod MINHASH_P with
#: base(s) = int(md5(s)[:15 hex]) mod MINHASH_P — ONE md5 per shingle row,
#: the other hashes derived with integer ops (measured 1.4s -> 0.8s for the
#: 8-hash signature build at sf0.1). All intermediates stay < 2^51, so the
#: arithmetic is exact BIGINT in both Spark (ANSI, no overflow) and DuckDB.
MINHASH_P = 2_147_483_647
MINHASH_A0 = 700_001
MINHASH_B = 12_345


def minhash_signatures(sh: DataFrame, num_hashes: int = 8) -> DataFrame:
    """MinHash signature rows ``(doc_id, hash_idx, min_hash)``: parametric
    hash family over a single md5-derived 60-bit base (see MINHASH_P docs),
    signature = per-doc minimum of each h_i.

    All ``num_hashes`` minima are computed as columns of ONE aggregation
    over the shingle rows (no shingle x hash_idx explode): the shuffle
    carries a single partially-combined row per doc, then a narrow stack
    unpivots to the (doc_id, hash_idx, min_hash) layout. md5 keeps the
    whole family bit-reproducible in any engine with md5 + integer ops."""
    base = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long")
        % MINHASH_P
    )
    mins = sh.groupBy("doc_id").agg(
        *[
            F.min(
                (base * (MINHASH_A0 + 2 * i) + i * MINHASH_B) % MINHASH_P
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    )
    stack_expr = ", ".join(f"{i}, h{i}" for i in range(num_hashes))
    return mins.select(
        "doc_id",
        F.expr(
            f"stack({num_hashes}, {stack_expr}) AS (hash_idx, min_hash)"
        ),
    ).select("doc_id", F.col("hash_idx").cast("int").alias("hash_idx"), "min_hash")


def lsh_candidate_pairs(
    signatures: DataFrame, rows_per_band: int = 2, materialize: bool = True
) -> DataFrame:
    """Band the signature and self-join on (band_idx, band_val): documents
    agreeing on any full band become candidate pairs (doc_id_1 < doc_id_2).
    The join key space is large (concatenated hashes), so bucket skew is
    bounded by true near-duplicate density.

    ``materialize`` (default on) localCheckpoints the banded signatures
    before the self-join: without it, Spark re-executes the ENTIRE
    shingle→md5→min-aggregate subtree once per join side — at 100 TB that
    doubles the most expensive stage of the dedup chain for no benefit.
    The checkpoint caps the recompute at one pass and keeps downstream
    lineage flat; pass False to keep the plan fully lazy (e.g. for plan
    inspection of the unmaterialized shape).

    The checkpoint is LAZY (``eager=False``): constructing the DataFrame
    never runs a job — the banded signatures materialize on first action
    and both join sides then read the stored blocks. Caveat for cluster
    deployments: ``localCheckpoint`` stores blocks on executors, not a
    fault-tolerant filesystem, so losing an executor (preemption, dynamic
    allocation) fails the query instead of recomputing the lineage; on a
    preemptible 100 TB cluster prefer a reliable ``checkpoint()`` dir or
    an explicit intermediate parquet for this stage."""
    bands = (
        signatures.groupBy(
            "doc_id",
            F.floor(F.col("hash_idx") / rows_per_band).alias("band_idx"),
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("hash_idx", "min_hash"))),
                    lambda s: s["min_hash"].cast("string"),
                ),
                "|",
            ).alias("band_val")
        )
    )
    if materialize:
        bands = bands.localCheckpoint(eager=False)
    a = bands.select(
        F.col("doc_id").alias("doc_id_1"), "band_idx", "band_val"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_id_2"), "band_idx", "band_val"
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )


def _sign_votes_to_long(num_bits: int = 64) -> F.Column:
    """Assemble a two's-complement int64 from 64 vote columns b0..b63
    (bit set iff vote > 0)."""
    sig = F.lit(0).cast("long")
    for i in range(num_bits):
        weight = 2**i if i < 63 else -(2**63)
        sig = sig + F.when(F.col(f"b{i}") > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sig


def simhash64_md5(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash whose bit source is md5(token) — slower than the
    xxhash64 variant but implementable identically in any engine with md5,
    so the full signature is DuckDB-oracle-verifiable. Bit b of a token's
    hash = bit (b mod 4) of hex nibble floor(b/4)."""
    toks = df.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    hashed = toks.select("doc_id", F.md5("token").alias("hx"))
    votes = []
    for b in range(64):
        nibble = F.conv(F.substring(F.col("hx"), b // 4 + 1, 1), 16, 10).cast("int")
        bit = F.shiftright(nibble, b % 4).bitwiseAND(F.lit(1))
        votes.append(F.sum(bit * 2 - 1).alias(f"b{b}"))
    agg = hashed.groupBy("doc_id").agg(*votes)
    return agg.select("doc_id", _sign_votes_to_long().alias("simhash"))


def simhash64(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document from xxhash64(token) bit votes.

    Plan shape: explode tokens -> explode 64 bit positions is avoided;
    instead each bit contributes via sign aggregation over the token hash's
    bits using bitwise ops — one groupBy(doc_id) with 64 conditional sums.
    xxhash64 has no DuckDB twin, so SimHash queries are rows-only checked;
    tests assert self-consistency (identical text => identical signature).
    """
    toks = df.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    hashed = toks.select("doc_id", F.xxhash64("token").alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = hashed.groupBy("doc_id").agg(*votes)
    return agg.select("doc_id", _sign_votes_to_long().alias("simhash"))


def simhash_candidate_pairs(
    signatures: DataFrame,
    num_bands: int = 4,
    max_hamming: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """Banded SimHash near-dup detection over ``(doc_id, simhash)`` rows:
    the 64-bit signature splits into ``num_bands`` equal bit bands; any
    full-band collision proposes a candidate pair (equi-join, same shape as
    MinHash LSH banding), then the exact Hamming distance verifies. By
    pigeonhole, every pair within ``num_bands - 1`` differing bits shares
    at least one intact band, so recall is exact for
    ``max_hamming <= num_bands - 1`` — the standard SimHash index layout
    (Manku et al., WWW'07, public literature).

    Output: ``(doc_id_1, doc_id_2, hamming)`` for verified pairs.

    ``materialize`` localCheckpoints the signatures first: they feed FOUR
    plan branches (both band-join sides + both verify joins), so a lazy
    plan re-runs the token→md5-votes aggregation four times. The
    checkpoint is lazy (``eager=False``) — no job runs at plan-build
    time; see :func:`lsh_candidate_pairs` for the executor-loss caveat
    that applies to ``localCheckpoint`` on preemptible clusters."""
    if materialize:
        signatures = signatures.localCheckpoint(eager=False)
    bits_per = 64 // num_bands
    mask = (1 << bits_per) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("simhash"), b * bits_per)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for b in range(num_bands)
        ]
    )
    bands = signatures.select(
        "doc_id", F.explode(band_structs).alias("bs")
    ).select("doc_id", F.col("bs.band_idx"), F.col("bs.band_val"))
    a = bands.select(F.col("doc_id").alias("doc_id_1"), "band_idx", "band_val")
    b = bands.select(F.col("doc_id").alias("doc_id_2"), "band_idx", "band_val")
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    s1 = signatures.select(
        F.col("doc_id").alias("doc_id_1"), F.col("simhash").alias("s1")
    )
    s2 = signatures.select(
        F.col("doc_id").alias("doc_id_2"), F.col("simhash").alias("s2")
    )
    return (
        cand.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.bit_count(F.col("s1").bitwiseXOR(F.col("s2")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def jaccard_pairs(
    df: DataFrame, group_col: str, text_col: str = "text", min_jaccard: float = 0.0
) -> DataFrame:
    """Exact token-set Jaccard for all document pairs within a group
    (blocking column): tokens explode -> equi-join on (group, token) ->
    intersection counts -> |A∪B| = |A|+|B|-|A∩B|. The group column bounds
    the pair blow-up, the standard blocking trick at scale."""
    # Tokens are hashed to int64 before the self-join: the (group, token)
    # equi-join then shuffles ~|corpus tokens| narrow int rows per side —
    # not 623k wide array pairs, and not 22M string rows. Intersection
    # counts partial-combine before their group shuffle; set sizes ride a
    # broadcast join. (xxhash64 collisions: ~|vocab|^2 / 2^64, negligible.)
    base = df.select(
        F.col(group_col).alias("g"),
        "doc_id",
        F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
    )
    toks = base.select(
        "g", "doc_id", F.explode("toks").alias("token")
    ).select("g", "doc_id", F.xxhash64("token").alias("tk"))
    sizes = base.select("doc_id", F.size("toks").alias("n_tokens"))
    a = toks.select("g", F.col("doc_id").alias("doc_id_1"), "tk")
    b = toks.select("g", F.col("doc_id").alias("doc_id_2"), "tk")
    inter = (
        a.join(b, ["g", "tk"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    # per-document sizes are corpus-scale: a forced broadcast would have
    # to ship O(corpus) rows to every executor (and the driver) at 100 TB
    # (found by review) — plain equi-joins on doc_id; AQE may still
    # broadcast at test scale where the table is actually small
    s1 = sizes.select(
        F.col("doc_id").alias("doc_id_1"), F.col("n_tokens").alias("n1")
    )
    s2 = sizes.select(
        F.col("doc_id").alias("doc_id_2"), F.col("n_tokens").alias("n2")
    )
    out = (
        inter.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def jaccard_on_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact token-set Jaccard evaluated ONLY on candidate pairs — the
    scale-default near-dup verifier: LSH band buckets (or any blocking
    scheme) propose ``(doc_id_1, doc_id_2)`` pairs, and the exact measure
    runs on that linear-sized set instead of the quadratic within-block
    all-pairs of :func:`jaccard_pairs`.

    Plan shape: two equi-joins attach each side's distinct-token array to
    the pair, then a narrow ``array_intersect`` scores it. The candidate
    side is orders of magnitude smaller than the corpus, so AQE turns both
    joins into broadcast joins at runtime when it fits; at 100 TB the
    worst case is two shuffle joins keyed on doc_id — never all-pairs.

    Pairs with an empty intersection require ``min_jaccard > 0`` to stay
    equivalent to the inner-join oracle formulation (zero-overlap pairs
    produce no intersection row there).
    """
    toksets = df.select(
        "doc_id", F.array_distinct(F.split(F.col(text_col), " ")).alias("toks")
    )
    t1 = toksets.select(
        F.col("doc_id").alias("doc_id_1"), F.col("toks").alias("toks_1")
    )
    t2 = toksets.select(
        F.col("doc_id").alias("doc_id_2"), F.col("toks").alias("toks_2")
    )
    scored = (
        candidates.join(t1, "doc_id_1")
        .join(t2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.size(F.array_intersect("toks_1", "toks_2")).alias("n_inter"),
            F.size("toks_1").alias("n1"),
            F.size("toks_2").alias("n2"),
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )
    return scored.filter(F.col("jaccard") >= min_jaccard)


def minhash_write_signatures(
    docs: DataFrame, path: str, n: int = 3, num_hashes: int = 8
) -> None:
    """Materialize the MinHash signature table for a corpus at ``path`` —
    the dedup family's shared recall stage at rest (see
    ``plans/extensions.py:minhash_sigs_at_rest`` for the warehouse-stamped
    variant this mirrors)."""
    minhash_signatures(shingles(docs, n=n), num_hashes=num_hashes).write.mode(
        "overwrite"
    ).parquet(path)


def minhash_append_signatures(
    new_docs: DataFrame, path: str, n: int = 3, num_hashes: int = 8
) -> None:
    """Incremental maintenance of the at-rest signature table: signatures
    for ONLY the delta documents, appended — the corpus grows without
    re-tokenizing what is already signed (the shingle+md5 pass is linear
    in the delta, not the corpus). A MinHash signature is a pure per-doc
    function, so appended rows are bit-identical to what a from-scratch
    rebuild over the union would produce — asserted in tests, the same
    discipline as ``lsh_append_index`` / ``ivf_append_index``.

    Crash/retry model (plain parquet): a crash during job commit can leave
    a subset of the delta visible; the retry re-appends, and duplicate
    (doc_id, hash_idx) rows are neutralized by the stored-table reader
    (:func:`minhash_stored_signatures` de-duplicates on the signature
    key), so append is semantically idempotent."""
    minhash_signatures(shingles(new_docs, n=n), num_hashes=num_hashes).write.mode(
        "append"
    ).parquet(path)


def minhash_stored_signatures(spark, path: str) -> DataFrame:
    """Read the at-rest signature table for serving. Drops duplicate
    (doc_id, hash_idx) rows so a crash-retried append never corrupts the
    band aggregation downstream (``lsh_candidate_pairs`` concatenates a
    band's min_hashes — a duplicated row would double one position);
    signature values are deterministic, so duplicates are always exact
    copies and the drop is a pure idempotence guard."""
    return read_parquet(spark, path).dropDuplicates(["doc_id", "hash_idx"])


def containment_on_candidates(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    min_containment: float = 0.8,
) -> DataFrame:
    """Exact token-set CONTAINMENT evaluated only on candidate pairs —
    the asymmetric complement of :func:`jaccard_on_candidates`:
    ``containment = |A ∩ B| / min(|A|, |B|)``, i.e. how much of the
    SMALLER document lives inside the larger one. Symmetric Jaccard
    misses subset duplication (a short document quoted wholesale inside
    a long one scores low Jaccard but containment ~1); this is the
    verifier Broder's containment sketch targets.

    Plan shape identical to the Jaccard verifier: two doc_id equi-joins
    attach the distinct-token arrays, a narrow ``array_intersect``
    scores — candidate-sized, never all-pairs.

    Pairs with an empty intersection require ``min_containment > 0`` to
    stay equivalent to the inner-join oracle formulation.
    """
    toksets = df.select(
        "doc_id", F.array_distinct(F.split(F.col(text_col), " ")).alias("toks")
    )
    t1 = toksets.select(
        F.col("doc_id").alias("doc_id_1"), F.col("toks").alias("toks_1")
    )
    t2 = toksets.select(
        F.col("doc_id").alias("doc_id_2"), F.col("toks").alias("toks_2")
    )
    cont = F.col("n_inter") / F.least("n1", "n2")
    return (
        candidates.join(t1, "doc_id_1")
        .join(t2, "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            F.size(F.array_intersect("toks_1", "toks_2")).cast("long").alias("n_inter"),
            F.size("toks_1").cast("long").alias("n1"),
            F.size("toks_2").cast("long").alias("n2"),
        )
        .filter(cont >= min_containment)
        .select(
            "doc_id_1",
            "doc_id_2",
            "n_inter",
            "n1",
            "n2",
            F.round(cont, 6).alias("containment"),
        )
    )
