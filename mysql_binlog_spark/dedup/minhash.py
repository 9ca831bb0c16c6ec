"""MinHash + LSH near-duplicate detection: shingle -> minhash -> band ->
bucket-join.

Design (standard Broder/LSH, e.g. "Mining of Massive Datasets" ch.3):

1. shingle each doc (k-word shingles, distinct);
2. signature[p] = min over shingles s of h_p(s), p = 0..P-1. The
   production hash is **universal hashing over one md5 per shingle**:
   x(s) = first 32 bits of md5(s), h_p(s) = (a_p * x + b_p) mod M with
   M the largest prime < 2^32 and per-permutation constants a_p, b_p
   derived deterministically from md5(p). One string hash per shingle
   (instead of num_perm of them) plus num_perm long multiply-adds —
   measured ~5x faster end-to-end than the round-1 md5-per-permutation
   string signatures, AND still engine-portable: the identical
   signatures are computable in ANSI SQL ('0x'||substr(md5(s),1,8) ->
   BIGINT arithmetic), which is how the DuckDB oracle cross-checks it;
3. split the P signature components into B bands of R rows; docs agreeing
   on ALL components of any band are candidates (probability of agreeing
   on a band ~ jaccard^R);
4. candidates are verified with the estimated jaccard = fraction of equal
   signature components (or exact jaccard downstream).

Scale notes: the only shuffle of document payloads is none at all — the
banded self-join shuffles (band_key -> doc_id) pairs; signature computation
is map-side array math over built-in functions. Hot buckets (boilerplate
docs) are bounded by dropping buckets above ``max_bucket_size`` — the
standard guard against quadratic blowup on degenerate content.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mysql_binlog_spark.functions.text import tokens_expr, word_shingles_from_tokens
from mysql_binlog_spark.util import explode_nonempty, spread

#: largest prime below 2^32 — the universal-hash modulus
MERSENNEISH_P = 4_294_967_291


def perm_coeffs(p: int) -> tuple[int, int]:
    """Deterministic (a_p, b_p) < 2^31 for permutation p (odd a). Bounded
    below 2^31 so a*x + b stays under 2^63 — exact in BIGINT/long on
    every engine."""
    h = hashlib.md5(f"minhash-perm-{p}".encode()).hexdigest()
    a = ((int(h[:8], 16) & 0x7FFFFFFF) | 1) % MERSENNEISH_P or 1
    b = (int(h[8:16], 16) & 0x7FFFFFFF) % MERSENNEISH_P
    return a, b


def shingle_u32(s: Column) -> Column:
    """First 32 bits of md5(shingle) as a long — the ONE string hash each
    shingle pays; all permutations derive from it arithmetically."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, sig: array[num_perm]) — minhash signature of longs.

    Tokens and shingles are each materialized in their own projection so
    every downstream lambda captures a cheap column attribute: HOF lambdas
    re-evaluate captured subtrees per array element, so inlining the
    tokenizer here would re-tokenize each doc O(shingles x num_perm) times.
    """
    toked = spread(df, id_col).select(
        F.col(id_col).alias("id"), tokens_expr(text_col).alias("tk")
    )
    shingled = toked.select(
        "id", word_shingles_from_tokens(F.col("tk"), k=shingle_k).alias("sh")
    )
    # explode + num_perm min-aggregates instead of per-row
    # array_min(transform(...)): the hashing runs inside whole-stage
    # codegen (HOF lambdas are interpreted — ~10x slower for the same hash
    # count), and partial aggregation keeps the shuffle at <=1 row per doc
    # per partition. Docs with no shingles (len < k tokens) drop out here
    # (explode_nonempty: the plain-explode form re-tokenized every doc
    # per shingle via an inferred pushed-down filter).
    ex = explode_nonempty(shingled, F.col("sh"), "s", "id").select(
        "id", shingle_u32(F.col("s")).alias("x")
    )
    mins = []
    for p in range(num_perm):
        a, b = perm_coeffs(p)
        mins.append(
            F.min(
                (F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MERSENNEISH_P)
            ).alias(f"mh{p}")
        )
    agg = ex.groupBy("id").agg(*mins)
    return agg.select(
        "id", F.array(*[f"mh{p}" for p in range(num_perm)]).alias("sig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    num_perm: int = 16,
    bands: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs sharing at least one full LSH band."""
    rows = num_perm // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|", *[F.element_at("sig", b * rows + r + 1) for r in range(rows)]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select("id", F.explode(band_structs).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    # guard against degenerate hot buckets (quadratic pair blowup):
    # aggregate bucket sizes, keep only pairable, non-degenerate buckets
    bucket_sizes = banded.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n"))
    small = bucket_sizes.filter(
        (F.col("n") > 1) & (F.col("n") <= max_bucket_size)
    ).select("band", "key")
    b2 = banded.join(small, ["band", "key"])  # only buckets that can pair
    a = b2.alias("a")
    b = b2.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return pairs


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate pairs with estimated jaccard >= threshold.

    est_jaccard = fraction of equal minhash components (unbiased estimator
    of the true shingle-set jaccard).
    """
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_k)
    cands = lsh_candidate_pairs(sigs, num_perm, bands)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    joined = cands.join(sa, "id_a").join(sb, "id_b")
    eq = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    est = (eq / F.lit(float(num_perm))).alias("est_jaccard")
    return (
        joined.select("id_a", "id_b", F.round(est, 4).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )
