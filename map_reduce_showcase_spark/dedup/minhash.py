"""MinHash + LSH banding near-dup detection (shingle → minhash →
band → bucket-join → exact-Jaccard verify).

The 100 TB near-dup pipeline, per the classic Broder construction:

1. shingle each doc (distinct word n-grams),
2. k independent minhashes per doc — here ``min(h_i(shingle))`` with
   ``h_i(s) = portable_hash60(s + '#' + i)`` so the DuckDB oracle can
   replay signatures bit-for-bit (production would use xxhash64,
   same structure, ~3× faster),
3. band the signature into b bands of r rows; docs agreeing on any
   whole band become candidates — the ONLY join is an equi-join on
   (band, band_key), so candidate generation is linear-ish, never
   pairwise,
4. verify candidates with exact Jaccard (``jaccard.py``).

Tuning: P(candidate) = 1 − (1 − J^r)^b. The default b=4, r=3 puts
the S-curve midpoint at J≈0.55: J≥0.9 pairs are caught with P>0.99,
J=0.7 pairs with P≈0.81, and the J≈0.1 background almost never
collides — candidate count is what the verify stage's cost scales
with, so the default trades a little recall at the threshold edge
for a ~25× smaller candidate set; use b=6, r=2 when J≈0.5-0.7
recall matters more than verify cost. Skew note: identical
boilerplate docs all share every band — the bucket-join inherits
the same high-DF-cap defense as the shingle index.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import portable_hash60
from .jaccard import jaccard_filter, shingle_rows

#: Universal-hash family h_i(x) = (a_i·x + b_i) mod MOD over the
#: base 60-bit md5 hash reduced mod MOD. One md5 per shingle instead
#: of k (md5 dominates minhash cost); a_i·x stays < 2^63 so the
#: arithmetic is portable to any engine with 64-bit integers.
MOD = 2_147_483_647  # 2^31 − 1 (prime)
_A_MULT = 2_654_435_761  # Knuth multiplicative constant
_B_MULT = 40_503


def _hash_params(i: int) -> tuple[int, int]:
    return (i * _A_MULT + 1) % MOD, (i * _B_MULT + 7) % MOD


def hashed_shingle_rows(
    docs: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, k) rows with k = the 60-bit portable hash of the
    shingle — the frame the whole minhash pipeline runs on. Hashing
    at the source means (a) the one md5 pass is shared by the
    signature build AND both verify sides instead of re-hashing
    strings three times, and (b) every downstream shuffle/checkpoint
    carries 8-byte longs, never shingle text. Shingles are already
    distinct per doc, so no extra distinct (= no shuffle) is needed:
    a 2^-60-improbable hash collision would produce the SAME
    duplicate rows in the oracle (same hash function), keeping the
    two engines bit-identical even then."""
    return shingle_rows(docs, n, text_col, id_col).select(
        id_col, portable_hash60(F.col("shingle")).alias("k")
    )


def minhash_signatures(sh: DataFrame, num_hashes: int = 12) -> DataFrame:
    """Wide signature frame: (doc_id, mh0..mh{k-1}, sz) from
    (doc_id, k) hashed-shingle rows. One hash-aggregate; k mins
    computed map-side, so the shuffle carries k longs per
    (doc, partition).

    ``sz`` (the doc's distinct-shingle count, needed by the Jaccard
    verify tail) rides the SAME aggregate: computing it separately
    via ``shingle_sizes`` would re-scan and re-shuffle the whole
    shingle frame — partial aggregation sits below the exchange, so
    Spark cannot reuse the signature groupBy's shuffle for a second
    aggregation over the same key."""
    # one parsed SQL string per aggregate instead of ~6 Column-API
    # calls each (the simhash r17 trick): identical plan, ~70 fewer
    # py4j round trips per build
    aggs = []
    for i in range(num_hashes):
        a, b = _hash_params(i)
        aggs.append(
            F.expr(f"min((({a} * (k % {MOD})) + {b}) % {MOD}) AS mh{i}")
        )
    aggs.append(F.count(F.lit(1)).alias("sz"))
    return sh.groupBy("doc_id").agg(*aggs)


def band_rows(
    sig: DataFrame, num_hashes: int = 12, rows_per_band: int = 3
) -> DataFrame:
    """(doc_id, bkeys, band, bkey) rows: the signature split into
    bands, each band's rows packed into one equi-joinable string key.
    ``bkeys`` carries the FULL per-band key vector alongside the
    exploded key so a colliding pair can check in place whether an
    earlier band already matched — candidate joins then emit each
    pair exactly once instead of distinct()-ing (a full shuffle of
    the raw candidate stream)."""
    n_bands = num_hashes // rows_per_band
    key_cols = [
        F.expr(
            "concat_ws(','"
            + "".join(
                f", CAST(mh{b * rows_per_band + j} AS STRING)"
                for j in range(rows_per_band)
            )
            + ")"
        )
        for b in range(n_bands)
    ]
    return sig.select(
        "doc_id",
        F.array(*key_cols).alias("bkeys"),
        F.posexplode(F.array(*key_cols)).alias("band", "bkey"),
    )


def first_band_match() -> Column:
    """True iff no band BEFORE the joined one also matched — the
    exactly-once emission filter for banded candidate joins. ONE
    parsed expression: the Column-API lambda form of the same tree
    costs ~20 ms of py4j round trips per lambda to build (guide
    §4-adjacent driver boundary; r18 build profile)."""
    return F.expr(
        "NOT exists(zip_with(slice(a.bkeys, 1, a.band), "
        "slice(b.bkeys, 1, b.band), (x, y) -> x = y), hit -> hit)"
    )


def lsh_candidate_pairs(
    sig: DataFrame, num_hashes: int = 12, rows_per_band: int = 3
) -> DataFrame:
    """Distinct candidate (d1, d2) pairs sharing ≥1 full band —
    emitted exactly once via the first-colliding-band filter, no
    distinct shuffle."""
    bands = band_rows(sig, num_hashes, rows_per_band)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_band_match())
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
    )


def minhash_near_dup_pairs(
    docs: DataFrame,
    n: int = 2,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full pipeline: LSH candidates → exact-Jaccard verify ≥
    threshold, where the verify stage only ever touches candidate
    pairs (never all pairs — that is the entire point at 100 TB).
    Output ``(d1, d2, jaccard)``; identical columns to
    :func:`ngram_jaccard_pairs` (its exhaustive twin) so tests can
    diff them for recall."""
    # the shingle index feeds three subtrees (signatures, verify e1,
    # verify e2): materialize it once instead of re-running the
    # tokenize+shingle expressions per consumer.
    # Measured profile (sf0.1, 5000 docs, local[32]): shingle
    # materialization ~2.0s, signatures ~0.7s, candidates ~1.5s
    # (2597 pairs — linear-ish in docs, the S-curve holding),
    # verify < 0.5s. The stage is SHINGLE-bound at this scale, not
    # candidate-bound; at 100 TB the balance shifts with corpus dup
    # rate, and the high-DF cap keeps the bucket join from exploding.
    sh = hashed_shingle_rows(docs, n, text_col, id_col).localCheckpoint(eager=False)
    sig = minhash_signatures(sh, num_hashes)
    cand = lsh_candidate_pairs(sig, num_hashes, rows_per_band)
    return _verify_candidates(cand, sh, sig.select("doc_id", "sz"), threshold)


def _verify_candidates(
    cand: DataFrame, sh: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate (d1, d2) pairs against
    the hashed-shingle frame — touches candidates only, never all
    pairs, and the intersection join carries 8-byte hashes. ``sizes``
    is (doc_id, sz) — produced for free by the signature aggregate."""
    e1 = sh.select(F.col("doc_id").alias("d1"), "k")
    e2 = sh.select(F.col("doc_id").alias("d2"), "k")
    inter = (
        cand.join(e1, "d1")
        .join(e2, ["d2", "k"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return jaccard_filter(inter, sizes, threshold)


def incremental_minhash_near_dup_pairs(
    docs: DataFrame,
    is_new,
    n: int = 2,
    num_hashes: int = 12,
    rows_per_band: int = 3,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch-vs-corpus near-dup detection — the shape a 100 TB
    pipeline actually runs every day: dedup TODAY'S batch against
    the whole corpus without ever re-pairing the corpus with itself.

    ``is_new`` is a deterministic Column-predicate factory over the
    doc id (e.g. a hash bucket or an ingest-date comparison); being
    a pure function of the id, it filters the band frame directly —
    no flag column needs carrying through the pipeline. Candidates
    require a NEW doc on at least one side, so the old×old quadrant
    — asymptotically ALL of the work as the corpus outgrows the
    daily batch — is never generated, joined, or verified: per-day
    cost is O(|batch| × bucket density), not O(|corpus|²). The
    minhash/band index over the old side is recomputed here for
    self-containedness; in production it is the persisted artifact
    this function's band frame models (append-only, since
    signatures never change).

    Output ``(d1, d2, jaccard)`` with d1 < d2, exactly like
    :func:`minhash_near_dup_pairs` restricted to pairs touching the
    batch."""
    sh = hashed_shingle_rows(docs, n, text_col, id_col).localCheckpoint(eager=False)
    sig = minhash_signatures(sh, num_hashes)
    bands = band_rows(sig, num_hashes, rows_per_band)
    a, b = bands.filter(is_new(F.col("doc_id"))).alias("a"), bands.alias("b")
    # exactly-once emission without a distinct: the first-band filter
    # dedups across bands; the ordering term dedups the new×new
    # quadrant (seen from both sides) while keeping new×old rows,
    # whose old side never appears on the filtered ``a`` side.
    once = (F.col("a.doc_id") < F.col("b.doc_id")) | ~is_new(F.col("b.doc_id"))
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .filter(once)
        .filter(first_band_match())
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("d1"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("d2"),
        )
    )
    return _verify_candidates(cand, sh, sig.select("doc_id", "sz"), threshold)
