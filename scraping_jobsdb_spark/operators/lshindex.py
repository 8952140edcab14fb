"""Persisted MinHash/SimHash LSH signature index for incremental near-dup
dedup.

The near-dup analog of ``operators/fpindex.py FingerprintIndex`` on the
shared index lifecycle (``operators/sigindex.py``): the corpus band
signatures ``(doc_id, band, key)`` under ``path/sigs`` and the per-bucket
size ``(band, key) -> n_docs`` — the hot-bucket guard — under ``path/bs``.
Composes the MinHash LSH family (``operators/similarity.py``).

Three hash families share the storage layout, selected at ``create``
time and pinned in the manifest:

- ``md5-portable`` (default): ``minhash_band_keys_portable``'s
  hash-once-per-block md5 windows — any engine re-derives the keys
  bit-for-bit, so probes stay fully value-hash oracle-able (the
  registered ``incremental_minhash_indexed_dedup`` form).
- ``xxhash64``: integer re-hash permutations (4 md5 digests per shingle
  cheaper) — the 100 TB hot path; Spark-internal seeds, so rows-only
  checkable, covered by the equivalence property tests instead.
- ``simhash-portable``: 60-bit md5-token-hash SimHash fingerprints,
  band = 15-bit chunk (``simhash_band_keys_portable``) — Hamming-space
  admission under the same index mechanics, fully oracle-able (the
  registered ``incremental_simhash_indexed_dedup`` form).

Determinism contract: probing the index is bit-identical to banding the
batch against the signatures the index currently holds — both paths share
``minhash_band_keys_portable`` and integer/string-exact comparisons, so
the probe (and the whole add→probe lifecycle) hashes identically across
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scraping_jobsdb_spark.operators.sigindex import SignatureIndex
from scraping_jobsdb_spark.operators.similarity import (
    minhash_band_keys_portable,
    shingles_sql,
    simhash_fp_frame,
)

__all__ = [
    "LshSignatureIndex",
    "minhash_band_keys_fast",
    "simhash_band_keys_portable",
]

_HASHERS = ("md5-portable", "xxhash64", "simhash-portable")


def simhash_band_keys_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    bands: int = 4,
) -> DataFrame:
    """Per-document SimHash band keys ``(id, band, key)`` with
    ENGINE-PORTABLE 60-bit md5 token hashes — the fingerprint stage of
    ``simhash_candidate_pairs_portable`` re-shaped to the index storage
    layout: band = chunk position (MSB-first, matching the oracle's
    ``3 - b//15`` numbering), key = the chunk's 15-bit value as a string
    (shared schema with the MinHash hashers). Two docs within Hamming
    distance ``bands - 1`` share ≥ 1 band by pigeonhole. Map-only, no
    shuffle."""
    if bits % bands:
        raise ValueError(f"bands ({bands}) must divide bits ({bits})")
    # one F.expr SQL string instead of the Column-DSL transform lambda —
    # same expressions, a fraction of the py4j plan-construction cost
    # (see minhash_band_keys_portable)
    toks = f"array_distinct(split(trim(`{text_col}`), '\\\\s+'))"
    fp_frame = simhash_fp_frame(
        df,
        id_col,
        F.expr(
            f"transform({toks}, t -> cast(conv(substring(md5(t), 1, 15), "
            f"16, 10) as bigint))"
        ),
        bits=bits,
        chunk_bits=bits // bands,
    )
    return fp_frame.select(
        F.col("doc").alias(id_col),
        F.posexplode("fp").alias("band", "__key_i"),
    ).select(
        id_col, "band", F.col("__key_i").cast("string").alias("key")
    )


def minhash_band_keys_fast(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document LSH band keys ``(id, band, key)`` with the xxhash64
    permutation family — the signature stage of
    ``minhash_candidate_pairs`` re-shaped to the index storage layout
    (``key`` is the band's row minima comma-joined, same as the portable
    form, so the two hashers share schema and probe code). Map-only, no
    shuffle. Spark-internal seeds: candidate sets from this form are
    checkable rows-only; use the portable form where cross-engine
    reproducibility is the requirement."""
    if k % bands:
        raise ValueError(f"bands ({bands}) must divide k ({k})")
    rows = k // bands
    # SQL-string construction (see minhash_band_keys_portable): identical
    # expressions, one parse instead of k lambda round-trips
    hashed = df.select(
        F.col(id_col).alias("doc"),
        F.expr(
            f"transform({shingles_sql(text_col, shingle_n)}, "
            "s -> xxhash64(s))"
        ).alias("__sh"),
    )
    sig = (
        "array("
        + ", ".join(
            f"array_min(transform(__sh, h -> xxhash64({i}, h)))"
            for i in range(k)
        )
        + ")"
    )
    bks = ", ".join(
        f"struct({b} as band, concat_ws(',', "
        + ", ".join(f"__sig[{b * rows + r}]" for r in range(rows))
        + ") as key)"
        for b in range(bands)
    )
    return hashed.select("doc", F.expr(sig).alias("__sig")).select(
        F.col("doc").alias(id_col), F.expr(f"inline(array({bks}))")
    )


def _band_keys(
    docs: DataFrame,
    text_col: str,
    hasher: str,
    id_col: str,
    k: int,
    bands: int,
    shingle_n: int,
    **_,
) -> DataFrame:
    if hasher not in _HASHERS:
        raise ValueError(f"hasher must be one of {_HASHERS}, got {hasher!r}")
    if hasher == "simhash-portable":
        # k = fingerprint BITS for this family (chunk width = k // bands);
        # shingle_n is unused — SimHash votes on single tokens
        return simhash_band_keys_portable(
            docs, id_col, text_col, bits=k, bands=bands
        )
    fn = (
        minhash_band_keys_portable
        if hasher == "md5-portable"
        else minhash_band_keys_fast
    )
    return fn(docs, id_col, text_col, k=k, bands=bands, shingle_n=shingle_n)


class LshSignatureIndex(SignatureIndex):
    """A corpus LSH signature index at ``path``. Signer: ``_band_keys``
    under (k, bands, shingle_n, hasher) — map-only. ``hot_buckets`` are
    buckets holding more than ``max_bucket`` documents: degenerate keys
    (boilerplate, empty-text signatures) whose quadratic candidate
    expansion the probe must not pay; the self-contained pairing drops
    them identically (``minhash_candidate_pairs_portable``
    ``max_bucket``).

    Verdict: one row per batch doc — ``(id, n_bands_hit, n_cand, kept)``
    where ``n_cand`` counts distinct stored documents sharing ≥1 non-hot
    band bucket with the doc, ``n_bands_hit`` counts the doc's bands that
    collided at all, and ``kept`` = no collision. Candidate semantics,
    deliberately: LSH asserts similarity only probabilistically, so a
    pipeline needing verified near-dups joins the dropped docs'
    candidates back to the corpus store for an exact check
    (``ngram_jaccard``) — the index's job is to make that candidate set
    batch-sized instead of corpus-sized."""

    KIND = "an LSH signature index"
    TABLE, VIEW, PREFIX, APP = "sigs", "bs", "lsh", "lshindex"
    PARAMS = {
        "k": 16,
        "bands": 4,
        "shingle_n": 3,
        "max_bucket": 64,
        "hasher": "md5-portable",
        "id_col": "doc_id",
    }
    KEYS, COUNT, LIMIT = ["band", "key"], "n_docs", "max_bucket"
    _sign = staticmethod(_band_keys)

    def _batch_side(self, pruned_b: DataFrame) -> DataFrame:
        return pruned_b.select(
            F.col(self.id_col).alias("__bid"), "band", "key"
        )

    def _verdict(
        self, batch: DataFrame, pruned_b: DataFrame, pruned_c: DataFrame
    ) -> DataFrame:
        hits = (
            pruned_b.join(
                pruned_c.select(
                    F.col(self.id_col).alias("__cid"), "band", "key"
                ),
                ["band", "key"],
            )
            .groupBy("__bid")
            .agg(
                F.countDistinct("__cid").alias("n_cand"),
                F.countDistinct("band").alias("n_bands_hit"),
            )
        )
        return (
            batch.select(self.id_col)
            .join(hits, F.col(self.id_col) == F.col("__bid"), "left")
            .select(
                self.id_col,
                F.coalesce("n_bands_hit", F.lit(0)).alias("n_bands_hit"),
                F.coalesce("n_cand", F.lit(0)).alias("n_cand"),
                (F.coalesce("n_cand", F.lit(0)) == 0).alias("kept"),
            )
        )
