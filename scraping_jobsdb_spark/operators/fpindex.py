"""Persisted winnowing-fingerprint corpus index for incremental dedup.

The deployed posture of batch-vs-corpus containment dedup
(``operators/textops.py incremental_containment_filter``) on the shared
index lifecycle (``operators/sigindex.py``): the corpus fingerprint set
``(doc_id, h)`` under ``path/fps`` and the per-gram document frequency —
the stop-gram source — under ``path/df``.

Determinism contract: probing the index is bit-identical to running
``incremental_containment_filter`` against the corpus the index currently
holds — both paths share ``containment_verdict`` and the same integer
hash/selection arithmetic, so the probe stays fully value-hash
oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from scraping_jobsdb_spark.operators.sigindex import SignatureIndex
from scraping_jobsdb_spark.operators.textops import (
    containment_verdict,
    winnowing_fingerprint_set,
)

__all__ = ["FingerprintIndex"]


class FingerprintIndex(SignatureIndex):
    """A corpus fingerprint index at ``path``. Signer:
    ``winnowing_fingerprint_set`` under (k, w) — map-only, no shuffle.
    ``hot_buckets`` are the stop grams, hashes held by more than ``max_df``
    documents. Verdict: ``containment_verdict`` — one row per batch doc,
    (id, n_fp, n_dup_of, kept), ``kept`` when less than
    ``threshold_milli``/1000 of its pruned fingerprints are shared with any
    one corpus doc (``probe``/``admit_stream_batch`` keyword, default 800).

    Scale note (stage-split profile at 100x data, local[32]): ``create``
    dominates ``incremental_indexed_dedup``'s sweep row — create 36.3 s vs
    probe 2.4/1.7 s, batch append 7.8 s, view refresh 1.3 s — because that
    query rebuilds the index every run; a deployment amortizes it once."""

    KIND = "a fingerprint index"
    TABLE, VIEW, PREFIX, APP = "fps", "df", "fp", "fpindex"
    PARAMS = {"k": 8, "w": 4, "max_df": 50, "id_col": "doc_id"}
    KEYS, COUNT, LIMIT = ["h"], "df", "max_df"

    @staticmethod
    def _sign(
        docs: DataFrame, text_col: str, k: int, w: int, id_col: str, **_
    ) -> DataFrame:
        return winnowing_fingerprint_set(docs, k, w, text_col, id_col)

    def _verdict(
        self,
        batch: DataFrame,
        pruned_b: DataFrame,
        pruned_c: DataFrame,
        threshold_milli: int = 800,
    ) -> DataFrame:
        return containment_verdict(
            batch.select(self.id_col),
            pruned_b,
            pruned_c,
            threshold_milli,
            self.id_col,
        )
