"""Deployment tuning knobs.

Values ship with defaults tuned on a 32-core single box (local[32],
128 GiB) and are meant to be re-tuned for a real cluster — either via
environment variables (``BLEVE_SPARK_<NAME>``, read once at import)
or at runtime with :func:`configure`. Every knob documents its
scaling rationale so a 1000-executor deployment can reason about the
right value instead of guessing.

* ``SPREAD_MIN_DF`` — summed doc_freq above which an at-rest postings
  decode is worth an explicit rebalance. Term-sorted segment files
  colocate a hot term's chunk rows into one or two parquet scan
  tasks, so a big decode would otherwise run near-single-threaded;
  spreading shuffles only the PRUNED blob rows. The right value is
  roughly (postings per core that decode in the time one extra
  shuffle stage costs) × total cores: ~100k on 32 local cores, scale
  up proportionally with cluster width and down with network cost.

* ``BULK_DISJUNCTION_THRESHOLD`` — term count above which a
  disjunction compiles to one broadcast term-metadata join instead of
  N unioned scans. At-rest (``persist=False`` segment-store) indexes
  take the bulk plan from 2 terms; that rule lives in one place,
  ``bleve_spark.search.searcher._bulk_min_terms``. Raise only if
  broadcast overhead dominates tiny queries on your cluster.

* ``DEDUP_MAX_BUCKET_DF`` — default hot-bucket cap for the LSH /
  SimHash / embedding pair generators when the caller passes
  ``max_bucket_df=None``. ``None`` (the shipped default) means
  uncapped; production corpora with boilerplate floods should set a
  cap (m docs in one bucket emit m²/2 candidate pairs into a single
  reducer — at 100 TB a 1M-doc cluster is a dead executor). The cap
  bounds a reducer's work at cap²/2 pairs; pick the largest cap whose
  pair count one executor comfortably joins (~10k-100k).
"""

from __future__ import annotations

import os


def _int_env(name: str, default: int) -> int:
    return int(os.environ.get(f"BLEVE_SPARK_{name}", default))


SPREAD_MIN_DF: int = _int_env("SPREAD_MIN_DF", 100_000)
BULK_DISJUNCTION_THRESHOLD: int = _int_env(
    "BULK_DISJUNCTION_THRESHOLD", 8
)
# Auto merge banding (merge_level band_chunks="auto"): a (field, term)
# whose TOTAL postings across the merge inputs exceed this is "hot"
# and its merge group is sub-keyed into ~half-this-size bands so no
# single executor serializes the term's whole byte stream (a Zipfian
# tool-name term at 100 TB would otherwise stall the wide single-round
# merge on one task). Unskewed stores detect no hot terms and keep the
# measured single-group-per-term fast path. Sizing rationale: a band
# should take one task a few seconds at the measured concat throughput
# (~millions of postings/s/task); scale UP if your executors are few
# and fat, DOWN if stragglers dominate your merge wall-clock.
MERGE_BAND_MIN_POSTINGS: int = _int_env(
    "MERGE_BAND_MIN_POSTINGS", 16_000_000
)
DEDUP_MAX_BUCKET_DF: int | None = (
    int(os.environ["BLEVE_SPARK_DEDUP_MAX_BUCKET_DF"])
    if "BLEVE_SPARK_DEDUP_MAX_BUCKET_DF" in os.environ else None
)

_KNOWN = {
    "SPREAD_MIN_DF", "BULK_DISJUNCTION_THRESHOLD",
    "DEDUP_MAX_BUCKET_DF", "MERGE_BAND_MIN_POSTINGS",
}


def configure(**kw) -> None:
    """Set tuning knobs at runtime: ``configure(SPREAD_MIN_DF=10**6)``.
    Unknown names raise (typos must not silently no-op)."""
    g = globals()
    for k, v in kw.items():
        if k not in _KNOWN:
            raise KeyError(f"unknown bleve_spark config knob: {k!r}")
        g[k] = v
