"""Candidate-count telemetry for the LSH families (banded SimHash /
phash, MinHash-LSH, embedding-LSH).

Why: every banded-LSH self-join carries an n²/2^band_bits
random-collision term. At bench scale it is invisible; at 10⁹ rows it
decides feasibility — so the operator running the job needs that
count of every run surfaced as data, not recomputed by hand.

What: the raw band-join row count of ``dedup.band_candidates``,
Σ_buckets C(size, 2), taken before the row refine and the dedup. A
pair that shares several bands counts once per band, so this is the
collision gauge itself, not a distinct-pair count.

How: ``DataFrame.observe`` attaches an exact count that is collected
DURING the action that consumes the pairs — zero extra jobs, no second
evaluation of the join. The observed plan is the unobserved plan plus
one CollectMetrics node; that node is a codegen-span boundary, so
latency-sensitive callers (bench.py) time the un-observed plan and
collect counts in a separate pass. ``flush`` appends the numbers to a
SnapStore metrics sidecar (``SnapStore.log_metric``), queryable via
``custom_metrics()``.

Usage::

    tel = CandidateTelemetry()
    pairs = simhash_pairs(docs, telemetry=tel)
    pairs.count()            # any action over the pairs
    tel.flush(store)         # store.custom_metrics() now has the rows
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


class CandidateTelemetry:
    """Collects (family → raw band-match count) across LSH operators.

    One instance may observe several families (e.g. a dedup pipeline
    running simhash + minhash in one job); each ``observe`` call wires
    one observation point. Counts become available after the observed
    DataFrame's first action completes.
    """

    def __init__(self) -> None:
        self._obs: list[tuple[str, Observation]] = []

    def observe(self, candidates: DataFrame, family: str) -> DataFrame:
        """Wrap a band-join relation with a metric point; returns
        the (semantically identical) DataFrame to keep composing.
        Observing the same family twice on one instance gets distinct
        keys (family, family#2, ...) — a dict would silently keep only
        the last count (review finding)."""
        n = sum(1 for f, _ in self._obs if f == family or f.startswith(f"{family}#"))
        key = family if n == 0 else f"{family}#{n + 1}"
        obs = Observation()
        self._obs.append((key, obs))
        return candidates.observe(obs, F.count(F.lit(1)).alias("candidates"))

    def counts(self) -> dict[str, int]:
        """family → observed band-match count (blocks until the
        observed actions have run)."""
        return {fam: int(o.get["candidates"]) for fam, o in self._obs}

    def flush(self, store) -> dict[str, int]:
        """Record all collected counts into ``store``'s metrics
        sidecar (kind='lsh_candidates'); returns the counts."""
        got = self.counts()
        for fam, n in got.items():
            store.log_metric("lsh_candidates", fam, n)
        return got
