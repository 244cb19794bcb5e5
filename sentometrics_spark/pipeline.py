"""End-to-end pipeline: the analogue of
``sento_measures(corpus, lexicons, ctr)``
(/root/reference/R/sentomeasures_main.R:245-251; lifecycle SURVEY.md §3).

A lazy DataFrame DAG with two materialized points (persisted at Spark's
default memory-and-disk level, so each is computed once per run):

    corpus -> compute_sentiment (Arrow UDF or pure-Catalyst algebraic)
              [persisted: SentoMeasures.sentiment, scored once and reused by
               the doc panel, build_all_tiers, attribution, measures_update]
           -> aggregate_docs    (shuffle 1: (bucket, lexicon, feature))
              [persisted: SentoMeasures.doc_panel, scanned three times by
               the spine fill: bounds, dims, join]
           -> measures_fill     (spine join)
           -> aggregate_time    (shuffle 2: window partition by series)

``SentoMeasures.unpersist()`` releases both.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame

from sentometrics_spark.aggregate.doc_agg import aggregate_docs
from sentometrics_spark.aggregate.kernels import setup_time_weights
from sentometrics_spark.aggregate.time_agg import aggregate_time, measures_fill
from sentometrics_spark.config import AggSpec
from sentometrics_spark.lexicons import Lexicons
from sentometrics_spark.scoring.algebraic import ALGEBRAIC_HOWS, compute_sentiment_algebraic
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf


def compute_sentiment(
    pages: DataFrame,
    lexicons: Lexicons,
    how: str = "proportional",
    mode: str | None = None,
    engine: str = "auto",
) -> DataFrame:
    """C9 dispatcher. engine: 'auto' | 'udf' | 'algebraic'.

    'auto' uses the Arrow-UDF engine — its C-side tokenize/lookup is ~7x
    the explode+join plan's throughput and it covers every (how, mode).
    The pure-Catalyst algebraic plan stays available explicitly as the
    independent cross-check formulation (and the basis of the SQL oracles)."""
    if engine == "algebraic":
        if how not in ALGEBRAIC_HOWS:
            raise ValueError(f"how={how} is not algebraically expressible")
        use_bigram = mode == "bigram" or (mode is None and bool(lexicons.valence))
        return compute_sentiment_algebraic(pages, lexicons, how, use_valence_bigram=use_bigram)
    return compute_sentiment_udf(pages, lexicons, how, mode=mode)


@dataclass
class SentoMeasures:
    """Bundle mirroring the reference's sento_measures list
    (/root/reference/R/sentomeasures_main.R:206-220), long-format."""

    measures: DataFrame  # (bucket_ts, lexicon, feature, timeweight, value)
    sentiment: DataFrame  # doc-level long sentiment (persisted)
    kernels: dict[str, np.ndarray]  # attribWeights$B
    spec: AggSpec
    doc_panel: DataFrame = field(repr=False)  # bucketed docs (persisted)

    def unpersist(self) -> None:
        """Release every frame the constructor persisted: the scored doc
        table and the bucketed doc panel."""
        self.sentiment.unpersist()
        self.doc_panel.unpersist()

    @property
    def dimensions(self) -> dict[str, list[str]]:
        rows = (
            self.measures.select("lexicon", "feature", "timeweight").distinct().collect()
        )
        return {
            "lexicons": sorted({r["lexicon"] for r in rows}),
            "features": sorted({r["feature"] for r in rows}),
            "time": sorted({r["timeweight"] for r in rows}),
        }

    def nmeasures(self) -> int:
        return self.measures.select("lexicon", "feature", "timeweight").distinct().count()

    def nobs(self) -> int:
        return self.measures.select("bucket_ts").distinct().count()

    def summary(self) -> dict:
        """M10: print/summary introspection (reference print.sento_measures /
        summary, /root/reference/R/sentomeasures_methods.R:215-269)."""
        from pyspark.sql import functions as F

        dims = self.dimensions
        span = self.measures.agg(
            F.min("bucket_ts").alias("first"), F.max("bucket_ts").alias("last")
        ).collect()[0]
        return {
            "by": self.spec.by,
            "lag": self.spec.lag,
            "fill": self.spec.fill,
            "how_within": self.spec.how_within,
            "how_docs": self.spec.how_docs,
            "dimensions": dims,
            "nmeasures": len(dims["lexicons"]) * len(dims["features"]) * len(dims["time"]),
            "nobs": self.nobs(),
            "first_bucket": str(span["first"]),
            "last_bucket": str(span["last"]),
        }


def _measures_from_sentiment(
    sentiment: DataFrame, spec: AggSpec, kernels: dict[str, np.ndarray]
) -> SentoMeasures:
    """The tail both constructors share: persist the scored docs and their
    bucketed doc panel (the module docstring's two materialized points),
    then fill and roll."""
    sentiment = sentiment.persist()
    doc_panel = aggregate_docs(
        sentiment,
        by=spec.by,
        how=spec.how_docs,
        do_ignore_zeros=spec.do_ignore_zeros,
        alpha=spec.alpha_exp_docs,
        keep_partials=False,
    ).persist()
    filled = measures_fill(doc_panel, by=spec.by, fill=spec.fill)
    measures = aggregate_time(
        filled.select("bucket_ts", "lexicon", "feature", "value"), kernels, spec.lag
    )
    return SentoMeasures(measures, sentiment, kernels, spec, doc_panel)


def sento_measures(
    pages: DataFrame,
    lexicons: Lexicons,
    spec: AggSpec,
    engine: str = "auto",
    mode: str | None = None,
) -> SentoMeasures:
    """Score, bucket, fill and roll. The returned ``sentiment`` and doc
    panel are persisted; release them with ``SentoMeasures.unpersist()``.

    Until then they stay in the session's cache, and Spark substitutes them
    into any later plan with the same logical subtree, matching file scans
    on their root path, not on the files under it. Release the bundle
    before its input path is re-written by anything but this session's own
    DataFrame writer (which re-caches by path): a later plan over the new
    files would otherwise read the old scored rows."""
    sentiment = compute_sentiment(pages, lexicons, spec.how_within, mode=mode, engine=engine)
    if spec.lag == 1:
        # lag = 1 means no time aggregation: the reference replaces the
        # requested schemes with one 'dummyTime' identity kernel
        # (ctr_agg, /root/reference/R/sentomeasures_main.R:107-110)
        kernels = {"dummyTime": np.ones(1)}
    else:
        kernels = setup_time_weights(spec.time_kernels, spec.lag)
    return _measures_from_sentiment(sentiment, spec, kernels)


def measures_update(
    sm: SentoMeasures,
    pages_incoming: DataFrame,
    lexicons: Lexicons,
    engine: str = "auto",
    mode: str | None = None,
) -> SentoMeasures:
    """M8: incremental recompute — score only documents whose url is not in
    the existing sentiment table (left_anti by id), merge with the retained
    doc-level scores, re-run the aggregation with the stored spec
    (measures_update, /root/reference/R/sentomeasures_measures_xyz.R:158-176).
    The merged sentiment and its doc panel are persisted as in
    sento_measures. ``sm`` keeps its own; releasing them after the update's
    outputs are computed costs no rescoring.
    At scale, this is the batch face of the checkpoint/resume design
    (storage/checkpoint.py) and of the streaming partials table."""
    existing_ids = sm.sentiment.select("url").distinct()
    new_pages = pages_incoming.join(existing_ids, "url", "left_anti")
    new_sent = compute_sentiment(new_pages, lexicons, sm.spec.how_within, mode=mode, engine=engine)
    merged = sm.sentiment.unionByName(new_sent)
    return _measures_from_sentiment(merged, sm.spec, sm.kernels)
