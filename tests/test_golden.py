"""Golden-file tests: engine output vs frozen oracle outputs checked into
tests/golden/ (the analogue of the reference's inst/extdata/test_data.rda
golden scores, /root/reference/tests/testthat/test_sentiment_computation.R:49,127-129).
Locks scoring/aggregation semantics against accidental drift."""

import os

import numpy as np
import pandas as pd

from sentometrics_spark.config import AggSpec, TimeKernelSpec
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.pipeline import sento_measures
from sentometrics_spark.scoring.udf_engine import compute_sentiment_udf

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


def test_golden_sentiment_counts(pages):
    exp = pd.read_parquet(f"{GOLDEN}/sentiment_counts_sf0001.parquet")
    got = (
        compute_sentiment_udf(pages, Lexicons(lex=fixture_lexicons().lex), "counts", mode="unigram")
        .toPandas()
        .sort_values(["url", "lexicon", "feature"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    assert (got["url"].to_numpy() == exp["url"].to_numpy()).all()
    np.testing.assert_array_equal(got["word_count"], exp["word_count"])
    np.testing.assert_allclose(got["score"], exp["score"], atol=1e-12)


def test_golden_measures_day_almon(pages):
    exp = pd.read_parquet(f"{GOLDEN}/measures_day_almon_sf0001.parquet")
    spec = AggSpec(
        how_within="proportional",
        how_docs="proportional",
        time_kernels=(TimeKernelSpec("almon", orders_alm=(1, 2)),),
        by="day",
        lag=7,
        fill="zero",
    )
    sm = sento_measures(pages, Lexicons(lex=fixture_lexicons().lex), spec)
    got = (
        sm.measures.toPandas()
        .sort_values(["bucket_ts", "lexicon", "feature", "timeweight"])
        .reset_index(drop=True)
    )
    sm.unpersist()
    assert len(got) == len(exp)
    got["bucket_ts"] = pd.to_datetime(got["bucket_ts"])
    exp["bucket_ts"] = pd.to_datetime(exp["bucket_ts"])
    assert (got["bucket_ts"].to_numpy() == exp["bucket_ts"].to_numpy()).all()
    np.testing.assert_allclose(got["value"], exp["value"], atol=1e-12, rtol=1e-9)
