"""Sentence-level engine (T2, C4) + sentence->doc roll-up (O4)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sentometrics_spark.aggregate.doc_agg import aggregate_sentences
from sentometrics_spark.lexicons import Lexicons
from sentometrics_spark.scoring.sentences import (
    compute_sentiment_sentences_udf,
    split_sentences,
)
from sentometrics_spark.scoring.udf_engine import _POSITIONAL, _positional_weights


def test_split_sentences_markers():
    toks = split_sentences("Fast cars, slow roads. The end!")
    assert toks == [["fast", "cars", "c_c", "slow", "roads"], ["the", "end"]]
    assert split_sentences("") == []
    # word_count includes the c_c marker (reference quirk: nPuncts never
    # increments because check_for_commas only fires on lexicon hits)
    assert len(toks[0]) == 5


def _sentence_cluster_scores(tokens: list[str], pack, how: str, tfidf) -> np.ndarray:
    """Scalar reference kernel: one sentence under the cluster-valence
    approach, written as the reference worker reads. The vectorized
    ``_sentence_cluster_scores_batch`` must equal it (see
    test_sentence_cluster_batch_equals_loop)."""
    n = len(tokens)
    nL = pack.polarity.shape[1]
    w2 = pack.word2id
    vt = pack.valence_t
    nB, nA = 5, 2
    token_scores: dict[int, np.ndarray] = {}
    token_shift: dict[int, float] = {}
    weight_word: dict[int, str] = {}
    visits: dict[int, int] = {}
    lB = 0
    for j, tok in enumerate(tokens):
        vid = w2.get(tok)
        if vid is None:
            continue
        token_scores[j] = pack.polarity[vid]
        weight_word[j] = tok
        visits[j] = visits.get(j, 0) + 1
        neg = amp = deamp = adv = 0
        st = max(lB, j - nB)
        en = min(n, j + nA + 1)
        for m in range(en, n):  # window extends to the next comma marker
            if tokens[m] == "c_c":
                en = m
                break
        for k in range(st, en):
            if k == j:
                continue
            kvid = w2.get(tokens[k])
            if kvid is not None:
                token_scores[k] = pack.polarity[kvid]
                weight_word[k] = tok
                visits[k] = visits.get(k, 0) + 1
            else:
                t = vt.get(tokens[k])
                if t == 1:
                    neg += 1
                elif t == 2:
                    amp += 1
                elif t == 3:
                    deamp += 1
                elif t == 4:
                    adv += 1 if k < j else -1
        nn = neg % 2
        wA = (1 - nn) * amp * 0.8
        wD = (-nn * amp - deamp) * 0.8
        if wD < -1:
            wD = -1.0
        impact = (1.0 + (wA + wD)) * (1.0 + 0.25 * adv)
        if nn == 1:
            impact = -impact
        token_shift[j] = impact
        # NOTE: unlike the doc-level cluster worker, the sentence worker does
        # NOT reset lB/j (no non-overlap jump) — clusters may overlap.
    if not token_scores:
        return np.zeros(nL)
    idxs = np.fromiter(token_scores.keys(), dtype=np.int64)
    pol = np.vstack([token_scores[i] for i in idxs])
    shift = np.fromiter((token_shift.get(int(i), 1.0) for i in idxs), dtype=np.float64)
    # the C++ worker calls update_token_weights at EVERY visit of a hit —
    # once as a cluster center, once per window it appears in — so the
    # positional normalizer and nPolarized accumulate visit MULTIPLICITY,
    # while each token still contributes to the score exactly once
    # (SentimentScorerSentences.h:66,84-86; update_token_weights
    # reference src/utils.h:99-125)
    vis = np.fromiter((visits.get(int(i), 1) for i in idxs), dtype=np.float64)
    if how == "counts":
        w = np.ones(len(idxs))
    elif how == "proportional":
        w = np.full(len(idxs), 1.0 / n)
    elif how == "proportionalSquareRoot":
        w = np.full(len(idxs), 1.0 / np.sqrt(n))
    elif how == "proportionalPol":
        npol = ((pol != 0).astype(np.float64) * vis[:, None]).sum(axis=0)
        with np.errstate(divide="ignore", invalid="ignore"):
            wm = np.where(npol > 0, 1.0 / npol, 0.0)
        return (pol * shift[:, None] * wm[None, :]).sum(axis=0)
    elif how == "TFIDF":
        n_corpus, df_map = tfidf
        dfv = np.fromiter(
            (df_map.get(weight_word[int(i)], 0.0) for i in idxs), dtype=np.float64
        )
        w = np.log10(n_corpus / (1.0 + dfv))
    elif how in _POSITIONAL:
        w_raw = _positional_weights(how, idxs + 1, np.full(len(idxs), n))
        norm = float((w_raw * vis).sum())
        w = w_raw / norm if norm != 0 else np.zeros(len(idxs))
    else:
        raise ValueError(how)
    return (pol * (shift * w)[:, None]).sum(axis=0)


@pytest.fixture()
def pack():
    lex = Lexicons(
        lex={"en": {"L": {"fast": 1.0, "slow": -2.0}}},
        valence={
            "en": {
                "a": (-1.0, 1),
                "the": (1.5, 2),
                "data": (0.5, 3),
                "customer": (1.0, 4),
            }
        },
    )
    return lex.pack("en")


def cscore(pack, tokens, how="counts"):
    return _sentence_cluster_scores(tokens, pack, how, None)[0]


def test_sentence_cluster_impacts(pack):
    # lone hit
    assert cscore(pack, ["x", "fast"]) == pytest.approx(1.0)
    # negator: flip
    assert cscore(pack, ["a", "fast"]) == pytest.approx(-1.0)
    # amplifier: (1 + 0.8)
    assert cscore(pack, ["the", "fast"]) == pytest.approx(1.8)
    # deamplifier: (1 - 0.8)
    assert cscore(pack, ["data", "fast"]) == pytest.approx(0.2)
    # adversative before hit: (1 + 0.25)
    assert cscore(pack, ["customer", "fast"]) == pytest.approx(1.25)
    # adversative after hit: (1 - 0.25)
    assert cscore(pack, ["fast", "x", "customer"]) == pytest.approx(0.75)
    # negator + amplifier: n=1 -> wA=0, wD=-0.8 -> (1-0.8)*-1
    assert cscore(pack, ["a", "the", "fast"]) == pytest.approx(-0.2)
    # two deamplifiers: wD clipped at -1 -> 0
    assert cscore(pack, ["data", "data", "fast"]) == pytest.approx(0.0)
    # nB=5: negator 5 back IS in window (sentence window is wider than doc)
    assert cscore(pack, ["a", "x", "x", "x", "x", "fast"]) == pytest.approx(-1.0)
    assert cscore(pack, ["a", "x", "x", "x", "x", "x", "fast"]) == pytest.approx(1.0)


def test_sentence_cluster_window_extends_to_comma(pack):
    # after-window normally ends at j+2, but extends to the next comma:
    # negator at j+4 with comma at j+5 IS included
    assert cscore(pack, ["fast", "x", "x", "x", "a", "c_c", "y"]) == pytest.approx(-1.0)
    # without a comma after, j+4 is outside the window
    assert cscore(pack, ["fast", "x", "x", "x", "a", "z", "y"]) == pytest.approx(1.0)


def test_sentence_clusters_may_overlap(pack):
    # unlike the doc-level worker there is no non-overlap jump: both hits
    # see the negator between them
    got = cscore(pack, ["fast", "a", "slow"])
    # fast: negator after (within nA=2) -> -1; slow: negator before -> +2
    assert got == pytest.approx(-1.0 + 2.0)


def _mini_pages(spark, rows):
    return spark.createDataFrame(
        [(f"u{i}", "2024-01-01 00:00:00", t, "en", 1.0) for i, t in enumerate(rows)],
        "url string, warc_ts string, text string, lang string, feat_all double",
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))


def test_sentence_udf_end_to_end(spark):
    lex = Lexicons(
        lex={"en": {"L": {"fast": 1.0, "slow": -2.0}}},
        valence={"en": {"a": (-1.0, 1), "the": (1.5, 2)}},
    )
    pages = _mini_pages(spark, ["A fast car. The slow, bad road.", "nothing here"])
    out = compute_sentiment_sentences_udf(pages, lex, "counts").toPandas()
    u0 = out[out.url == "u0"].sort_values("sentence_id")
    # sentence 1: 'a fast car' -> negator before fast -> -1
    assert u0[u0.sentence_id == 1]["score"].iloc[0] == pytest.approx(-1.0)
    # sentence 2: 'the slow c_c bad road' -> amplifier before slow -> -2*1.8
    assert u0[u0.sentence_id == 2]["score"].iloc[0] == pytest.approx(-3.6)
    assert u0[u0.sentence_id == 1]["word_count"].iloc[0] == 3
    assert u0[u0.sentence_id == 2]["word_count"].iloc[0] == 5  # incl c_c
    # doc with no sentences scoring still emits rows with 0
    u1 = out[out.url == "u1"]
    assert (u1["score"] == 0).all()


def test_aggregate_sentences_rollup(spark):
    lex = Lexicons(lex={"en": {"L": {"fast": 1.0, "slow": -2.0}}})
    pages = _mini_pages(spark, ["Fast one. Slow two here. Neutral words."])
    sent = compute_sentiment_sentences_udf(pages, lex, "counts")
    # equal_weight + ignoreZeros: zero-score sentence 3 excluded
    doc = aggregate_sentences(sent, how="equal_weight", do_ignore_zeros=True).toPandas()
    assert doc["score"].iloc[0] == pytest.approx((1.0 + -2.0) / 2)
    assert doc["word_count"].iloc[0] == 2 + 3 + 2
    # without ignoreZeros the zero sentence enters the denominator
    doc2 = aggregate_sentences(sent, how="equal_weight", do_ignore_zeros=False).toPandas()
    assert doc2["score"].iloc[0] == pytest.approx((1.0 - 2.0 + 0.0) / 3)
    # proportional: weights by sentence word counts over non-null set
    doc3 = aggregate_sentences(sent, how="proportional", do_ignore_zeros=True).toPandas()
    assert doc3["score"].iloc[0] == pytest.approx((2 * 1.0 + 3 * -2.0) / 5)


def test_sentence_bigram_mode(spark):
    lex = Lexicons(
        lex={"en": {"L": {"fast": 1.0}}},
        valence={"en": {"a": (-1.0, 1), "the": (2.0, 2)}},
    )
    pages = _mini_pages(spark, ["The fast one. A fast two."])
    out = compute_sentiment_sentences_udf(pages, lex, "counts", valence_use="y").toPandas()
    s = out.sort_values("sentence_id")["score"].tolist()
    assert s[0] == pytest.approx(2.0)  # 'the fast' -> y=2.0
    assert s[1] == pytest.approx(-1.0)  # 'a fast' -> y=-1.0


def test_sentence_positional_normalizer_hits_only(spark):
    """The sentence worker calls update_token_weights only at lexicon hits
    (SentimentScorerSentences.h:62-67), so the UShaped normalizer sums over
    HITS — unlike the doc-level Onegrams worker which sums over ALL tokens.
    Hand case: 'fast aa bb slow cc' (n=5, hits at x=1 w=4 and x=4 w=1):
    sentence score = (4*1 + 1*(-2)) / 5 = 0.4; the doc-level convention
    would give (4*1 + 1*(-2)) / 10 = 0.2."""
    import datetime as dt

    lex = Lexicons(lex={"en": {"L": {"fast": 1.0, "slow": -2.0}}})
    pages = spark.createDataFrame(
        [("u1", dt.datetime(2024, 1, 1), "en", "fast aa bb slow cc", 1.0)],
        "url string, warc_ts timestamp, lang string, text string, feat_x double",
    )
    out = compute_sentiment_sentences_udf(pages, lex, how="UShaped").toPandas()
    np.testing.assert_allclose(out["score"].to_numpy(), [0.4], atol=1e-12)


def test_sentence_cluster_normalizer_counts_visits(pack):
    """update_token_weights runs once per VISIT of a hit (center + each
    window membership), so adjacent hits double the normalizer while each
    token scores once. 'fast slow' (n=2, w=0.25 each, 2 visits each):
    norm = 0.25*2 + 0.25*2 = 1.0 -> score = 0.25*1 + 0.25*(-2) = -0.25
    (a distinct-token normalizer would give -0.5)."""
    got = cscore(pack, ["fast", "slow"], how="UShaped")
    np.testing.assert_allclose(got, [-0.25], atol=1e-12)


def test_sentence_cluster_batch_equals_loop():
    """The vectorized batch implementation must equal the per-sentence
    reference loop on randomized sentences with commas, valence words of
    every type, and overlapping windows — for every how."""
    import numpy as np

    from sentometrics_spark.lexicons import fixture_lexicons
    from sentometrics_spark.scoring.sentences import _sentence_cluster_scores_batch

    pack = fixture_lexicons().pack("en")
    rng = np.random.RandomState(3)
    lex_words = sorted(pack.word2id)[:12]
    val_words = sorted(pack.valence_t)[:8] if pack.valence_t else []
    filler = ["walk", "cloud", "tree", "run", "fly", "blue", "c_c"]
    vocab = lex_words + val_words + filler * 2
    sentences = [
        [vocab[i] for i in rng.randint(0, len(vocab), size=rng.randint(1, 25))]
        for _ in range(200)
    ] + [["c_c"], ["walk"], [lex_words[0]] * 6, [lex_words[0], "c_c", lex_words[1]]]
    df_map = {w: float(i + 1) for i, w in enumerate(sorted(pack.word2id))}
    tf = (123.0, df_map)
    for how in (
        "counts", "proportional", "proportionalSquareRoot", "proportionalPol",
        "TFIDF", "UShaped", "inverseUShaped", "exponential", "inverseExponential",
    ):
        lens, mat = _sentence_cluster_scores_batch(sentences, pack, how, tf)
        ref = np.vstack([_sentence_cluster_scores(s, pack, how, tf) for s in sentences])
        np.testing.assert_allclose(mat, ref, atol=1e-12, err_msg=how)
        assert list(lens) == [len(s) for s in sentences]
