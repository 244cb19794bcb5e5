"""Sentence-level scoring (T2 + C4): ICU-style sentence split, then each
sentence scored as its own text; dispatch unigram/bigram/cluster by valence
type (compute_sentiment_sentences, /root/reference/src/compute_sentiment_sentences.cpp:14-49,
worker /root/reference/src/SentimentScorerSentences.h:36-110).

Replicated quirks of the reference worker (code is the contract, not docs):
  - ``", "`` is replaced by the marker token ``c_c`` before word-splitting
    (/root/reference/R/sentiment_engines.R:18-27);
  - ``check_for_commas`` is only invoked on lexicon hits, and a hit is never
    ``c_c`` — so nPuncts stays 0: word_count INCLUDES the c_c markers and
    cluster start never clips at a preceding comma;
  - ``set_cluster_bounds`` EXTENDS the after-window to just before the next
    comma at-or-after j+nA+1 (/root/reference/src/utils.h:242-275);
  - cluster window nB=5 before / nA=2 after; adversative conjunctions
    (t=4) weight (1 + 0.25*(n_before - n_after));
  - sentence impact: wA=(1-n)*amp*0.8, wD=max(-1, (-n*amp-deamp)*0.8),
    impact=(1+wA+wD)*(1+0.25*adv), negated for odd negators
    (/root/reference/src/utils.h:212-240).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from sentometrics_spark.corpus import check_language_coverage, feature_columns
from sentometrics_spark.lexicons import Lexicons
from sentometrics_spark.scoring.tokenize import (
    split_sentence_strings,
    tokenize_sentences,
    tokenize_to_lists,
)
from sentometrics_spark.scoring.udf_engine import (
    _POSITIONAL,
    _positional_weights,
    score_language_batch,
)

SENT_OUT_SCHEMA = (
    "url string, sentence_id int, warc_ts timestamp, lang string, word_count int, "
    "lexicon string, feature string, score double"
)


def split_sentences(text: str) -> list[list[str]]:
    """T2: UAX-29 sentence split -> per-sentence word tokens with ', '
    replaced by the c_c marker; empty sentences dropped (rules in
    scoring/tokenize.py)."""
    return tokenize_sentences(text)


def _batch_sentences(texts) -> tuple[list[int], list[int], list[list[str]]]:
    """Batch T2 over a group of texts: ONE Arrow tokenize call for every
    sentence in the batch. Returns (doc_of_sent, sent_id, token lists) with
    empty sentences dropped and sentence ids assigned after dropping, as
    the reference does (wo[sapply(wo, length) != 0])."""
    doc_of: list[int] = []
    raw: list[str] = []
    for d, text in enumerate(texts):
        for s in split_sentence_strings(text):
            doc_of.append(d)
            raw.append(s.replace(", ", " c_c "))
    toks = tokenize_to_lists(raw)
    docs_out: list[int] = []
    ids: list[int] = []
    kept: list[list[str]] = []
    counter: dict[int, int] = {}
    for d, t in zip(doc_of, toks):
        if not t:
            continue
        counter[d] = counter.get(d, 0) + 1
        docs_out.append(d)
        ids.append(counter[d])
        kept.append(t)
    return docs_out, ids, kept


def _sentence_cluster_scores_batch(
    sentences: list[list[str]], pack, how: str, tfidf
) -> tuple[np.ndarray, np.ndarray]:
    """Whole-batch vectorization of the readable per-sentence spec
    ``_sentence_cluster_scores`` in tests/test_sentences.py (a property test
    there pins their equality). The sentence worker has NO non-overlap
    jump — every hit is a cluster center and windows are independent — so
    unlike the doc-level cluster engine there is no recurrence at all:
    window bounds, shifter counts (prefix sums), comma extension
    (searchsorted over marker positions), visit multiplicity (interval
    coverage via a diff array) and TFIDF last-writer words all compute in
    O(tokens) numpy ops.

    Returns (word_count [S], scores [S, nL])."""
    from sentometrics_spark.scoring.udf_engine import _df_by_vid

    n_s = len(sentences)
    nL = pack.polarity.shape[1]
    P = pack.polarity
    scores = np.zeros((n_s, nL))
    lens = np.fromiter((len(s) for s in sentences), dtype=np.int64, count=n_s)
    total = int(lens.sum())
    if total == 0:
        return lens, scores
    flat_tok = pd.Series([w for s in sentences for w in s], dtype=object)
    sent_idx = np.repeat(np.arange(n_s, dtype=np.int64), lens)
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pos = np.arange(total, dtype=np.int64) - offsets[sent_idx]
    vid = flat_tok.map(pack.word2id).fillna(-1).to_numpy(dtype=np.int64)
    if pack.valence_t:
        vt = flat_tok.map(pack.valence_t).fillna(0).to_numpy(dtype=np.int8)
    else:
        vt = np.zeros(total, dtype=np.int8)
    comma_idx = np.flatnonzero((flat_tok == "c_c").to_numpy())
    hit_mask = vid >= 0
    hits = np.flatnonzero(hit_mask)
    if len(hits) == 0:
        return lens, scores
    nB, nA = 5, 2

    # shifter prefix sums over NON-hit tokens (hit precedence as in the
    # loop: a window token that is a lexicon hit never counts as shifter)
    nonhit = ~hit_mask
    S1 = np.concatenate(([0], np.cumsum((vt == 1) & nonhit)))
    S2 = np.concatenate(([0], np.cumsum((vt == 2) & nonhit)))
    S3 = np.concatenate(([0], np.cumsum((vt == 3) & nonhit)))
    S4 = np.concatenate(([0], np.cumsum((vt == 4) & nonhit)))

    g = hits
    d = sent_idx[g]
    off = offsets[d]
    end_g = off + lens[d]
    st_g = np.maximum(off, g - nB)
    en0_g = np.minimum(end_g, g + nA + 1)
    # comma extension: window end moves to the first c_c marker at-or-after
    # j + nA + 1 within the sentence (set_cluster_bounds,
    # /root/reference/src/utils.h:242-275)
    if len(comma_idx):
        ci = np.searchsorted(comma_idx, en0_g, side="left")
        cand = comma_idx[np.minimum(ci, len(comma_idx) - 1)]
        en_g = np.where((ci < len(comma_idx)) & (cand < end_g), cand, en0_g)
    else:
        en_g = en0_g

    neg = S1[en_g] - S1[st_g]
    amp = S2[en_g] - S2[st_g]
    deamp = S3[en_g] - S3[st_g]
    adv = (S4[g] - S4[st_g]) - (S4[en_g] - S4[g + 1])
    nn = neg & 1
    wA = (1 - nn) * amp * 0.8
    wD = np.maximum(-1.0, (-nn * amp - deamp) * 0.8)
    impact = (1.0 + wA + wD) * (1.0 + 0.25 * adv)
    shift = np.where(nn == 1, -impact, impact)

    # visit multiplicity = #cluster windows covering each hit (incl. its
    # own): interval coverage via diff array + cumsum
    delta = np.zeros(total + 1, dtype=np.int64)
    np.add.at(delta, st_g, 1)
    np.add.at(delta, en_g, -1)
    vis = np.cumsum(delta[:-1])[g].astype(np.float64)

    pol = P[vid[g]]
    nd = lens[d].astype(np.float64)

    if how == "counts":
        w = np.ones(len(g))
    elif how == "proportional":
        w = 1.0 / nd
    elif how == "proportionalSquareRoot":
        w = 1.0 / np.sqrt(nd)
    elif how == "proportionalPol":
        # nPolarized accumulates visit multiplicity (update_token_weights
        # runs at every visit, /root/reference/src/SentimentScorerSentences.h:66,84-86)
        npol = np.zeros((n_s, nL))
        np.add.at(npol, d, (pol != 0).astype(np.float64) * vis[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            wm = np.where(npol[d] > 0, 1.0 / npol[d], 0.0)
        np.add.at(scores, d, pol * wm * shift[:, None])
        return lens, scores
    elif how == "TFIDF":
        # last-writer word feeds each hit's df: the largest center within
        # nB after it (its before-window covers the hit), else itself
        n_corpus, df_map = tfidf
        df_vec = _df_by_vid(pack, df_map)
        # clamp the search bound to the sentence end so a hit in the NEXT
        # sentence never shadows a valid in-sentence writer below it
        wi = np.searchsorted(g, np.minimum(g + nB, end_g - 1), side="right") - 1
        cand = g[wi]
        writer = np.where(cand > g, cand, g)
        w = np.log10(n_corpus / (1.0 + df_vec[vid[writer]]))
    elif how in _POSITIONAL:
        # positional normalizer weighs each hit by its visit multiplicity
        w_raw = _positional_weights(how, pos[g] + 1, nd)
        norm = np.zeros(n_s)
        np.add.at(norm, d, w_raw * vis)
        with np.errstate(divide="ignore", invalid="ignore"):
            w = np.where(norm[d] != 0, w_raw / norm[d], 0.0)
    else:
        raise ValueError(how)

    np.add.at(scores, d, pol * (shift * w)[:, None])
    return lens, scores


def sentence_tfidf_stats(pages: DataFrame, lexicons: Lexicons) -> dict[str, tuple[float, dict[str, float]]]:
    """Sentence-level (N, df) per language for TFIDF: the reference builds
    frequency maps over the unlisted SENTENCES (make_frequency_maps on the
    flattened sentence list, /root/reference/src/compute_sentiment_sentences.cpp:31-34),
    so N = #sentences and df = #sentences containing the token. Restricted
    to lexicon words (TFIDF weights only multiply scores at lexicon hits),
    keeping the collected map tiny at corpus scale."""
    lex_words = {
        lang: {w for words in lexs.values() for w in words}
        for lang, lexs in lexicons.lex.items()
    }

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            langs, tokens = [], []
            for lang, grp in pdf.groupby("lang", sort=False):
                words = lex_words.get(lang, set())
                _docs, _ids, sents = _batch_sentences(grp["text"])
                for s in sents:
                    langs.append(lang)
                    tokens.append("")  # sentence-count marker
                    for t in set(s) & words:
                        langs.append(lang)
                        tokens.append(t)
            if langs:
                yield pd.DataFrame({"lang": langs, "token": tokens})

    counts = (
        pages.select("lang", "text")
        .mapInPandas(gen, schema="lang string, token string")
        .groupBy("lang", "token")
        .count()
        .collect()
    )
    out: dict[str, tuple[float, dict[str, float]]] = {}
    n_by_lang = {r["lang"]: float(r["count"]) for r in counts if r["token"] == ""}
    for lang, n in n_by_lang.items():
        out[lang] = (n, {})
    for r in counts:
        if r["token"]:
            out[r["lang"]][1][r["token"]] = float(r["count"])
    return out


def compute_sentiment_sentences_udf(
    pages: DataFrame,
    lexicons: Lexicons,
    how: str = "proportional",
    valence_use: str = "t",
    validate_langs: str = "fail",
) -> DataFrame:
    """C4: sentence-level long sentiment (url, sentence_id, ...). Valence
    dispatch mirrors valenceType resolution
    (/root/reference/R/sentiment_engines.R:36-40): no valence -> unigram;
    valence_use='y' -> bigram; valence_use='t' -> cluster."""
    from pyspark.sql import functions as F

    spark = pages.sparkSession
    if lexicons.pretokenized_langs:
        raise ValueError(
            "the sentence engine segments internally and has no tokens_col= "
            "passthrough — pretokenized_langs lexicons are only scorable via "
            "compute_sentiment_udf(tokens_col=...)."
        )
    check_language_coverage(pages, set(lexicons.lex), validate_langs)

    has_valence = bool(lexicons.valence)
    if not has_valence:
        mode = "unigram"
    elif valence_use == "y":
        mode = "bigram"
    else:
        mode = "cluster"

    feats = feature_columns(pages)
    n_feat = len(feats)
    packs = {lang: lexicons.pack(lang) for lang in lexicons.languages}

    tfidf_stats = sentence_tfidf_stats(pages, lexicons) if how == "TFIDF" else None

    bc = spark.sparkContext.broadcast((packs, tfidf_stats))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        packs_b, tfidf_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for lang, grp in pdf.groupby("lang", sort=False):
                pack = packs_b[lang]
                tf = tfidf_b.get(lang) if tfidf_b else None
                nL = len(pack.lexicon_names)
                # flatten the whole group to sentence level (one Arrow
                # tokenize for the entire group), score once
                doc_of_sent, sent_id, sentences = _batch_sentences(grp["text"])
                if not sentences:
                    continue
                if mode == "cluster":
                    lens, mat = _sentence_cluster_scores_batch(sentences, pack, how, tf)
                else:
                    # the sentence worker's positional normalizer runs over
                    # lexicon HITS only (update_token_weights is inside the
                    # hit branch, SentimentScorerSentences.h:62-67), unlike
                    # the doc-level Onegrams worker
                    lens, mat = score_language_batch(
                        sentences, pack, how, mode, tf, positional_norm="hits"
                    )
                n_sent = len(sentences)
                rep = nL * n_feat
                doc_of_sent = np.asarray(doc_of_sent)
                sent_id = np.asarray(sent_id, dtype=np.int32)
                fvals = grp[feats].to_numpy(dtype=np.float64)[doc_of_sent]  # [S, F]
                score_lf = (mat[:, :, None] * fvals[:, None, :]).reshape(-1)
                urls = grp["url"].to_numpy()[doc_of_sent]
                tss = grp["warc_ts"].to_numpy()[doc_of_sent]
                out.append(
                    pd.DataFrame(
                        {
                            "url": np.repeat(urls, rep),
                            "sentence_id": np.repeat(sent_id, rep),
                            "warc_ts": np.repeat(tss, rep),
                            "lang": lang,
                            "word_count": np.repeat(lens, rep).astype(np.int32),
                            "lexicon": np.tile(
                                np.repeat(np.array(pack.lexicon_names, dtype=object), n_feat),
                                n_sent,
                            ),
                            "feature": np.tile(np.array(feats, dtype=object), nL * n_sent),
                            "score": score_lf,
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    in_cols = ["url", "warc_ts", "lang", "text", *feats]
    return pages.select(*in_cols).mapInPandas(run, schema=SENT_OUT_SCHEMA)
