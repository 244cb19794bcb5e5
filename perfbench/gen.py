"""Seeded input generator for every perfbench workload.

Everything the benchmark feeds the engine is made here from one integer
seed with numpy's PCG64 generator and written with pyarrow, so the same
seed gives byte-identical parquet files. The engine only ever sees the
generated tables; the seed never reaches it.

What the seed decides:
  - the page texts, languages and sources of each base document;
  - the URL salt and the per-replica timestamp jitter of replicated pages;
  - the arrival order of rows and the late day of each ingest batch;
  - the model target's noise;
  - which curation documents stay verbatim across replicas.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 31-word vocabulary of the engine's fixture corpus: the lexicon words
# (fast, slow, spark, ...) make scores non-trivial, the rest is filler
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the dup"
).split()
LANGS = ("en", "fr", "de", "es", "zh")
LANG_P = (0.39, 0.16, 0.14, 0.16, 0.15)
N_SOURCES = 20
MINUTES_PER_DAY = 1440
# 2024-01-01 is a Monday, so ISO weeks start on a generated day boundary
T0_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
TS_TYPE = pa.timestamp("us", tz="UTC")
N_FILES = 8  # one scan partition per file at these sizes


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding a stream never
    shifts the values of another one."""
    key = [int(b) for b in stream.encode()]
    return np.random.default_rng([seed, *key])


def texts(rng: np.random.Generator, n: int, min_words: int = 10, max_words: int = 100):
    lens = rng.integers(min_words, max_words, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    return [" ".join(part) for part in np.split(words, np.cumsum(lens)[:-1])]


def pages(
    rng: np.random.Generator,
    n_base: int,
    reps: int,
    day0: int,
    days: int,
    prefix: str = "",
) -> pa.Table:
    """Common-Crawl-shaped pages: ``n_base`` documents, each replicated
    ``reps`` times with a salted URL and a jittered timestamp that stays
    inside ``[day0, day0 + days)``. Rows come out in a seeded order."""
    body = texts(rng, n_base)
    lang = rng.choice(len(LANGS), n_base, p=LANG_P)
    src = rng.integers(0, N_SOURCES, n_base)
    salt = rng.integers(0, 2**32, n_base)
    lo, hi = day0 * MINUTES_PER_DAY, (day0 + days) * MINUTES_PER_DAY
    minute = rng.integers(lo, hi, n_base)
    jitter = rng.integers(-90, 91, (reps, n_base))
    ts_min = np.clip(minute[None, :] + jitter, lo, hi - 1).ravel()

    base = np.tile(np.arange(n_base), reps)
    rep = np.repeat(np.arange(reps), n_base)
    order = rng.permutation(n_base * reps)
    base, rep, ts_min = base[order], rep[order], ts_min[order]
    url = [
        f"https://src{src[b]}.example.com/{prefix}{salt[b]:08x}/{b}#{r}"
        for b, r in zip(base.tolist(), rep.tolist())
    ]
    text = np.asarray(body, dtype=object)[base]
    has_spark = np.array([" spark " in f" {t} " for t in body])[base]
    return pa.table(
        {
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(T0_US + ts_min * 60_000_000, TS_TYPE),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(np.asarray(LANGS, dtype=object)[lang[base]], pa.string()),
            "feat_spark": has_spark.astype(np.float64),
            "feat_nonspark": (~has_spark).astype(np.float64),
            "feat_srca": (src[base] % 2 == 0).astype(np.float64),
        }
    )


def curation_docs(rng: np.random.Generator, n_base: int, reps: int, verbatim: float = 0.1):
    """Realistic-duplication corpus: ``n_base`` documents replicated
    ``reps`` times; a seeded ``verbatim`` share of them (an exact count, so
    the duplicated volume is the same for every seed) repeat word for word,
    every other replica tags each word with its replica number, so its
    n-grams are unique corpus-wide. Returns (table, verbatim mask)."""
    body = np.asarray(texts(rng, n_base), dtype=object)
    keep = np.zeros(n_base, dtype=bool)
    keep[rng.choice(n_base, size=round(verbatim * n_base), replace=False)] = True
    doc_id, text = [], []
    for b in range(n_base):
        words = body[b].split(" ")
        for r in range(reps):
            doc_id.append(b * reps + r)
            text.append(body[b] if keep[b] else " ".join(f"{w}~{r}" for w in words))
    order = rng.permutation(len(doc_id))
    return (
        pa.table(
            {
                "doc_id": pa.array(np.asarray(doc_id, dtype=np.int64)[order]),
                "text": pa.array(np.asarray(text, dtype=object)[order], pa.string()),
            }
        ),
        keep,
    )


def ingest_batch(
    rng: np.random.Generator,
    first_day: int,
    docs_per_day: int,
    late_docs: int,
    late_window: int,
    tag: str,
) -> tuple[pa.Table, int]:
    """One ingest batch in arrival order: two new days (``first_day`` and
    the next) plus ``late_docs`` documents of one late day, drawn by the
    seed from the ``late_window`` days before. Returns (pages, late day)."""
    late = first_day - 1 - int(rng.integers(0, late_window))
    fresh = pages(rng, 2 * docs_per_day, 1, first_day, 2, prefix=f"{tag}-")
    tardy = pages(rng, late_docs, 1, late, 1, prefix=f"{tag}l-")
    both = pa.concat_tables([fresh, tardy])
    return both.take(rng.permutation(both.num_rows)), late


def model_target(rng: np.random.Generator, X: np.ndarray) -> np.ndarray:
    """Linear target over the panel columns plus seeded noise (10% of the
    signal's spread). The coefficients are fixed, +1/-1 on every fourth
    column (one time kernel per measure of the 24-column panel), so every
    seed poses a fit of the same difficulty: with a seeded support the
    coordinate-descent work, and so the fit time, moved 35% between seeds."""
    n, p = X.shape
    col = np.arange(p)
    beta = np.where(col % 4 == 0, np.where(col % 8 == 0, 1.0, -1.0), 0.0)
    signal = X @ beta
    return signal + rng.normal(0.0, 0.1 * (float(np.std(signal)) or 1.0), n)


def write(table: pa.Table, path: str, n_files: int = N_FILES) -> str:
    """Write ``table`` as ``n_files`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))
    return path
