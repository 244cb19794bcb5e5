"""The perfbench workloads.

``panel_batch`` is the write path and does the scoring: a crawl snapshot
becomes a stored hour panel, four stored tiers and Gorilla blobs.
``downstream`` reads what the write path stores and scores nothing: it fits
and explains the model on a persisted day panel and runs the span and
near-duplicate curation passes on a crawl. ``tier_refresh`` folds ingest
batches into stored tiers; it is held out of BENCHMARK.json (see its class).

Each workload is one closed-loop client: it sends its next operation only
after the previous one has completed. ``generate`` makes the inputs from
the seed and ``prepare`` builds the engine state the loop starts from (both
count as set-up). ``op`` is one operation of the loop; ``check_op`` checks
every op's output and ``final_checks`` makes the costlier checks on the
last op's output. A failed check fails its op.

``op`` is written once. The traced run calls it inside
``Tracer.instrument(workload.targets())``, which wraps the engine functions
the op reaches; the untraced loop runs the engine exactly as a caller would.
"""

from __future__ import annotations

import os
import shutil
import struct
import time
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import functions as F

import gen
from sentometrics_spark import streaming
from sentometrics_spark.aggregate import doc_agg, tiers, time_agg
from sentometrics_spark.aggregate.kernels import setup_time_weights
from sentometrics_spark.config import AggSpec, TimeKernelSpec
from sentometrics_spark.lexicons import Lexicons, fixture_lexicons
from sentometrics_spark.model import attribution, elasticnet
from sentometrics_spark.pipeline import sento_measures
from sentometrics_spark.scoring import udf_engine
from sentometrics_spark.storage import gorilla
from sentometrics_spark.textops import dedup

LEX = Lexicons(lex=fixture_lexicons().lex)  # unigram scoring, as in bench.py
ALMON = (TimeKernelSpec("almon", orders_alm=(1, 2)),)  # 4 kernels
N_MEASURES = 2 * 3 * 4  # lexicons x features x kernels
KEYS = ["bucket_ts", "lexicon", "feature"]
TIER_COLS = ["value", *tiers.PARTIAL_COLS]
HOW = "proportional"  # doc weighting of the stored tiers
SCORING_COLS = ["url", "warc_ts", "lang", "text", "feat_spark", "feat_nonspark", "feat_srca"]
TOL = 1e-12


def force(df) -> None:
    """Materialize every row and column (no count-pushdown pruning)."""
    df.write.format("noop").mode("overwrite").save()


def identity(batches):
    yield from batches


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def close(a, b, rtol: float = TOL, atol: float = TOL) -> bool:
    a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
    # a bucket whose docs all score zero carries null partial sums on both sides
    return a.shape == b.shape and bool(np.allclose(a, b, rtol=rtol, atol=atol, equal_nan=True))


def compare_tier(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Failures when two tier frames differ in keys or beyond TOL."""
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    g = got.sort_values(KEYS).reset_index(drop=True)
    w = want.sort_values(KEYS).reset_index(drop=True)
    if not g[KEYS].equals(w[KEYS]):
        return [f"{name}: keys differ"]
    return [f"{name}.{c}: values differ" for c in TIER_COLS if not close(g[c], w[c])]


def tier_frame(df) -> pd.DataFrame:
    return df.select(*KEYS, *TIER_COLS).toPandas().astype(
        {"n_docs_in": "int64", "n_docs": "int64"})


def gorilla_roundtrip(blobs, panel: pd.DataFrame) -> list[str]:
    """decode(blob) must reproduce each panel series bit for bit."""
    fails = []
    series = panel.sort_values("bucket_ts").groupby(["lexicon", "feature", "timeweight"])
    for r in blobs:
        key = (r["lexicon"], r["feature"], r["timeweight"])
        want = series.get_group(key)
        want_ts = want["bucket_ts"].astype("datetime64[s]").astype("int64").to_numpy()
        want_v = want["value"].to_numpy(dtype=np.float64)
        try:
            ts, vals = gorilla.decode(bytes(r["blob"]))
        except (IndexError, struct.error):
            ts = vals = None
        if vals is None or not (
            np.array_equal(ts, want_ts)
            and vals.view(np.uint64).tobytes() == want_v.view(np.uint64).tobytes()
        ):
            fails.append(f"gorilla blob {'/'.join(key)} does not decode to its series")
    return fails


def expected_spans(texts, pick: dict[int, str], n: int) -> list[tuple[int, int, int]]:
    """Reference for repeated_spans on the picked docs: n-grams of the
    lowercased single-space tokenization counted over the whole corpus;
    start positions of grams seen twice or more merge into maximal spans
    (overlapping or adjacent ones fold)."""
    def grams(text):
        toks = text.lower().split(" ")
        return zip(*(toks[k:] for k in range(n)))

    wanted = {g for t in pick.values() for g in grams(t)}
    counts = Counter(g for t in texts for g in grams(t) if g in wanted)
    out = []
    for doc, t in pick.items():
        span = None
        for pos, g in enumerate(grams(t)):
            if counts[g] < 2:
                continue
            if span and pos <= span[1]:
                span[1] = pos + n
            else:
                if span:
                    out.append((doc, *span))
                span = [pos, pos + n]
        if span:
            out.append((doc, *span))
    return sorted(out)


def _docs_in(rec, args, out):
    rec["counts"]["docs_in"] = args[0].count()


def _blob_counts(rec, args, out):
    row = out.select(F.sum(F.length("blob")), F.sum("n_points")).first()
    rec["counts"].update(blob_bytes=row[0], points=row[1])


def _refresh_counts(rec, args, out):
    rec["counts"]["partitions_rewritten"] = sum(out.values())
    rec["counts"]["new_bytes"] = sum(
        os.path.getsize(p.removeprefix("file:")) for p in args[1].inputFiles())


class Workload:
    name = ""
    WARMUP_OPS = 1

    def __init__(self, spark, work: str, seed: int, scale: float = 1.0):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.docs_per_op = 0
        self.stages: dict[str, list[float]] = {}
        self.extra: dict = {}
        self.last = None

    def n(self, full: int, least: int) -> int:
        return max(least, int(round(full * self.scale)))

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def scan(self, *paths):
        return self.spark.read.parquet(*paths)

    def timed(self, stage: str, fn):
        t0 = time.perf_counter()
        out = fn()
        self.stages.setdefault(stage, []).append(time.perf_counter() - t0)
        return out

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def warmup(self) -> list[str]:
        """Full-size, checked ops before timing: the first op starts the
        Python workers and compiles the queries' code, so it runs several
        times slower than later ones. Returns their check failures."""
        fails = []
        for i in range(-self.WARMUP_OPS, 0):
            fails += self.check_op(i, self.op(i))
        self.stages.clear()
        return fails

    def op(self, i: int):
        raise NotImplementedError

    def check_op(self, i: int, out) -> list[str]:
        self.last = out
        return []

    def final_checks(self) -> list[str]:
        return []

    def report(self, op_p50: float) -> dict:
        """Workload figures beyond the end-to-end metrics."""
        return {}

    def check_tiers(self, store, want: dict) -> list[str]:
        """Failures where a stored tier differs from ``want[tier]``; records
        the store's on-disk bytes per stored row."""
        fails, rows = [], 0
        for t in tiers.TIER_ORDER:
            got = tier_frame(store.read(t))
            rows += len(got)
            fails += compare_tier(f"tier {t}", got, tier_frame(want[t]))
        tier_bytes = sum(dir_bytes(store.path(t)) for t in tiers.TIER_ORDER)
        self.extra["store_bytes_per_row"] = tier_bytes / rows
        return fails

    def targets(self) -> list[tuple]:
        """(holder, attr, span name, hook) of the engine calls to trace."""
        return []

    def floor_input(self):
        """Scoring input for the identity-mapInArrow floor (None: no scoring)."""
        return None

    def trace_extra(self, out) -> None:
        """Engine calls the traced op makes after the op itself."""


class PanelBatch(Workload):
    """Scan a crawl snapshot (16 replicas of each page, salted URLs,
    jittered times) -> hour panel (lag 24, almon) -> stored panel, four
    tiers written through TierStore.write, Gorilla blobs of the panel."""

    name = "panel_batch"
    DAYS = 7
    SPEC = AggSpec(
        how_within="proportional", how_docs=HOW, by="hour",
        lag=24, time_kernels=ALMON, fill="zero",
    )

    def generate(self):
        rng = gen.rng_for(self.seed, self.name)
        snap = gen.pages(rng, self.n(500, 40), 16, 0, self.DAYS)
        self.snapshot_path = gen.write(snap, self.path("snapshot"))
        self.docs_per_op = snap.num_rows
        hours = pc.floor_temporal(snap["warc_ts"], unit="hour")
        span_h = (pc.max(hours).value - pc.min(hours).value) // 3_600_000_000
        self.panel_rows = N_MEASURES * (span_h + 1 - self.SPEC.lag + 1)

    def op(self, i):
        out = self.path("out")
        shutil.rmtree(out, ignore_errors=True)
        spark = self.spark
        sm = sento_measures(self.scan(self.snapshot_path), LEX, self.SPEC)
        sm.measures.write.mode("overwrite").parquet(f"{out}/panel")
        store = tiers.TierStore(spark, f"{out}/tiers")
        built = tiers.build_all_tiers(sm.sentiment, how=HOW)
        for t in tiers.TIER_ORDER:
            store.write(t, built[t])
        blobs = gorilla.compress_series_df(spark.read.parquet(f"{out}/panel")).collect()
        spark.catalog.clearCache()  # the doc panel sento_measures persisted
        return {"panel": f"{out}/panel", "store": store, "blobs": blobs}

    def check_op(self, i, out):
        """Panel rows = measures x (hours - lag + 1); every Gorilla blob
        decodes bit-exactly to its panel series."""
        self.last = out
        panel = self.spark.read.parquet(out["panel"]).toPandas()
        if len(panel) != self.panel_rows:
            return [f"panel rows {len(panel)} != {self.panel_rows}"]
        points = sum(r["n_points"] for r in out["blobs"])
        fails = [] if points == len(panel) else [
            f"gorilla points {points} != panel rows {len(panel)}"]
        blob_bytes = sum(len(r["blob"]) for r in out["blobs"])
        self.extra["gorilla_bytes_per_point"] = blob_bytes / len(panel)
        return fails + gorilla_roundtrip(out["blobs"], panel)

    def final_checks(self):
        """The stored hour tier equals base_tier over the snapshot, and the
        day/week/month tiers equal a direct aggregate_docs at that
        granularity."""
        sent = udf_engine.compute_sentiment_udf(self.scan(self.snapshot_path), LEX).persist()
        want = {"hour": tiers.base_tier(sent, how=HOW, by="hour")}
        for t in ("day", "week", "month"):
            want[t] = doc_agg.aggregate_docs(sent, by=t, how=HOW)
        fails = self.check_tiers(self.last["store"], want)
        sent.unpersist()
        return fails

    def report(self, op_p50):
        return {"panel_docs_per_s": self.docs_per_op / op_p50, **self.extra}

    def targets(self):
        return [
            (udf_engine, "compute_sentiment_udf", "scoring.udf_engine", _docs_in),
            (doc_agg, "aggregate_docs", "aggregate.doc_agg", None),
            (time_agg, "measures_fill", "aggregate.time_agg.fill", None),
            (time_agg, "aggregate_time", "aggregate.time_agg.kernel", None),
            (tiers.TierStore, "write", "aggregate.tiers.write", None),
            (gorilla, "compress_series_df", "storage.gorilla.pack", _blob_counts),
            (gorilla, "decode", "storage.gorilla.decode", None),
        ]

    def floor_input(self):
        return self.spark.read.parquet(self.snapshot_path).select(*SCORING_COLS)

    def trace_extra(self, out):
        for r in out["blobs"]:
            gorilla.decode(bytes(r["blob"]))


class TierRefresh(Workload):
    """One foreachBatch-style ingester. Set-up stores the tiers of 60 days
    of history and cuts the hour tier back to its 7-day retention horizon.
    Each op folds one batch into the store: two new days plus a late day
    that the seed draws from the whole stored history, scored -> hour
    partials -> apply_refresh_exactly_once -> hour retention.

    Held out of BENCHMARK.json until the engine handles late days: when a
    late day is older than the hour horizon, refresh_continuous rebuilds its
    day partition from the hours that retention kept, so the day tier loses
    that day's earlier documents and the final tier check fails."""

    name = "tier_refresh"
    HISTORY_DAYS = 60
    POLICY = tiers.RetentionPolicy(hour=7 * 24)
    N_BATCHES = 24  # the loop ends early if it runs out of batches

    def generate(self):
        rng = gen.rng_for(self.seed, self.name)
        per_day = self.n(100, 10)
        history = gen.pages(rng, per_day * self.HISTORY_DAYS, 1, 0, self.HISTORY_DAYS, "h-")
        self.history_path = gen.write(history, self.path("history"))
        self.batches = []
        for b in range(self.N_BATCHES):
            first = self.HISTORY_DAYS + 2 * b
            table, _ = gen.ingest_batch(rng, first, per_day, per_day // 2, first, f"b{b}")
            self.batches.append(gen.write(table, self.path(f"batch{b}"), 4))
        self.docs_per_op = table.num_rows

    def prepare(self):
        self.store = tiers.TierStore(self.spark, self.path("tiers"))
        sent = udf_engine.compute_sentiment_udf(self.scan(self.history_path), LEX)
        for t, df in tiers.build_all_tiers(sent, how=HOW).items():
            self.store.write(t, df)
        self.store.apply_retention("hour", self.POLICY)
        self.applied: list[int] = []

    def op(self, i):
        batch = i + self.WARMUP_OPS  # warm-up ops apply the first batches
        if batch >= len(self.batches):
            raise StopIteration
        applied = self._refresh(batch)
        self.applied.append(batch)
        return {"batch": batch, "applied": applied}

    def _refresh(self, batch: int) -> bool:
        sent = udf_engine.compute_sentiment_udf(self.scan(self.batches[batch]), LEX)
        partials = tiers.base_tier(sent, how=HOW, by="hour")
        applied = streaming.apply_refresh_exactly_once(self.store, partials, batch)
        self.store.apply_retention("hour", self.POLICY)
        return applied

    def check_op(self, i, out):
        return [] if out["applied"] else [f"batch {out['batch']} was not applied"]

    def final_checks(self):
        """Replaying the last batch id is a no-op; the tiers equal a
        from-scratch build_all_tiers over history plus every applied batch,
        after the same hour retention."""
        fails = []
        if self._refresh(self.applied[-1]):
            fails.append(f"replay of batch {self.applied[-1]} was applied again")
        paths = [self.history_path, *(self.batches[b] for b in self.applied)]
        sent = udf_engine.compute_sentiment_udf(self.scan(*paths), LEX).persist()
        want = tiers.build_all_tiers(sent, how=HOW)
        newest = want["hour"].agg(F.max("bucket_ts")).first()[0]
        cutoff = newest - pd.Timedelta(hours=self.POLICY.hour)
        want["hour"] = want["hour"].filter(F.col("bucket_ts") > F.lit(cutoff))
        fails += self.check_tiers(self.store, want)
        sent.unpersist()
        return fails

    def report(self, op_p50):
        return {"refresh_p50_s": op_p50, "ingest_docs_per_s": self.docs_per_op / op_p50,
                **self.extra}

    def targets(self):
        return [
            (udf_engine, "compute_sentiment_udf", "scoring.udf_engine", _docs_in),
            (doc_agg, "aggregate_docs", "aggregate.doc_agg", None),
            (streaming, "apply_refresh_exactly_once", "streaming.apply", None),
            (tiers, "refresh_continuous", "aggregate.tiers.refresh", _refresh_counts),
            (tiers.TierStore, "apply_retention", "aggregate.tiers.retention", None),
        ]

    def floor_input(self):
        return self.spark.read.parquet(self.batches[0]).select(*SCORING_COLS)


class Downstream(Workload):
    """Read path, no scoring in the op. Stage ``fit``: elastic net on the
    persisted day panel (84 dates x 24 measures) against a seeded target;
    stage ``attrib``: per-document attribution of its predictions; stage
    ``curation``: repeated 8-gram spans and MinHash-LSH buckets over a crawl where a
    seeded 10% of documents repeat verbatim."""

    name = "downstream"
    DAYS, LAG = 90, 7
    CTR = elasticnet.ModelCtr(alphas=(0.25, 0.75), n_lambdas=10)
    N, REPS = 8, 8

    def generate(self):
        rng = gen.rng_for(self.seed, self.name)
        pages = gen.pages(rng, self.n(500, 90), 6, 0, self.DAYS)
        self.pages_path = gen.write(pages, self.path("pages"))
        self.table, self.verbatim = gen.curation_docs(rng, self.n(750, 40), self.REPS)
        self.docs_path = gen.write(self.table, self.path("docs"))
        self.model_docs, self.curation_docs = pages.num_rows, self.table.num_rows
        self.docs_per_op = self.model_docs + self.curation_docs
        self.input_bytes = int(pc.sum(pc.binary_length(self.table["text"])).as_py())
        self.sample = rng.choice(self.table.num_rows, size=64, replace=False)
        self.target_rng = rng

    def prepare(self):
        """Persist the scored doc table and the day panel; pivot the
        measures into the wide model matrix and draw the target."""
        self.sent = udf_engine.compute_sentiment_udf(self.scan(self.pages_path), LEX).persist()
        docagg = doc_agg.aggregate_docs(self.sent, by="day", how="equal_weight",
                                        keep_partials=False)
        self.filled = time_agg.measures_fill(docagg, by="day", fill="zero").persist()
        self.kernels = setup_time_weights(ALMON, self.LAG)
        long = time_agg.aggregate_time(self.filled, self.kernels, self.LAG).toPandas()
        long["m"] = long["lexicon"] + "--" + long["feature"] + "--" + long["timeweight"]
        self.X = long.pivot(index="bucket_ts", columns="m", values="value").sort_index()
        self.y = pd.Series(gen.model_target(self.target_rng, self.X.to_numpy()))

    def op(self, i):
        model = self.timed("fit", lambda: elasticnet.sento_model(
            self.y, self.X.reset_index(drop=True), self.CTR))
        att = self.timed("attrib", lambda: self._attribute(model))
        spans, buckets = self.timed("curation", self._curate)
        return {"model": model, "att": att, "spans": spans, "buckets": buckets}

    def _attribute(self, model):
        coefs = attribution.coef_df(self.spark, model.coefs)
        w = doc_agg.doc_weights(self.sent, by="day", how="equal_weight")
        att = attribution.attributions_docs(
            self.sent, w, self.filled, coefs, self.kernels, self.LAG, "day").persist()
        force(att)  # check_op sums the cached rows, then unpersists them
        return att

    def _curate(self):
        docs = self.scan(self.docs_path)
        spans = dedup.repeated_spans(docs, n=self.N, min_repeats=2)
        force(spans)
        buckets = dedup.minhash_lsh_buckets(docs)
        force(buckets)
        return spans, buckets

    def check_op(self, i, out):
        """Coefficients are finite; per date, doc attributions sum to
        coef x measure."""
        self.last = out
        coefs = out["model"].coefs
        if not np.isfinite(coefs.to_numpy()).all():
            return ["non-finite coefs"]
        want = self.X[coefs.index].to_numpy() @ coefs.to_numpy()
        got = out["att"].groupBy("pred_ts").agg(F.sum("attrib").alias("s")).toPandas()
        out["att"].unpersist()
        got = got.set_index("pred_ts")["s"].reindex(self.X.index, fill_value=0.0)
        if not close(got.to_numpy(), want, rtol=0.0, atol=1e-9):
            return ["doc attributions do not sum to coef x measure per date"]
        return []

    def final_checks(self):
        """Spans match a Python reference on a seeded sample; MinHash
        buckets are well formed and hold every sampled verbatim group
        together."""
        out = self.last
        fails = []
        ids = self.table["doc_id"].to_numpy()
        texts = self.table["text"].to_pylist()
        pick = {int(ids[j]): texts[j] for j in self.sample}
        rows = out["spans"].filter(F.col("doc_id").isin(list(pick))).collect()
        got_spans = sorted((r["doc_id"], r["span_start"], r["span_end"]) for r in rows)
        if got_spans != expected_spans(texts, pick, self.N):
            fails.append("repeated spans differ from the reference on the sample")
        return fails + self.check_buckets(out["buckets"].collect())

    def check_buckets(self, rows) -> list[str]:
        fails = []
        for r in rows:
            m = list(r["members"])
            if len(m) < 2 or r["bucket_size"] != len(m) or m != sorted(m) or r["keep_id"] != m[0]:
                fails.append(f"malformed bucket in band {r['band']}")
                break
        member_sets = [set(r["members"]) for r in rows]
        for b in np.flatnonzero(self.verbatim)[:16]:
            copies = {int(b) * self.REPS + r for r in range(self.REPS)}
            if not any(copies <= s for s in member_sets):
                fails.append(f"verbatim copies of doc {b} share no bucket")
        return fails

    def report(self, op_p50):
        p50 = {k: float(np.median(v)) for k, v in self.stages.items()}
        return {
            "fit_s": p50["fit"],
            "attrib_s": p50["attrib"],
            "curation_docs_per_s": self.curation_docs / p50["curation"],
        }

    def targets(self):
        return [
            (elasticnet, "sento_model", "model.elasticnet.fit", None),
            (doc_agg, "doc_weights", "aggregate.doc_agg", None),
            (attribution, "attributions_docs", "model.attribution", None),
            (dedup, "repeated_spans", "textops.dedup.spans", None),
            (dedup, "minhash_lsh_buckets", "textops.dedup.minhash", None),
        ]


WORKLOADS = {w.name: w for w in (PanelBatch, Downstream, TierRefresh)}
