"""The benchmark's workloads, each built from sections.

A section (:class:`Tiers`, :class:`Series`, :class:`Ann`,
:class:`Corpus`) builds its inputs from the seed in ``setup`` (the
package sees only the generated DataFrames), then ``rep`` runs one
repetition of its calls through :class:`harness.Run`, checking every
output right after the call that produced it, outside the timed
interval. ``named`` turns the timed calls into the section's named
end-to-end metrics; ``ROLES`` says which of them fills which
workload-independent slot of the result line, and which spans'
calls it is computed from.

A workload (:class:`Workload`) runs its sections one after another in
each repetition: ``engine`` = tiers + series, ``webtext`` = ann + corpus.
"""

from __future__ import annotations

import hashlib

import numpy as np
from pyspark.sql import functions as F

from harness import Output, force, log, median, tail_percentile

KEYS = ["lang", "host"]


def materialize(df, sums=()):
    """Persist ``df`` and fill the cache with the fingerprinting job."""
    df = df.persist()
    return df, force(df, sums)


def fingerprint(rows) -> Output:
    """Driver-side fingerprint of collected rows (order-independent)."""
    rows = sorted(tuple(r) for r in rows)
    h = hashlib.blake2b(repr(rows).encode(), digest_size=8)
    return Output(len(rows), int.from_bytes(h.digest(), "big", signed=True))


def metric(samples: list, unit: str) -> dict:
    return {"value": median(samples), "unit": unit, "n": len(samples)}


def rate(run, names, count, unit: str) -> dict:
    """Per timed repetition, ``count(calls)`` / Σ seconds over the calls
    whose name starts with one of ``names``; median over repetitions."""
    reps: dict[int, list] = {}
    for c in run.calls:
        if c.phase == "timed" and c.name.startswith(names):
            reps.setdefault(c.rep, []).append(c)
    return metric([count(cs) / sum(c.seconds for c in cs) for cs in reps.values()],
                  unit)


class Tiers:
    """Batch rollup cascade: the JVM aggregate + shuffle path."""

    name = "tiers"
    ROLES = {"batch_rate_per_s": ("points_per_s", ("rollup.tiers.",))}

    def __init__(self, pages):
        self.pages = pages

    def setup(self, spark, seed: int, scale: float):
        self.n_pages = self.pages.count()
        self.max_reps = 10_000

    def rep(self, run):
        from anofox_forecast_spark.rollup.tiers import cascade_rollup, rollup_pages

        sums = ("crawl_count",)
        held = []
        try:
            t1h, o = run.call("rollup.tiers.rollup_pages.1h",
                              lambda: materialize(rollup_pages(self.pages, "1h"), sums))
            held.append(t1h)
            self._tier_checks(run, "1h", o)
            t1d, o = run.call("rollup.tiers.cascade_rollup.1d",
                              lambda: materialize(cascade_rollup(t1h, "1d"), sums))
            held.append(t1d)
            self._tier_checks(run, "1d", o)
            o = run.call("rollup.tiers.cascade_rollup.7d",
                         lambda: force(cascade_rollup(t1d, "7d"), sums))
            self._tier_checks(run, "7d", o)
        finally:
            for df in held:
                df.unpersist()

    def _tier_checks(self, run, tier: str, o: Output):
        run.note(rows=o.rows)
        run.check(o.sums["crawl_count"] == self.n_pages,
                  f"{tier} Σcrawl_count {o.sums['crawl_count']} != {self.n_pages} pages")
        run.golden(tier, o)

    def named(self, run) -> dict:
        return {"points_per_s": rate(run, self.ROLES["batch_rate_per_s"][1],
                                     lambda cs: sum(c.info["rows"] for c in cs),
                                     "points/s")}


class Series:
    """The batched-series mapInPandas loop behind five operators."""

    name = "series"
    REQUEST_SPAN = "models.harness.forecast.1d_fast"
    ROLES = {"udf_rate_per_s": ("forecast_series_per_s", ("models.harness.forecast.",)),
             "request_p50_s": ("forecast_1d_fast_s", (REQUEST_SPAN,))}
    FAST = ["seasonal_naive", "ses", "theta"]
    SLOW = ["ets"]
    HORIZON = 14
    MIN_POINTS = 14   # forecast series with two weekly seasons or more

    def __init__(self, pages):
        self.pages = pages

    def setup(self, spark, seed: int, scale: float):
        from anofox_forecast_spark.rollup.tiers import (
            bucket_col,
            cascade_rollup,
            rollup_pages,
        )

        t1h = rollup_pages(self.pages, "1h").persist()
        y = F.col("crawl_count").cast("double").alias("y")
        self.y1h = t1h.select(*KEYS, "bucket_start", y).persist()
        ep = F.unix_timestamp("bucket_start")
        per_series = self.y1h.groupBy(*KEYS).agg(
            F.count("*"), (F.max(ep) - F.min(ep)) / 3600 + 1).collect()
        self.n_1h = sum(r[2] for r in per_series)
        self.n_filled = int(sum(r[3] for r in per_series))  # hourly span
        t1d = cascade_rollup(t1h, "1d")
        per_series = t1d.groupBy(*KEYS).agg(
            F.count("*"), F.countDistinct(bucket_col("bucket_start", "7d"))).collect()
        self.n_7d = sum(r[3] for r in per_series)
        # forecast inputs: only series every model can fit, so the output
        # size is exact (series × models × horizon)
        long = [r[:2] for r in per_series if r[2] >= self.MIN_POINTS]
        self.n_fc_series = len(long)
        keep = spark.createDataFrame(long, t1d.select(*KEYS).schema)
        self.y1d = t1d.select(*KEYS, "bucket_start", y).join(keep, KEYS).persist()
        self.y1d.count()
        t1h.unpersist()
        self.max_reps = 10_000

    def rep(self, run):
        from anofox_forecast_spark.compression.gorilla import compress_chunks
        from anofox_forecast_spark.core.gapfill import gapfill_dense
        from anofox_forecast_spark.models.harness import forecast
        from anofox_forecast_spark.transform.window import ewm_mean

        def checked(name, fn, want_rows):
            o = run.call(name, lambda: force(fn()))
            run.note(rows=o.rows)
            run.check(o.rows == want_rows, f"{o.rows} rows, want {want_rows}")
            run.golden(name, o)

        checked("core.gapfill.gapfill_dense.1h",
                lambda: gapfill_dense(self.y1h, KEYS, "bucket_start", ["y"], "1h",
                                      method="locf"),
                self.n_filled)
        for tag, models in (("1d_fast", self.FAST), ("1d_ets", self.SLOW)):
            checked(f"models.harness.forecast.{tag}",
                    lambda models=models: forecast(
                        self.y1d, KEYS, "bucket_start", "y", models=models,
                        horizon=self.HORIZON, freq="1d", season_length=7),
                    self.n_fc_series * len(models) * self.HORIZON)
            run.note(series_models=self.n_fc_series * len(models))
        checked("compression.gorilla.compress_chunks.7d",
                lambda: compress_chunks(self.y1h, KEYS, "bucket_start", "y",
                                        chunk_freq="7d"),
                self.n_7d)
        checked("transform.window.ewm_mean.1h",
                lambda: ewm_mean(self.y1h, KEYS, "bucket_start", "y", alpha=0.3),
                self.n_1h)

    def named(self, run) -> dict:
        return {
            "forecast_series_per_s": rate(
                run, self.ROLES["udf_rate_per_s"][1],
                lambda cs: sum(c.info["series_models"] for c in cs), "series/s"),
            "forecast_1d_fast_s": metric(run.times(self.REQUEST_SPAN), "s"),
        }

    def close(self):
        self.y1h.unpersist()
        self.y1d.unpersist()


class Ann:
    """A standing LSH index: the build, then request-shaped probe batches."""

    name = "ann"
    REQUEST_SPAN = "webtext.similarity.lsh_cosine_topk"
    ROLES = {"udf_rate_per_s": ("queries_per_s", (REQUEST_SPAN,)),
             "request_p50_s": ("probe_p50_s", (REQUEST_SPAN,))}
    QUERIES = 256          # vectors per probe batch
    BATCHES = 2            # probe batches per repetition
    K = 5
    RECALL_FLOOR = 0.80

    def setup(self, spark, seed: int, scale: float):
        from anofox_forecast_spark.sources.webtext_synth import synthesize_embeddings

        n = max(int(4096 * scale), 2048)
        self.emb = synthesize_embeddings(
            spark, n_vecs=n, n_clusters=max(n // 100, 4), seed=seed).persist()
        rows = self.emb.collect()
        self.n = len(rows)
        order = np.argsort([r[0] for r in rows])
        self.ids = np.array([rows[i][0] for i in order], dtype=np.int64)
        m = np.array([rows[i][1] for i in order], dtype=np.float64)
        self.unit = m / np.linalg.norm(m, axis=1, keepdims=True)
        # disjoint query batches, drawn from the seed
        perm = np.random.default_rng(seed).permutation(self.n)
        q = self.QUERIES
        self.batches = [perm[i * q:(i + 1) * q] for i in range(self.n // q)]
        self.next_batch = 0
        self.max_reps = len(self.batches) // self.BATCHES

    def _exact(self, rows: np.ndarray) -> dict:
        """Exact cosine top-k (self excluded) for the query row indices."""
        scores = self.unit[rows] @ self.unit.T
        scores[np.arange(len(rows)), rows] = -np.inf
        top = np.argpartition(-scores, self.K, axis=1)[:, :self.K]
        return {int(self.ids[r]): set(self.ids[t].tolist()) for r, t in zip(rows, top)}

    def rep(self, run):
        from anofox_forecast_spark.webtext.similarity import (
            hyperplane_buckets,
            lsh_cosine_topk,
        )

        lsh, o = run.call("webtext.similarity.hyperplane_buckets",
                          lambda: materialize(hyperplane_buckets(
                              self.emb, "vec_id", "embedding", "c", n_planes=8,
                              n_tables=16, with_vec=True, grouped=True)))
        try:
            self._index_checks(run, "lsh_index", o)
            for b in range(self.next_batch, self.next_batch + self.BATCHES):
                rows = self.batches[b]
                q = self.emb.filter(F.col("vec_id").isin([int(x) for x in self.ids[rows]]))
                got = run.call(self.REQUEST_SPAN,
                               lambda: lsh_cosine_topk(self.emb, q, k=self.K,
                                                       corpus_index=lsh).collect())
                run.note(rows=len(got), queries=len(rows))
                self._probe_checks(run, b, rows, got)
            self.next_batch += self.BATCHES
        finally:
            lsh.unpersist()

    def _index_checks(self, run, key, o: Output):
        run.note(rows=o.rows)
        run.check(o.rows == self.n, f"index has {o.rows} rows, want {self.n}")
        run.golden(key, o)

    def _probe_checks(self, run, b, rows, got):
        exact = self._exact(rows)
        hits: dict = {}
        for g in got:
            hits.setdefault(g["query_id"], set()).add(g["neighbor_id"])
        run.check(set(hits) <= set(exact) and all(len(v) <= self.K for v in hits.values()),
                  f"batch {b}: answers outside the query batch or over k")
        recall = sum(len(hits.get(q, set()) & t) for q, t in exact.items()) / (
            self.K * len(exact))
        run.note(recall=recall)
        run.check(recall >= self.RECALL_FLOOR,
                  f"batch {b} recall@{self.K} {recall:.3f} < {self.RECALL_FLOOR}")
        run.golden(f"lsh.batch{b}", fingerprint(
            (g["query_id"], g["neighbor_id"], g["cosine"], g["rank"]) for g in got))

    def named(self, run) -> dict:
        lsh = run.times(self.REQUEST_SPAN)
        out = {
            "queries_per_s": rate(run, (self.REQUEST_SPAN,),
                                  lambda cs: sum(c.info["queries"] for c in cs), "q/s"),
            "probe_p50_s": metric(lsh, "s"),
        }
        recalls = [c.info["recall"] for c in run.calls if c.name == self.REQUEST_SPAN]
        out["recall_at_5_min"] = {"value": min(recalls, default=0.0), "unit": "ratio",
                                  "n": len(recalls)}
        tail = tail_percentile(lsh)
        if tail is not None:
            out["probe_tail_s"] = {"value": tail[1], "unit": "s",
                                   "percentile": tail[0], "n": len(lsh)}
        return out

    def close(self):
        self.emb.unpersist()


class Corpus:
    """webtext dedup + DSIR scoring: shuffle-heavy, iterative calls."""

    name = "corpus"
    ROLES = {"batch_rate_per_s": ("docs_per_s", ("webtext.dedup.", "webtext.lm."))}

    def setup(self, spark, seed: int, scale: float):
        from anofox_forecast_spark.sources.webtext_synth import synthesize_documents

        self.n = max(int(600 * scale), 300)
        self.docs = synthesize_documents(spark, n_docs=self.n, seed=seed).persist()
        self.target = self.docs.filter("doc_id % 7 = 0")
        self.docs.count()
        self.max_reps = 10_000

    def rep(self, run):
        from anofox_forecast_spark.webtext.dedup import (
            connected_components,
            minhash_lsh_candidates,
        )
        from anofox_forecast_spark.webtext.lm import dsir_log_weights

        pairs, o = run.call("webtext.dedup.minhash_lsh_candidates",
                            lambda: materialize(minhash_lsh_candidates(
                                self.docs, "doc_id", "text", n_hashes=32, bands=8,
                                est_threshold=0.2)))
        try:
            run.note(rows=o.rows)
            run.golden("minhash", o)
            edges = [(p[0], p[1]) for p in pairs.select("id_a", "id_b").collect()]
            run.check(all(a < b for a, b in edges), "minhash pair with id_a >= id_b")

            labels = run.call("webtext.dedup.connected_components",
                              lambda: connected_components(pairs).collect())
            run.note(rows=len(labels))
            self._cc_checks(run, edges, labels)
        finally:
            pairs.unpersist()

        def per_doc(name, fn, key):
            o = run.call(name, lambda: force(fn()))
            run.note(rows=o.rows)
            run.check(o.rows == self.n, f"{o.rows} rows, want one per doc ({self.n})")
            run.golden(key, o)

        per_doc("webtext.lm.dsir_log_weights",
                lambda: dsir_log_weights(self.docs, self.target, "doc_id", "text",
                                         hash_buckets=1 << 22), "dsir")

    @staticmethod
    def _cc_checks(run, edges, labels):
        label = {row[0]: row[1] for row in labels}
        ids = {x for e in edges for x in e}
        run.check(set(label) == ids, "CC labels do not cover exactly the paired ids")
        run.check(all(label.get(a) == label.get(b) for a, b in edges),
                  "CC labels disagree across a pair")
        low: dict = {}
        for i, c in label.items():
            low[c] = min(low.get(c, i), i)
        run.check(all(low[c] == c for c in low), "CC label is not the minimum member id")
        run.golden("cc", fingerprint(labels))

    def named(self, run) -> dict:
        # documents / time of the corpus section's three calls
        return {"docs_per_s": rate(run, self.ROLES["batch_rate_per_s"][1],
                                   lambda cs: self.n, "docs/s")}

    def close(self):
        self.docs.unpersist()


class Workload:
    """Sections run back to back in every repetition."""

    name = ""

    def __init__(self):
        self.sections: list = []

    def setup(self, spark, seed: int, scale: float):
        for s in self.sections:
            s.setup(spark, seed, scale)
            log(f"{s.name} inputs ready")
        self.max_reps = min(s.max_reps for s in self.sections)
        #: result slot → (section metric name, span-name prefixes behind it)
        self.slots = {slot: role for s in self.sections for slot, role in s.ROLES.items()}

    def rep(self, run):
        for s in self.sections:
            s.rep(run)

    def named(self, run) -> dict:
        return {k: v for s in self.sections for k, v in s.named(run).items()}


    def close(self):
        for s in self.sections:
            if hasattr(s, "close"):
                s.close()


class Engine(Workload):
    """tiers + series over one synthetic pages table."""

    name = "engine"

    def setup(self, spark, seed: int, scale: float):
        from anofox_forecast_spark.sources.pages import synthesize_pages

        # html is never read by the rollups; caching it only slows setup
        self.pages = synthesize_pages(
            spark, n_pages=max(int(50_000 * scale), 4000), n_hosts=300,
            weeks=4, seed=seed).drop("html").persist()
        self.sections = [Tiers(self.pages), Series(self.pages)]
        super().setup(spark, seed, scale)

    def close(self):
        super().close()
        self.pages.unpersist()


class Webtext(Workload):
    """ann + corpus."""

    name = "webtext"

    def setup(self, spark, seed: int, scale: float):
        self.sections = [Ann(), Corpus()]
        super().setup(spark, seed, scale)


WORKLOADS = {w.name: w for w in (Engine, Webtext)}
