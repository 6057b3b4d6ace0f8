"""The benchmark workloads, composed from the engine's public functions.

``forecast_panel`` and ``analytics_mix`` are the workloads
``BENCHMARK.json`` names.

Each workload has a preparation and a warm pass (both during set-up; the
warm pass runs on the smaller input), measured passes (repeated on the
full input until the run's time is up), and an output check that runs
after the timed region. Every timed call
goes through ``Context.op``: one closed-loop client, so each operation
starts when the previous one has returned.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tracer import NULL_TRACER


def _noop(df) -> None:
    # the engine's bench action: the whole physical plan runs, nothing
    # is collected
    df.write.format("noop").mode("overwrite").save()


class _Rows:
    """Rows collected inside the timed region, handed to the oracle
    comparison in place of a DataFrame so the query is not re-run."""

    def __init__(self, df):
        self.columns = list(df.columns)
        self._rows = df.collect()

    def collect(self):
        return self._rows


@dataclass
class Context:
    spark: object
    work_dir: str
    tracer: object = NULL_TRACER
    ops: list = field(default_factory=list)  # (name, seconds)
    checks: list = field(default_factory=list)  # (name, ok, detail)
    extra: dict = field(default_factory=dict)  # workload-specific metrics

    def op(self, name: str, fn, *args, **kwargs):
        """Run and time one operation. Calls into the engine's public
        functions get their spans from ``Tracer.instrument``."""
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.ops.append((name, time.perf_counter() - t0))
        return out

    def span(self, name: str, kind: str = "call"):
        return self.tracer.span(name, kind)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))


def _oracle_check(ctx: Context, name: str, rows: _Rows, sql: str, duck) -> None:
    from tests.oracle_harness import compare_query

    ok, msg = compare_query(rows, duck, sql)
    ctx.check(name, ok, msg)


def _duck(sf_dir: str):
    import duckdb

    from tests.conftest import register_duck_views

    con = duckdb.connect()
    register_duck_views(con, sf_dir)
    return con


# ---------------------------------------------------------------------------
# forecast_panel
# ---------------------------------------------------------------------------

# Time-split window the seed draws the cutoff from (panel dates run to
# 1998-12; the engine's default cutoff is 1998-06-30).
CUTOFF_WINDOW = ("1998-04-01", "1998-07-31")


class ForecastPanel:
    """panel -> window features + MA baseline -> evaluation spine and
    global KPIs -> Lasso LR, all over one persisted panel."""

    name = "forecast_panel"

    def __init__(self, seed: int, sf_dir: str):
        rng = random.Random(seed)
        lo, hi = (np.datetime64(d) for d in CUTOFF_WINDOW)
        self.cutoff = str(lo + rng.randrange(int((hi - lo).astype(int)) + 1))

    def instrument_targets(self):
        from sales_forecast_pyspark_spark.forecast import features, run
        from sales_forecast_pyspark_spark.operators import windows
        from sales_forecast_pyspark_spark.plans import evaluation, panel

        return [
            (panel, "daily_panel", "build"),
            (features, "build_features", "build"),
            (windows, "ma_baseline", "build"),
            (evaluation, "build_eval", "build"),
            (evaluation, "kpi_global", "build"),
            (run, "prepare_features", "call"),
            (run, "train_and_eval", "call"),
        ]

    def setup(self, ctx: Context, sf_dir: str, warm_dir: str) -> dict:
        self.run_pass(ctx, {}, warm_dir, "warm")
        return {}

    def run_pass(self, ctx: Context, prep: dict, sf_dir: str, tag: str) -> dict:
        from sales_forecast_pyspark_spark.forecast import (
            build_features,
            feature_pipeline,
            lr_preset,
            materialize,
            prepare_features,
            train_and_eval,
        )
        from sales_forecast_pyspark_spark.operators.rowops import time_split
        from sales_forecast_pyspark_spark.operators.windows import ma_baseline
        from sales_forecast_pyspark_spark.plans.evaluation import build_eval, kpi_global
        from sales_forecast_pyspark_spark.plans.panel import PANEL_KEYS, daily_panel
        from sales_forecast_pyspark_spark.plans.queries import REDUCED_PRESET

        spark, out = ctx.spark, {}

        def fill_panel():
            # the shared frontier every later step reads
            panel = daily_panel(spark, sf_dir)
            with ctx.span("plans.frontier_fill", "fill"):
                return materialize(panel)

        panel = ctx.op("panel", fill_panel)

        def features():
            # the board's forecast preset (lags, cycle and weekday lags,
            # rolling mean/std, momentum); the reference's full 73-wide
            # set does not fit the run budget
            feats, cols = build_features(daily_panel(spark, sf_dir, calendar=True), **REDUCED_PRESET)
            with ctx.span("operators.windows.exec", "exec"):
                return materialize(feats), cols

        feats, cols = ctx.op("features", features)

        def baseline():
            base = ma_baseline(panel, PANEL_KEYS, "ds", "qty", window=6)
            with ctx.span("operators.windows.exec", "exec"):
                _noop(base)

        ctx.op("ma_baseline", baseline)
        ev = ctx.op("build_eval", build_eval, spark, sf_dir, self.cutoff)

        def kpi():
            df = kpi_global(ev)
            with ctx.span("plans.exec", "exec"):
                return _Rows(df)

        out["kpi_global"] = ctx.op("kpi_global", kpi)

        train, test = time_split(feats, "ds", self.cutoff)
        numeric = [*cols, "year", "month", "week", "day", "dow"]
        _, train_p, test_p = ctx.op(
            "prepare_features", prepare_features,
            feature_pipeline(PANEL_KEYS, numeric), train, test,
        )
        res = ctx.op("train_and_eval", train_and_eval, "lr", train_p, test_p, lr_preset("qty"))
        out["lr"] = res.metrics

        spark.catalog.clearCache()  # the next pass pays its own fills
        return out

    def check(self, ctx: Context, prep: dict, sf_dir: str, outs: list[dict]) -> None:
        from sales_forecast_pyspark_spark.plans.queries import QUERIES

        out = outs[-1]
        duck = _duck(sf_dir)
        sql = QUERIES["kpi_global"].oracle.replace("DATE '1998-06-30'", f"DATE '{self.cutoff}'")
        _oracle_check(ctx, "kpi_global", out["kpi_global"], sql, duck)
        m = out["lr"]
        finite = all(isinstance(m.get(k), float) and math.isfinite(m[k]) for k in ("mae", "rmse", "r2"))
        ctx.check("forecast.lr", finite and m["n"] > 0, str(m))
        # model quality must not silently worsen: the Lasso LR has to beat
        # the MA6 baseline the evaluation spine scores on the same rows
        base_mae = out["kpi_global"].collect()[0]["base_mae"]
        ctx.check("forecast.lr_beats_baseline", m["mae"] < base_mae, f"mae {m['mae']} vs baseline {base_mae}")
        ctx.extra["forecast_mae"] = float(np.median([o["lr"]["mae"] for o in outs]))
        ctx.extra["baseline_mae"] = base_mae


# ---------------------------------------------------------------------------
# analytics_mix
# ---------------------------------------------------------------------------

# Independent registry queries from the engine's bench board: short
# oracle-backed star-schema, events, sketch and window queries, one or
# two of each kind (each costs about 2 s of cold warm-up on top of its
# measured run). No forecast or eval-spine query.
ANALYTICS_QUERIES = (
    "shipping_priority",
    "pricing_summary",
    "sessionization",
    "token_topk_sketch",
    "user_streaks",
)

# The store step's screened batch: the four engineered classes and the
# verdict each must receive (class = pmod(doc_id, 4)).
STREAM_CLASSES = {3: "exact_dup", 2: "text_dup", 1: "semantic_dup", 0: "admitted"}
PER_CLASS = 8
# corpus documents probed after the append, besides the admitted ones
CORPUS_PROBES = 4


class AnalyticsMix:
    """The fixed query list in a seed-permuted order (one builder call
    plus one action that collects the small result), the EWMA baseline's
    MAE, then the LLM-data store step: screen a seeded four-class batch
    against the fp, MinHash and IVF-PQ stores, append the admitted rows
    to the fp store and the index, and serve a probe batch from the
    index (reads after writes). The stores are built once during set-up
    and every pass works on a fresh copy of them."""

    name = "analytics_mix"

    def __init__(self, seed: int, sf_dir: str):
        self.seed = seed
        self.order = list(ANALYTICS_QUERIES)
        random.Random(seed).shuffle(self.order)

    def instrument_targets(self):
        from sales_forecast_pyspark_spark.llmdata import ann_index, dedup_store, ingest

        return [
            (ingest, "screen_against_fp_store", "screen"),
            (dedup_store, "screen_against_minhash_store", "screen"),
            (ann_index, "screen_against_ivfpq_index", "screen"),
            (ingest, "append_to_fp_store", "append"),
            (ann_index, "append_to_ivfpq_index", "append"),
            (ann_index, "query_ivfpq_index", "serve"),
        ]

    def setup(self, ctx: Context, sf_dir: str, warm_dir: str) -> dict:
        """Write the store step's inputs from ``sf_dir``: the corpus
        (documents joined with embeddings, one row per distinct text),
        the screened batch and the probe ids; the engine only reads
        them. Then warm the queries on ``warm_dir`` and build the three
        stores from the corpus. The store step itself is not warmed: the
        builds run the same engine paths."""
        from sales_forecast_pyspark_spark.llmdata import ann_index, dedup_store, ingest

        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"])
        emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"])
        vec_of = dict(zip(emb.column("vec_id").to_pylist(), emb.column("embedding").to_pylist()))
        by_text = {}
        for doc_id, text in sorted(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist())):
            if doc_id in vec_of:
                by_text.setdefault(text, doc_id)
        text_of = {d: t for t, d in by_text.items()}
        ids = sorted(text_of)
        corpus = pa.table({
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": pa.array([text_of[d] for d in ids]),
            "embedding": pa.array([vec_of[d] for d in ids], type=pa.list_(pa.float32())),
        })

        rng = np.random.default_rng(self.seed)
        dim = len(vec_of[ids[0]])
        src = {cls: rng.choice(ids, size=PER_CLASS, replace=False) for cls in STREAM_CLASSES}

        def fresh_text(tag: str, i: int) -> str:
            # tokens unique to (class, source id): disjoint from the
            # corpus vocabulary
            return " ".join(f"{tag}{i}x{j}" for j in range(1, 41))

        def punctuated(text: str) -> str:
            # the same word shingles (tokens split on non-alphanumerics)
            # and so the same MinHash signature, but another fingerprint
            return ", ".join(text.split()) + "."

        rows = []
        for cls, sources in src.items():
            for d in sources.tolist():
                text = {3: text_of[d], 2: punctuated(text_of[d]), 1: fresh_text("g", d), 0: fresh_text("f", d)}[cls]
                vec = vec_of[d] if cls in (3, 1) else rng.standard_normal(dim).astype(np.float32).tolist()
                rows.append((-4 * d - (4 - cls), text, vec, d))
        rows = [rows[i] for i in rng.permutation(len(rows))]
        batch = pa.table({
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "embedding": pa.array([r[2] for r in rows], type=pa.list_(pa.float32())),
        })
        root = os.path.join(ctx.work_dir, "stores")
        os.makedirs(root, exist_ok=True)
        pq.write_table(corpus, os.path.join(root, "corpus.parquet"))
        pq.write_table(batch, os.path.join(root, "batch.parquet"))

        prep = {
            "root": root, "base": os.path.join(root, "base"),
            "source_of": {r[0]: r[3] for r in rows},
            "probe_ids": sorted(int(d) for d in rng.choice(ids, size=CORPUS_PROBES, replace=False)),
        }
        base = prep["base"]
        df = ctx.spark.read.parquet(os.path.join(root, "corpus.parquet"))
        builds = {
            "llmdata.ingest.build_s": (ingest.build_fp_store, df, os.path.join(base, "fp")),
            "llmdata.dedup_store.build_s": (dedup_store.build_minhash_store, df, os.path.join(base, "mh")),
            "llmdata.ann_index.build_s": (
                ann_index.build_ivfpq_index, df.select("doc_id", "embedding"),
                os.path.join(base, "idx"), "doc_id",
            ),
        }
        self._queries(ctx, warm_dir)
        for metric, (fn, *args) in builds.items():
            t0 = time.perf_counter()
            fn(*args)
            ctx.extra[metric] = time.perf_counter() - t0
        return prep

    def run_pass(self, ctx: Context, prep: dict, sf_dir: str, tag: str) -> dict:
        return {**self._queries(ctx, sf_dir), **self._store_step(ctx, prep, tag)}

    def _queries(self, ctx: Context, sf_dir: str) -> dict:
        from pyspark.sql import functions as F

        from sales_forecast_pyspark_spark.plans.queries import QUERIES

        spark, out = ctx.spark, {}
        for name in self.order:

            def query(name=name):
                with ctx.span(f"plans.queries.{name}", "build"):
                    df = QUERIES[name].builder(spark, sf_dir)
                with ctx.span("plans.exec", "exec"):
                    return _Rows(df)

            out[name] = ctx.op(name, query)

        def ewma_mae():
            with ctx.span("plans.queries.ewma_baseline", "build"):
                df = QUERIES["ewma_baseline"].builder(spark, sf_dir)
            with ctx.span("plans.exec", "exec"):
                return _Rows(df.agg(F.avg(F.abs(F.col("qty") - F.col("ewma_qty"))).alias("mae")))

        out["ewma_mae"] = ctx.op("ewma_mae", ewma_mae)
        return out

    def _store_step(self, ctx: Context, prep: dict, tag: str) -> dict:
        from pyspark.sql import functions as F

        from sales_forecast_pyspark_spark.llmdata import ann_index, dedup_store, ingest

        spark, root = ctx.spark, prep["root"]
        stores = os.path.join(root, tag)
        shutil.rmtree(stores, ignore_errors=True)
        shutil.copytree(prep["base"], stores)
        fp, mh, idx = (os.path.join(stores, s) for s in ("fp", "mh", "idx"))
        batch = spark.read.parquet(os.path.join(root, "batch.parquet"))

        def screen(layer, fn, *args, **kwargs):
            hits = fn(*args, **kwargs)
            with ctx.span(f"{layer}.screen.exec", "exec"):
                return _Rows(hits)

        hits = {
            "exact_dup": ctx.op("screen_fp", screen, "llmdata.ingest", ingest.screen_against_fp_store, batch, fp),
            "text_dup": ctx.op(
                "screen_minhash", screen, "llmdata.dedup_store",
                dedup_store.screen_against_minhash_store, batch, mh,
            ),
            "semantic_dup": ctx.op(
                "screen_ivfpq", screen, "llmdata.ann_index", ann_index.screen_against_ivfpq_index,
                spark, idx, batch, id_col="doc_id",
            ),
        }
        verdicts = {}
        for verdict, rows in hits.items():
            id_col = "vec_id" if verdict == "semantic_dup" else "doc_id"
            for r in rows.collect():
                verdicts.setdefault(r[id_col], verdict)
        admitted = [d for d in prep["source_of"] if d not in verdicts]
        fresh = batch.filter(F.col("doc_id").isin(admitted))
        appended = (
            ctx.op("append_fp", ingest.append_to_fp_store, fresh, fp, batch_id=0),
            ctx.op("append_ivfpq", ann_index.append_to_ivfpq_index,
                   fresh.select("doc_id", "embedding"), idx, id_col="doc_id", batch_id=0),
        )
        # probes: corpus documents, and each admitted vector under a new
        # id, whose nearest neighbour must then be the row just appended
        corpus = spark.read.parquet(os.path.join(root, "corpus.parquet"))
        probes = corpus.filter(F.col("doc_id").isin(prep["probe_ids"])).select("doc_id", "embedding").unionByName(
            fresh.select((F.col("doc_id") - F.lit(1 << 40)).alias("doc_id"), "embedding")
        )

        def serve():
            nn = ann_index.query_ivfpq_index(spark, idx, probes, id_col="doc_id", k=5)
            with ctx.span("llmdata.ann_index.serve.exec", "exec"):
                return _Rows(nn)

        return {"verdicts": verdicts, "appended": appended, "hits": ctx.op("serve_ivfpq", serve)}

    def check(self, ctx: Context, prep: dict, sf_dir: str, outs: list[dict]) -> None:
        from sales_forecast_pyspark_spark.plans.queries import QUERIES

        duck = _duck(sf_dir)
        out = outs[-1]
        for name in self.order:
            _oracle_check(ctx, name, out[name], QUERIES[name].oracle, duck)
        mae_sql = f"SELECT avg(abs(qty - ewma_qty)) AS mae FROM ({QUERIES['ewma_baseline'].oracle})"
        _oracle_check(ctx, "ewma_mae", out["ewma_mae"], mae_sql, duck)
        ctx.extra["forecast_mae"] = float(out["ewma_mae"].collect()[0]["mae"])
        self._check_store_step(ctx, prep, outs)

    def _check_store_step(self, ctx: Context, prep: dict, outs: list[dict]) -> None:
        want = {d: STREAM_CLASSES[d % 4] for d in prep["source_of"]}
        n_fresh = sum(v == "admitted" for v in want.values())
        for i, out in enumerate(outs):
            got = {d: out["verdicts"].get(d, "admitted") for d in want}
            wrong = sorted((d, got[d], want[d]) for d in want if got[d] != want[d])
            ctx.check(f"store.verdicts[{i}]", not wrong, f"(doc, got, want) {wrong[:5]}")
            ctx.check(f"store.appended[{i}]", out["appended"] == (n_fresh, n_fresh), str(out["appended"]))

        # serve: k neighbours per probe, never the probe itself, ranked
        # by a score that is the true cosine of the pair; every admitted
        # vector's copy finds the appended row first
        members = {}
        for name in ("corpus.parquet", "batch.parquet"):
            t = pq.read_table(os.path.join(prep["root"], name), columns=["doc_id", "embedding"])
            members.update(zip(t.column("doc_id").to_pylist(), t.column("embedding").to_pylist()))
        fresh = [d for d in prep["source_of"] if d % 4 == 0]
        members.update({d - (1 << 40): members[d] for d in fresh})
        unit = {d: np.asarray(v, dtype=np.float64) / np.linalg.norm(v) for d, v in members.items()}
        by_query = {}
        for r in outs[-1]["hits"].collect():
            by_query.setdefault(r["query_id"], []).append(r)
        want_queries = set(prep["probe_ids"]) | {d - (1 << 40) for d in fresh}
        ok = set(by_query) == want_queries
        if not ok:
            ctx.check("store.serve", False, f"probes answered {sorted(by_query)}, want {sorted(want_queries)}")
            return
        for q, rows in by_query.items():
            rows.sort(key=lambda r: r["rank"])
            cos = [float(unit[q] @ unit[r["neighbor_id"]]) for r in rows]
            ok &= len(rows) == 5 and all(r["neighbor_id"] != q for r in rows)
            ok &= all(abs(c - r["cos_sim"]) < 1e-4 for c, r in zip(cos, rows))
            ok &= all(a >= b - 1e-9 for a, b in zip(cos, cos[1:]))
            if q < -(1 << 39):
                ok &= rows[0]["neighbor_id"] == q + (1 << 40)
        ctx.check("store.serve", ok, f"{len(by_query)} of {len(want_queries)} probes answered")


WORKLOADS = {w.name: w for w in (ForecastPanel, AnalyticsMix)}
