"""The benchmark's workloads, driven only through the package's public
functions.

Each workload has these parts:

- ``generate(round_dir)``: write this run's inputs from the seed;
- ``prepare()``: untimed set-up after the inputs: the warm-up and, for
  ``detect``, the served model's fit;
- ``op(i)``: one closed-loop operation, the unit that is timed;
- ``check()``: output checks over the last operation, never timed;
- ``patch(tracer)``, ``layers(view)``, ``counts()``: the traced run's
  spans and per-layer figures.

``detect`` is the paper's own job followed by its deployment: the
reference ``main()`` over UNSW-NB15-shaped CSVs (``runner.run_pipeline``)
and then a catch-up replay that scores flow events with a fitted model
in every micro-batch.  ``corpus_mix`` is the engine's query surface: a
fixed set of oracle-checked registry queries in seeded order, then
near-duplicate groups over documents and an IVF index and top-k search
over embeddings.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.ml.classification import NaiveBayes
from pyspark.sql import functions as F

import gen
from stats import median
from spans import STREAM_PHASES, now_ms, state_size, stream_phases

from web_attack_detection_spark import runner
from web_attack_detection_spark.functions.feature import (
    FeaturePipelineModel,
    classify_columns,
    fit_feature_pipeline,
)
from web_attack_detection_spark.io import unsw
from web_attack_detection_spark.io.sources import TABLES, load_table
from web_attack_detection_spark.ml import pipeline as mlp_mod
from web_attack_detection_spark.operators import dedup, similarity
from web_attack_detection_spark.plans.flagship import derive_wide_events
from web_attack_detection_spark.streaming import windows

# ---------------------------------------------------------------------------
# detect: UNSW batch job + flow-stream scoring
# ---------------------------------------------------------------------------

_STREAM_FILES = 4
_HOURLY_ORACLE = """
SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n,
       ROUND(SUM(CAST(ROUND(value * 100) AS BIGINT)) / 100.0, 2) AS total_value
FROM events GROUP BY 1, 2
"""
_PREP_ORACLE = """
WITH unsw AS (
  SELECT attack_cat, CAST(regexp_extract(filename, 'UNSW-NB15_(\\d)', 1) AS INTEGER) AS f
  FROM read_csv({files}, header = false, columns = {columns}, filename = true)
),
train AS (SELECT attack_cat FROM unsw WHERE f <> 2),
test AS (SELECT attack_cat FROM unsw WHERE f = 2),
labels AS (
  SELECT attack_cat,
         ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, attack_cat ASC) - 1 AS lbl
  FROM train GROUP BY attack_cat
),
splits AS (
  SELECT 'train' AS split, attack_cat FROM train
  UNION ALL SELECT 'test', attack_cat FROM test
)
SELECT split, COUNT(*) AS n_rows, COUNT(DISTINCT lbl) AS n_classes,
       SUM(lbl) AS label_checksum
FROM splits JOIN labels USING (attack_cat) GROUP BY split
"""
_PREP_WIDTH = {"raw": 42, "processed": 20}


class Detect:
    models = ("nb",)
    events = 4000
    aliases = {"batch_job_s": "batch_s", "stream_batch_p50_ms": "step_p50_ms",
               "stream_events_per_s": "items_per_s"}

    def __init__(self, ctx):
        self.ctx = ctx
        self.last: dict = {}

    def sizes(self) -> dict[str, int]:
        return dict(customer=10, supplier=10, part=10, orders=10, lineitem=10,
                    events=self.events, users=150, documents=10, embeddings=10)

    # -- inputs -------------------------------------------------------------
    def generate(self, d: Path) -> dict:
        spark, seed = self.ctx.spark, self.ctx.seed
        rows = gen.make_tables(str(d / "sf"), seed, self.sizes())
        t0 = time.perf_counter()
        self.unsw_dir = str(d / "unsw")
        write_unsw(spark, str(d / "sf"), self.unsw_dir, seed)
        self.ctx.layer("io.unsw.fixture_s", time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.replay_dir = str(d / "replay")
        write_replay(str(d / "sf" / "events.parquet"), self.replay_dir, _STREAM_FILES)
        self.warm_dir = str(d / "replay_warm")
        os.makedirs(self.warm_dir)
        shutil.copy2(os.path.join(self.replay_dir, "part-0000.parquet"), self.warm_dir)
        self.ctx.layer("io.replay.write_s", time.perf_counter() - t0)
        self.sf = str(d / "sf")
        return {
            "events": rows["events"],
            "unsw_files": 4,
            "unsw_bytes": gen.dir_bytes(self.unsw_dir),
            "replay_files": _STREAM_FILES,
            "replay_bytes": gen.dir_bytes(self.replay_dir),
        }

    def _loader(self, s, _sf):
        train, test = unsw.load_unsw(s, self.unsw_dir)
        return train.drop("label"), test.drop("label")

    # -- set-up: warm-up and the served model ---------------------------------
    def prepare(self) -> None:
        """Fit the served model (its feature pipeline, PCA and naive Bayes
        fits warm those code paths for ``run_pipeline``) and warm the
        streams with a one-file replay.  A full untimed ``run_pipeline``
        would add ~25 s a run and, on a shared host, did not narrow the
        spread of ``batch_s``."""
        spark = self.ctx.spark
        orig = runner.battery_preps

        def keep_preps(*a, **k):
            # the prepared splits of the latest run_pipeline, for the check
            self.preps = orig(*a, **k)
            return self.preps

        self.ctx.tracer.swap(runner, "battery_preps", keep_preps)
        train, _ = self._loader(spark, None)
        _, self.nums = classify_columns(train, "attack_cat", reference_compat=True)
        t0 = time.perf_counter()
        wide = derive_wide_events(load_table(spark, self.sf, "events"))
        self.served_fp = fit_feature_pipeline(wide, label_col="event_type", pca_k=20)
        # the served classifier is fitted on the vector column that
        # ml.pipeline.predict builds (``__mlp_in``), so predict serves it
        tr = mlp_mod.to_vector(self.served_fp.transform(wide), "features", "__mlp_in")
        t1 = time.perf_counter()
        self.served = NaiveBayes(featuresCol="__mlp_in", labelCol="label", modelType="gaussian").fit(tr)
        self.ctx.layer("ml.fit_s.served", time.perf_counter() - t1)
        self._replay("warm", self.warm_dir)
        self.ctx.layer("session.warmup_s", time.perf_counter() - t0)

    def op(self, i: int) -> dict:
        tag = f"op{i}"
        t0 = time.perf_counter()
        summary, run_dir = self._pipeline(tag)
        batch_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        st = self._replay(tag, self.replay_dir)
        stream_s = time.perf_counter() - t0
        self.last = st | {"summary": summary, "run_dir": run_dir}
        batch_ms = [float(p["durationMs"]["triggerExecution"]) for p in st["progress"] if p.get("numInputRows")]
        return {"batch_s": batch_s, "steps_ms": batch_ms, "items": st["events"], "items_s": stream_s}

    def _pipeline(self, tag: str):
        """The reference main(): summary rows and the artifact directory."""
        out_dir = self.ctx.work / "plots" / tag
        with self.ctx.tracer.span("runner.run_pipeline"):
            summary = runner.run_pipeline(
                self.ctx.spark, self.sf, out_dir=str(out_dir), models=self.models, pca_k=20,
                loader=self._loader, label_col="attack_cat",
                numeric_raw=self.nums, reference_compat=True,
            ).collect()
        return summary, next(out_dir.glob("run_*"), None)

    def _replay(self, tag: str, replay_dir: str) -> dict:
        """Catch-up replay: scoring stream beside the windowed-count stream."""
        spark = self.ctx.spark
        counts: dict[float, int] = {}
        sink_ms: list[float] = []
        fp, model = self.served_fp, self.served

        def transform(batch_df):
            return mlp_mod.predict(model, fp.transform(derive_wide_events(batch_df)), "features")

        def sink(df, _epoch):
            t = now_ms()
            for r in df.groupBy("prediction").count().collect():
                counts[r["prediction"]] = counts.get(r["prediction"], 0) + r["count"]
            sink_ms.append(now_ms() - t)

        def source():
            return windows.stream_events_from_dir(spark, replay_dir, max_files_per_trigger=1)

        ck = self.ctx.work / "ckpt" / tag
        win_name = f"win_{tag}"
        with self.ctx.tracer.span("streaming.replay"):
            scoring = windows.score_stream(source(), transform, sink, str(ck / "score"))
            win = (
                windows.windowed_event_counts(source())
                .writeStream.outputMode("complete").format("memory").queryName(win_name)
                .option("checkpointLocation", str(ck / "win"))
                .trigger(availableNow=True).start()
            )
            scoring.awaitTermination()
            win.awaitTermination()
        progress = list(scoring.recentProgress)
        return {
            "counts": counts, "events": sum(int(p["numInputRows"]) for p in progress),
            "win_name": win_name, "progress": progress,
            "win_progress": list(win.recentProgress), "sink_ms": sink_ms,
        }

    def cleanup(self) -> None:
        shutil.rmtree(self.ctx.work / "ckpt", ignore_errors=True)

    # -- checks ------------------------------------------------------------------
    def check(self) -> list[tuple[str, bool, str]]:
        spark, last = self.ctx.spark, self.last
        out = []
        rows = last["summary"]
        pairs = sorted((r["model"], r["prep"]) for r in rows)
        want = sorted((m, p) for m in self.models for p in ("raw", "processed"))
        accs = [r["accuracy"] for r in rows]
        out.append(("unsw_batch.summary", pairs == want and all(0.0 <= a <= 1.0 for a in accs),
                    f"{len(rows)} rows, accuracy {min(accs):.4f}..{max(accs):.4f}, fit s "
                    + " ".join(f"{r['model']}/{r['prep']}={r['train_seconds']}" for r in rows)))
        run_dir = last["run_dir"]
        arts = sorted(p.name for p in run_dir.iterdir()) if run_dir else []
        ok = bool(run_dir) and "summary.csv" in arts and sum(a.endswith(".svg") for a in arts) >= 3
        out.append(("unsw_batch.artifacts", ok, ",".join(arts)))
        out.append(self._check_preps())
        # streamed predictions == one batch predict over the same events
        ev = load_table(spark, self.sf, "events")
        batch = mlp_mod.predict(self.served, self.served_fp.transform(derive_wide_events(ev)), "features")
        want_counts = {r["prediction"]: r["count"] for r in batch.groupBy("prediction").count().collect()}
        n_events = ev.count()
        out.append(("flow_stream.predictions", last["counts"] == want_counts,
                    f"{len(want_counts)} classes"))
        out.append(("flow_stream.rows", last["events"] == n_events and sum(last["counts"].values()) == n_events,
                    f"replayed {last['events']} of {n_events}, scored {sum(last['counts'].values())}"))
        got = spark.table(last["win_name"]).toPandas()
        con = duckdb_views(self.sf)
        exp = con.execute(_HOURLY_ORACLE).fetchdf()
        con.close()
        key = ["window_start", "event_type"]
        a = got.sort_values(key).reset_index(drop=True)[key + ["n", "total_value"]]
        b = exp.sort_values(key).reset_index(drop=True)[key + ["n", "total_value"]]
        ok = len(a) == len(b) and a.astype(str).equals(b.astype(str))
        out.append(("flow_stream.windowed_counts", ok, f"{len(a)} windows"))
        return out

    def _check_preps(self) -> tuple[str, bool, str]:
        _, preps = self.preps
        got = {}
        for prep, (tr, te) in preps.items():
            for split, df in (("train", tr), ("test", te)):
                r = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.max(F.size("features")).alias("w"),
                    F.count_distinct("label").alias("c"),
                    F.sum(F.col("label").cast("long")).alias("s"),
                ).first()
                got[(prep, split)] = (r["n"], r["w"], r["c"], r["s"])
        files = [os.path.join(self.unsw_dir, f"UNSW-NB15_{n}.csv") for n in range(1, 5)]
        cols = "{" + ", ".join(
            f"'{f.name}': '{'VARCHAR' if f.dataType.typeName() == 'string' else 'DOUBLE' if f.dataType.typeName() == 'double' else 'INTEGER'}'"
            for f in unsw.unsw_schema().fields
        ) + "}"
        con = duckdb.connect()
        exp = {
            r[0]: r[1:]
            for r in con.execute(_PREP_ORACLE.format(files=files, columns=cols)).fetchall()
        }
        con.close()
        want = {
            (prep, split): (exp[split][0], _PREP_WIDTH[prep], exp[split][1], exp[split][2])
            for prep in ("raw", "processed") for split in ("train", "test")
        }
        return ("unsw_batch.prepared_splits", got == want, f"{sorted(got.items())}")

    # -- per-layer figures from one traced op ------------------------------------
    def layers(self, t) -> dict[str, float]:
        last = self.last
        out = {
            "feature.fit_s": t.total_s("runner.fit_feature_pipeline"),
            "feature.fit_jobs": t.jobs_in("runner.fit_feature_pipeline"),
            "ml.eval_s": t.total_s("ml.eval"),
            "runner.prep_s": t.self_s("runner.run_pipeline") + t.self_s("runner.battery_preps"),
            "viz.artifacts_s": sum(t.total_s(f"viz.{v}") for v in
                                   ("plot_history", "plot_model_comparison", "plot_training_times", "plot_confusion")),
        }
        out["ml.fit_s.nb"] = t.total_s("runner._fit_named.nb")
        tb = t.under("streaming.replay", "FeaturePipelineModel.transform")
        out["feature.transform_build_ms"] = median(tb)
        out["feature.transform_calls"] = len(tb)
        out["ml.predict_build_ms"] = median(t.under("streaming.replay", "ml.predict"))
        ph = stream_phases(last["progress"])
        for p in STREAM_PHASES:
            out[f"streaming.{p}_ms"] = median(ph[p])
        out["streaming.sink_ms"] = median(last["sink_ms"])
        out["streaming.batches"] = len(ph["rows"])
        out["streaming.rows_per_batch"] = median(ph["rows"])
        out["streaming.state_rows"], out["streaming.state_bytes"] = state_size(last["win_progress"])
        return out

    def counts(self) -> dict[str, float]:
        return {}

    def patch(self, tracer) -> None:
        tracer.patch(runner, "fit_feature_pipeline", "runner.fit_feature_pipeline")
        tracer.patch(runner, "battery_preps", "runner.battery_preps")
        for v in ("plot_history", "plot_model_comparison", "plot_training_times", "plot_confusion"):
            tracer.patch(runner, v, f"viz.{v}")
        tracer.patch(FeaturePipelineModel, "transform", "FeaturePipelineModel.transform")
        tracer.patch(mlp_mod, "predict", "ml.predict")
        orig_fit, orig_acc = runner._fit_named, runner.accuracy

        def fit_named(name, *a, **k):
            with tracer.span(f"runner._fit_named.{name}"):
                return orig_fit(name, *a, **k)

        def acc(*a, **k):
            return _EvalProxy(orig_acc(*a, **k), tracer)

        tracer.swap(runner, "_fit_named", fit_named)
        tracer.swap(runner, "accuracy", acc)


class _EvalProxy:
    """The accuracy DataFrame, with its action (``first``) in a span:
    evaluation is lazy until run_pipeline collects the figure."""

    def __init__(self, df, tracer):
        self._df, self._tr = df, tracer

    def first(self):
        with self._tr.span("ml.eval"):
            return self._df.first()

    def __getattr__(self, a):
        return getattr(self._df, a)


def write_unsw(spark, sf_dir: str, out_dir: str, seed: int) -> None:
    """The four headerless UNSW-NB15 CSVs, derived by
    ``io.unsw.synthesize_unsw`` and written with each file's rows in a
    seeded order (empty field = NULL, doubles in shortest round-trip
    form, as Spark's own CSV writer emits them)."""
    pdf = unsw.synthesize_unsw(spark, sf_dir).toPandas()
    rng = np.random.default_rng(seed + 31)
    cols = [c for c in pdf.columns if c != "__file"]
    ints = {f.name for f in unsw.unsw_schema().fields if f.dataType.typeName() == "integer"}
    os.makedirs(out_dir, exist_ok=True)
    for n in range(1, 5):
        part = pdf[pdf["__file"] == n - 1]
        part = part.iloc[rng.permutation(len(part))]
        with open(os.path.join(out_dir, f"UNSW-NB15_{n}.csv"), "w") as f:
            for row in part[cols].itertuples(index=False, name=None):
                f.write(",".join(_csv_field(v, c in ints) for v, c in zip(row, cols)) + "\n")


def _csv_field(v, integer: bool) -> str:
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return ""
    if integer:
        return str(int(v))
    return repr(float(v)) if isinstance(v, (float, np.floating)) else str(v)


def write_replay(events_path: str, out_dir: str, n_files: int) -> None:
    """Time-ranged replay files: equal slices of the events in event-time
    order, with names and modification times increasing together, so a
    file source reading one file per trigger keeps event time monotone
    across batches and the watermark never drops a row."""
    t = pq.read_table(events_path).sort_by("ts")
    t = t.set_column(
        t.schema.get_field_index("ts"), "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC"))
    )
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, t.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:04d}.parquet")
        pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]), p)
        os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))


# ---------------------------------------------------------------------------
# corpus_mix: registry query set + corpus dedup and search
# ---------------------------------------------------------------------------

_FAMILIES = (("q", r"q\d+_"), ("rel", r"rel_"), ("f", r"f\d+_"), ("text", r"text_"))

# The query set is fixed and only its order is seeded.  A per-seed random
# draw of eight out of the 166 oracle-checked short-family queries would
# change the mix's composition, and with it the median and throughput by
# more than any bound the benchmark can hold, between seeds.  The set
# takes two queries per family from the 0.25-0.7 s band of warm query
# times on this input shape (the short-family floor); with one per family
# the median of four latencies spread twice as wide between seeds.
MIX = (
    "q1_pricing_summary", "q6_forecast_revenue",
    "rel_asof_join", "rel_groupby_agg",
    "f1_string_indexer", "f5_standard_scale",
    "text_lang_id", "text_token_count",
)


def family(name: str) -> str | None:
    for fam, pat in _FAMILIES:
        if re.match(pat, name):
            return fam
    return None


class CorpusMix:
    documents, embeddings, query_vectors = 500, 1000, 32
    cell_threshold = 0.95  # within-cell near-duplicate cosine
    aliases = {"corpus_job_s": "batch_s", "mix_query_p50_ms": "step_p50_ms",
               "mix_queries_per_s": "items_per_s"}

    def __init__(self, ctx):
        self.ctx = ctx
        self.last: dict = {}
        self.rows: dict = {}  # query name -> rows collected in the warm-up
        from web_attack_detection_spark.plans.all_plans import _Q

        self.queries = _Q

    def sizes(self) -> dict[str, int]:
        return dict(customer=1500, supplier=100, part=2000, orders=15000, lineitem=60000,
                    events=10000, users=150, documents=self.documents, embeddings=self.embeddings)

    def generate(self, d: Path) -> dict:
        seed = self.ctx.seed
        self.sf = str(d / "sf")
        rows = gen.make_tables(self.sf, seed, self.sizes())
        self.order = gen.seeded_order(MIX, seed)
        self.qvecs = gen.corpus_queries(seed, self.query_vectors)
        return {"tables_rows": sum(rows.values()), "tables_bytes": gen.dir_bytes(self.sf),
                "queries": len(self.order), "query_vectors": len(self.qvecs)}

    def prepare(self) -> None:
        """The query vectors, then one untimed operation that warms the
        code paths and keeps each query's rows for the oracle check."""
        self.qdf = self.ctx.spark.createDataFrame(
            [(1_000_000 + i, v) for i, v in enumerate(self.qvecs)],
            "vec_id long, embedding array<float>",
        ).localCheckpoint()
        t0 = time.perf_counter()
        self.op(-1)
        self.ctx.layer("session.warmup_s", time.perf_counter() - t0)

    def op(self, i: int) -> dict:
        spark, tr = self.ctx.spark, self.ctx.tracer
        q_ms, n_rows = [], {}
        t_mix = time.perf_counter()
        for name in self.order:
            fn = self.queries[name].fn
            t0 = time.perf_counter()
            with tr.span(f"plans.{family(name)}", query=name):
                with tr.span("plans.build"):
                    df = fn(spark, self.sf)
                with tr.span("plans.action"):
                    if i < 0:
                        self.rows[name] = df.toPandas()
                        n_rows[name] = len(self.rows[name])
                    else:
                        n_rows[name] = df.count()
            q_ms.append((time.perf_counter() - t0) * 1000.0)
        mix_s = time.perf_counter() - t_mix

        t0 = time.perf_counter()
        res = self._corpus(load_table(spark, self.sf, "documents"), load_table(spark, self.sf, "embeddings"))
        corpus_s = time.perf_counter() - t0
        self.last = res | {"n_rows": n_rows}
        return {"batch_s": corpus_s, "steps_ms": q_ms, "items": len(self.order), "items_s": mix_s}

    def _corpus(self, docs, emb) -> dict:
        tr = self.ctx.tracer
        with tr.span("dedup.pairs"):
            pairs = dedup.minhash_near_dup_pairs(
                docs, "text", "doc_id", n=3, num_perm=32, bands=8, threshold=0.4
            )
        with tr.span("dedup.components"):
            groups = dedup.near_dup_groups(pairs).collect()
        with tr.span("similarity.index"):
            cents, assigned = similarity.ivf_assign(emb, k_centroids=16)
            assigned = assigned.localCheckpoint()
            cents = cents.localCheckpoint()
        with tr.span("similarity.cell_pairs"):
            cell_pairs = similarity.cell_dup_pairs(
                assigned, threshold=self.cell_threshold, vec_col="embedding"
            ).collect()
        with tr.span("similarity.search"):
            topk = similarity.ivf_topk_from_index(cents, assigned, self.qdf, k=5, n_probe=4).collect()
        return {"pairs": pairs, "groups": groups, "assigned": assigned, "cents": cents,
                "cell_pairs": cell_pairs, "topk": topk}

    def cleanup(self) -> None:
        pass

    def check(self) -> list[tuple[str, bool, str]]:
        from tests.oracle_harness import compare

        spark, last = self.ctx.spark, self.last
        out = []
        con = duckdb_views(self.sf)
        for name in self.order:
            # the warm-up's rows go through the oracle harness; the timed
            # operation's count must equal the oracle's row count
            spec = self.queries[name]
            try:
                compare(spark, self.sf, lambda *_, pdf=self.rows[name]: _Collected(pdf), spec.oracle)
                n = len(self.rows[name])
                if last["n_rows"][name] != n:
                    raise AssertionError(f"timed count {last['n_rows'][name]} != {n}")
                out.append((f"query_mix.{name}", True, f"matches oracle, {n} rows"))
            except AssertionError as e:
                out.append((f"query_mix.{name}", False, str(e).splitlines()[0][:160]))
        # near-dup groups: oracle pair graph -> components, both sides
        opairs = con.execute(self.queries["dedup_minhash_lsh"].oracle).fetchall()
        con.close()
        want = components([(a, b) for a, b, *_ in opairs])
        got = sorted((r["component"], r["n_members"]) for r in last["groups"])
        spairs = sorted((r["id_a"], r["id_b"]) for r in last["pairs"].collect())
        out.append(("corpus_dedup.pairs", spairs == sorted((a, b) for a, b, *_ in opairs),
                    f"{len(spairs)} verified pairs"))
        out.append(("corpus_dedup.groups", got == want, f"{len(got)} groups"))
        # within-cell near-duplicate vectors == numpy all-pairs per cell
        arows = last["assigned"].collect()
        ids = np.array([r["vec_id"] for r in arows])
        cells = np.array([r["cell"] for r in arows])
        vec = np.array([r["embedding"] for r in arows], dtype="float64")
        thr = self.cell_threshold
        want_cp = set()
        for c in np.unique(cells):
            m = cells == c
            s = vec[m] @ vec[m].T
            ii, jj = np.nonzero(np.triu(s >= thr - 1e-9, 1))
            want_cp |= {tuple(sorted((int(ids[m][a]), int(ids[m][b])))) for a, b in zip(ii, jj)}
        got_cp = {(int(r["src"]), int(r["dst"])) for r in last["cell_pairs"]}
        out.append(("corpus_dedup.cell_pairs", got_cp == want_cp, f"{len(got_cp)} pairs"))
        rec = self.recall()
        out.append(("corpus_dedup.recall_at_k", rec >= 0.5, f"recall@5 {rec:.3f} (bound 0.5)"))
        return out

    def recall(self) -> float:
        if "recall" not in self.last:
            spark = self.ctx.spark
            emb = load_table(spark, self.sf, "embeddings")
            exact = {(r["query_id"], r["neighbor_id"]) for r in
                     similarity.brute_force_topk(emb, self.qdf, k=5).collect()}
            approx = {(r["query_id"], r["neighbor_id"]) for r in self.last["topk"]}
            self.last["recall"] = len(exact & approx) / max(len(exact), 1)
        return self.last["recall"]

    def layers(self, t) -> dict[str, float]:
        out = {}
        for fam, _ in _FAMILIES:
            out[f"plans.{fam}.build_ms"] = median(t.under(f"plans.{fam}", "plans.build"))
            out[f"plans.{fam}.action_ms"] = median(t.under(f"plans.{fam}", "plans.action"))
        qs = [sp for sp in t.spans if sp["name"].startswith("plans.") and "query" in sp]
        out["plans.jobs_per_query"] = median(t.jobs_in_span(sp) for sp in qs)
        out["plans.driver_gap_ms"] = median(t.gap_ms(sp) for sp in qs)
        out["dedup.pairs_s"] = t.total_s("dedup.pairs")
        out["dedup.components_s"] = t.total_s("dedup.components")
        out["similarity.index_s"] = t.total_s("similarity.index")
        out["similarity.cell_pairs_s"] = t.total_s("similarity.cell_pairs")
        out["similarity.search_s"] = t.total_s("similarity.search")
        return out

    def counts(self) -> dict[str, float]:
        """Work-size figures of the last op, computed outside timing."""
        spark, last = self.ctx.spark, self.last
        docs = load_table(spark, self.sf, "documents")
        sig = dedup.minhash_signatures(docs, "text", "doc_id", 3, 32)
        cand = dedup.minhash_candidate_pairs(sig, 8, 4).count()
        verified = last["pairs"].count()
        sizes = {r["cell"]: r["count"] for r in last["assigned"].groupBy("cell").count().collect()}
        cents = {r["cell"]: np.array(r["c_vec"]) for r in last["cents"].collect()}
        scored = 0
        for v in self.qvecs:
            near = sorted(cents, key=lambda c: (-float(np.dot(v, cents[c])), c))[:4]
            scored += sum(sizes.get(c, 0) for c in near)
        return {
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": verified,
            "dedup.pair_yield": verified / cand if cand else 0.0,
            "similarity.candidates_scored": scored,
            "similarity.max_cell_rows": max(sizes.values()),
            "similarity.recall_at_k": self.recall(),
            "similarity.cell_pairs": len(last["cell_pairs"]),
            "dedup.groups": len(last["groups"]),
        }

    def patch(self, tracer) -> None:
        pass


class _Collected:
    """Rows already collected, handed to the oracle harness as a result."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def duckdb_views(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def components(pairs) -> list[tuple[int, int]]:
    """(min member id, size) per connected component of a pair graph."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes: dict[int, int] = {}
    for x in list(parent):
        r = find(x)
        sizes[r] = sizes.get(r, 0) + 1
    return sorted(sizes.items())


WORKLOADS = {"detect": Detect, "corpus_mix": CorpusMix}
