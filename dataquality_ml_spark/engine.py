"""The reference's daily job as a handful of composable calls.

Reference workflow → engine call:

- load the daily snapshot (app/AE_model.py:25-43)   → ``DQEngine.load``
- profile column health (lib/utils.py:187-203)      → ``profile`` +
  ``prune_columns``
- fit features and a detector on the normal rows,
  threshold = P-q of the train errors
  (app/AE_model.py:111-246, LSTM_VAE.py:633-635)    → ``fit_detector`` /
  ``fit_sequence_detector``
- score a table, flag anomalies, evaluate, report
  (app/test_AE.py:109-307)                          → ``score`` /
  ``score_sequences`` + ``evaluate`` + ``auc`` + ``report``

Each step is written once: both fits go through ``DQEngine._fit``, every
scoring call through ``DQEngine._flagged``, and both artifact classes
through one model codec (``_CODEC``). Every other operator is called
from its own module. All returns are DataFrames or small artifact
objects; nothing row-sized is collected.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataquality_ml_spark.ml import detectors as det
from dataquality_ml_spark.ml import features as feat
from dataquality_ml_spark.ml import keras_adapter as ka
from dataquality_ml_spark.operators import evaluate as ev
from dataquality_ml_spark.operators import profile as prof
from dataquality_ml_spark.operators import relational as rel
from dataquality_ml_spark.operators import thresholds as th
from dataquality_ml_spark.sources import readers

# model_kind → (class, model → blob, blob → model); the blob is the
# artifact JSON's "model" string
_CODEC = {
    "pca": (det.PCAAutoencoder, det.PCAAutoencoder.to_json, det.PCAAutoencoder.from_json),
    "iforest": (
        det.IsolationForest,
        lambda m: json.dumps(m.to_state()),
        lambda s: det.IsolationForest.from_state(json.loads(s)),
    ),
    "keras_dense": (ka.KerasDenseAE, ka.KerasDenseAE.to_json, ka.KerasDenseAE.from_json),
    "keras_lstm": (ka.KerasLSTMAE, ka.KerasLSTMAE.to_json, ka.KerasLSTMAE.from_json),
    "keras_lstm_vae": (ka.KerasLSTMVAE, ka.KerasLSTMVAE.to_json, ka.KerasLSTMVAE.from_json),
}
_DETECTOR_KINDS = tuple(_CODEC)
_SEQUENCE_KINDS = ("pca", "keras_lstm", "keras_lstm_vae")


def _save_artifact(
    path: str, spec: dict, model, threshold: float, threshold_q: float, kinds
) -> None:
    """Write ``spec`` + the encoded model + the threshold as one JSON
    document; ``kinds`` are the model kinds the artifact may hold."""
    kind = next((k for k in kinds if isinstance(model, _CODEC[k][0])), None)
    if kind is None:
        raise TypeError(f"unsupported model: {type(model)}")
    with open(path, "w") as f:
        json.dump(
            {
                **spec,
                "model_kind": kind,
                "model": _CODEC[kind][1](model),
                "threshold": threshold,
                "threshold_q": threshold_q,
            },
            f,
        )


def _load_artifact(path: str, kinds) -> tuple[dict, object]:
    """The artifact document and its decoded model; a ``model_kind``
    outside ``kinds`` raises ``ValueError`` naming it."""
    with open(path) as f:
        d = json.load(f)
    kind = d.get("model_kind")
    if kind not in kinds:
        raise ValueError(
            f"{path}: model_kind {kind!r} is not one of {', '.join(kinds)}"
        )
    return d, _CODEC[kind][2](d["model"])


@dataclass
class FittedDetector:
    """Model + frozen threshold — the engine's artifact pair (the reference
    keeps these as a .keras file and a loose threshold .txt; here one JSON
    document holds features + weights + threshold so they can never drift
    apart)."""

    features: feat.FeatureModel
    model: object
    threshold: float
    threshold_q: float

    def save(self, path: str) -> None:
        _save_artifact(
            path, {"features": self.features.to_json()}, self.model,
            self.threshold, self.threshold_q, _DETECTOR_KINDS,
        )

    @classmethod
    def load(cls, path: str) -> "FittedDetector":
        d, model = _load_artifact(path, _DETECTOR_KINDS)
        return cls(
            features=feat.FeatureModel.from_json(d["features"]),
            model=model,
            threshold=d["threshold"],
            threshold_q=d["threshold_q"],
        )


@dataclass
class FittedSequenceDetector:
    """Windowing spec + model + frozen threshold for the sequence-detector
    lifecycle (the reference's LSTM_AE.py / LSTM_VAE.py apps, M8/M9/M14):
    unlike the reference, which keeps the window length implicit in the
    script and the threshold in a loose .txt, the artifact carries the
    full window definition so scoring can NEVER silently window
    differently than the fit did."""

    key: str
    order: str
    features: list[str]
    timesteps: int
    tiebreak: str | None
    model: object
    threshold: float
    threshold_q: float

    _SPEC = ("key", "order", "features", "timesteps", "tiebreak")

    def save(self, path: str) -> None:
        _save_artifact(
            path, {k: getattr(self, k) for k in self._SPEC}, self.model,
            self.threshold, self.threshold_q, _SEQUENCE_KINDS,
        )

    @classmethod
    def load(cls, path: str) -> "FittedSequenceDetector":
        d, model = _load_artifact(path, _SEQUENCE_KINDS)
        return cls(
            **{k: d[k] for k in cls._SPEC},
            model=model,
            threshold=d["threshold"],
            threshold_q=d["threshold_q"],
        )


def _normal(df: DataFrame, label: str) -> DataFrame:
    """The rows a detector is fitted on: ``label == 0`` when ``df`` has
    the label column, else all of them (reference app/AE_model.py:42-48)."""
    if label in df.columns:
        return df.where(F.col(prof._ident(label)) == F.lit(0))
    return df


class DQEngine:
    def __init__(self, spark: SparkSession | None = None):
        from dataquality_ml_spark.session import get_spark

        self.spark = spark or get_spark()

    # -- ingestion ---------------------------------------------------------
    def load(self, path: str, fmt: str = "parquet", **kw) -> DataFrame:
        if fmt == "parquet":
            return readers.read_parquet(self.spark, path)
        if fmt == "csv":
            return readers.read_csv(self.spark, path, **kw)
        return readers.read_table(self.spark, path)

    # -- profiling ---------------------------------------------------------
    def profile(self, df: DataFrame, columns: list[str] | None = None) -> DataFrame:
        return prof.profile(df, columns)

    def prune_columns(self, df: DataFrame, columns: list[str] | None = None) -> list[str]:
        return prof.prune_low_quality(df, columns)

    # -- fit and score cores -----------------------------------------------
    @staticmethod
    def _fit(rows: DataFrame, build, sample_rows: int, threshold_q: float):
        """Fit ``build(sample)`` on the ``features`` rows and freeze the
        threshold at the exact P-``threshold_q`` of their scores, the
        reference's ``np.percentile(train errors, 95)``: linear
        interpolation lo·(1−f) + hi·f, bit-equal to Spark ``percentile``
        and DuckDB ``quantile_cont`` and within 1 ulp of ``np.percentile``.
        Returns ``(model, threshold)``.

        ``rows`` become a lazy local checkpoint: the sample collect
        materializes them, and the threshold's scoring pass reads those
        rows instead of re-running the scan and the projection. It holds
        no CacheManager entry, so a fit that raises leaves nothing behind.
        The selection checkpoints the scores itself, so the scoring UDF
        runs once per row."""
        rows = rows.localCheckpoint(eager=False)
        model = build(det.collect_feature_sample(rows, max_rows=sample_rows))
        scored = det.score_distributed(rows, model)
        t = th.percentile_threshold(scored, "score", threshold_q, exact=True)
        return model, float(t)

    @staticmethod
    def _flagged(rows: DataFrame, fitted, then=None) -> DataFrame:
        """Score the ``features`` rows with the artifact's model and flag
        them against its frozen threshold; ``then`` reshapes the scored
        relation before the flag."""
        scored = det.score_distributed(rows, fitted.model)
        if then is not None:
            scored = then(scored)
        return th.flag_anomalies(scored, "score", fitted.threshold)

    # -- feature pipeline + detector --------------------------------------
    def fit_detector(
        self,
        train_df: DataFrame,
        label: str = "failure",
        roles: dict | None = None,
        detector: str = "pca",
        n_components: int = 4,
        threshold_q: float = 0.95,
        sample_rows: int = 100_000,
    ) -> FittedDetector:
        """Fit features and a detector on the normal slice, derive the
        threshold from TRAIN errors (reference app/AE_model.py:42-48,
        :197) — one artifact out. ``detector``: "pca", "iforest" or "ae"
        (a keras dense AE when importable, the PCA stand-in otherwise —
        ml.keras_adapter)."""
        fitters = {
            "pca": lambda x: det.PCAAutoencoder.fit(x, n_components=n_components),
            "iforest": lambda x: det.IsolationForest(
                n_estimators=100, max_samples=256, seed=42
            ).fit(x),
            "ae": lambda x: ka.build_autoencoder(x, n_components=n_components, backend="auto"),
        }
        if detector not in fitters:
            raise ValueError(f"unknown detector: {detector}")
        normal = _normal(train_df, label)
        fm = feat.fit_features(normal, roles=roles, label_col=label)
        model, t = self._fit(
            feat.apply_features(normal, fm), fitters[detector], sample_rows, threshold_q
        )
        return FittedDetector(fm, model, t, threshold_q)

    def score(self, df: DataFrame, fitted: FittedDetector) -> DataFrame:
        """Transform with the SAME artifact (no refit drift), score
        distributed, flag against the frozen threshold.

        The flagged relation is a lazy local checkpoint: its first consumer
        materializes it, and every later one (evaluate, auc, report, a
        sink) reads those rows instead of re-running the scan, the feature
        projection and the scoring UDF. Under AQE the call itself runs the
        scoring input's repartition stage, if it has one."""
        return self._flagged(feat.apply_features(df, fitted.features), fitted).localCheckpoint(
            eager=False
        )

    def explain(self, df: DataFrame, fitted: FittedDetector, top_k: int = 3) -> DataFrame:
        """Score + attribute: flagged rows carry the top_k features driving
        the reconstruction error (AE family only — IF has no per-feature
        decomposition). Same transform artifact as ``score``, one extra
        Arrow-batched pass."""
        return self._flagged(
            feat.apply_features(df, fitted.features),
            fitted,
            lambda s: det.explain_distributed(
                s, fitted.model, fitted.features.feature_names, top_k
            ),
        )

    # -- sequence detectors (reference LSTM_AE.py / LSTM_VAE.py lifecycle) -
    def _windowed(
        self, df: DataFrame, key: str, order: str, features: list[str],
        timesteps: int, tiebreak: str | None,
    ) -> DataFrame:
        """Per-key ordered windows flattened to (n, T·f) rows — row-major
        (timestep-contiguous), the layout every sequence scorer expects
        (KerasLSTMAE/VAE reshape to (n, T, f) internally)."""
        from dataquality_ml_spark.operators import sequences as seq_ops

        seqs = seq_ops.sequences(
            df, key, order, features if len(features) > 1 else features[0],
            n=timesteps, out="__seq", tiebreak=tiebreak,
        )
        if len(features) > 1:
            flat = F.flatten(
                F.transform(
                    "__seq", lambda s: F.array(*[s.getField(c) for c in features])
                )
            )
        else:
            flat = F.col("__seq")
        keep = [key, order] + ([tiebreak] if tiebreak else [])
        return seqs.select(*keep, flat.cast("array<double>").alias("features"))

    def fit_sequence_detector(
        self,
        train_df: DataFrame,
        key: str,
        order: str,
        features: list[str] | str,
        timesteps: int = 20,
        label: str = "failure",
        detector: str = "pca",
        n_components: int = 4,
        threshold_q: float = 0.95,
        sample_rows: int = 30_000,
        tiebreak: str | None = None,
    ) -> FittedSequenceDetector:
        """The reference's sequence-model lifecycle as one call: per-key
        ordered windows over the normal slice (W1 — the documented fix of
        the reference's unkeyed driver-side create_sequences), detector
        fit on a bounded window sample, threshold = P-``threshold_q`` of
        TRAIN reconstruction errors (LSTM_VAE.py:633-635). ``detector``:
        "pca" (the closed-form stand-in), "lstm_ae" / "lstm_vae" (real
        keras when importable, PCA fallback otherwise — ml.keras_adapter).
        """
        feats = [features] if isinstance(features, str) else list(features)

        def lstm(x, variational: bool):
            return ka.build_sequence_autoencoder(
                x.reshape(len(x), timesteps, len(feats)),
                n_components=n_components,
                backend="auto",
                variational=variational,
            )

        fitters = {
            "pca": lambda x: det.PCAAutoencoder.fit(x, n_components=n_components),
            "lstm_ae": lambda x: lstm(x, False),
            "lstm_vae": lambda x: lstm(x, True),
        }
        if detector not in fitters:
            raise ValueError(f"unknown sequence detector: {detector}")
        seqs = self._windowed(_normal(train_df, label), key, order, feats, timesteps, tiebreak)
        model, t = self._fit(seqs, fitters[detector], sample_rows, threshold_q)
        return FittedSequenceDetector(
            key=key,
            order=order,
            features=feats,
            timesteps=timesteps,
            tiebreak=tiebreak,
            model=model,
            threshold=t,
            threshold_q=threshold_q,
        )

    def score_sequences(
        self, df: DataFrame, fitted: FittedSequenceDetector
    ) -> DataFrame:
        """Window with the ARTIFACT's spec (never the caller's — no silent
        drift), score distributed, flag against the frozen threshold.
        Output keeps (key, order[, tiebreak]) so scores join back by key,
        not position (the W2 fix of the reference's positional padding)."""
        seqs = self._windowed(
            df, fitted.key, fitted.order, fitted.features,
            fitted.timesteps, fitted.tiebreak,
        )
        return self._flagged(seqs, fitted, lambda s: s.drop("features"))

    # -- evaluation --------------------------------------------------------
    def evaluate(self, scored_df: DataFrame, label: str = "failure") -> DataFrame:
        flagged = scored_df.withColumn("actual_failure", F.col(prof._ident(label)) == 1)
        return ev.confusion_metrics(flagged)

    def auc(self, scored_df: DataFrame, label: str = "failure") -> DataFrame:
        return ev.roc_auc(
            scored_df.withColumn("__y", F.col(prof._ident(label)) == 1), "score", "__y"
        )

    def report(self, scored_df: DataFrame, k: int = 1000) -> DataFrame:
        """Top-k anomaly report sorted by score desc (reference W3/S6)."""
        return rel.top_k(scored_df.where(F.col("is_anomaly")), "score", k)

    # -- drift and corpus curation -----------------------------------------
    def feature_drift(
        self,
        ref: DataFrame,
        cur: DataFrame,
        columns: list[str],
        categorical_columns: list[str] | None = None,
        bins: int | None = None,
        bounds: dict | None = None,
    ) -> DataFrame:
        """WHICH feature drifted: the four-statistic panel for every
        numeric column in one melt + one keyed aggregation
        (drift.feature_drift_report) — the whole feature-set drift
        report as a single job, not a per-column loop.
        ``categorical_columns`` folds string columns into the
        same report (PSI/JSD/chi² homogeneity, one extra bounded pass);
        ``bins``/``bounds`` select the quantized scale path (≤
        columns·bins reduce rows — the 100 TB shape)."""
        from dataquality_ml_spark.operators.drift import feature_drift_report

        return feature_drift_report(
            ref, cur, columns,
            categorical_columns=categorical_columns,
            bins=bins, bounds=bounds,
        )

    def curate_corpus(
        self,
        docs: DataFrame,
        min_tokens: int = 10,
        max_digit_ratio: float = 0.2,
        jaccard_threshold: float = 0.8,
        splits: dict[str, float] | None = None,
        text_col: str = "text",
        id_col: str = "doc_id",
        max_df: int | None = None,
        on_hot_shingle: str = "error",
    ) -> DataFrame:
        """One-call training-corpus curation — the LLM-pipeline sibling of
        the detector lifecycle: quality filter (token count + digit
        density) → exact dedup (bag-of-words keeper) → near-dup clustering
        (n-gram Jaccard pairs → connected components) → leakage-safe
        train/val/test split hashed on the cluster representative.

        Returns one row per input document:
        ``(doc_id, status, keep_id, split)`` where status ∈ low_quality |
        exact_dup | near_dup | kept; ``keep_id`` is the surviving
        representative responsible for an eviction (null for low_quality);
        ``split`` is assigned to KEPT docs only — evicted docs carry null,
        so downstream consumers cannot accidentally train on them.

        Each document is normalized once: one ``(doc_id, text, nfc)``
        projection feeds every stage, which is built under
        ``scalar.pre_normalized()`` over the NFC text. Quality flag,
        bag-of-words fingerprint and exact keeper (``dedup_exact``'s min-id
        rule) land in one checkpointed per-document relation; the near-dup
        survivors are a filter of it, and the result is that relation
        joined to the near-dup clusters, so no stage reruns the quality →
        exact-dedup prefix. The NFC projection is checkpointed eagerly: the
        keeper join reads it from both of its sides, and a lazy checkpoint
        first read that way can be computed twice, the UDF with it. Never
        collects rows.

        ``max_df`` / ``on_hot_shingle`` pass through to
        :func:`~dataquality_ml_spark.operators.dedup.ngram_jaccard_pairs`
        — by default the pipeline fails loudly on a boilerplate-shingle
        pair blow-up instead of silently going quadratic.
        """
        from dataquality_ml_spark.functions import scalar as sc
        from dataquality_ml_spark.operators import dedup as dd
        from dataquality_ml_spark.operators import graph as gr
        from dataquality_ml_spark.operators import text as tx

        doc_id = F.col(id_col)
        with sc.pre_normalized():
            nfc = rel.ensure_parallelism(docs).select(
                doc_id, text_col, sc.unicode_normalize(text_col).alias("_nfc")
            )
            q = tx._quality_columns(F.col(text_col), sc.tokens("_nfc"))
            # NULL text fails the filter; a doc without an id has no keeper,
            # so it counts as low quality too
            good = F.coalesce(
                (q["n_tokens"] >= min_tokens)
                & (q["digit_ratio"] <= max_digit_ratio),
                F.lit(False),
            ) & doc_id.isNotNull()
            base = nfc.select(
                doc_id, "_nfc", good.alias("_good"),
                sc.bow_fingerprint("_nfc").alias("bow_fp"),
            ).localCheckpoint(eager=True)
            exact = dd.dedup_exact(base.where("_good"), "_nfc", id_col)
            # _exact_keep is NULL exactly for the low-quality docs. Lazy: it
            # holds no UDF, so a second read recomputes only the keeper join
            per_doc = (
                base.join(
                    exact.select("bow_fp", F.col("keep_id").alias("_keep")),
                    "bow_fp",
                    "left",
                )
                .select(
                    doc_id, "_nfc",
                    F.when(F.col("_good"), F.col("_keep")).alias("_exact_keep"),
                )
                .localCheckpoint(eager=False)
            )
            survivors = per_doc.where(doc_id == F.col("_exact_keep")).select(
                doc_id, F.col("_nfc").alias(text_col)
            )
            pairs = dd.ngram_jaccard_pairs(
                survivors, text_col, id_col, k=5, threshold=jaccard_threshold,
                max_df=max_df, on_hot_shingle=on_hot_shingle,
            ).select("id_a", "id_b")
        clusters = gr.dedup_clusters(pairs).select(
            F.col("doc_id").alias(id_col), F.col("keep_id").alias("_near_keep")
        )

        exact_keep, near_keep = F.col("_exact_keep"), F.col("_near_keep")
        low = exact_keep.isNull()
        disposition = per_doc.join(clusters, id_col, "left").select(
            doc_id,
            F.when(low, F.lit("low_quality"))
            .when(doc_id != exact_keep, F.lit("exact_dup"))
            .when(near_keep.isNotNull() & (doc_id != near_keep), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.when(low, F.lit(None).cast("long"))
            .when(doc_id != exact_keep, exact_keep)
            .otherwise(F.coalesce(near_keep, doc_id))
            .alias("keep_id"),
        )
        return rel.leakage_safe_split(disposition, "keep_id", splits).select(
            id_col, "status", "keep_id",
            F.when(F.col("status") == "kept", F.col("split")).alias("split"),
        )
