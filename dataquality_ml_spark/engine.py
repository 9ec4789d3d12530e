"""High-level facade: the workflows a user of the reference runs today,
as a handful of composable calls.

Reference workflow → engine call:

- load daily snapshot, cast bools, split normal/failure
  (app/AE_model.py:25-43)                      → ``DQEngine.load`` + ``split``
- profile column health (lib/utils.py:187-203) → ``profile``
- fit feature pipeline on normal rows
  (lib/utils.py:154-269)                       → ``fit_features``
- train detector, derive threshold
  (app/AE_model.py:111-246)                    → ``fit_detector``
- score a table, flag anomalies, report
  (app/test_AE.py:109-307)                     → ``score`` + ``evaluate``

All returns are DataFrames or small artifact objects; nothing row-sized
touches the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataquality_ml_spark.ml import detectors as det
from dataquality_ml_spark.ml import features as feat
from dataquality_ml_spark.operators import evaluate as ev
from dataquality_ml_spark.operators import profile as prof
from dataquality_ml_spark.operators import relational as rel
from dataquality_ml_spark.operators import thresholds as th
from dataquality_ml_spark.sources import readers


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
        import json

        from dataquality_ml_spark.ml.keras_adapter import (
            KerasDenseAE,
            KerasLSTMAE,
            KerasLSTMVAE,
        )

        if isinstance(self.model, det.PCAAutoencoder):
            kind, blob = "pca", self.model.to_json()
        elif isinstance(self.model, det.IsolationForest):
            kind, blob = "iforest", json.dumps(self.model.to_state())
        elif isinstance(self.model, KerasDenseAE):
            kind, blob = "keras_dense", self.model.to_json()
        elif isinstance(self.model, KerasLSTMVAE):
            kind, blob = "keras_lstm_vae", self.model.to_json()
        elif isinstance(self.model, KerasLSTMAE):
            kind, blob = "keras_lstm", self.model.to_json()
        else:
            raise TypeError(f"unsupported model: {type(self.model)}")
        with open(path, "w") as f:
            json.dump(
                {
                    "features": self.features.to_json(),
                    "model_kind": kind,
                    "model": blob,
                    "threshold": self.threshold,
                    "threshold_q": self.threshold_q,
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "FittedDetector":
        import json

        from dataquality_ml_spark.ml.keras_adapter import (
            KerasDenseAE,
            KerasLSTMAE,
            KerasLSTMVAE,
        )

        with open(path) as f:
            d = json.load(f)
        if d["model_kind"] == "pca":
            model = det.PCAAutoencoder.from_json(d["model"])
        elif d["model_kind"] == "keras_dense":
            model = KerasDenseAE.from_json(d["model"])
        elif d["model_kind"] == "keras_lstm_vae":
            model = KerasLSTMVAE.from_json(d["model"])
        elif d["model_kind"] == "keras_lstm":
            model = KerasLSTMAE.from_json(d["model"])
        else:
            model = det.IsolationForest.from_state(json.loads(d["model"]))
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

    def save(self, path: str) -> None:
        import json

        from dataquality_ml_spark.ml.keras_adapter import KerasLSTMAE, KerasLSTMVAE

        if isinstance(self.model, det.PCAAutoencoder):
            kind, blob = "pca", self.model.to_json()
        elif isinstance(self.model, KerasLSTMVAE):
            kind, blob = "keras_lstm_vae", self.model.to_json()
        elif isinstance(self.model, KerasLSTMAE):
            kind, blob = "keras_lstm", self.model.to_json()
        else:
            raise TypeError(f"unsupported sequence model: {type(self.model)}")
        with open(path, "w") as f:
            json.dump(
                {
                    "key": self.key,
                    "order": self.order,
                    "features": self.features,
                    "timesteps": self.timesteps,
                    "tiebreak": self.tiebreak,
                    "model_kind": kind,
                    "model": blob,
                    "threshold": self.threshold,
                    "threshold_q": self.threshold_q,
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "FittedSequenceDetector":
        import json

        from dataquality_ml_spark.ml.keras_adapter import KerasLSTMAE, KerasLSTMVAE

        with open(path) as f:
            d = json.load(f)
        model: object
        if d["model_kind"] == "pca":
            model = det.PCAAutoencoder.from_json(d["model"])
        elif d["model_kind"] == "keras_lstm_vae":
            model = KerasLSTMVAE.from_json(d["model"])
        else:
            model = KerasLSTMAE.from_json(d["model"])
        return cls(
            key=d["key"],
            order=d["order"],
            features=d["features"],
            timesteps=d["timesteps"],
            tiebreak=d["tiebreak"],
            model=model,
            threshold=d["threshold"],
            threshold_q=d["threshold_q"],
        )


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

    def split(self, df: DataFrame, label: str = "failure"):
        return rel.split_by_label(df, label)

    # -- profiling ---------------------------------------------------------
    def profile(self, df: DataFrame, columns: list[str] | None = None) -> DataFrame:
        return prof.profile(df, columns)

    def prune_columns(self, df: DataFrame, columns: list[str] | None = None) -> list[str]:
        return prof.prune_low_quality(df, columns)

    def threshold_stats(
        self, df: DataFrame, columns: list[str], **kw
    ) -> dict[str, dict[str, float]]:
        """Percentile/IQR/MAD thresholds for every column in 2 jobs total
        (one stats aggregation + one MAD pass) — the batched facade the
        per-threshold scalar helpers don't give you."""
        return th.batched_thresholds(df, columns, **kw)

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
        exact_threshold: bool = False,
    ) -> FittedDetector:
        """Fit on the normal slice, derive the threshold from TRAIN errors
        (reference app/AE_model.py:42-48, :197) — one artifact out.

        The transformed train relation is a lazy local checkpoint: the
        sample collect materializes it on first use, and the threshold's
        scoring pass reads those rows instead of re-running the scan and
        the feature projection."""
        normal = train_df.where(F.col(label) == F.lit(0)) if label in train_df.columns else train_df
        fm = feat.fit_features(normal, roles=roles, label_col=label)
        transformed = feat.apply_features(normal, fm).localCheckpoint(eager=False)
        x = det.collect_feature_sample(transformed, max_rows=sample_rows)
        if detector == "pca":
            model = det.PCAAutoencoder.fit(x, n_components=n_components)
        elif detector == "iforest":
            model = det.IsolationForest(n_estimators=100, max_samples=256, seed=42).fit(x)
        elif detector == "ae":
            # real keras dense AE when importable, PCA stand-in otherwise —
            # the reference's M7 path behind one flag (ml.keras_adapter)
            from dataquality_ml_spark.ml.keras_adapter import build_autoencoder

            model = build_autoencoder(x, n_components=n_components, backend="auto")
        else:
            raise ValueError(f"unknown detector: {detector}")
        scored = det.score_distributed(transformed, model).select("score")
        t = th.percentile_threshold(scored, "score", threshold_q, exact=exact_threshold)
        return FittedDetector(fm, model, float(t), threshold_q)

    def score(self, df: DataFrame, fitted: FittedDetector) -> DataFrame:
        """Transform with the SAME artifact (no refit drift), score
        distributed, flag against the frozen threshold.

        The flagged relation is a lazy local checkpoint: its first consumer
        materializes it, and every later one (evaluate, auc, report, a
        sink) reads those rows instead of re-running the scan, the feature
        projection and the scoring UDF. Under AQE the call itself runs the
        scoring input's repartition stage, if it has one."""
        transformed = feat.apply_features(df, fitted.features)
        scored = det.score_distributed(transformed, fitted.model)
        return th.flag_anomalies(scored, "score", fitted.threshold).localCheckpoint(
            eager=False
        )

    def explain(self, df: DataFrame, fitted: FittedDetector, top_k: int = 3) -> DataFrame:
        """Score + attribute: flagged rows carry the top_k features driving
        the reconstruction error (AE family only — IF has no per-feature
        decomposition). Same transform artifact as ``score``, one extra
        Arrow-batched pass."""
        transformed = feat.apply_features(df, fitted.features)
        scored = det.score_distributed(transformed, fitted.model)
        explained = det.explain_distributed(
            scored, fitted.model, fitted.features.feature_names, top_k
        )
        return th.flag_anomalies(explained, "score", fitted.threshold)

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
        normal = (
            train_df.where(F.col(label) == F.lit(0))
            if label in train_df.columns
            else train_df
        )
        # read by the sample collect and the threshold's scoring pass; a
        # lazy local checkpoint holds no CacheManager entry, so nothing is
        # left behind when the fit raises
        seqs = self._windowed(normal, key, order, feats, timesteps, tiebreak).localCheckpoint(
            eager=False
        )
        x = det.collect_feature_sample(seqs, max_rows=sample_rows)
        if detector == "pca":
            model: object = det.PCAAutoencoder.fit(x, n_components=n_components)
        elif detector in ("lstm_ae", "lstm_vae"):
            from dataquality_ml_spark.ml.keras_adapter import (
                build_sequence_autoencoder,
            )

            x3 = x.reshape(len(x), timesteps, len(feats))
            model = build_sequence_autoencoder(
                x3,
                n_components=n_components,
                backend="auto",
                variational=detector == "lstm_vae",
            )
        else:
            raise ValueError(f"unknown sequence detector: {detector}")
        scored = det.score_distributed(seqs, model).select("score")
        t = th.percentile_threshold(scored, "score", threshold_q, exact=False)
        return FittedSequenceDetector(
            key=key,
            order=order,
            features=feats,
            timesteps=timesteps,
            tiebreak=tiebreak,
            model=model,
            threshold=float(t),
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
        scored = det.score_distributed(seqs, fitted.model).drop("features")
        return th.flag_anomalies(scored, "score", fitted.threshold)

    # -- evaluation --------------------------------------------------------
    def evaluate(self, scored_df: DataFrame, label: str = "failure") -> DataFrame:
        flagged = scored_df.withColumn("actual_failure", F.col(label) == 1)
        return ev.confusion_metrics(flagged)

    def auc(self, scored_df: DataFrame, label: str = "failure") -> DataFrame:
        return ev.roc_auc(
            scored_df.withColumn("__y", F.col(label) == 1), "score", "__y"
        )

    def report(self, scored_df: DataFrame, k: int = 1000) -> DataFrame:
        """Top-k anomaly report sorted by score desc (reference W3/S6)."""
        return rel.top_k(scored_df.where(F.col("is_anomaly")), "score", k)

    # -- corpus curation ---------------------------------------------------
    def train_tokenizer(
        self,
        docs: DataFrame,
        num_merges: int = 1000,
        text_col: str = "text",
        kind: str = "bpe",
        vocab_size: int = 1000,
    ):
        """Tokenizer lifecycle entry: ``kind='bpe'`` (operators.bpe —
        distributed word count, incremental in-memory merges) or
        ``kind='unigram'`` (operators.unigram — Kudo 2018 EM over a
        substring seed vocab, pruned to ``vocab_size``).  Both return a
        persistable artifact with the same ``tokenize`` contract."""
        if kind == "bpe":
            from dataquality_ml_spark.operators.bpe import train_tokenizer

            return train_tokenizer(docs, num_merges, text_col)
        if kind == "unigram":
            from dataquality_ml_spark.operators.unigram import (
                train_unigram_tokenizer,
            )

            return train_unigram_tokenizer(
                docs, vocab_size=vocab_size, text_col=text_col
            )
        raise ValueError("kind must be 'bpe' or 'unigram'")

    def tokenize(self, docs: DataFrame, tokenizer, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
        return tokenizer.tokenize(docs, text_col, id_col)

    def curate_hosts(
        self,
        docs: DataFrame,
        url_col: str = "url",
        blocklist: list[str] | None = None,
        cap: int = 1000,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> DataFrame:
        """Host/domain-level curation report (operators.web): per
        registered host — doc count, mean token count, blocklist flag and
        per-host cap survivors."""
        from dataquality_ml_spark.operators.web import host_curation_report

        return host_curation_report(
            docs, url_col, text_col, id_col, blocklist, cap
        )

    def suggest_rules(self, df: DataFrame, columns: list[str], **kw) -> DataFrame:
        """Mine candidate DQ rules (rules.suggest_rules) — feed the result
        to ``check_rules`` to close the loop."""
        from dataquality_ml_spark.operators.rules import suggest_rules

        return suggest_rules(df, columns, **kw)

    def check_rules(self, df: DataFrame, suggestions: DataFrame) -> DataFrame:
        from dataquality_ml_spark.operators.rules import (
            rules_from_suggestions,
            run_checks,
        )

        return run_checks(df, rules_from_suggestions(suggestions))

    def drift_panel(
        self,
        ref: DataFrame,
        cur: DataFrame,
        col: str,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """The full two-sample drift panel (KS D, Mann-Whitney U/z, CvM T,
        Anderson-Darling A²) between a reference slice and the current
        data, optionally per segment — ONE aggregation over one shared
        ECDF (drift.drift_panel). The guard the reference never had: its
        daily retrain (app/test_AE.py:87-97) refits thresholds without
        ever testing whether today's data still looks like training."""
        from dataquality_ml_spark.operators.drift import drift_panel

        return drift_panel(ref, cur, col, keys=keys)

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

    def drift_timeline(
        self,
        df: DataFrame,
        col: str,
        period,
        lo: float,
        hi: float,
        bins: int = 10,
    ) -> DataFrame:
        """WHEN did it start drifting: per-period PSI of ``col`` against
        the earliest period (drift.psi_timeline) — one bounded
        groupBy(period, bin) scan; the retrain scheduler reads the first
        period past the alarm line (PSI ≳ 0.2)."""
        from dataquality_ml_spark.operators.drift import psi_timeline

        return psi_timeline(df, col, period, lo, hi, bins)

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

        Every stage is an already-oracle-gated operator
        (`corpus_curation_pipeline`, `dup_clusters_docs`,
        `leakage_safe_split_docs` cover the composition pieces); the
        facade only arranges them and never collects rows.

        ``max_df`` / ``on_hot_shingle`` pass through to
        :func:`~dataquality_ml_spark.operators.dedup.ngram_jaccard_pairs`
        — by default the pipeline fails loudly on a boilerplate-shingle
        pair blow-up instead of silently going quadratic.
        """
        from dataquality_ml_spark.operators import dedup as dd
        from dataquality_ml_spark.operators import graph as gr
        from dataquality_ml_spark.operators import text as tx

        base = docs.select(id_col, text_col)
        quality = tx.text_quality(docs, text_col=text_col, id_col=id_col)
        good_ids = quality.where(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("digit_ratio") <= max_digit_ratio)
        ).select(id_col)
        good = base.join(good_ids, id_col).localCheckpoint(eager=False)

        exact = dd.dedup_exact(good, text_col, id_col)  # (bow_fp, keep_id, n)
        fp = good.select(
            F.col(id_col), dd.bow_fingerprint(text_col).alias("bow_fp")
        )
        exact_map = fp.join(
            exact.select("bow_fp", F.col("keep_id").alias("_exact_keep")),
            "bow_fp",
        ).select(id_col, "_exact_keep")

        survivors = good.join(
            exact_map.where(F.col(id_col) == F.col("_exact_keep")).select(id_col),
            id_col,
        )
        pairs = dd.ngram_jaccard_pairs(
            survivors, text_col, id_col, k=5, threshold=jaccard_threshold,
            max_df=max_df, on_hot_shingle=on_hot_shingle,
        ).select("id_a", "id_b")
        clusters = gr.dedup_clusters(pairs).select(
            F.col("doc_id").alias(id_col), F.col("keep_id").alias("_near_keep")
        )

        disposition = (
            docs.select(id_col)
            .join(good_ids.withColumn("_good", F.lit(True)), id_col, "left")
            .join(exact_map, id_col, "left")
            .join(clusters, id_col, "left")
            .select(
                id_col,
                F.when(F.col("_good").isNull(), F.lit("low_quality"))
                .when(F.col(id_col) != F.col("_exact_keep"), F.lit("exact_dup"))
                .when(
                    F.col("_near_keep").isNotNull()
                    & (F.col(id_col) != F.col("_near_keep")),
                    F.lit("near_dup"),
                )
                .otherwise(F.lit("kept"))
                .alias("status"),
                F.when(F.col("_good").isNull(), F.lit(None).cast("long"))
                .when(
                    F.col(id_col) != F.col("_exact_keep"), F.col("_exact_keep")
                )
                .otherwise(
                    F.coalesce(F.col("_near_keep"), F.col(id_col))
                )
                .alias("keep_id"),
            )
        )
        assigned = rel.leakage_safe_split(
            disposition.where(F.col("status") == "kept"), "keep_id", splits
        ).select(id_col, "split")
        return (
            disposition.join(assigned, id_col, "left")
            .select(id_col, "status", "keep_id", "split")
        )

    # -- audits and statistical tests --------------------------------------
    def audit_benford(self, df: DataFrame, col: str) -> DataFrame:
        """First-digit Benford audit of a positive measure — (digit, n,
        p, p_benford, chi2_total); chi2 far above ~20 on large n says the
        column's magnitudes were keyed in, truncated, or unit-mixed.
        One aggregation to <=9 rows."""
        from dataquality_ml_spark.operators.profile import benford_check

        return benford_check(df, col)

    def feature_iv(
        self,
        df: DataFrame,
        feature: str,
        label,
        lo: float,
        hi: float,
        bins: int = 10,
    ) -> DataFrame:
        """Weight-of-Evidence / Information-Value screen of one feature
        against a binary label — the pre-model ranking (IV < 0.02
        useless, > 0.3 strong). One aggregation to <=bins cells."""
        from dataquality_ml_spark.operators.evaluate import woe_iv

        return woe_iv(df, feature, label, lo, hi, bins)

    def repair_drift(
        self,
        cur: DataFrame,
        col: str,
        ref: DataFrame,
        knots: int = 16,
    ) -> DataFrame:
        """Quantile-normalize a drifted column onto the reference
        distribution (rank-preserving piecewise-linear map through exact
        reference-quantile knots) — the REPAIR step after
        :meth:`feature_drift` finds the alarm. Returns (value, n,
        mapped) per distinct value; join back on value to apply."""
        from dataquality_ml_spark.ml.features import quantile_map

        return quantile_map(cur, col, ref, knots)

    def survival_curve(
        self,
        df: DataFrame,
        duration_col: str,
        event_col: str,
        bins: int | None = None,
        lo: float | None = None,
        hi: float | None = None,
    ) -> DataFrame:
        """Kaplan-Meier time-to-event curve with right censoring —
        (t, n_at_risk, d_events, c_censored, survival). Pass ``bins=``
        WITH explicit lo/hi at scale (every window then runs over
        <=bins rows); the exact path raises above ~65k distinct
        durations."""
        from dataquality_ml_spark.operators.sequences import survival_km

        return survival_km(df, duration_col, event_col, bins, lo, hi)

    def tail_index(
        self, df: DataFrame, col: str, k: int = 500, id_col: str | None = None
    ) -> DataFrame:
        """Hill estimator of the Pareto tail exponent over the k largest
        values — (k_used, threshold, hill_alpha, tail_mean_log). One
        top-(k+1) selection, no global sort."""
        from dataquality_ml_spark.operators.profile import hill_tail_index

        return hill_tail_index(df, col, k, id_col)

    def concentration(
        self, df: DataFrame, value_col: str, id_col: str | None = None
    ) -> DataFrame:
        """Exact Gini coefficient of a non-negative measure —
        (n, total, gini); rank via distributed prefix sum."""
        from dataquality_ml_spark.operators.profile import gini_coefficient

        return gini_coefficient(df, value_col, id_col)

    def changepoint(
        self,
        df: DataFrame,
        ts_col: str,
        value_col: str,
        bucket: str = "day",
        keys: list[str] | None = None,
    ) -> DataFrame:
        """CUSUM mean-shift screen over a time-bucketed series —
        (bucket_ts, n, mean_value, cusum, is_changepoint); ``keys=``
        runs one independent CUSUM per segment."""
        from dataquality_ml_spark.operators.drift import cusum_changepoint

        return cusum_changepoint(df, ts_col, value_col, bucket, keys)

    def robust_trend(
        self, df: DataFrame, x_col: str, y_col: str, max_points: int = 2000
    ) -> DataFrame:
        """Theil-Sen robust trend over a BOUNDED series —
        (n_points, n_pairs, slope, intercept); raises past max_points."""
        from dataquality_ml_spark.operators.drift import theil_sen_trend

        return theil_sen_trend(df, x_col, y_col, max_points)

    def dedup_richness(
        self, df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> DataFrame:
        """Chao1 capture-recapture estimate of true distinct-content
        count from the exact-dedup cluster histogram — (n_docs, s_obs,
        f1, f2, chao1_estimate, coverage, dup_rate)."""
        from dataquality_ml_spark.operators.dedup import chao1_duplicate_richness

        return chao1_duplicate_richness(df, text_col, id_col)

    def weight_ess(self, df: DataFrame, weight_col: str) -> DataFrame:
        """Kish effective sample size of importance weights —
        (n, sum_w, ess, ess_frac, max_w_share)."""
        from dataquality_ml_spark.operators.selection import importance_weight_ess

        return importance_weight_ess(df, weight_col)

    def dedup_prefix_filter(
        self,
        df: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        k: int = 5,
        threshold: float = 0.8,
    ) -> DataFrame:
        """Exact-Jaccard near-dup pairs via AllPairs/PPJoin prefix
        filtering — the uncapped-safe alternative to the full shingle
        inverted index (candidates come from each doc's rarest
        prefix only)."""
        from dataquality_ml_spark.operators.dedup import (
            prefix_filter_jaccard_pairs,
        )

        return prefix_filter_jaccard_pairs(df, text_col, id_col, k, threshold)

    def communities(
        self, edges: DataFrame, iterations: int = 4
    ) -> DataFrame:
        """Label-propagation communities over an undirected edge
        relation — (node, community); dense groups stay separate where
        connected components would fuse them across one bridge."""
        from dataquality_ml_spark.operators.graph import label_propagation

        return label_propagation(edges, iterations)

    def ewma_chart(
        self,
        df: DataFrame,
        batch_col: str,
        value_col: str = "value",
        lam: float = 0.2,
        nsigma: float = 3.0,
        keys: list[str] | None = None,
        mu0: float | None = None,
        sigma0: float | None = None,
    ) -> DataFrame:
        """One-pass EWMA control chart of per-batch means (exact
        variance-inflation limits); pass mu0/sigma0 to freeze the
        in-control reference."""
        from dataquality_ml_spark.operators.drift import ewma_control

        return ewma_control(df, batch_col, value_col, lam, nsigma, keys,
                            mu0, sigma0)

    def autocorrelation(
        self,
        df: DataFrame,
        batch_col: str,
        value_col: str = "value",
        max_lag: int = 7,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Sample ACF + Ljung-Box Q of the per-batch mean series —
        (lag, n_batches, rho, q_lb) per key."""
        from dataquality_ml_spark.operators.drift import acf_ljung_box

        return acf_ljung_box(df, batch_col, value_col, max_lag, keys)

    def anova(
        self, df: DataFrame, group_col: str, value_col: str = "value"
    ) -> DataFrame:
        """One-way ANOVA omnibus F + eta^2 across groups."""
        from dataquality_ml_spark.operators.evaluate import anova_oneway

        return anova_oneway(df, group_col, value_col)

    def kruskal(
        self, df: DataFrame, group_col: str, value_col: str = "value"
    ) -> DataFrame:
        """Kruskal-Wallis rank omnibus H (tie-corrected) across groups."""
        from dataquality_ml_spark.operators.evaluate import kruskal_wallis

        return kruskal_wallis(df, group_col, value_col)

    def fdr_adjust(
        self, panel: DataFrame, p_col: str = "p_value", m: int | None = None
    ) -> DataFrame:
        """Benjamini-Hochberg q-values over a test panel (adds
        ``q_value``; panel-bounded contract)."""
        from dataquality_ml_spark.operators.evaluate import fdr_bh

        return fdr_bh(panel, p_col, m)

    def unseen_mass(
        self, df: DataFrame, text_col: str = "text", max_r: int = 10
    ) -> DataFrame:
        """Good-Turing frequency-of-frequencies panel; the r=1 row's
        token_share is the unseen-token-mass estimate N1/N."""
        from dataquality_ml_spark.operators.text import good_turing_panel

        return good_turing_panel(df, text_col, max_r=max_r)

    def ranking_quality(
        self, exact: DataFrame, approx: DataFrame, k: int
    ) -> DataFrame:
        """NDCG@k + MRR of an approximate neighbor ranking against the
        exact baseline — (query_id, dcg, idcg, ndcg, mrr)."""
        from dataquality_ml_spark.operators.similarity import ranking_quality

        return ranking_quality(exact, approx, k)
