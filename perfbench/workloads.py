"""The benchmark workloads, each driven through the public API.

A workload is built from its generated inputs (no Spark yet), then
``setup(spark)`` reads the inputs, ``run_pass()`` runs one closed-loop
pass with every result forced, and ``check(out)`` returns each output
check by name with its outcome. ``final_check(out)`` holds the checks that
launch Spark jobs of their own; it runs once per run, outside the timed
region.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow.parquet as pq

from dataquality_ml_spark.engine import DQEngine
from dataquality_ml_spark.operators import dedup
from dataquality_ml_spark.sources import writers

import gen

SINK_COLUMNS = ("serial_number", "model", "failure", "score", "is_anomaly")
CANDIDATES = gen.smart_columns() + [
    "capacity_bytes", "cluster_id", "vault_id", "pod_id", "pod_slot_num",
]
STATUSES = ("low_quality", "exact_dup", "near_dup", "kept")


class TelemetryBatch:
    """The reference's daily job on one telemetry snapshot, one large batch
    per pass: load, profile, prune, fit an isolation forest on the normal
    train rows, drift train vs test, score, evaluate, report, sink."""

    name = "telemetry_batch"

    def __init__(self, work: str, seed: int, size: str):
        self.inputs = gen.telemetry(work, seed, size)
        self.rows = self.inputs["train_rows"] + self.inputs["test_rows"]
        self.sink = os.path.join(work, "sink", self.name)

    def setup(self, spark) -> None:
        self.eng = DQEngine(spark)
        p = self.inputs["path"]
        for day in ("train", "test"):
            self.eng.load(os.path.join(p, day)).count()

    def run_pass(self) -> dict:
        eng, p = self.eng, self.inputs["path"]
        train = eng.load(os.path.join(p, "train"))
        test = eng.load(os.path.join(p, "test"))
        eng.profile(train).collect()
        numeric = eng.prune_columns(train, CANDIDATES)
        roles = {
            "numeric": numeric,
            "categorical": ["model", "datacenter"],
            "boolean": ["is_legacy_format"],
        }
        fitted = eng.fit_detector(train, roles=roles, detector="iforest")
        eng.feature_drift(train, test, numeric).collect()
        scored = eng.score(test, fitted)
        conf = eng.evaluate(scored).first()
        eng.auc(scored).first()
        eng.report(scored).collect()
        writers.write_parquet(scored.select(*SINK_COLUMNS), self.sink)
        return {"numeric": numeric, "threshold": fitted.threshold, "conf": conf}

    def check(self, out: dict) -> dict[str, bool]:
        sink = pq.read_table(self.sink, columns=list(SINK_COLUMNS)).to_pandas()
        unseen = sink[sink["model"] == gen.UNSEEN_MODEL]["score"].to_numpy(float)
        pruned = {f"smart_{i}_{s}" for i in gen.ALL_NULL_IDS for s in ("normalized", "raw")}
        return {
            "scored_rows_equal_test_rows": len(sink) == self.inputs["test_rows"],
            "tp_plus_fn_equals_failures":
                out["conf"]["tp"] + out["conf"]["fn"] == self.inputs["failures"],
            "threshold_finite": math.isfinite(out["threshold"]),
            "unseen_model_scored":
                len(unseen) == self.inputs["unseen_rows"] and bool(np.isfinite(unseen).all()),
            "all_null_columns_pruned": not pruned & set(out["numeric"]),
        }

    def final_check(self, out: dict) -> dict[str, bool]:
        return {}


class CorpusCurate:
    """LLM-corpus curation (quality filter, exact dedup, n-gram near-dup
    clustering, leakage-safe split) plus the MinHash near-dup pipeline."""

    name = "corpus_curate"

    def __init__(self, work: str, seed: int, size: str):
        self.inputs = gen.corpus(work, seed, size)
        self.rows = self.inputs["docs"]

    def setup(self, spark) -> None:
        self.eng = DQEngine(spark)
        self.docs = self.eng.load(os.path.join(self.inputs["path"], "docs.parquet"))
        self.docs.count()

    def run_pass(self) -> dict:
        curated = self.eng.curate_corpus(self.docs).toPandas()
        pairs = dedup.minhash_dedup_pairs(self.docs).toPandas()
        return {"curated": curated, "pairs": pairs}

    def check(self, out: dict) -> dict[str, bool]:
        cur = out["curated"]
        kept = cur["status"] == "kept"
        planted = cur.set_index("doc_id")["status"].reindex(self.inputs["exact_dup_ids"])
        return {
            "one_status_per_doc":
                len(cur) == self.inputs["docs"] and cur["doc_id"].is_unique
                and bool(cur["status"].isin(STATUSES).all()),
            "split_only_for_kept":
                bool(cur["split"][kept].notna().all() and cur["split"][~kept].isna().all()),
            "planted_exact_dups_evicted":
                bool(planted.isin(["exact_dup", "low_quality"]).all()),
        }

    def final_check(self, out: dict) -> dict[str, bool]:
        hs = dedup.with_hashed_shingles(self.docs)
        cand = dedup.minhash_candidates(dedup.minhash_signatures(hs)).toPandas()
        verified = set(zip(out["pairs"]["id_a"], out["pairs"]["id_b"]))
        return {
            "verified_pairs_within_candidates":
                verified <= set(zip(cand["id_a"], cand["id_b"])),
        }


WORKLOADS = {w.name: w for w in (TelemetryBatch, CorpusCurate)}
