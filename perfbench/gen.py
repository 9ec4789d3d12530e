"""Seeded input generator for the benchmark workloads (numpy + pyarrow,
nothing downloaded).

Two inputs, both cached on disk under ``<work>/inputs/<kind>-<size>-s<seed>``
so a rerun with the same seed and size reuses the files:

- ``telemetry``: a daily drive-telemetry snapshot shaped like FIXTURES.md
  Fixture 1 (43 columns: identity, infra, ``smart_*`` pairs), three train
  days in ``train/`` and the test day in ``test/``.
- ``corpus``: documents over a Zipf vocabulary with fixed planted shares of
  low-quality docs, exact duplicates and near duplicates.

The seed only moves values and row positions: sizes, column null shares,
the number of planted failures and the planted duplicate shares are the
same for every seed, so a figure can be rechecked on an unseen seed.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "default": {"drives": 1000, "train_days": 3, "docs": 3000},
    "tiny": {"drives": 400, "train_days": 3, "docs": 600},
}

N_MODELS = 40
N_FAILURES = 4  # planted failures on the test day (reference README)
UNSEEN_MODEL = "ZZ-UNSEEN-MODEL"
UNSEEN_SHARE = 0.005  # test-day drives reporting a model never seen in training
SMART_IDS = (1, 2, 3, 4, 5, 7, 8, 9, 10, 11, 12)
HALF_NULL_ID = 13  # ~50% null (imputer stress)
ALL_NULL_IDS = (15, 16, 17, 18)  # 100% null: must be pruned
FAILURE_DRIFT = (1, 5, 7, 9)  # attributes that blow up on a failing drive

VOCAB = 5000
ZIPF_S = 1.05
DOC_TOKENS = (60, 100)  # >= 60 keeps a 1-token edit above Jaccard 0.8
LOW_QUALITY_SHARE = 0.05
EXACT_DUP_SHARE = 0.10
NEAR_DUP_SHARE = 0.10


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_MANIFEST.json"))


def _finish(path: str, manifest: dict) -> dict:
    with open(os.path.join(path, "_MANIFEST.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def _fresh(path: str) -> None:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)


def smart_columns() -> list[str]:
    cols = []
    for i in SMART_IDS + (HALF_NULL_ID,) + ALL_NULL_IDS:
        cols += [f"smart_{i}_normalized", f"smart_{i}_raw"]
    return cols


def _zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _day_table(rng, day: str, drive: np.ndarray, base: dict, models: np.ndarray,
               failed: np.ndarray) -> pa.Table:
    n = len(drive)
    cols: dict[str, pa.Array] = {
        "date": pa.array(np.full(n, day)),
        "serial_number": pa.array(np.char.add("SN", np.char.zfill(drive.astype(str), 8))),
        "model": pa.array(models),
        "capacity_bytes": pa.array(base["capacity"][drive]),
        "failure": pa.array(failed.astype(np.int32)),
    }
    dc = base["datacenter"][drive].astype(object)
    dc[rng.random(n) < 0.01] = None
    cols["datacenter"] = pa.array(dc, pa.string())
    for name in ("cluster_id", "vault_id", "pod_id", "pod_slot_num"):
        v = base[name][drive]
        cols[name] = pa.array(v, pa.int32(), mask=rng.random(n) < 0.01)
    cols["is_legacy_format"] = pa.array(base["legacy"][drive])
    n_smart = len(SMART_IDS)
    for j, i in enumerate(SMART_IDS + (HALF_NULL_ID,)):
        # per-column missing share fixed by column position, not by seed
        miss = 0.5 if i == HALF_NULL_ID else 0.05 + 0.15 * j / (n_smart - 1)
        raw = base["raw"][:, j][drive] * rng.lognormal(0.0, 0.05, n)
        norm = np.clip(100.0 - 5.0 * np.log1p(raw), 1.0, 253.0)
        if i in FAILURE_DRIFT:
            raw = np.where(failed, raw * 40.0 + 500.0, raw)
            norm = np.where(failed, norm * 0.2, norm)
        for suffix, v in (("normalized", norm), ("raw", raw)):
            # half the missing values are null, half NaN; a failing drive
            # reports every attribute
            u = np.where(failed, 1.0, rng.random(n))
            v = np.where((u >= miss / 2) & (u < miss), np.nan, v)
            cols[f"smart_{i}_{suffix}"] = pa.array(v, pa.float64(), mask=u < miss / 2)
    for i in ALL_NULL_IDS:
        for suffix in ("normalized", "raw"):
            cols[f"smart_{i}_{suffix}"] = pa.nulls(n, pa.float64())
    return pa.table(cols)


def telemetry(root: str, seed: int, size: str = "default") -> dict:
    """Generate (or reuse) the telemetry days; returns the manifest."""
    cfg = SIZES[size]
    path = os.path.join(root, "inputs", f"telemetry-{size}-s{seed}")
    if _done(path):
        with open(os.path.join(path, "_MANIFEST.json")) as f:
            return json.load(f)
    _fresh(path)
    rng = np.random.default_rng([seed, 1])
    n = cfg["drives"]
    n_smart = len(SMART_IDS) + 1
    base = {
        "capacity": rng.choice(np.array([4, 8, 16], dtype=np.int64) << 40, n),
        "datacenter": rng.choice(np.array(["ams", "phx", "sac", "iad", "sjc"]), n),
        "cluster_id": rng.integers(0, 8, n),
        "vault_id": rng.integers(1000, 1040, n),
        "pod_id": rng.integers(0, 20, n),
        "pod_slot_num": rng.integers(0, 60, n),
        "legacy": rng.random(n) < 0.03,
        "raw": rng.lognormal(2.0, 1.0, (n, n_smart)),
    }
    model_names = np.array([f"MODEL-{k:02d}" for k in range(N_MODELS)])
    drive_model = model_names[rng.choice(N_MODELS, n, p=_zipf_probs(N_MODELS, 1.2))]
    drive = np.arange(n)
    no_fail = np.zeros(n, dtype=bool)
    train_dir = os.path.join(path, "train")
    os.makedirs(train_dir)
    train_rows = 0
    for d in range(cfg["train_days"]):
        t = _day_table(rng, f"2024-12-{22 + d:02d}", drive, base, drive_model, no_fail)
        pq.write_table(t, os.path.join(train_dir, f"day{d}.parquet"))
        train_rows += t.num_rows
    failed = np.zeros(n, dtype=bool)
    failed[rng.choice(n, N_FAILURES, replace=False)] = True
    test_model = drive_model.astype(object)
    n_unseen = max(1, int(n * UNSEEN_SHARE))
    unseen = rng.choice(np.flatnonzero(~failed), n_unseen, replace=False)
    test_model[unseen] = UNSEEN_MODEL
    test = _day_table(rng, "2024-12-25", drive, base, test_model, failed)
    os.makedirs(os.path.join(path, "test"))
    pq.write_table(test, os.path.join(path, "test", "day.parquet"))
    return _finish(path, {
        "path": path,
        "train_rows": train_rows,
        "test_rows": n,
        "failures": N_FAILURES,
        "unseen_rows": n_unseen,
        "columns": test.num_columns,
    })


def _word(i: int) -> str:
    """Letters only (base 26), so digit density marks only planted docs."""
    out = ""
    i += 26  # at least two letters
    while i:
        i, r = divmod(i, 26)
        out = chr(97 + r) + out
    return out


def _words(ids: np.ndarray) -> list[str]:
    return [_word(int(i)) for i in ids]


def corpus(root: str, seed: int, size: str = "default") -> dict:
    """Generate (or reuse) the document corpus; returns the manifest with
    the planted exact-duplicate ids the output check needs."""
    cfg = SIZES[size]
    path = os.path.join(root, "inputs", f"corpus-{size}-s{seed}")
    if _done(path):
        with open(os.path.join(path, "_MANIFEST.json")) as f:
            return json.load(f)
    _fresh(path)
    rng = np.random.default_rng([seed, 2])
    n = cfg["docs"]
    n_exact = int(n * EXACT_DUP_SHARE)
    n_near = int(n * NEAR_DUP_SHARE)
    n_orig = n - n_exact - n_near
    n_low = int(n * LOW_QUALITY_SHARE)
    p = _zipf_probs(VOCAB, ZIPF_S)
    texts: list[str] = []
    token_lists: list[np.ndarray] = []
    for i in range(n_orig):
        toks = rng.choice(VOCAB, int(rng.integers(*DOC_TOKENS)), p=p)
        token_lists.append(toks)
        if i < n_low // 2:  # too short
            texts.append(" ".join(_words(toks[: int(rng.integers(3, 9))])))
        elif i < n_low:  # digit-heavy
            texts.append(" ".join(
                str(int(rng.integers(10**5, 10**9))) if k % 2 else w
                for k, w in enumerate(_words(toks))
            ))
        else:
            texts.append(" ".join(_words(toks)))
    exact_src = rng.choice(n_orig, n_exact)
    texts += [texts[s] for s in exact_src]
    near_src = rng.choice(np.arange(n_low, n_orig), n_near)
    for s in near_src:
        toks = token_lists[s].copy()
        pos = int(rng.integers(0, len(toks)))
        toks[pos] = VOCAB + int(rng.integers(0, 10**6))  # a word no doc has
        texts.append(" ".join(_words(toks)))
    doc_id = np.arange(n, dtype=np.int64)  # every copy gets a larger id
    order = rng.permutation(n)
    table = pa.table({
        "doc_id": pa.array(doc_id[order]),
        "text": pa.array([texts[k] for k in order]),
    })
    pq.write_table(table, os.path.join(path, "docs.parquet"), row_group_size=max(1, n // 8))
    return _finish(path, {
        "path": path,
        "docs": n,
        "low_quality": n_low,
        "exact_dups": n_exact,
        "near_dups": n_near,
        "exact_dup_ids": [int(x) for x in range(n_orig, n_orig + n_exact)],
    })
