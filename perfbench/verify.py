"""Output checks. Each returns a list of failure messages (empty = pass).

They read what the job committed (Parquet output, ledger JSON files) with
pyarrow and plain json, not through the engine, and compare it with the
generator's golden decisions or an independent Python recomputation.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

import inputs

F1_MIN = 0.99
#: LSH is probabilistic: 8 bands of 8 rows miss a pair at Jaccard 0.85
#: (the shortest planted pairs) with probability ~0.08, so a small share of
#: planted pairs is legitimately missed (measured recall ~0.996)
RECALL_MIN = 0.99
SUBTASKS = ("keep", "label_a", "label_b", "label_c")


def macro_f1(gold: np.ndarray, pred: np.ndarray) -> float:
    """Mean per-class F1 over the union of gold and predicted classes."""
    f1s = []
    for c in np.unique(np.concatenate([gold, pred])):
        g, p = gold == c, pred == c
        tp = int(np.sum(g & p))
        prec = tp / p.sum() if p.sum() else 0.0
        rec = tp / g.sum() if g.sum() else 0.0
        f1s.append(2 * prec * rec / (prec + rec) if prec + rec else 0.0)
    return float(np.mean(f1s)) if f1s else 0.0


def read_part(out_dir: str, part_id: int) -> pa.Table:
    cols = ["clip_id", *SUBTASKS]
    return ds.dataset(os.path.join(out_dir, f"part_id={part_id}"), format="parquet").to_table(
        columns=cols
    )


def decisions_f1(clips: inputs.Clips, parts: list[pa.Table]) -> dict[str, float]:
    """Per-subtask macro-F1 of committed rows against the golden decisions.
    Label levels count only rows the golden labels at that level."""
    t = pa.concat_tables(parts)
    base = pc.cast(pc.utf8_slice_codeunits(t.column("clip_id"), 5, 17), pa.int64())
    idx = base.to_numpy()
    out = {}
    for c in SUBTASKS:
        gold = clips.golden[c][idx]
        pred = t.column(c).to_numpy(zero_copy_only=False)
        if c != "keep":
            labelled = np.array([g is not None for g in gold])
            gold = gold[labelled].astype(str)
            pred = np.array(["MISSING" if p is None else p for p in pred[labelled]], dtype=str)
        out[c] = macro_f1(gold, pred)
    return out


def committed_part(out_dir: str, ledger_dir: str, part_id: int, rows: int) -> tuple[pa.Table, list[str]]:
    """The committed rows of one part and the checks that its ledger entry
    counts exactly those rows and that no row of another part leaked in."""
    errs = []
    t = read_part(out_dir, part_id)
    suffix = inputs.clip_suffix(part_id)
    if not pc.all(pc.ends_with(t.column("clip_id"), suffix)).as_py():
        errs.append(f"part {part_id}: rows of another part committed")
    if t.num_rows != rows:
        errs.append(f"part {part_id}: {t.num_rows} rows committed, input has {rows}")
    path = os.path.join(ledger_dir, f"part-{part_id:06d}.json")
    if not os.path.exists(path):
        return t, errs + [f"part {part_id}: no ledger entry"]
    with open(path) as f:
        entry = json.load(f)
    n_keep = int(pc.sum(pc.cast(t.column("keep"), pa.int64())).as_py() or 0)
    if entry.get("status") != "done" or entry.get("n_in") != t.num_rows or entry.get("n_keep") != n_keep:
        errs.append(
            f"part {part_id}: ledger n_in={entry.get('n_in')} n_keep={entry.get('n_keep')}"
            f" vs committed {t.num_rows}/{n_keep}"
        )
    return t, errs


def totals(summary: dict, parts: list[pa.Table]) -> list[str]:
    """The job's reported ledger totals equal the committed row counts."""
    n_in = sum(t.num_rows for t in parts)
    n_keep = sum(int(pc.sum(pc.cast(t.column("keep"), pa.int64())).as_py() or 0) for t in parts)
    if summary.get("n_in") != n_in or summary.get("n_keep") != n_keep:
        return [f"ledger totals {summary.get('n_in')}/{summary.get('n_keep')} vs committed {n_in}/{n_keep}"]
    return []


def f1_errors(f1: dict[str, float]) -> list[str]:
    return [f"{k} macro-F1 {v:.4f} < {F1_MIN}" for k, v in f1.items() if v < F1_MIN]


def pairs(docs: inputs.Docs, rows: list[tuple[int, int, float]]) -> tuple[list[str], float]:
    """Every emitted pair is ordered, unique, at Jaccard >= 0.5, and its
    Jaccard equals a Python recomputation from the raw texts; returns the
    failures and the recall of planted pairs."""
    errs, seen = [], set()
    for k1, k2, j in rows:
        if k1 >= k2 or (k1, k2) in seen:
            errs.append(f"pair ({k1}, {k2}) unordered or repeated")
        seen.add((k1, k2))
        exact = inputs.jaccard(docs.texts[k1], docs.texts[k2])
        if abs(j - exact) > 1e-12 or j < 0.5:
            errs.append(f"pair ({k1}, {k2}): jaccard {j} vs recomputed {exact}")
        if len(errs) > 20:
            break
    recall = len(seen & docs.planted) / len(docs.planted) if docs.planted else 1.0
    if recall < RECALL_MIN:
        errs.append(f"planted-pair recall {recall:.4f} < {RECALL_MIN}")
    return errs, recall
