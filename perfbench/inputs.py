"""Seeded benchmark inputs, cached on disk by (seed, size).

Every input is a pure function of the seed and the size, so a cached copy
is reused instead of regenerated; generation never counts towards a timed
metric. The program under test only ever sees the written Parquet files.

- clips: a bytes-free clips table from ``tests/fixtures/clips_gen.make_clips``
  (one base table of ``rows_per_part`` rows, tiled into ``n_parts``
  hive partitions with distinct ``clip_id`` suffixes, as bench.py tiles
  its scaling table) plus the generator's golden decisions.
- docs: a word-salad documents table built by the recipe of
  ``tools/gen_scaled_testdata.py`` (i.i.d. words from the sf0.1 unigram
  mix, lengths from the sf0.1 length range, the sf0.1 language mix) with
  the empirical distributions written out below, so no testdata directory
  is read. Every ``en`` document gets a planted mutant, the text cut by
  eight characters under ``doc_id + 1_000_000``, as in the engine's
  ``dedup_minhash_lsh`` check key.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MUTANT_OFFSET = 1_000_000
SHINGLE_N = 5

#: sf0.1 documents: word counts of the 31-token vocabulary, words per
#: document (uniform 10..100) and the language mix
_DOC_WORDS = {
    "spark": 9182, "window": 9159, "merge": 9157, "table": 9144, "column": 9127,
    "vector": 9119, "stream": 9117, "value": 9112, "data": 9104, "small": 9100,
    "join": 9080, "filter": 9063, "big": 9057, "group": 9040, "hash": 9024,
    "customer": 9017, "sort": 9005, "order": 8971, "slow": 8960, "line": 8951,
    "part": 8929, "fast": 8926, "row": 8925, "the": 8925, "agg": 8912,
    "key": 8893, "query": 8881, "a": 8877, "scan": 8863, "batch": 8829, "dup": 255,
}
_DOC_LEN = (10, 100)
_DOC_LANGS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}

_CLIPS_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)
_GOLDEN_COLS = ("keep", "label_a", "label_b", "label_c")


def _publish(tmp: str, final: str) -> None:
    """Move a fully written directory into place (a crash leaves only tmp)."""
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


@dataclass
class Clips:
    root: str  # hive-partitioned table: root/part_id=K/data.parquet
    n_parts: int
    rows_per_part: int
    golden: dict[str, np.ndarray]  # indexed by the base row number
    transcripts: list[str]  # base rows, for the single-core kernel timings

    @property
    def n_rows(self) -> int:
        return self.rows_per_part * self.n_parts

    def part_dir(self, part_id: int) -> str:
        return os.path.join(self.root, f"part_id={part_id}")


def clip_suffix(part_id: int) -> str:
    return f"_p{part_id:02d}"


def clips(cache: str, seed: int, n_parts: int, rows_per_part: int) -> Clips:
    d = os.path.join(cache, f"clips-s{seed}-r{rows_per_part}x{n_parts}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        from tests.fixtures.clips_gen import make_clips

        base, golden = make_clips(
            n_rows=rows_per_part, rows_per_part=rows_per_part, seed=seed, with_audio=False
        )
        base = base.drop(columns=["part_id"])
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        for p in range(n_parts):
            part = base.assign(clip_id=base["clip_id"] + clip_suffix(p))
            os.makedirs(os.path.join(tmp, "table", f"part_id={p}"))
            pq.write_table(
                pa.Table.from_pandas(part, preserve_index=False).cast(_CLIPS_SCHEMA),
                os.path.join(tmp, "table", f"part_id={p}", "data.parquet"),
            )
        pq.write_table(
            pa.Table.from_pandas(
                golden[["clip_id", *_GOLDEN_COLS]].assign(transcript=base["transcript"]),
                preserve_index=False,
            ),
            os.path.join(tmp, "golden.parquet"),
        )
        open(os.path.join(tmp, "_DONE"), "w").close()
        _publish(tmp, d)
    g = pq.read_table(os.path.join(d, "golden.parquet"))
    # base row i is clip_{i:012d}; the golden file is in row order
    golden = {c: g.column(c).to_numpy(zero_copy_only=False) for c in _GOLDEN_COLS}
    return Clips(
        root=os.path.join(d, "table"),
        n_parts=n_parts,
        rows_per_part=rows_per_part,
        golden=golden,
        transcripts=g.column("transcript").to_pylist(),
    )


def shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    """Distinct character n-grams (code points, spaces included)."""
    return {text[i : i + n] for i in range(len(text) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


@dataclass
class Docs:
    path: str  # one Parquet file: doc_id, text, lang, source, n_chars
    texts: dict[int, str]
    #: planted (doc, mutant) pairs whose exact Jaccard is >= 0.5
    planted: set[tuple[int, int]]

    @property
    def n_rows(self) -> int:
        return len(self.texts)


def docs(cache: str, seed: int, n_docs: int) -> Docs:
    d = os.path.join(cache, f"docs-s{seed}-n{n_docs}")
    path = os.path.join(d, "documents.parquet")
    if not os.path.exists(os.path.join(d, "_DONE")):
        rng = np.random.default_rng(seed)
        words = np.array(list(_DOC_WORDS))
        wp = np.array(list(_DOC_WORDS.values()), dtype=np.float64)
        lens = rng.integers(_DOC_LEN[0], _DOC_LEN[1] + 1, size=n_docs)
        flat = rng.choice(words, size=int(lens.sum()), p=wp / wp.sum())
        bounds = np.concatenate(([0], np.cumsum(lens)))
        texts = [" ".join(flat[bounds[i] : bounds[i + 1]]) for i in range(n_docs)]
        langs = np.array(list(_DOC_LANGS))
        lp = np.array(list(_DOC_LANGS.values()), dtype=np.float64)
        lang = rng.choice(langs, size=n_docs, p=lp / lp.sum())
        source = np.char.add("src", rng.integers(0, 20, size=n_docs).astype(str))
        en = np.nonzero(lang == "en")[0]
        ids = np.concatenate([np.arange(n_docs), en + MUTANT_OFFSET]).astype(np.int64)
        all_texts = texts + [texts[i][: max(len(texts[i]) - 8, 1)] for i in en]
        tbl = pa.table(
            {
                "doc_id": ids,
                "text": all_texts,
                "lang": np.concatenate([lang, lang[en]]),
                "source": np.concatenate([source, source[en]]),
                "n_chars": np.array([len(t) for t in all_texts], dtype=np.int64),
            }
        )
        planted = [
            [int(i), int(i) + MUTANT_OFFSET]
            for k, i in enumerate(en)
            if jaccard(texts[i], all_texts[n_docs + k]) >= 0.5
        ]
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        pq.write_table(tbl, os.path.join(tmp, "documents.parquet"))
        with open(os.path.join(tmp, "planted.json"), "w") as f:
            json.dump(planted, f)
        open(os.path.join(tmp, "_DONE"), "w").close()
        _publish(tmp, d)
    t = pq.read_table(path, columns=["doc_id", "text"])
    with open(os.path.join(d, "planted.json")) as f:
        planted = {(a, b) for a, b in json.load(f)}
    return Docs(
        path=path,
        texts=dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist(), strict=True)),
        planted=planted,
    )
