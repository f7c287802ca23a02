"""The benchmark's workloads. Each one prepares its seeded input, warms the
session up on a small slice of it, runs passes (one pass processes the
whole input once) and checks every job call's output.

A job call is one call a user of the engine makes and waits for:
``run_clips_pipeline`` for the clips workloads, ``minhash_lsh_pairs`` plus
consuming its result for ``docs_dedup``. Calls run in a closed loop with
one client: each starts when the previous one has returned.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

import inputs
import tracing
import verify
from multi_task_offensive_language_detection_spark.artifacts_build import build_all
from multi_task_offensive_language_detection_spark.functions.scrub import scrub_pii
from multi_task_offensive_language_detection_spark.lexicons import THRESHOLDS
from multi_task_offensive_language_detection_spark.operators import dedup, scoring
from multi_task_offensive_language_detection_spark.operators.langid import LangidModel
from multi_task_offensive_language_detection_spark.operators.perplexity import NgramLM
from multi_task_offensive_language_detection_spark.plans import pipeline
from multi_task_offensive_language_detection_spark.sources.clips import prune_to_parts, read_clips
from multi_task_offensive_language_detection_spark.sources.ledger import Ledger

#: the parameters of the ``dedup_minhash_lsh`` query key (checks.py)
DEDUP = {"n": 5, "num_hashes": 64, "bands": 8, "max_bucket_size": 1000}
VERIFY_THRESHOLD = 0.5
#: rows and batch size for the single-core kernel timings
KERNEL_ROWS = 50_000
KERNEL_BATCH = 10_000


@dataclass
class Run:
    """State of one benchmark run, shared by the workload and run.py."""

    spark: object
    art_dir: str
    work: str
    tracer: tracing.Tracer
    corrupt: bool = False
    calls: list[float] = field(default_factory=list)  # seconds per job call
    passes: list[float] = field(default_factory=list)  # seconds of job calls per pass
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    quality: list[float] = field(default_factory=list)
    #: traced-only per-call observations, by layer metric name
    samples: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))

    def call(self, group: str | None, fn):
        """One job call; returns (result or None if it raised, seconds)."""
        self.attempted += 1
        self.tracer.call += 1
        t0 = time.perf_counter()
        try:
            if group is None:
                res = fn()
            else:
                with self.tracer.group(group):
                    res = fn()
        except Exception:  # a failed call is counted, and the run goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            self.errors.append(f"call {self.attempted} raised")
            return None, 0.0
        dt = time.perf_counter() - t0
        self.calls.append(dt)
        return res, dt

    def check(self, fn) -> None:
        """Run one call's output checks; ``fn`` returns failure messages.
        Output the checks cannot even read fails them too."""
        try:
            errs = fn()
        except Exception as e:  # unreadable output is a failed check
            traceback.print_exc(file=sys.stderr)
            errs = [f"check raised {type(e).__name__}: {e}"]
        if errs:
            self.failed += 1
            self.errors.extend(errs)
            for e in errs:
                print(f"check failed: {e}", file=sys.stderr)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _data_files(path: str) -> int:
    return sum(
        1
        for _, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _arrive(clips: inputs.Clips, table: str, part_id: int, staging: str) -> None:
    """Make part ``part_id`` appear in ``table`` in one rename (hard links,
    so size and mtime and hence the part fingerprint are the input's)."""
    d = os.path.join(staging, f"part_id={part_id}")
    os.makedirs(d)
    src = clips.part_dir(part_id)
    for name in os.listdir(src):
        os.link(os.path.join(src, name), os.path.join(d, name))
    os.rename(d, os.path.join(table, f"part_id={part_id}"))


def _flip_one_keep(out_dir: str, part_id: int) -> None:
    """Fault injection for the self-test: negate ``keep`` of one committed row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(out_dir, f"part_id={part_id}")
    path = os.path.join(d, sorted(f for f in os.listdir(d) if f.endswith(".parquet"))[0])
    t = pq.read_table(path)
    keep = t.column("keep").to_pylist()
    keep[0] = not keep[0]
    i = t.schema.get_field_index("keep")
    pq.write_table(t.set_column(i, t.schema.field(i), pa.array(keep, pa.bool_())), path)


def kernel_us(art_dir: str, texts: list[str]) -> dict[str, float]:
    """Single-core microseconds per row of each scoring kernel, in the
    order the fused scoring UDF runs them, over ``texts`` in 10k-row
    batches (cycled up to KERNEL_ROWS rows)."""
    arts = build_all(art_dir)
    langid, lm = LangidModel.load(arts["langid"]), NgramLM.load(arts["lm"])
    lex = scoring.LexiconSignals()
    min_run = THRESHOLDS["rep_char_run_max"]
    rows = (texts * (KERNEL_ROWS // max(len(texts), 1) + 1))[:KERNEL_ROWS]
    acc: dict[str, float] = defaultdict(float)

    def step(raw: pd.Series, timed: bool) -> None:
        t = [time.perf_counter()]
        norm = scoring._normalize_batch(raw)
        t.append(time.perf_counter())
        langid.score_batch(norm)
        t.append(time.perf_counter())
        _, _, _, stream = lm.ppl_stats_batch(norm, return_stream=True)
        t.append(time.perf_counter())
        lex.score_stream(len(norm), *stream)
        t.append(time.perf_counter())
        scoring.char_stats_batch(list(raw), min_run)
        t.append(time.perf_counter())
        if timed:
            for k, name in enumerate(KERNELS):
                acc[name] += t[k + 1] - t[k]

    batches = [pd.Series(rows[i : i + KERNEL_BATCH]) for i in range(0, len(rows), KERNEL_BATCH)]
    step(batches[0], timed=False)
    for b in batches:
        step(b, timed=True)
    return {k: acc[k] / len(rows) * 1e6 for k in KERNELS}


KERNELS = (
    "operators.scoring.normalize_us",
    "operators.langid.score_batch_us",
    "operators.perplexity.ppl_stats_batch_us",
    "operators.scoring.lexicon_us",
    "operators.scoring.char_stats_us",
)


class ClipsFresh:
    """run_clips_pipeline over the whole table, all parts pending, with a
    fresh output and ledger on every call."""

    name = "clips_fresh"
    quality = "decision_f1_min"
    job_group = "plans.pipeline.job"

    def __init__(self, size: tuple[int, int]):
        self.n_parts, self.rows_per_part = size

    def prepare(self, cache: str, seed: int) -> None:
        self.clips = inputs.clips(cache, seed, self.n_parts, self.rows_per_part)
        self.rows_per_pass = self.clips.n_rows
        self.rows_per_call = self.clips.n_rows

    def _job(self, run: Run, table: str, out: str, ledger: str):
        return lambda: pipeline.run_clips_pipeline(
            run.spark, table, out, ledger, artifact_dir=run.art_dir
        )

    def warmup(self, run: Run) -> None:
        """One untimed call of the size a timed call has: plan code
        generation, JIT compilation and first-touch memory growth in the
        JVM and the Python workers otherwise land in the first timed pass
        (measured: ~35% slower than the passes after it)."""
        base = _fresh_dir(os.path.join(run.work, "warm"))
        self._job(run, self.clips.root, os.path.join(base, "out"), os.path.join(base, "ledger"))()

    def run_pass(self, run: Run) -> None:
        base = _fresh_dir(os.path.join(run.work, "fresh"))
        out, ledger = os.path.join(base, "out"), os.path.join(base, "ledger")
        s, dt = run.call(self.job_group, self._job(run, self.clips.root, out, ledger))
        if s is None:
            return
        run.passes.append(dt)
        if run.corrupt:
            _flip_one_keep(out, 0)
        run.check(lambda: self._check(run, s, out, ledger))
        if run.tracer.enabled:
            run.samples["plans.pipeline.files_written"].append(_data_files(out))
            run.samples["sources.ledger.entries"].append(len(Ledger(ledger).read_all()))

    def _check(self, run: Run, s: dict, out: str, ledger: str) -> list[str]:
        errs = []
        if (s["processed_parts"], s["skipped_parts"]) != (self.n_parts, 0):
            errs.append(f"processed {s['processed_parts']} skipped {s['skipped_parts']}")
        parts = []
        for p in range(self.n_parts):
            t, e = verify.committed_part(out, ledger, p, self.rows_per_part)
            parts.append(t)
            errs += e
        errs += verify.totals(s, parts)
        f1 = verify.decisions_f1(self.clips, parts)
        run.quality.append(min(f1.values()))
        return errs + verify.f1_errors(f1)

    def instrument(self, tr: tracing.Tracer) -> None:
        """Spans around the layer calls the job makes (traced runs only)."""
        tr.wrap(pipeline, "list_parts", "sources.clips.list_parts")
        tr.wrap(pipeline, "part_fingerprint", "sources.clips.part_fingerprint")
        tr.wrap(Ledger, "pending", "sources.ledger.pending")
        tr.wrap(Ledger, "commit", "sources.ledger.commit")

    def prefixes(self, run: Run, parts: list[int]) -> dict[str, float]:
        """Seconds to write each cumulative prefix of the job's plan to the
        noop sink: scan, + salted repartition, + PII scrub, + scoring."""
        sp = run.spark
        scan = prune_to_parts(read_clips(sp, self.clips.root), parts).select(
            "clip_id", "dur_ms", "transcript", "part_id"
        )
        salted = pipeline.salted_repartition(scan, sp.sparkContext.defaultParallelism * 2)
        frames = {
            "sources.clips.scan": scan,
            "plans.pipeline.salt": salted,
            "functions.scrub": salted.withColumn("_pii_scrubbed", scrub_pii(F.col("transcript"))),
            "plans.pipeline.score": pipeline.score_transcripts(
                salted, "transcript", build_all(run.art_dir), dur_ms_col="dur_ms"
            ).select(*pipeline.OUTPUT_COLS),
        }
        out = {}
        for group, df in frames.items():
            run.tracer.call += 1
            t0 = time.perf_counter()
            with run.tracer.group(group):
                df.write.format("noop").mode("overwrite").save()
            out[group] = time.perf_counter() - t0
        return out

    def probe_parts(self) -> list[int]:
        return list(range(self.n_parts))

    def probe(self, run: Run) -> dict[str, float]:
        tr = run.tracer
        t = self.prefixes(run, self.probe_parts())
        job = tracing.median(run.calls)
        m = {
            "sources.clips.scan_s": t["sources.clips.scan"],
            "plans.pipeline.salt_s": t["plans.pipeline.salt"] - t["sources.clips.scan"],
            "functions.scrub.scrub_pii_s": t["functions.scrub"] - t["plans.pipeline.salt"],
            "plans.pipeline.score_s": t["plans.pipeline.score"] - t["plans.pipeline.salt"],
            "plans.pipeline.write_commit_s": job - t["plans.pipeline.score"],
            "sources.clips.list_fingerprint_s": tracing.median(
                a + b
                for a, b in zip(
                    tr.per_call("sources.clips.list_parts"),
                    tr.per_call("sources.clips.part_fingerprint"),
                    strict=True,
                )
            ),
            "sources.ledger.pending_s": tracing.median(tr.per_call("sources.ledger.pending")),
            "sources.ledger.commit_s": tracing.median(tr.each("sources.ledger.commit")),
        }
        m.update(kernel_us(run.art_dir, self.clips.transcripts))
        return m


class ClipsIncremental(ClipsFresh):
    """Recurring ingestion: the parts of the clips table arrive one at a
    time and the job runs after each arrival against the growing table,
    keeping its output and ledger; each call must process exactly the new
    part. One pass is all arrivals; wall time is the sum of its calls."""

    name = "clips_incremental"

    def prepare(self, cache: str, seed: int) -> None:
        super().prepare(cache, seed)
        self.rows_per_call = self.rows_per_part

    def run_pass(self, run: Run) -> None:
        base = _fresh_dir(os.path.join(run.work, "incremental"))
        table = _fresh_dir(os.path.join(base, "table"))
        out, ledger = os.path.join(base, "out"), os.path.join(base, "ledger")
        wall, parts = 0.0, []
        for k in range(self.n_parts):
            _arrive(self.clips, table, k, base)
            s, dt = run.call(self.job_group, self._job(run, table, out, ledger))
            if s is None:
                return
            wall += dt
            if run.corrupt and k == 0:
                _flip_one_keep(out, 0)
            run.check(lambda: self._check_increment(run, s, k, out, ledger, parts))
            if run.tracer.enabled:
                run.samples["plans.pipeline.files_written"].append(
                    _data_files(os.path.join(out, f"part_id={k}"))
                )
        run.passes.append(wall)
        if run.tracer.enabled:
            run.samples["sources.ledger.entries"].append(len(Ledger(ledger).read_all()))

    def _check_increment(self, run, s, k, out, ledger, parts) -> list[str]:
        errs = []
        if (s["processed_parts"], s["skipped_parts"]) != (1, k):
            errs.append(f"increment {k}: processed {s['processed_parts']} skipped {s['skipped_parts']}")
        t, e = verify.committed_part(out, ledger, k, self.rows_per_part)
        parts.append(t)
        errs += e + verify.totals(s, parts)
        f1 = verify.decisions_f1(self.clips, [t])
        run.quality.append(min(f1.values()))
        return errs + verify.f1_errors(f1)

    def warmup(self, run: Run) -> None:
        base = _fresh_dir(os.path.join(run.work, "warm"))
        table = _fresh_dir(os.path.join(base, "table"))
        _arrive(self.clips, table, 0, base)
        self._job(run, table, os.path.join(base, "out"), os.path.join(base, "ledger"))()

    def probe_parts(self) -> list[int]:
        # the prefixes of one increment: the last part on its own
        return [self.n_parts - 1]


class DocsDedup:
    """minhash_lsh_pairs over a documents table with planted near-dups."""

    name = "docs_dedup"
    quality = "pair_recall"
    job_group = None  # the call sets its own groups, one per phase

    def __init__(self, n_docs: int):
        self.n_docs = n_docs

    def prepare(self, cache: str, seed: int) -> None:
        self.docs = inputs.docs(cache, seed, self.n_docs)
        self.rows_per_pass = self.rows_per_call = self.docs.n_rows

    def _pairs(self, df, threshold: float = VERIFY_THRESHOLD):
        return dedup.minhash_lsh_pairs(
            df, "doc_id", "text", verify_threshold=threshold, **DEDUP
        )

    def warmup(self, run: Run) -> None:
        self._pairs(run.spark.read.parquet(self.docs.path)).collect()

    def instrument(self, tr: tracing.Tracer) -> None:
        pass

    def _call(self, run: Run):
        tr = run.tracer
        # the call itself materializes the persisted LSH features
        with tr.group("operators.dedup.features"), tr.span("operators.dedup.features"):
            df = self._pairs(run.spark.read.parquet(self.docs.path))
        if tr.enabled:
            info = run.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            run.samples["operators.dedup.cached_mb"].append(
                sum(i.memSize() + i.diskSize() for i in info) / tracing.MB
            )
        with tr.group("operators.dedup.pairs"), tr.span("operators.dedup.pairs"):
            return [(r.k1, r.k2, r.jaccard) for r in df.collect()]

    def run_pass(self, run: Run) -> None:
        rows, dt = run.call(self.job_group, lambda: self._call(run))
        if rows is None:
            return
        run.passes.append(dt)
        if run.corrupt:
            rows[0] = (rows[0][0], rows[0][1], rows[0][2] + 0.01)
        run.check(lambda: self._check(run, rows))
        run.samples["operators.dedup.pairs"].append(len(rows))

    def _check(self, run: Run, rows) -> list[str]:
        errs, recall = verify.pairs(self.docs, rows)
        run.quality.append(recall)
        return errs

    def probe(self, run: Run) -> dict[str, float]:
        tr, sp = run.tracer, run.spark
        with tr.group("operators.dedup.candidates"):
            cand = self._pairs(sp.read.parquet(self.docs.path), threshold=0.0).count()
        with tr.group("operators.dedup.bucket_stats"):
            st = dedup.minhash_lsh_bucket_stats(
                sp.read.parquet(self.docs.path), "doc_id", "text", **DEDUP
            ).collect()[0]
        pairs = tracing.median(run.samples["operators.dedup.pairs"])
        m = {
            "operators.dedup.features_s": tracing.median(tr.each("operators.dedup.features")),
            "operators.dedup.pairs_s": tracing.median(tr.each("operators.dedup.pairs")),
            "operators.dedup.candidates": cand,
            "operators.dedup.pairs": pairs,
            "operators.dedup.verify_yield": pairs / cand if cand else 0.0,
            "operators.dedup.dropped_buckets": st["dropped_buckets"],
            "operators.dedup.largest_bucket": st["largest_bucket"],
            "operators.dedup.cached_mb": tracing.median(run.samples["operators.dedup.cached_mb"]),
        }
        m.update(kernel_us(run.art_dir, list(self.docs.texts.values())))
        return m
