"""The benchmark's workloads: seeded inputs, one closed-loop client each,
output checks, and the traced per-layer measurements.

Every call into the engine goes through its public entry points; the
spans are recorded here, around those calls (see measure.Tracer).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from wallaby2caom2_spark import datagen, oracle
from wallaby2caom2_spark.functions import audio, scrub, textscore
from wallaby2caom2_spark.observe import StageMetricsAudit
from wallaby2caom2_spark.operators import fused_stage
from wallaby2caom2_spark.operators.partitioning import with_bucket
from wallaby2caom2_spark.plans.pipeline import RESULT_COLUMNS, quality_filter
from wallaby2caom2_spark.plans.runner import run_resumable
from wallaby2caom2_spark.sources import snapshot_table
from wallaby2caom2_spark.sources.clips import read_clips
from wallaby2caom2_spark.streaming.upsert_stream import upsert_batch

from measure import Tracer, median, tail

# Relative tolerances for the float fields of a result row, fixed from
# their dtype before any run: lang_conf is float32 on the Spark side,
# the others float64. Every other field must match exactly.
FLOAT_TOL = {
    "lang_conf": 1e-6,
    "ppl": 1e-9,
    "rms": 1e-9,
    "clip_rate": 1e-9,
    "dropout_ms": 1e-9,
}

# Seeds the repository's tests and golden files use; workload inputs
# never reuse them.
_RESERVED_SEEDS = {7, 42, 99}


def input_seed(workload: str, seed: int) -> int:
    """The generator seed for ``workload`` under the run's ``--seed``:
    deterministic, distinct per workload, never a reserved seed."""
    h = hashlib.sha256(f"{workload}:{seed}".encode()).digest()
    s = int.from_bytes(h[:4], "big")
    return s + 1000 if s in _RESERVED_SEEDS else s


def mismatched_fields(got: dict, want: dict) -> list[str]:
    bad = []
    for c in RESULT_COLUMNS:
        g, w = got.get(c), want.get(c)
        if c in FLOAT_TOL and g is not None and w is not None:
            if not math.isclose(float(g), float(w), rel_tol=FLOAT_TOL[c], abs_tol=1e-12):
                bad.append(c)
        elif g != w:
            bad.append(c)
    return bad


def force_all(df) -> None:
    """Evaluate every column of ``df`` (a bare count lets the optimizer
    prune projections it does not need)."""
    aggs = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.StringType, T.BinaryType)):
            aggs.append(F.sum(F.length(f.name)))
        else:
            aggs.append(F.sum(F.col(f.name).cast("double")))
    df.agg(*aggs).collect()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith(".")
    )


def dir_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if not f.startswith(".")
    )


def parquet_rows(path: str) -> list[dict]:
    return pq.read_table(path, schema=datagen.SCHEMA).to_pylist()


class Counter:
    """Operations attempted and failed, with the first few failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{what}: {'; '.join(problems[:5])}")


def compare_rows(got: list[dict], want: dict[str, dict]) -> list[str]:
    """Problems found comparing result rows with the expected rows keyed
    by clip_id (missing, extra, duplicated or differing rows)."""
    problems = []
    seen: set[str] = set()
    for r in got:
        cid = r["clip_id"]
        if cid in seen:
            problems.append(f"{cid} returned twice")
        seen.add(cid)
        if cid not in want:
            problems.append(f"{cid} not expected")
            continue
        bad = mismatched_fields(r, want[cid])
        if bad:
            problems.append(f"{cid} differs in {bad}")
    missing = set(want) - seen
    if missing:
        problems.append(f"{len(missing)} expected rows missing")
    return problems


def filter_layers(spark, path: str, n_clips: int, tracer: Tracer, reps: int = 3) -> dict:
    """Prefix differences along the quality-filter plan over the clips at
    ``path``: the scan alone, then through the fused stage, then the
    codegen cascade, then the salted exchange. Each prefix runs ``reps``
    times, interleaved, and each difference is taken between medians."""
    t: dict[str, list[float]] = {"scan": [], "fused": [], "pipeline": [], "exchange": []}
    shuffle, spill = [], []
    for _ in range(reps):
        with tracer.span("sources.clips.read_clips") as s:
            force_all(read_clips(spark, path))
        t["scan"].append(s.seconds)
        with tracer.span("operators.fused_stage.with_fused_features") as s:
            force_all(read_clips(spark, path).transform(fused_stage.with_fused_features))
        t["fused"].append(s.seconds)
        with tracer.span("plans.pipeline.quality_filter.no_exchange") as s:
            force_all(quality_filter(read_clips(spark, path), repartition=False))
        t["pipeline"].append(s.seconds)
        with StageMetricsAudit(spark) as audit, tracer.span("plans.pipeline.quality_filter") as s:
            force_all(quality_filter(read_clips(spark, path), repartition=True))
        t["exchange"].append(s.seconds)
        shuffle.append(audit.totals["shuffle_write_bytes"])
        spill.append(audit.totals["disk_spill_bytes"])
    m = {k: median(v) for k, v in t.items()}
    return {
        "scan_s": m["scan"],
        "scan_bytes": dir_bytes(path),
        "fused_stage_s": m["fused"],
        "cascade_s": m["pipeline"] - m["fused"],
        "pipeline_s": m["pipeline"],
        "exchange_s": m["exchange"] - m["pipeline"],
        "shuffle_write_bytes_per_clip": median(shuffle) / n_clips,
        "spill_bytes": median(spill),
    }


def kernel_us_per_clip(path: str, tracer: Tracer) -> dict:
    """In-process time of each Python kernel over the same Arrow batches
    the fused stage receives (256 rows, the session's Arrow batch size)."""
    totals = {"decode": 0.0, "textscore": 0.0, "scrub": 0.0}
    n = 0
    for name in sorted(os.listdir(path)):
        pf = pq.ParquetFile(os.path.join(path, name))
        for batch in pf.iter_batches(batch_size=256):
            payloads = batch.column("bytes").to_pylist()
            codecs = batch.column("codec").to_pylist()
            srs = batch.column("sr_hz").to_pylist()
            texts = batch.column("transcript").to_pylist()
            with tracer.span("functions.audio.decode_features") as s:
                for p, c, sr in zip(payloads, codecs, srs):
                    audio.decode_features(p, c, int(sr or 0))
            totals["decode"] += s.seconds
            with tracer.span("functions.textscore.score_batch") as s:
                textscore.score_batch(texts)
            totals["textscore"] += s.seconds
            with tracer.span("functions.scrub.scrub_batch") as s:
                scrub.scrub_batch(texts)
            totals["scrub"] += s.seconds
            n += batch.num_rows
    return {k: v / n * 1e6 for k, v in totals.items()}


def _med(xs: list[float]) -> float:
    return median(xs) if xs else 0.0


def pipeline_layers(samples: dict, kernels: dict, n_clips: int, cpus: int) -> dict:
    """Per-layer medians of the quality-filter plan, from the samples of
    ``filter_layers`` and one ``kernel_us_per_clip`` pass. The Arrow
    crossing is what the fused stage costs beyond the scan and the
    kernels' own time spread over the cores."""
    L = {k: _med(v) for k, v in samples.items()}
    kernel_s = sum(kernels.values()) * n_clips / 1e6 / cpus
    return {
        "scan_s": L["scan_s"],
        "scan_bytes": L["scan_bytes"],
        "fused_stage_s": L["fused_stage_s"],
        "arrow_xfer_s": L["fused_stage_s"] - L["scan_s"] - kernel_s,
        "decode_us_per_clip": kernels["decode"],
        "textscore_us_per_clip": kernels["textscore"],
        "scrub_us_per_clip": kernels["scrub"],
        "cascade_s": L["cascade_s"],
        "exchange_s": L["exchange_s"],
        "shuffle_write_bytes_per_clip": L["shuffle_write_bytes_per_clip"],
        "spill_bytes": L["spill_bytes"],
    }


class FilterWorkload:
    """A closed loop of batch jobs: ``run_resumable`` over the whole
    generated corpus into a fresh output directory, checked after each
    job against the oracle labels.

    The corpus is the ``default`` profile (~46 KB of audio per clip), so
    decode, the scan and the Arrow crossing carry the fused stage. One
    wave per job: each extra wave re-scans the corpus and pays the sink's
    fixed jobs again, which would bury the per-clip work this workload
    exists to expose."""

    min_steps = 3  # a run's median is over at least three jobs
    min_traced_steps = 1  # a traced step already runs four jobs
    profile = "default"
    n_clips = 2000
    rows_per_file = 500
    N_BUCKETS = 8
    N_WAVES = 1

    def __init__(self):
        self.op_s: list[float] = []
        self.untraced_op_s: list[float] = []
        self.layer_samples: dict[str, list[float]] = {}
        self.wave_s: list[float] = []
        self.files_written: list[int] = []
        self.kernels: dict | None = None

    def generate(self, path: str, seed: int, workers: int) -> None:
        datagen.write_clips_parquet(
            path, self.n_clips, seed=seed, rows_per_file=self.rows_per_file,
            profile=self.profile, workers=workers,
        )

    def prepare(self, run) -> None:
        self.run = run
        self.corpus = run.corpus
        self.want = {r["clip_id"]: r for r in oracle.label_rows(parquet_rows(self.corpus))}

    def warmup(self) -> None:
        # the first job pays the cold start; the next two still run
        # measurably slower than later ones while the JIT settles
        for _ in range(3):
            self._job(self.run.tracer, record=False)

    def step(self, traced: bool) -> None:
        run = self.run
        if not traced:
            self.op_s.append(self._job(run.tracer))
            return
        if self.kernels is None:
            self.kernels = kernel_us_per_clip(self.corpus, run.tracer)
        layers = filter_layers(run.spark, self.corpus, self.n_clips, run.tracer)
        # jobs with spans on and off, in ABBA order: the difference of
        # their medians is the tracing overhead
        off = Tracer(run.tracer.run_id, enabled=False)
        for tracer in (run.tracer, off, off, run.tracer):
            dt = self._job(tracer)
            (self.op_s if tracer.enabled else self.untraced_op_s).append(dt)
        layers["sink_s"] = median(self.op_s[-2:]) - layers["pipeline_s"]
        for k, v in layers.items():
            self.layer_samples.setdefault(k, []).append(v)

    def _job(self, tracer: Tracer, record: bool = True) -> float:
        """One checked ``run_resumable``; returns its wall seconds."""
        run = self.run
        out = os.path.join(run.work, "out")
        shutil.rmtree(out, ignore_errors=True)
        wall0 = time.time()
        with tracer.span("plans.runner.run_resumable") as s:
            run_resumable(
                run.spark, self.corpus, out,
                n_buckets=self.N_BUCKETS, n_waves=self.N_WAVES,
            )
        self._check(out, wall0, record)
        shutil.rmtree(out, ignore_errors=True)
        return s.seconds

    def _check(self, out: str, wall0: float, record: bool) -> None:
        spark = self.run.spark
        got = [
            r.asDict()
            for r in spark.read.parquet(os.path.join(out, "results"))
            .select(*RESULT_COLUMNS).collect()
        ]
        problems = compare_rows(got, self.want)
        lineage = spark.read.parquet(os.path.join(out, "lineage")).collect()
        buckets = [int(r["bucket"]) for r in lineage]
        if sorted(buckets) != list(range(self.N_BUCKETS)):
            problems.append(f"lineage buckets {sorted(buckets)}")
        if sum(int(r["clips"]) for r in lineage) != self.n_clips:
            problems.append("lineage counts do not sum to the corpus size")
        with open(os.path.join(out, "checkpoint.json")) as fh:
            if sorted(json.load(fh).get("done", [])) != list(range(self.N_BUCKETS)):
                problems.append("checkpoint does not list every bucket done")
        self.run.counter.record("run_resumable", problems)
        if not record:
            return
        # wave durations from the lineage sink's own per-wave timestamps
        wave_end: dict[int, float] = {}
        for r in lineage:
            wave_end[int(r["wave"])] = max(wave_end.get(int(r["wave"]), 0.0), float(r["ts"]))
        ends = [wave_end[w] for w in sorted(wave_end)]
        self.wave_s.extend(b - a for a, b in zip([wall0] + ends, ends))
        self.files_written.append(dir_files(out))

    def report(self) -> dict:
        return {
            "clips_per_s": {"value": self.n_clips / median(self.op_s), "unit": "clips/s"},
        }

    def layers(self) -> dict:
        return {
            **pipeline_layers(self.layer_samples, self.kernels, self.n_clips, self.run.cpus),
            "sink_s": _med(self.layer_samples.get("sink_s", [])),
            "wave_s_p50": _med(self.wave_s),
            "files_written": _med(self.files_written),
            "trace_overhead_s": _med(self.op_s) - _med(self.untraced_op_s),
        }

    def finish(self) -> None:
        pass


# Where-clause shapes for the pruned reads: conjunctions of range
# comparisons and IN lists over the result columns, the way callers write
# them. The bounds follow the text_heavy corpus (50-150 ms clips).
def _w_dur(rng: random.Random) -> str:
    lo = rng.randrange(0, 180, 5)
    return f"dur_ms_meas >= {lo} AND dur_ms_meas < {lo + rng.randrange(10, 120, 5)}"


def _w_ppl(rng: random.Random) -> str:
    return f"ppl < {rng.uniform(500.0, 20000.0):.1f}"


def _w_rms(rng: random.Random) -> str:
    return f"rms > {rng.uniform(0.0, 0.3):.4f}"


def _w_lang(rng: random.Random) -> str:
    langs = rng.sample(["en", "fr", "de", "es", "it", "und"], rng.randint(1, 3))
    return "lang IN (" + ", ".join(f"'{x}'" for x in langs) + ")"


def _w_sr(rng: random.Random) -> str:
    srs = rng.sample([8000, 16000, 22050], rng.randint(1, 2))
    return "sr_meas IN (" + ", ".join(str(x) for x in srs) + ")"


def _w_edits(rng: random.Random) -> str:
    return f"scrub_edits >= {rng.randint(0, 2)}"


def _w_clip_id(rng: random.Random) -> str:
    lo = rng.randrange(0, 3000)
    return f"clip_id >= 'clip_{lo:010d}' AND clip_id < 'clip_{lo + rng.randrange(50, 800):010d}'"


WHERE_SHAPES = (_w_dur, _w_ppl, _w_rms, _w_lang, _w_sr, _w_edits, _w_clip_id)


def where_clause(rng: random.Random) -> str:
    return " AND ".join(f(rng) for f in rng.sample(WHERE_SHAPES, rng.randint(1, 3)))


class UpsertLookupWorkload:
    """A closed loop over a merge-on-read snapshot table, one client
    issuing the operations of SCHEDULE in turn: upserts of 64-clip
    micro-batches (each followed by ``compact(min_deltas=4)``, which
    rewrites the delta'd buckets every fourth batch), a point lookup of
    known keys, and a pruned read with a seeded ``where``.

    A step is one whole round of SCHEDULE. Its four upserts span one
    compaction cycle, so every run times whole cycles, whatever the
    host's speed, and the upsert median is over four samples or more."""

    profile = "text_heavy"
    N_INITIAL = 1000
    # few buckets: every commit and compaction still touches several, and
    # a client fits enough operations into a run for a stable median
    N_BUCKETS = 4
    BATCH = 64
    REDELIVER = 16  # keys per batch that were delivered before
    MIN_DELTAS = 4  # compact(min_deltas=4) after every batch
    LOOKUP_KEYS = 8
    # the client's operations, in order, round after round
    SCHEDULE = ("upsert", "upsert", "lookup", "upsert", "upsert", "pruned_read")
    min_steps = 1
    min_traced_steps = 1
    # traced upserts that also run the plan's prefixes (filter_layers),
    # each with an untraced twin for the tracing overhead
    LAYER_UPSERTS = 2

    def __init__(self):
        self.upsert_s: list[float] = []
        self.upsert_batch_s: list[float] = []
        self.lookup_s: list[float] = []
        self.pruned_s: list[float] = []
        self.layer_samples: dict[str, list[float]] = {}
        self.untraced_upsert_s: list[float] = []
        self.compactions = 0
        self.delta_depth_max = 0
        self.n_batches = 0
        self.kernels: dict | None = None

    def generate(self, path: str, seed: int, workers: int) -> None:
        datagen.write_clips_parquet(
            path, self.N_INITIAL, seed=seed, rows_per_file=250,
            profile=self.profile, workers=workers,
        )

    def prepare(self, run) -> None:
        self.run = run
        self.rng = random.Random(run.input_seed)
        self.table = os.path.join(run.work, "table")
        self.batches = os.path.join(run.work, "batches")
        os.makedirs(self.batches, exist_ok=True)
        self.next_new = self.N_INITIAL
        self.next_content = 0
        self.want: dict[str, dict] = {}
        self.keys: list[str] = []

    def _deliver(self, path: str) -> tuple[float, float]:
        """Upsert the clips at ``path``, then compact when due; returns the
        seconds of the upsert alone and the wall seconds the client waited."""
        run = self.run
        rows = parquet_rows(path)
        with run.tracer.span("op.upsert") as op:
            with run.tracer.span("streaming.upsert_stream.upsert_batch") as up:
                upsert_batch(
                    run.spark, read_clips(run.spark, path), self.table,
                    n_buckets=self.N_BUCKETS, write_mode="mor",
                )
            self.n_batches += 1
            m = snapshot_table.read_manifest(self.table)
            depth = max((len(v) for v in m.get("deltas", {}).values()), default=0)
            self.delta_depth_max = max(self.delta_depth_max, depth)
            with run.tracer.span("sources.snapshot_table.compact") as c:
                res = snapshot_table.compact(
                    run.spark, self.table, min_deltas=self.MIN_DELTAS
                )
            if res["rewritten_buckets"]:
                self.compactions += 1
                self.layer_samples.setdefault("compact_s", []).append(c.seconds)
        for label in oracle.label_rows(rows):
            if label["clip_id"] not in self.want:
                self.keys.append(label["clip_id"])
            self.want[label["clip_id"]] = label
        return up.seconds, op.seconds

    def warmup(self) -> None:
        # the bootstrap batch creates the table; one untimed round then
        # runs every kind of operation and ends on a compaction, so the
        # timed rounds start from compacted buckets
        self._deliver(self.run.corpus)
        self.step(traced=False, record=False)

    def _next_batch(self) -> str:
        """Seeded batch: fresh keys plus re-deliveries of known keys that
        carry new content (a re-crawl), so latest-wins is observable."""
        n_new = self.BATCH - self.REDELIVER
        fresh = list(datagen.generate_rows(
            n_new, seed=self.run.input_seed, start=self.next_new, profile=self.profile,
        ))
        self.next_new += n_new
        content = list(datagen.generate_rows(
            self.REDELIVER, seed=self.run.input_seed + 1,
            start=self.next_content, profile=self.profile,
        ))
        self.next_content += self.REDELIVER
        for row, key in zip(content, self.rng.sample(self.keys, self.REDELIVER)):
            row["clip_id"] = key
        path = os.path.join(self.batches, f"b{self.n_batches:05d}")
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(fresh + content, schema=datagen.SCHEMA),
            os.path.join(path, "part-00000.parquet"),
        )
        return path

    def step(self, traced: bool, record: bool = True) -> None:
        """One round of the client's schedule."""
        for op in self.SCHEDULE:
            getattr(self, "_" + op)(traced, record)

    def _upsert(self, traced: bool, record: bool) -> None:
        run = self.run
        path = self._next_batch()
        layered = traced and len(self.untraced_upsert_s) < self.LAYER_UPSERTS
        if layered:
            if self.kernels is None:
                self.kernels = kernel_us_per_clip(path, run.tracer)
            L = filter_layers(run.spark, path, self.BATCH, run.tracer)
            L["upsert_pipeline_s"] = L["pipeline_s"]
        batch_s, dt = self._deliver(path)
        if record:
            self.upsert_batch_s.append(batch_s)
            self.upsert_s.append(dt)
        if layered:
            L["merge_s"] = batch_s - L["pipeline_s"]
            for k, v in L.items():
                self.layer_samples.setdefault(k, []).append(v)
            # one more batch with spans off: the difference of the upsert
            # medians is the tracing overhead
            saved = run.tracer
            run.tracer = Tracer(saved.run_id, enabled=False)
            try:
                self.untraced_upsert_s.append(self._deliver(self._next_batch())[0])
            finally:
                run.tracer = saved

    def _lookup(self, traced: bool, record: bool) -> None:
        run = self.run
        keys = self.rng.sample(self.keys, self.LOOKUP_KEYS)
        with run.tracer.span("sources.snapshot_table.read_table_by_keys") as s:
            got = snapshot_table.read_table_by_keys(run.spark, self.table, keys).collect()
        if record:
            self.lookup_s.append(s.seconds)
        run.counter.record(
            f"lookup {keys[:2]}...",
            compare_rows([r.asDict() for r in got], {k: self.want[k] for k in keys}),
        )
        if traced:
            kdf = run.spark.createDataFrame([(k,) for k in keys], "clip_id string")
            n = with_bucket(kdf, self.N_BUCKETS).select("bucket").distinct().count()
            self.layer_samples.setdefault("lookup_buckets_scanned", []).append(n)

    def _pruned_read(self, traced: bool, record: bool) -> None:
        run = self.run
        where = where_clause(self.rng)
        with run.tracer.span("sources.snapshot_table.read_table.where") as s:
            got = snapshot_table.read_table(run.spark, self.table, where=where).collect()
        if record:
            self.pruned_s.append(s.seconds)
        full = snapshot_table.read_table(run.spark, self.table).filter(F.expr(where)).collect()
        want = {r["clip_id"]: r.asDict() for r in full}
        problems = compare_rows([r.asDict() for r in got], want)
        if len(full) != len(want):
            problems.append("unfiltered read returned duplicate keys")
        run.counter.record(f"pruned read [{where}]", problems)
        if traced:
            m = snapshot_table.read_manifest(self.table)
            live = set(m["buckets"]) | set(m.get("deltas", {}))
            kept = snapshot_table.prune_buckets(m, where)
            ratio = 0.0 if kept is None or not live else 1 - len(kept) / len(live)
            self.layer_samples.setdefault("pruned_bucket_ratio", []).append(ratio)

    def check_table(self) -> None:
        got = snapshot_table.read_table(self.run.spark, self.table).collect()
        self.run.counter.record(
            "final table vs latest-wins", compare_rows([r.asDict() for r in got], self.want)
        )

    def finish(self) -> None:
        """Whole-table check, then space amplification against the same
        live rows written once by ``create_table``."""
        run = self.run
        self.check_table()
        m = snapshot_table.read_manifest(self.table)
        rels = list(m["buckets"].values()) + [
            rel for lst in m.get("deltas", {}).values() for _, rel in lst
        ]
        self.referenced = sum(dir_bytes(os.path.join(self.table, r)) for r in rels)
        once = os.path.join(run.work, "table-once")
        shutil.rmtree(once, ignore_errors=True)
        live = snapshot_table.read_table(run.spark, self.table).drop("bucket")
        snapshot_table.create_table(run.spark, once, live, n_buckets=self.N_BUCKETS)
        self.once_bytes = dir_bytes(os.path.join(once, "data"))
        self.written = dir_bytes(os.path.join(self.table, "data"))
        self.files = dir_files(os.path.join(self.table, "data"))

    def report(self) -> dict:
        up, lk = tail(self.upsert_s), tail(self.lookup_s)
        # merge throughput; the compaction every few batches is left to
        # upsert_s_tail, so a window's count of compactions cannot swing it
        clips_per_s = self.BATCH / median(self.upsert_batch_s)
        return {
            "clips_per_s": {"value": clips_per_s, "unit": "clips/s"},
            "upsert_s_p50": {"value": median(self.upsert_s), "unit": "s"},
            "upsert_s_tail": {"value": up["value"], "unit": "s",
                              "percentile": up["percentile"], "samples": up["samples"]},
            "upsert_clips_per_s": {"value": clips_per_s, "unit": "clips/s"},
            "lookup_s_p50": {"value": median(self.lookup_s), "unit": "s"},
            "lookup_s_tail": {"value": lk["value"], "unit": "s",
                              "percentile": lk["percentile"], "samples": lk["samples"]},
            "pruned_read_s_p50": {"value": median(self.pruned_s), "unit": "s"},
            "space_amp": {"value": self.referenced / self.once_bytes, "unit": "ratio"},
        }

    def layers(self) -> dict:
        L = {k: _med(v) for k, v in self.layer_samples.items()}
        return {
            **pipeline_layers(self.layer_samples, self.kernels, self.BATCH, self.run.cpus),
            "files_written": self.files,
            "upsert_pipeline_s": L["upsert_pipeline_s"],
            "merge_s": L["merge_s"],
            "compact_s": _med(self.layer_samples.get("compact_s", [])),
            "compactions": self.compactions,
            "delta_depth_max": self.delta_depth_max,
            "write_amp": self.written / self.once_bytes,
            "lookup_buckets_scanned": L["lookup_buckets_scanned"],
            "pruned_bucket_ratio": L["pruned_bucket_ratio"],
            "trace_overhead_s": _med(self.upsert_batch_s) - _med(self.untraced_upsert_s),
        }


WORKLOADS = {"filter_decode": FilterWorkload, "upsert_lookup": UpsertLookupWorkload}
