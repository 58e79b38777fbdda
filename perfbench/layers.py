"""Per-layer probes for the traced run.

The Spark layers are timed as cumulative prefixes of the checkpointed job,
each ending in the ``noop`` sink: scan, + salt shuffle, + Arrow crossing (a
pandas UDF with ``extract``'s output type that returns a constant row), +
kernel (the real ``extract``), + sink (``run_extract_job``). Differences of
consecutive prefixes are the layer walls, so they add up to the job wall.

The kernel is also timed without Spark, on one core, per payload kind and,
for real PDFs, per stage from cProfile cumulative times.
"""

from __future__ import annotations

import cProfile
import contextlib
import glob
import importlib
import json
import pstats
import statistics
import time
from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F, types as T

from paddleocr_spark import kernel
from paddleocr_spark.config import DEFAULT_CONFIG

# the module, not the function that ``paddleocr_spark.operators`` re-exports
extract_mod = importlib.import_module("paddleocr_spark.operators.extract")

# real-PDF stages → the kernel functions whose cumulative time they take
PDF_REAL_STAGES = {
    "decrypt": ("_decrypt_document",),
    "objects": ("_content_resources", "_dict_matches", "media_box"),
    "filters": ("apply_stream_filters",),
    "interpret": ("_interpret",),
    "layout": ("xy_cut", "merge_fragments"),
}


def salt_prefix(df, cfg=DEFAULT_CONFIG):
    """The salt shuffle ``extract(salt=True)`` puts before its UDF."""
    n = df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartition(
        n, F.col("conv_id"), F.pmod(F.hash("turn_idx"), F.lit(cfg.salt_buckets))
    )


def _constant(dtype):
    if isinstance(dtype, T.StringType):
        return ""
    if isinstance(dtype, T.ArrayType):
        return []
    if isinstance(dtype, T.BooleanType):
        return False
    return 0


def _constant_udf_factory(real_factory):
    def make(cfg=DEFAULT_CONFIG):
        ret = real_factory(cfg).returnType
        row = {f.name: _constant(f.dataType) for f in ret.fields}

        @F.pandas_udf(ret)
        def crossing_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
            for texts in batches:
                yield pd.DataFrame({k: [v] * len(texts) for k, v in row.items()})

        return crossing_udf

    return make


@contextlib.contextmanager
def patched(module, name, value):
    old = getattr(module, name)
    setattr(module, name, value)
    try:
        yield
    finally:
        setattr(module, name, old)


def constant_crossing():
    """While active, ``extract`` builds its usual plan around a UDF that
    ships the payloads to Python and returns a constant row per turn."""
    return patched(
        extract_mod, "make_extract_udf", _constant_udf_factory(extract_mod.make_extract_udf)
    )


def _batches(texts, size=DEFAULT_CONFIG.arrow_max_records):
    """Batches of the size the UDF receives from Arrow."""
    return [texts[i : i + size] for i in range(0, len(texts), size)]


def kernel_us(texts_by_kind: dict, reps: int = 3):
    """Single-core kernel µs/turn per kind (median of ``reps`` passes) and
    the share of turns that come out with no spans. Also returns the
    kernel's answers as ``(batch, extract_batch result)`` pairs."""
    out = {}
    answers = []
    for kind, texts in texts_by_kind.items():
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            res = [kernel.extract_batch(b) for b in _batches(texts)]
            walls.append(time.perf_counter() - t0)
        n_spans = [n for r in res for n in r[3]]
        answers += zip(_batches(texts), res)
        out[f"kernel.{kind}_us"] = 1e6 * statistics.median(walls) / len(texts)
        out[f"kernel.empty_ratio.{kind}"] = sum(n == 0 for n in n_spans) / len(texts)
    return out, answers


def kernel_stages(texts_by_kind: dict) -> dict:
    """cProfile cumulative µs/turn of the real-PDF stages and of assembly."""
    def cumulative(stats, names):
        return sum(v[3] for (_, _, fn), v in stats.stats.items() if fn in names)

    out = {}
    assemble = 0.0
    for kind, texts in texts_by_kind.items():
        prof = cProfile.Profile()
        prof.enable()
        for b in _batches(texts):
            kernel.extract_batch(b)
        prof.disable()
        stats = pstats.Stats(prof)
        assemble += cumulative(stats, ("assemble_text",))
        if kind == "pdf_real":
            for stage, names in PDF_REAL_STAGES.items():
                out[f"kernel.pdf_real.{stage}_us"] = 1e6 * cumulative(stats, names) / len(texts)
    out["kernel.assemble_us"] = 1e6 * assemble / sum(map(len, texts_by_kind.values()))
    return out


def crossing_out_us(answers: list, reps: int = 3) -> float:
    """µs/turn to turn ``extract_batch`` results into the UDF's Arrow
    struct: the UDF body runs with the kernel's answers precomputed, and its
    frames are converted with the UDF's Arrow return type."""
    from pyspark.sql.pandas.types import to_arrow_type

    udf = extract_mod.make_extract_udf(DEFAULT_CONFIG)
    struct = to_arrow_type(udf.returnType)
    walls = []
    for _ in range(reps):
        it = iter(res for _, res in answers)
        with patched(extract_mod, "extract_batch", lambda texts, cfg: next(it)):
            t0 = time.perf_counter()
            for frame in udf.func(pd.Series(b) for b, _ in answers):
                pa.StructArray.from_arrays(
                    [pa.Array.from_pandas(frame[f.name], type=f.type) for f in struct],
                    fields=list(struct),
                )
            walls.append(time.perf_counter() - t0)
    return 1e6 * statistics.median(walls) / sum(len(b) for b, _ in answers)


class EventLog:
    """Task metrics from a Spark event log, grouped by job description."""

    def __init__(self, log_dir: str):
        self.tasks: dict = {}  # description → list of task-end events
        self.udf_stages: set = set()
        stage_desc: dict = {}
        for path in glob.glob(f"{log_dir}/*"):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        desc = (ev.get("Properties") or {}).get("spark.job.description")
                        for sid in ev["Stage IDs"]:
                            stage_desc[sid] = desc
                        for info in ev.get("Stage Infos", []):
                            if any("ArrowEvalPython" in (r.get("Scope") or "")
                                   for r in info.get("RDD Info", [])):
                                self.udf_stages.add(info["Stage ID"])
                    elif kind == "SparkListenerTaskEnd":
                        desc = stage_desc.get(ev["Stage ID"])
                        if desc is not None:
                            self.tasks.setdefault(desc, []).append(ev)

    def _per_run(self, layer: str, fn) -> float:
        vals = [fn(evs) for desc, evs in self.tasks.items() if desc.split("#")[0] == layer]
        return statistics.median(vals) if vals else float("nan")

    def metrics(self) -> dict:
        def metric(ev, *path):
            v = ev.get("Task Metrics") or {}
            for p in path:
                v = v.get(p, 0) if isinstance(v, dict) else 0
            return v

        def skew(evs):
            walls = [
                e["Task Info"]["Finish Time"] - e["Task Info"]["Launch Time"]
                for e in evs
                if e["Stage ID"] in self.udf_stages
            ]
            return max(walls) / statistics.median(walls) if walls else float("nan")

        return {
            "extract.shuffle_bytes": self._per_run(
                "extract",
                lambda evs: sum(metric(e, "Shuffle Write Metrics", "Shuffle Bytes Written") for e in evs),
            ),
            "extract.task_skew": self._per_run("extract", skew),
            "spark.tasks": self._per_run("job", len),
        }
