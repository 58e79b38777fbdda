"""Benchmark of the checkpointed extraction job.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 10 --trace 0

Generates the workload from the seed (untimed), starts Spark at
``local[nproc]`` and times calls into the package's public functions:
``sinks.checkpoint.run_extract_job`` into a fresh parquet checkpoint dir and
``operators.extract.extract`` into the ``noop`` sink, both over
``sources.read_transcripts``. Every output is checked (see check.py).

``--trace 0`` prints the end-to-end metrics. ``setup_s`` runs from process
start to the end of one untimed warm-up pass of the two calls the run then
times. ``--trace 1`` prints the per-layer metrics: a session
with the Spark event log on times the cumulative layer prefixes (layers.py),
untraced sessions before and after it time the job alone, and the kernel is
timed without Spark.

The last line of stdout is the result; the line before it holds the host
block and the raw samples. The exit code is 1 if any turn failed its check.
All files go to ``.perfbench_work/`` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pandas  # noqa: E402
import pyarrow  # noqa: E402
import pyspark  # noqa: E402
from pyspark.sql import Observation, functions as F  # noqa: E402

import paddleocr_spark  # noqa: E402
from paddleocr_spark.corpus import CORPUS_VERSION  # noqa: E402
from paddleocr_spark.operators.extract import extract  # noqa: E402
from paddleocr_spark.session import get_spark  # noqa: E402
from paddleocr_spark.sinks.checkpoint import CheckpointWriter, run_extract_job  # noqa: E402
from paddleocr_spark.sources import read_transcripts  # noqa: E402

from perfbench import check, layers, workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def units(kind: str) -> dict:
    """Metric name → unit, as BENCHMARK.json declares them."""
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def process_start_time() -> float:
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, ValueError, IndexError):
        return None


def descendants(root: int) -> list:
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            pp = _ppid(pid)
            if pp is not None:
                parent[int(pid)] = pp
    out = []
    for pid in parent:
        p = parent.get(pid)
        while p is not None and p != root:
            p = parent.get(p)
        if p == root:
            out.append(pid)
    return out


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def jvm_bytes_read() -> int:
    """Bytes the JVM has read through read(2) and the like, page cache hits
    included (``rchar``)."""
    with open(f"/proc/{jvm_pid()}/io") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("rchar:"))


class WorkerRss:
    """Peak summed RSS of the Python UDF workers: the ``pyspark.daemon``
    processes under this process and the workers they fork. The JVM is left
    out: ``-Xms`` with ``AlwaysPreTouch`` pins its RSS."""

    def __init__(self, interval: float = 0.02):
        self.interval = interval
        self.page = os.sysconf("SC_PAGE_SIZE")
        self._ours: dict = {}  # pid → is a Python worker under this process

    def _is_worker(self, pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                return b"pyspark.daemon" in f.read()
        except OSError:
            return False

    def _sample(self) -> int:
        total = 0
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            pid = int(name)
            if pid not in self._ours:
                self._ours[pid] = self._is_worker(pid) and self._under_me(pid)
            if self._ours[pid]:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self.page
                except OSError:
                    pass
        return total

    def _under_me(self, pid: int) -> bool:
        me = os.getpid()
        p = _ppid(str(pid))
        while p not in (None, 0, 1):
            if p == me:
                return True
            p = _ppid(str(p))
        return False

    def __enter__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._sample())

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def host_block(spark, seed: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "paddleocr_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    src.update(name.encode() + f.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {
        "nproc": os.cpu_count(),
        "cores_used": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "corpus_version": CORPUS_VERSION,
        "git_commit": commit,
        "package_sha256": src.hexdigest()[:16],
        "seed": seed,
    }


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.input_path = os.path.join(work, "input")
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.n_calls = 0
        self.attempted = 0
        self.failed = 0
        self.text_chars = None  # total extracted characters of a checked job output
        self.samples: dict = {}
        self.host = None

    # -- sessions -----------------------------------------------------------
    def start_session(self, event_log: str | None = None) -> float:
        """Start Spark and make one warm-up pass; returns the set-up wall."""
        t0 = time.time()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark_local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=conf)
        t1 = time.time()
        # one untimed pass of the timed calls: starts the Python workers,
        # grows them to the input's working set and compiles the plans
        out = os.path.join(self.work, "warmup")
        run_extract_job(self.spark, self.transcripts(), out)
        shutil.rmtree(out)
        extract(self.transcripts()).write.format("noop").mode("overwrite").save()
        log(f"session up in {t1 - t0:.2f} s, warm-up {time.time() - t1:.2f} s")
        return time.time() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def transcripts(self):
        return read_transcripts(self.spark, self.input_path)

    def record(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    # -- inputs -------------------------------------------------------------
    def build_inputs(self) -> None:
        t0 = time.time()
        workload = workloads.WORKLOADS[self.args.workload]
        if self.args.turns:
            workload = dataclasses.replace(workload, turns=self.args.turns)
        self.inputs = workloads.build(workload, self.args.seed, self.input_path, procs=self.cores)
        log(f"{self.inputs.n_turns} turns generated in {time.time() - t0:.2f} s")
        self.expected_keys = set(self.inputs.keys())
        if len(self.expected_keys) != self.inputs.n_turns:
            raise RuntimeError("generated input has duplicate (conv_id, turn_idx) keys")

    def expected_digest(self) -> None:
        row = self.transcripts().agg(
            F.bit_xor(F.xxhash64("conv_id", "turn_idx")).alias("x")
        ).first()
        self.key_xor = int(row["x"])

    # -- timed calls --------------------------------------------------------
    def timed_job(self, label: str | None = None) -> None:
        out = os.path.join(self.work, f"ckpt-{self.n_calls}")
        self.n_calls += 1
        n = self.inputs.n_turns
        self.attempted += n
        self.spark.sparkContext.setJobDescription(label)
        try:
            with WorkerRss() as rss:
                t0 = time.perf_counter()
                run_extract_job(self.spark, self.transcripts(), out)
                wall = time.perf_counter() - t0
        except Exception:  # a crashed job fails all its turns; keep measuring
            traceback.print_exc()
            self.failed += n
            shutil.rmtree(out, ignore_errors=True)
            return
        finally:
            self.spark.sparkContext.setJobDescription(None)
        tbl = check.read_job_output(out)
        bad = check.failed_turns(tbl, self.expected_keys, self.inputs.oracle)
        self.failed += bad
        if bad == 0 and self.text_chars is None:
            self.text_chars = sum(len(t) for t in tbl.column("extracted_text").to_pylist())
        entries = CheckpointWriter(out).metrics()
        self.record("job_s", wall)
        self.record("py_peak_rss_mb", rss.peak_mb)
        self.record("sinks.groups", len(entries))
        self.record("sinks.driver_s", wall - sum(e["wall_s"] for e in entries))
        self.record("sinks.output_bytes", sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(os.path.join(out, "data")) for f in files
        ))
        shutil.rmtree(out)

    def timed_extract(self) -> None:
        n = self.inputs.n_turns
        self.attempted += n
        obs = Observation()
        df = extract(self.transcripts()).observe(
            obs,
            F.count(F.lit(1)).alias("turns"),
            F.bit_xor(F.xxhash64("conv_id", "turn_idx")).alias("key_xor"),
            F.sum(F.length("extracted_text")).alias("text_chars"),
        )
        t0 = time.perf_counter()
        try:
            df.write.format("noop").mode("overwrite").save()
        except Exception:  # as in timed_job
            traceback.print_exc()
            self.failed += n
            return
        wall = time.perf_counter() - t0
        self.failed += check.failed_observed(obs.get, n, self.key_xor, self.text_chars)
        self.record("extract_s", wall)

    def timed_prefix(self, layer: str, label: str) -> None:
        self.spark.sparkContext.setJobDescription(label)
        df = self.transcripts()
        if layer == "salt":
            df = layers.salt_prefix(df)
        elif layer == "crossing":
            with layers.constant_crossing():
                df = extract(df)
        read0 = jvm_bytes_read()
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        self.record(f"{layer}_s", time.perf_counter() - t0)
        if layer == "scan":
            self.record("scan_bytes", jvm_bytes_read() - read0)
        self.spark.sparkContext.setJobDescription(None)

    # -- runs ---------------------------------------------------------------
    def run_untraced(self, startup_s: float) -> dict:
        """Set up once, counting interpreter start and imports
        (``startup_s``), then time the job and the noop-sink extract
        alternately."""
        self.build_inputs()
        self.samples["setup_s"] = [startup_s + self.start_session()]
        self.host = host_block(self.spark, self.args.seed)
        self.expected_digest()
        self.measure(lambda: (self.timed_job(), self.timed_extract()), self.args.seconds, 2)
        self.stop_session()
        n = self.inputs.n_turns
        med = {k: statistics.median(v) for k, v in self.samples.items()}
        return {
            "turns_per_s": n / med["job_s"],
            "extract_turns_per_s": n / med["extract_s"],
            "setup_s": med["setup_s"],
            "py_peak_rss_mb": med["py_peak_rss_mb"],
        }

    def measure(self, step, seconds: float, min_steps: int) -> None:
        """Repeat ``step`` for ``seconds``, at least ``min_steps`` times."""
        t_end = time.time() + seconds
        n = 0
        while n < min_steps or time.time() < t_end:
            step()
            n += 1

    def run_traced(self) -> dict:
        """A traced session times the layer prefixes round by round. Untraced
        sessions before and after it time the job alone for reference, so
        a drift in host speed shifts both sides alike. Every session starts
        with an untimed warm-up pass, on both sides."""
        self.build_inputs()
        self.start_session()
        self.host = host_block(self.spark, self.args.seed)
        self.expected_digest()
        self.measure(self.timed_job, self.args.seconds / 4, 2)
        untraced = self.samples.pop("job_s")
        self.stop_session()

        log_dir = os.path.join(self.work, "eventlog")
        self.start_session(event_log=log_dir)
        rounds = iter(range(1 << 30))

        def layer_round():
            r = next(rounds)
            for layer in ("scan", "salt", "crossing"):
                self.timed_prefix(layer, f"{layer}#{r}")
            self.spark.sparkContext.setJobDescription(f"extract#{r}")
            self.timed_extract()
            self.timed_job(label=f"job#{r}")

        self.samples = {}
        self.measure(layer_round, self.args.seconds / 2, 3)
        self.stop_session()
        traced = self.samples

        self.samples = {}
        self.start_session()
        self.measure(self.timed_job, self.args.seconds / 4, 2)
        self.stop_session()
        untraced += self.samples["job_s"]
        self.samples = {"untraced_job_s": untraced, **traced}
        untraced = statistics.median(untraced)

        med = {k: statistics.median(v) for k, v in traced.items()}
        m = {
            "sources.scan_s": med["scan_s"],
            "extract.salt_s": med["salt_s"] - med["scan_s"],
            "extract.crossing_s": med["crossing_s"] - med["salt_s"],
            "kernel.udf_s": med["extract_s"] - med["crossing_s"],
            "sinks.checkpoint_s": med["job_s"] - med["extract_s"],
            # read by the JVM during the scan prefix: the event log's input
            # metrics count only the parquet footers
            "sources.bytes_read": med["scan_bytes"],
            "sinks.output_bytes": med["sinks.output_bytes"],
            "sinks.groups": med["sinks.groups"],
            "sinks.driver_s": med["sinks.driver_s"],
            "layers.sum_s": med["job_s"],
            "trace.untraced_job_s": untraced,
            "trace.overhead_pct": 100 * (med["job_s"] - untraced) / untraced,
        }
        m.update(layers.EventLog(log_dir).metrics())

        texts = {
            kind: [r["text"] for r in workloads.generate(keys, self.args.seed)]
            for kind, keys in workloads.kernel_keys(self.args.seed).items()
        }
        kernel_metrics, answers = layers.kernel_us(texts)
        m.update(kernel_metrics)
        m.update(layers.kernel_stages(texts))
        m["crossing.out_us"] = layers.crossing_out_us(answers)
        return m


def shutdown_jvm() -> None:
    """Close the JVM's stdin (it exits on EOF) and wait for it and for every
    other process this one started."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        SparkContext._gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def make_work_dir(tag: str) -> str:
    """A fresh scratch dir in the checkout; the Python workers, the input
    generators and the JVM import the package from the checkout and keep
    their scratch files there."""
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    return work


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:  # another run still uses it
        pass


def main(argv=None) -> int:
    startup_s = time.time() - process_start_time()
    if os.path.dirname(os.path.dirname(os.path.abspath(paddleocr_spark.__file__))) != ROOT:
        sys.exit(f"perfbench: the package under test must come from {ROOT}, "
                 f"not {paddleocr_spark.__file__}")
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--turns", type=int, default=None,
                   help="input size instead of the workload's own (self-test)")
    args = p.parse_args(argv)

    work = make_work_dir("run")
    bench = Bench(args, work)
    try:
        if args.trace:
            metrics, declared = bench.run_traced(), units("per_layer")
        else:
            metrics, declared = bench.run_untraced(startup_s), units("end_to_end")
    finally:
        bench.stop_session()
        shutdown_jvm()
        remove_work_dir(work)

    print(json.dumps({
        "host": bench.host,
        "workload": args.workload,
        "trace": args.trace,
        "n_turns": bench.inputs.n_turns,
        "oracle_sample": len(bench.inputs.oracle),
        "failed_turns": bench.failed,
        "samples": bench.samples,
    }))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared.items()},
    }, allow_nan=False))
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
