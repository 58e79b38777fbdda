"""Checkpointed, resumable extraction sink with per-partition lineage+metrics.

North-rule clause: "resumable from checkpoint with per-partition lineage +
metrics" (BASELINE.json). The reference's only resume story is
re-running `predict_system.py` over the file list; here resume is a first-class
sink contract:

- Work is keyed by **bucket** = pmod(xxhash64(conv_id), n_buckets) — a stable,
  data-independent partition of the conversation space (the distributed analog
  of the reference's ``files[process_id::total_process_num]`` sharding,
  /root/reference/tools/infer/predict_system.py:186-187).
- Buckets are processed in groups; each group is one Spark write job followed
  by an atomic manifest commit (`_manifest/group-*.json`) recording lineage
  (run_id, buckets, wall time) and metrics (turns, spans, bytes, failures —
  collected via ``df.observe``, i.e. zero extra passes). A run is one group
  by default; ``group_size`` sets a finer resume granularity, at the price of
  one input scan and salt shuffle per group.
- A rerun reads the manifest and processes ONLY uncommitted buckets: committed
  work is never recomputed and never double-counted (metrics live in the same
  atomic manifest entry as the data commit).

On a real cluster this maps 1:1 onto Iceberg: the data write becomes
``MERGE INTO results USING batch ON (conv_id, turn_idx)`` under snapshot
isolation, and the manifest becomes a lineage table written in the same
transaction. The sandbox has no Iceberg catalog, so the interface is kept
identical over parquet + JSON manifest (see docs/SPEC.md).

Failure atomicity: Spark's file output committer publishes files only on job
commit, and the manifest entry is written strictly after the data commit via
atomic rename — a crash between the two re-extracts at most one group.
Each group writes its own ``group=NNNNN`` parquet dir (partition-discovery
naming, so the data root still reads as one table); a dir whose manifest
entry never landed is removed at the next job start before its buckets are
recomputed, so readers never observe uncommitted rows. Group dirs avoid the
post-UDF full-data shuffle that per-bucket dynamic-partition overwrite
required (that shuffle was the dominant non-scaling term of the job).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..config import ExtractConfig, DEFAULT_CONFIG
from ..operators.extract import extract


def find_iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of a configured Iceberg catalog, or None (catalog-detect flag).

    An Iceberg catalog announces itself as ``spark.sql.catalog.<name> =
    org.apache.iceberg.spark.SparkCatalog`` (or SparkSessionCatalog); the
    sandbox has neither the jar nor a catalog, so this returns None there
    and the parquet sink below is used with the identical interface."""
    try:
        conf = dict(spark.sparkContext.getConf().getAll())
    except Exception:
        return None
    for k, v in conf.items():
        parts = k.split(".")
        if (
            len(parts) == 4
            and k.startswith("spark.sql.catalog.")
            and "iceberg" in str(v).lower()
        ):
            return parts[3]
    return None


_RUN_ID_RE = re.compile(r"[0-9A-Za-z_]+\Z")


def _check_run_id(run_id: str) -> None:
    """``run_id`` is interpolated into SQL text and temp-view names — allow
    only identifier-safe characters so a crafted value can't break the
    statement (round-2 ADVICE item #2). Defaults are uuid hex; this only
    rejects caller-supplied exotica."""
    if not _RUN_ID_RE.match(str(run_id)):
        raise ValueError(
            f"run_id {run_id!r} must match [0-9A-Za-z_]+ (it is embedded in "
            "SQL statements and temp-view names)"
        )


class IcebergMergeSink:
    """Checkpointed sink over Iceberg tables: MERGE for data, a lineage
    table for the manifest — the production form of the parquet+JSON
    mechanism below (same contract, same method surface).

    - data table ``<table>``: MERGE INTO ON (conv_id, turn_idx) — UPDATE on
      match, INSERT otherwise. Idempotent under retries by key; snapshot
      isolation makes each group commit atomic.
    - lineage table ``<table>_lineage``: one row per committed group
      (run_id, group_seq, buckets, wall_s, turns/spans/bytes/failures,
      committed_at). ``committed_buckets`` reads it at job start; a group
      whose MERGE succeeded but whose lineage append crashed is re-merged —
      harmless by idempotency, and metrics rows are keyed by (run_id,
      group_seq) so re-appends can be deduped by readers.
    """

    def __init__(self, spark: SparkSession, table: str):
        self.spark = spark
        self.table = table
        self.lineage_table = f"{table}_lineage"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.lineage_table} ("
            "run_id STRING, group_seq INT, buckets ARRAY<INT>, wall_s DOUBLE, "
            "turns BIGINT, spans BIGINT, bytes BIGINT, failures BIGINT, "
            "truncated_payloads BIGINT, committed_at TIMESTAMP) USING iceberg"
        )

    def committed_buckets(self) -> set[int]:
        rows = self.spark.sql(
            f"SELECT explode(buckets) AS b FROM {self.lineage_table}"
        ).collect()
        return {r.b for r in rows}

    def ensure_data_table(self, like_df: DataFrame) -> None:
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in like_df.schema.fields
        )
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.table} ({cols}) USING iceberg "
            "PARTITIONED BY (bucket)"
        )

    def write_group(self, out: DataFrame, entry: dict) -> None:
        self.ensure_data_table(out)
        _check_run_id(entry["run_id"])
        view = f"_ckpt_batch_{entry['run_id']}_{entry['group_seq']}"
        out.createOrReplaceTempView(view)
        try:
            self.spark.sql(
                f"MERGE INTO {self.table} t USING {view} s "
                "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)

    def commit(self, entry: dict) -> None:
        _check_run_id(entry["run_id"])
        self.spark.sql(
            f"INSERT INTO {self.lineage_table} VALUES ("
            f"'{entry['run_id']}', {entry['group_seq']}, "
            f"array({', '.join(map(str, entry['buckets']))}), {entry['wall_s']}, "
            f"{entry['turns']}, {entry['spans']}, {entry['bytes']}, "
            f"{entry['failures']}, {entry.get('truncated_payloads', 0)}, "
            "current_timestamp())"
        )


class CheckpointWriter:
    """Manage the bucket manifest under ``out_dir``."""

    def __init__(self, out_dir: str, n_buckets: int = 64):
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.data_dir = os.path.join(out_dir, "data")
        self.manifest_dir = os.path.join(out_dir, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    def committed_buckets(self) -> set[int]:
        done: set[int] = set()
        for name in os.listdir(self.manifest_dir):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    done.update(json.load(f)["buckets"])
        return done

    def commit(self, entry: dict) -> None:
        """Atomic single-file manifest commit (write temp + rename)."""
        name = f"group-{entry['group_seq']:05d}-{entry['run_id']}.json"
        tmp = os.path.join(self.manifest_dir, "." + name + ".tmp")
        with open(tmp, "w") as f:
            json.dump(entry, f)
        os.replace(tmp, os.path.join(self.manifest_dir, name))

    def metrics(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.manifest_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    out.append(json.load(f))
        return out


def _metric_aggs() -> list:
    """The manifest's per-group metrics over extracted rows (turns, spans,
    text bytes, zero-span failures), for ``DataFrame.observe``."""
    return [
        F.count(F.lit(1)).alias("turns"),
        F.sum("n_spans").alias("spans"),
        F.sum(F.length("extracted_text")).alias("bytes"),
        F.sum((F.col("n_spans") == 0).cast("long")).alias("failures"),
    ]


def run_extract_job(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    n_buckets: int = 64,
    group_size: int | None = None,
    run_id: str | None = None,
    salt: bool = True,
) -> dict:
    """Extract ``transcripts`` into a checkpointed output table, resumably.

    Returns a summary dict {run_id, groups_run, buckets_done, turns, spans,
    bytes, failures} aggregated over THIS run's groups (previously committed
    groups are skipped and not re-counted).

    By default every uncommitted bucket goes into one group: one input scan,
    one salt shuffle, one write job and one manifest commit. An integer
    ``group_size`` commits that many buckets per group, so a crash loses at
    most one group's work; but each group filters on the computed bucket, so
    unless the input is itself bucket-partitioned on ``conv_id`` every group
    re-scans and re-shuffles the full input (docs/SCALE_100TB.md §3).

    ``out_dir`` may be a directory path (parquet group-dir sink + JSON
    manifest — the sandbox mode) or an Iceberg table name (no path
    separator): with a configured Iceberg catalog the data goes through
    MERGE INTO keyed on (conv_id, turn_idx) and lineage/metrics land in
    ``<table>_lineage`` — same resume contract, snapshot-isolated commits.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    _check_run_id(run_id)  # embedded in SQL, view names and manifest names

    from ..sources.table import is_table_ref

    iceberg_sink = None
    if is_table_ref(out_dir):
        if find_iceberg_catalog(spark) is None:
            raise RuntimeError(
                f"output target {out_dir!r} looks like a table name but no "
                "Iceberg catalog is configured (spark.sql.catalog.*); pass a "
                "directory path for the parquet sink instead"
            )
        iceberg_sink = IcebergMergeSink(spark, out_dir)
        w = None
    else:
        w = CheckpointWriter(out_dir, n_buckets)

    bucketed = transcripts.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )
    done = (iceberg_sink or w).committed_buckets()
    todo = [b for b in range(n_buckets) if b not in done]
    step = group_size or n_buckets
    groups = [todo[i : i + step] for i in range(0, len(todo), step)]

    # crash hygiene: a group dir written but never manifest-committed is
    # garbage (its buckets are still in `todo` and will be recomputed under a
    # new dir name) — remove it so readers never see uncommitted rows.
    # The sweep must either fully remove the dir or fail the job loudly: a
    # partial removal left in place would be recomputed into a NEW group dir
    # and readers would silently see duplicate rows.
    committed_dirs = {e.get("dir") for e in w.metrics()} if w else set()
    if w and os.path.isdir(w.data_dir):
        import shutil

        for name in os.listdir(w.data_dir):
            # pre-group layouts (bucket=NN dirs) are incompatible with the
            # group=NNNNN layout: mixed dir names break Spark partition
            # discovery on data_dir (conflicting partition columns), so an
            # out_dir written by the old format must not be resumed silently
            if name.startswith("bucket="):
                raise RuntimeError(
                    f"{w.data_dir} contains legacy per-bucket checkpoint dirs "
                    f"(e.g. {name!r}); this out_dir was written by the old "
                    "bucket=NN layout and cannot be resumed by the group=NNNNN "
                    "writer. Use a fresh --out dir (or finish/migrate the old "
                    "run with its original version)."
                )
            if name.startswith("group=") and name not in committed_dirs:
                orphan = os.path.join(w.data_dir, name)
                shutil.rmtree(orphan)
                if os.path.exists(orphan):
                    raise RuntimeError(
                        f"could not fully remove uncommitted group dir {orphan}; "
                        "refusing to continue (a partial dir would surface "
                        "duplicate rows after its buckets are recomputed)"
                    )

    totals = {
        "turns": 0,
        "spans": 0,
        "bytes": 0,
        "failures": 0,
        "truncated_payloads": 0,
    }
    job_t0 = time.time()
    # stable-ish sequence numbering across reruns; safe only because groups
    # commit in order (out-of-order commits would let a rerun reuse, and
    # overwrite, a committed group= dir)
    seq0 = len(done)
    for gi, buckets in enumerate(groups):
        t0 = time.time()
        sub = bucketed.filter(F.col("bucket").isin(buckets))
        # salt=True locally (the shuffle is cheap and exercises the skew
        # path); at 100 TB pass salt=False — scan splits are already
        # byte-uniform and the pre-UDF shuffle would move the whole corpus
        # (docs/SCALE_100TB.md §2)
        # payload-cap truncations (kernel.extract_payload clips text to
        # cfg.max_payload_chars — the row-level skew guard must be
        # OBSERVABLE, not silent; round-2 verdict item #5). The flag is
        # computed KERNEL-side (O(1) Python len, rides the UDF output as a
        # boolean column) and summed in the same output observation —
        # measured A/B (BENCH.md round-3): an input-side CollectMetrics
        # whose aggregate references the text column costs +10% job wall
        # (116 vs 105 s at local[8]); a boolean-column sum is free.
        out = extract(
            sub.drop("bucket"), cfg=cfg, salt=salt, keep_truncated=True
        ).withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
        )
        obs = Observation(f"extract-{run_id}-{gi}")
        out = out.observe(
            obs,
            *_metric_aggs(),
            F.sum(F.col("truncated").cast("long")).alias("truncated_payloads"),
        ).drop("truncated")
        # One parquet dir PER GROUP (partition-discovery naming, so
        # spark.read.parquet(data_dir) still sees one table): groups hold
        # disjoint bucket sets, so group-dir overwrite gives the same
        # exactly-once resume semantics as per-bucket dynamic overwrite —
        # WITHOUT a second full-data shuffle. The previous design
        # (repartition(64, bucket) + partitionBy) re-shuffled the entire
        # extracted output (spans + text, ~3x the input bytes) just to get
        # one file per bucket; on the sandbox that shuffle was the dominant
        # non-scaling term of the whole job (write phase eff 0.44 N→4N).
        # The `bucket` column is still written for reader-side pruning.
        # zstd: ~35% smaller than snappy on this text-heavy output — fewer
        # output bytes matter twice here (at 100 TB scale for storage, and on
        # the sandbox because fresh tmpfs pages fault through the slow host
        # path, so wall time tracks written page count)
        if iceberg_sink is not None:
            iceberg_sink.write_group(
                out, {"run_id": run_id, "group_seq": seq0 + gi}
            )
        else:
            (
                out.write.mode("overwrite")
                .option("compression", "zstd")
                .parquet(os.path.join(w.data_dir, f"group={seq0 + gi:05d}"))
            )
        m = obs.get
        entry = {
            "run_id": run_id,
            "group_seq": seq0 + gi,
            "dir": f"group={seq0 + gi:05d}",
            "buckets": buckets,
            "wall_s": round(time.time() - t0, 3),
            "turns": int(m.get("turns") or 0),
            "spans": int(m.get("spans") or 0),
            "bytes": int(m.get("bytes") or 0),
            "failures": int(m.get("failures") or 0),
            "truncated_payloads": int(m.get("truncated_payloads") or 0),
            "committed_at": time.time(),
        }
        (iceberg_sink or w).commit(entry)
        for k in totals:
            totals[k] += entry[k]

    return {
        "run_id": run_id,
        "groups_run": len(groups),
        "buckets_done": len(done) + len(todo),
        "wall_s": round(time.time() - job_t0, 3),
        **totals,
    }


def read_committed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read ONLY manifest-committed groups of a parquet checkpoint dir.

    ``spark.read.parquet(out_dir + '/data')`` is correct after a completed
    run (orphans are swept at job start), but a reader CONCURRENT with a
    writer could list a group dir whose manifest entry hasn't landed yet —
    uncommitted rows. This reader resolves the committed dir list from the
    manifest first (the poor man's snapshot isolation; with the Iceberg
    sink the catalog does this natively)."""
    w = CheckpointWriter(out_dir)
    dirs = [
        os.path.join(w.data_dir, e["dir"])
        for e in w.metrics()
        if e.get("dir") and os.path.isdir(os.path.join(w.data_dir, e["dir"]))
    ]
    if not dirs:
        raise FileNotFoundError(f"no committed groups under {out_dir}")
    return spark.read.option("basePath", w.data_dir).parquet(*dirs)


def lineage_df(spark: SparkSession, out_dir: str) -> DataFrame:
    """The manifest as a queryable relation — per-group lineage + metrics
    (run_id, group_seq, buckets, wall_s, turns/spans/bytes/failures,
    committed_at). The parquet-mode analog of querying the Iceberg
    ``<table>_lineage`` table."""
    import pandas as pd

    w = CheckpointWriter(out_dir)
    entries = w.metrics()
    if not entries:
        raise FileNotFoundError(f"no manifest entries under {out_dir}")
    return spark.createDataFrame(pd.DataFrame(entries))


def compact_to(
    spark: SparkSession,
    src_out: str,
    dst_out: str,
    group_size: int = 1 << 30,
) -> dict:
    """Copy-compact a checkpoint dir: read the committed data of ``src_out``
    and write it to a FRESH checkpoint dir with consolidated group dirs
    (default: everything into one group) — the small-files remedy after
    many incremental reruns (10⁵ group dirs at production scale). Copying
    into a new dir keeps the operation trivially crash-safe: ``dst_out`` is
    complete only once its own manifest says so, and ``src_out`` is never
    mutated; the caller swaps paths afterwards. Returns the summary dict of
    the consolidation write."""
    src = CheckpointWriter(src_out)
    # drop the partition-discovery column: the target's own group= dir names
    # provide it; baking the SOURCE's group values into the files would
    # shadow the new layout with stale numbers
    data = read_committed(spark, src_out).drop("group")
    buckets = sorted(src.committed_buckets())
    n_buckets = (max(buckets) + 1) if buckets else 0
    dst = CheckpointWriter(dst_out, n_buckets)
    if dst.committed_buckets():
        raise RuntimeError(f"compaction target {dst_out} is not empty")
    t0 = time.time()
    groups = [buckets[i : i + group_size] for i in range(0, len(buckets), group_size)]
    run_id = uuid.uuid4().hex[:12]
    total_rows = 0
    for gi, grp in enumerate(groups):
        # collected by the write itself; truncated_payloads is not in the
        # written data, so it is not recorded
        obs = Observation(f"compact-{run_id}-{gi}")
        sub = data.filter(F.col("bucket").isin(grp)).observe(obs, *_metric_aggs())
        (
            sub.coalesce(max(1, len(grp) // 8))
            .write.mode("overwrite")
            .option("compression", "zstd")
            .parquet(os.path.join(dst.data_dir, f"group={gi:05d}"))
        )
        m = obs.get
        entry = {
            "run_id": run_id,
            "group_seq": gi,
            "dir": f"group={gi:05d}",
            "buckets": grp,
            "wall_s": round(time.time() - t0, 3),
            **{k: int(m.get(k) or 0) for k in ("turns", "spans", "bytes", "failures")},
            "committed_at": time.time(),
            "compacted_from": os.path.abspath(src_out),
        }
        dst.commit(entry)
        total_rows += entry["turns"]
    return {"run_id": run_id, "groups": len(groups), "rows": total_rows}


def publish_bucketed(
    spark: SparkSession,
    src_out: str,
    table: str,
    n_buckets: int = 64,
    keys=("conv_id",),
    sort_keys=("conv_id", "turn_idx"),
) -> int:
    """Publish a completed checkpoint dir as a BUCKETED catalog table — the
    hand-off from the resumable write layout (group dirs + manifest,
    optimized for exactly-once incremental writes) to the serving layout
    (bucketBy(N, conv_id), optimized for shuffle-free downstream joins;
    sinks/bucketed.py).

    One shuffle, paid here once: every later equi-join or groupBy on the
    bucket key over ``table`` plans with no Exchange
    (tests/test_plans.py::test_bucketed_join_has_no_exchange). Reads only
    manifest-committed groups (read_committed), so a concurrent or crashed
    writer can never leak uncommitted rows into the published table.
    Returns the published row count."""
    from .bucketed import write_bucketed

    data = read_committed(spark, src_out).drop("group", "bucket")
    write_bucketed(
        data, table, n_buckets=n_buckets, keys=keys, sort_keys=sort_keys
    )
    return spark.table(table).count()
