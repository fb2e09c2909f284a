"""Resume-from-checkpoint with an atomic-commit sink.

The reference materializes segmented/sampled datasets and REUSES them
if present (/root/reference/data_reader.py:396-416) — the same
pattern at engine level: every batch run anti-joins its input against
the urls already committed, processes only the remainder, and
APPENDS an increment. Restartable at any point.

Commit protocol (the Iceberg-snapshot shape, emulated on a plain
filesystem so the production swap is mechanical):

  1. STAGE   — write the increment's triples under
               ``{sink}/_staging/{run_id}`` (leading underscore:
               invisible to every ``spark.read.parquet(sink)``).
               The only action over the triples: an ``Observation``
               counts them; a ``subj_bucket`` rebalance writes one
               file per bucket (AQE splits only an oversized one).
  2. COMMIT  — append ONE parquet file (coalesce(1) => a single
               atomic rename inside the job commit) to the manifest
               ``{sink}_processed`` recording (url, run_id) for EVERY
               url of the batch, including zero-triple urls. This is
               the commit point — exactly Iceberg's snapshot append.
  3. PUBLISH — one directory rename ``_staging/{run_id}`` ->
               ``run_id={run_id}`` makes the data visible as a
               partition of the sink.

Crash analysis (see tests/test_streaming_resume.py):
  * before COMMIT: the staged dir is invisible and unmanifested —
    :func:`recover_sink` deletes it; the batch reprocesses; no
    duplicates because nothing was readable.
  * between COMMIT and PUBLISH: the manifest says done but the data
    is still hidden — :func:`recover_sink` ROLLS FORWARD by
    finishing the rename (the staged dir is complete by
    construction); no reprocess, no duplicates, no loss.
  * after PUBLISH: fully committed.
Because the manifest covers zero-triple urls too, nothing is ever
reprocessed after a successful commit (the pre-round-3 residue).

Pre-protocol sinks (data directly under ``subj_bucket=...`` with no
``run_id=`` level) need a ONE-TIME migration before resuming under
this protocol: move the old data under a synthetic
``run_id=legacy`` directory (one rename) — otherwise the mixed
partition layouts break parquet partition discovery on the sink
read. Legacy MANIFESTS (no ``run_id`` column) need no migration:
every manifest read uses the fixed schema ``url STRING, run_id
STRING``, so a url-only file reads ``run_id`` as null, meaning "no
staged commit", which is correct — pre-protocol writes were never
staged.

The protocol's three metadata operations (list_dir / rename / rmtree)
run through ONE binding: the sink path's own Hadoop FileSystem,
resolved from the session's Hadoop configuration exactly as Spark's
parquet writes resolve the path. A local path, ``file://``, hdfs://
or s3a:// sink runs the same code; a scheme whose connector is not
on the classpath fails before any write. The crash suite exercises
the binding against Hadoop's local filesystem.
"""

from __future__ import annotations

import posixpath
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

#: the manifest's fixed read schema (see "Legacy MANIFESTS" above)
_MANIFEST_SCHEMA = "url STRING, run_id STRING"


class SimulatedCrash(RuntimeError):
    """Raised by the test-only crash hooks in :func:`run_resumable`."""


class _SinkFS:
    """The sink path's own Hadoop FileSystem: the protocol's metadata
    operations, resolved from the session's Hadoop configuration the
    way Spark's parquet writes resolve the same path (a scheme-less
    path goes to ``fs.defaultFS``). A scheme with no connector on the
    classpath fails here, before any Spark write.

    NOTE on atomicity: the protocol's commit point is the manifest
    append (a Spark job commit), not these renames — so an
    eventually-consistent object store without atomic rename still
    recovers correctly via :func:`recover_sink` roll-forward/back.
    """

    def __init__(self, spark: SparkSession, sink_path: str):
        self._path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._path(sink_path).getFileSystem(spark._jsc.hadoopConfiguration())

    def list_dir(self, path: str) -> list[str]:
        """Entry names under ``path``; none when it does not exist."""
        p = self._path(path)
        if not self._fs.exists(p):
            return []
        return [s.getPath().getName() for s in self._fs.listStatus(p)]

    def rename(self, src: str, dst: str) -> None:
        # Hadoop rename reports failure as False, not an exception
        if not self._fs.rename(self._path(src), self._path(dst)):
            raise IOError(f"Hadoop FileSystem rename failed: {src} -> {dst}")

    def rmtree(self, path: str) -> None:
        if not self._fs.delete(self._path(path), True):
            raise IOError(f"Hadoop FileSystem recursive delete failed: {path}")


def _read_committed(spark: SparkSession, fs: _SinkFS, path: str,
                    schema: str) -> DataFrame | None:
    """The parquet files under ``path`` read with a fixed ``schema``, or
    None when nothing is committed there: no directory, or only hidden
    entries (``_temporary`` or ``_staging`` from a crashed first write,
    ``_SUCCESS``, checksums). A fixed schema plans without a Spark job,
    reads a directory that holds only ``_SUCCESS`` as 0 rows, and still
    raises on a corrupt footer (at action time): silently treating a
    broken manifest as missing would re-append every url's triples."""
    if all(n.startswith(("_", ".")) for n in fs.list_dir(path)):
        return None
    return spark.read.schema(schema).parquet(path)


def processed_keys(spark: SparkSession, sink_path: str) -> DataFrame | None:
    """Urls already processed = manifest urls UNION sink urls.

    Under the staged protocol the manifest alone is authoritative
    (data publishes only after the manifest commit); the union also
    covers a manually damaged/deleted manifest, and a pre-protocol
    sink AFTER its one-time layout migration (see module docstring —
    legacy data must move under a synthetic ``run_id=legacy`` dir, or
    the mixed partition layouts fail parquet discovery here). None
    when neither holds a committed file yet."""
    fs = _SinkFS(spark, sink_path)
    manifest = _read_committed(spark, fs, f"{sink_path}_processed", _MANIFEST_SCHEMA)
    sink = _read_committed(spark, fs, sink_path, "url STRING")
    keys = [df.select("url").distinct() for df in (manifest, sink) if df is not None]
    if not keys:
        return None
    return keys[0] if len(keys) == 1 else keys[0].union(keys[1]).distinct()


def pending_only(pages: DataFrame, done: DataFrame | None) -> DataFrame:
    """Anti-join the input against the committed url set."""
    if done is None:
        return pages
    return pages.join(done, "url", "left_anti")


def recover_sink(spark: SparkSession, sink_path: str) -> dict:
    """Reconcile staged increments with the manifest (call on open —
    :func:`run_resumable` does). Committed-but-unpublished run_ids
    are rolled FORWARD (finish the rename); unmanifested staging
    dirs are rolled BACK (deleted). Returns counts for observability."""
    fs = _SinkFS(spark, sink_path)
    staging_root = posixpath.join(sink_path, "_staging")
    # a publish renames _staging/<id> and leaves _staging/ empty: with
    # nothing staged, the manifest read would roll nothing
    staged = fs.list_dir(staging_root)
    if not staged:
        return {"rolled_forward": 0, "rolled_back": 0}
    manifest = _read_committed(spark, fs, f"{sink_path}_processed", _MANIFEST_SCHEMA)
    committed = set() if manifest is None else {
        r["run_id"]
        for r in manifest.select("run_id").where(F.col("run_id").isNotNull()).distinct().collect()
    }
    fwd = back = 0
    for rid in staged:
        src = posixpath.join(staging_root, rid)
        if rid in committed:
            fs.rename(src, posixpath.join(sink_path, f"run_id={rid}"))
            fwd += 1
        else:
            fs.rmtree(src)
            back += 1
    return {"rolled_forward": fwd, "rolled_back": back}


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    sink_path: str,
    metrics_path: str | None = None,
    crash_after: str | None = None,
    **kg_kwargs,
) -> dict:
    """One resumable increment of the flagship pipeline:
    recover -> filter-to-pending -> build KG -> stage -> commit
    manifest -> publish. Crash/rerun safe at every step boundary.
    Every cache the build persisted is released before the call
    returns or raises (:meth:`~qizner_spark.plans.pipeline.KGStages.release`).

    ``crash_after`` ('stage' | 'commit') raises :class:`SimulatedCrash`
    at the corresponding point — test hook for the crash-injection
    suite; never set it in production.

    The protocol's renames and listings run through the sink path's
    own Hadoop FileSystem, which Spark's parquet writes resolve from
    the same configuration, so both halves always target one store."""
    from qizner_spark.plans.pipeline import build_kg

    fs = _SinkFS(spark, sink_path)
    recovered = recover_sink(spark, sink_path)
    done = processed_keys(spark, sink_path)
    todo = pending_only(pages, done)
    t0 = time.time()
    n_pending = todo.count()
    if n_pending == 0:
        metrics = {"n_pending": 0, "n_new_triples": 0, "wall_sec": round(time.time() - t0, 3),
                   "resumed": done is not None, "ts": int(time.time()), **recovered}
    else:
        run_id = uuid.uuid4().hex[:16]
        stages = build_kg(spark, todo, **kg_kwargs)
        counted = Observation()
        triples = stages["triples"].withColumn(
            "subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(64))
        ).observe(counted, F.count(F.lit(1)).alias("n")).hint("rebalance", "subj_bucket")
        try:
            # 1. STAGE (invisible: underscore prefix hides it from reads)
            staging = posixpath.join(sink_path, "_staging", run_id)
            triples.write.mode("overwrite").partitionBy("subj_bucket").parquet(staging)
            # an empty write leaves no bucket directory, and AQE may have
            # pruned the observed node from the empty plan: no row to read
            wrote = any(d.startswith("subj_bucket=") for d in fs.list_dir(staging))
            n_new = counted.get["n"] if wrote else 0
            if crash_after == "stage":
                raise SimulatedCrash("crashed after staging, before manifest commit")
            # 2. COMMIT: single-file manifest append = one atomic rename.
            #    Covers zero-triple urls too, so nothing ever reprocesses.
            todo.select("url").distinct().withColumn(
                "run_id", F.lit(run_id)
            ).coalesce(1).write.mode("append").parquet(f"{sink_path}_processed")
            if crash_after == "commit":
                raise SimulatedCrash("crashed after manifest commit, before publish")
            # 3. PUBLISH: one directory rename
            published = posixpath.join(sink_path, f"run_id={run_id}")
            fs.rename(staging, published)
        finally:
            # no cache outlives the call: a cached plan is matched by the
            # root paths it reads, not their listing, so a later call over
            # the same landed path would otherwise read this call's files
            stages.release()
        metrics = {
            "n_pending": n_pending,
            "n_new_triples": n_new,
            "wall_sec": round(time.time() - t0, 3),
            "resumed": done is not None,
            "ts": int(time.time()),
            "run_id": run_id,
            **recovered,
        }
        if metrics_path and n_new:
            # per-partition lineage for THIS increment (north_rule): <= 64
            # rows read back from the published files (an empty write
            # leaves only _SUCCESS, which has no schema to read)
            (spark.read.parquet(published).groupBy("subj_bucket")
             .agg(F.count(F.lit(1)).alias("n_triples"),
                  F.countDistinct("url").alias("n_source_urls"),
                  F.lit(run_id).alias("run_id"), F.lit(int(time.time())).alias("ts"))
             .coalesce(1).write.mode("append").json(f"{metrics_path}_partitions"))
    if metrics_path:
        spark.createDataFrame([metrics]).write.mode("append").json(metrics_path)
    return metrics
