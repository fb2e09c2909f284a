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
:func:`_manifest_run_ids` reads with mergeSchema and treats a
missing/null run_id as "no staged commits", which is correct —
pre-protocol writes were never staged.

The protocol's four metadata operations (is_dir / list_dir / rename /
rmtree) run through a filesystem seam: :class:`LocalFS` (default,
os/shutil — local paths and ``file://`` URIs only, anything else
fails loudly) or :class:`HadoopFS` (the Hadoop FileSystem API via the
session JVM — the production binding for hdfs://, s3a://, or an
Iceberg warehouse path; exercised in-sandbox against Hadoop's local
filesystem by the crash suite). Swapping the sink store is one
constructor argument, not a rewrite.
"""

from __future__ import annotations

import os
import posixpath
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.errors import AnalysisException


class SimulatedCrash(RuntimeError):
    """Raised by the test-only crash hooks in :func:`run_resumable`."""


class LocalFS:
    """Default filesystem seam: driver-local os/shutil operations.

    ``normalize`` strips a ``file://`` scheme so the driver-side
    os.path/rename operations and Spark's writes (which resolve
    ``file:///x`` to ``/x``) agree on ONE concrete path — without the
    strip, a ``file:///x`` sink would write parquet under ``/x`` while
    the publish rename targeted the literal string ``file:///x``,
    failing AFTER the manifest commit (a lost increment). Any other
    scheme fails loudly here: those need :class:`HadoopFS`."""

    def normalize(self, path: str) -> str:
        from urllib.parse import urlparse

        parsed = urlparse(path)
        if parsed.scheme == "file":
            return parsed.path
        if parsed.scheme and len(parsed.scheme) > 1:  # len>1: not a drive letter
            raise ValueError(
                f"LocalFS sink must be a local path (got scheme "
                f"'{parsed.scheme}://'): the commit protocol's rename/"
                f"cleanup steps are driver-local; pass fs=HadoopFS(spark, "
                f"sink_path) to run them through the Hadoop FileSystem API"
            )
        return path

    def is_dir(self, path: str) -> bool:
        return os.path.isdir(path)

    def list_dir(self, path: str) -> list[str]:
        return os.listdir(path)

    def rename(self, src: str, dst: str) -> None:
        os.rename(src, dst)

    def rmtree(self, path: str) -> None:
        shutil.rmtree(path)


class HadoopFS:
    """Hadoop FileSystem-backed seam: the production binding. Resolves
    the filesystem for ``base_uri`` from the session's Hadoop
    configuration, so hdfs://, s3a://, abfs:// (any scheme the
    cluster's connectors provide) run the SAME commit protocol. The
    in-sandbox crash suite drives it against Hadoop's local
    filesystem (no cluster needed) — the swap is config, not code.

    NOTE on atomicity: the protocol's commit point is the manifest
    append (a Spark job commit), not these renames — so an
    eventually-consistent object store without atomic rename still
    recovers correctly via :func:`recover_sink` roll-forward/back.
    """

    def __init__(self, spark: SparkSession, base_uri: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._fs = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI.create(base_uri), spark._jsc.hadoopConfiguration()
        )

    def _path(self, path: str):
        return self._jvm.org.apache.hadoop.fs.Path(path)

    def normalize(self, path: str) -> str:
        return path  # the FileSystem owns scheme resolution

    def is_dir(self, path: str) -> bool:
        p = self._path(path)
        return bool(self._fs.exists(p) and self._fs.getFileStatus(p).isDirectory())

    def list_dir(self, path: str) -> list[str]:
        return [s.getPath().getName() for s in self._fs.listStatus(self._path(path))]

    def rename(self, src: str, dst: str) -> None:
        # Hadoop rename reports failure as False, not an exception
        if not self._fs.rename(self._path(src), self._path(dst)):
            raise IOError(f"Hadoop FileSystem rename failed: {src} -> {dst}")

    def rmtree(self, path: str) -> None:
        if not self._fs.delete(self._path(path), True):
            raise IOError(f"Hadoop FileSystem recursive delete failed: {path}")


def _keys_if_exists(spark: SparkSession, fs, path: str, key: str) -> DataFrame | None:
    """Distinct key column of a parquet path, or None ONLY when the
    path does not exist / holds no committed file. Any other failure
    (corrupt footer, permission denied) re-raises: silently treating
    a broken manifest as missing would re-append every url's
    triples. Missing paths are found via ``fs``: a failed query makes
    the session's ``Observation`` listener log a stack trace."""
    if not fs.is_dir(path):
        return None
    try:
        return spark.read.parquet(path).select(key).distinct()
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            # the directory exists but holds no committed parquet file
            # (e.g. a crash during the very FIRST append left only
            # _temporary or _staging): semantically "nothing written
            # yet". Corrupt footers raise a different error class and
            # still propagate.
            return None
        raise


def processed_keys(spark: SparkSession, sink_path: str, key: str = "url",
                   fs=None) -> DataFrame | None:
    """Keys already processed = manifest keys UNION sink keys.

    Under the staged protocol the manifest alone is authoritative
    (data publishes only after the manifest commit); the union also
    covers a manually damaged/deleted manifest, and a pre-protocol
    sink AFTER its one-time layout migration (see module docstring —
    legacy data must move under a synthetic ``run_id=legacy`` dir, or
    the mixed partition layouts fail parquet discovery here). None
    when neither exists yet. ``fs`` as in :func:`recover_sink`."""
    fs = fs or LocalFS()
    sink_path = fs.normalize(sink_path)
    manifest = _keys_if_exists(spark, fs, f"{sink_path}_processed", key)
    sink = _keys_if_exists(spark, fs, sink_path, key)
    if manifest is None:
        return sink
    if sink is None:
        return manifest
    return manifest.union(sink).distinct()


def pending_only(pages: DataFrame, done: DataFrame | None, key: str = "url") -> DataFrame:
    """Anti-join the input against the committed key set."""
    if done is None:
        return pages
    return pages.join(done, key, "left_anti")


def _manifest_run_ids(spark: SparkSession, sink_path: str) -> set[str]:
    """run_ids recorded in the manifest. Read with mergeSchema so a
    manifest that mixes pre-protocol files (no run_id column) with
    staged-commit files still surfaces the column; a manifest with no
    run_id column at all means no staged commit ever happened (legacy
    writes were never staged), so there is nothing to roll forward."""
    try:
        df = spark.read.option("mergeSchema", "true").parquet(f"{sink_path}_processed")
    except AnalysisException as e:
        if ("PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e)
                or "UNABLE_TO_INFER_SCHEMA" in str(e)):
            return set()
        raise
    if "run_id" not in df.columns:
        return set()
    return {
        r["run_id"]
        for r in df.select("run_id").where(F.col("run_id").isNotNull()).distinct().collect()
    }


def recover_sink(spark: SparkSession, sink_path: str, fs=None) -> dict:
    """Reconcile staged increments with the manifest (call on open —
    :func:`run_resumable` does). Committed-but-unpublished run_ids
    are rolled FORWARD (finish the rename); unmanifested staging
    dirs are rolled BACK (deleted). Returns counts for observability.

    ``fs``: filesystem seam (default :class:`LocalFS`; pass
    ``HadoopFS(spark, sink_path)`` for remote stores)."""
    fs = fs or LocalFS()
    sink_path = fs.normalize(sink_path)
    staging_root = posixpath.join(sink_path, "_staging")
    # a publish renames _staging/<id> and leaves _staging/ empty: with
    # nothing staged, the manifest read would roll nothing
    staged = fs.list_dir(staging_root) if fs.is_dir(staging_root) else []
    if not staged:
        return {"rolled_forward": 0, "rolled_back": 0}
    committed = _manifest_run_ids(spark, sink_path)
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
    fs=None,
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

    ``fs``: filesystem seam for the protocol's metadata operations
    (default :class:`LocalFS`; ``HadoopFS(spark, sink_path)`` for
    hdfs://, s3a://, ...). Spark's own parquet writes resolve the
    same URIs through the identical Hadoop configuration, so both
    halves of the protocol always target one store."""
    from qizner_spark.plans.pipeline import build_kg

    fs = fs or LocalFS()
    sink_path = fs.normalize(sink_path)
    recovered = recover_sink(spark, sink_path, fs=fs)
    done = processed_keys(spark, sink_path, fs=fs)
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
