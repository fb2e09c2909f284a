"""Streaming KG increments + checkpoint/resume tests."""

import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from qizner_spark.plans.checkpoint import pending_only, processed_keys, run_resumable
from qizner_spark.sources.pages import pages_from_documents


def _jobs_run(spark, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    sc, group = spark.sparkContext, f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestStreaming:
    def test_kg_increments_equal_batch(self, spark, sf_dir, tmp_path):
        """Incremental-equals-batch at the TRIPLE level: per-document
        detection streamed micro-batch by micro-batch into the mention
        staging sink, then the corpus-global compaction (assemble_kg)
        over the accumulated sink — must emit EXACTLY the batch DAG's
        triples, and the stream must actually have run incrementally
        (> 1 non-empty micro-batch)."""
        from qizner_spark.plans.pipeline import build_kg
        from qizner_spark.streaming.pipeline import stream_kg_increments

        pages = pages_from_documents(spark, sf_dir)
        in_dir = str(tmp_path / "in")
        # three part FILES -> three micro-batches at maxFilesPerTrigger=1
        # (the streaming file source skips _SUCCESS: leading underscore)
        pages.repartition(3).write.parquet(in_dir)

        out = stream_kg_increments(spark, in_dir, str(tmp_path / "work"))
        assert out["n_batches"] >= 2, "stream did not run incrementally"

        batch = build_kg(spark, pages)
        cols = ["subj", "pred", "obj", "url", "warc_ts", "prob"]
        s, b = out["triples"].select(cols), batch["triples"].select(cols)
        assert s.exceptAll(b).count() == 0
        assert b.exceptAll(s).count() == 0
        out.release()
        batch.release()

    def test_kg_increments_resume_on_new_drops(self, spark, sf_dir, tmp_path):
        """Continuously-landing crawl: after the first invocation
        drains the initial drop, NEW page files land and a second
        invocation must (a) re-score only the new pages — the
        streaming checkpoint skips processed files, so the mention
        sink holds exactly one row set per page ever landed (no
        duplicates = exactly-once across invocations) — and (b)
        compact the grown sink to EXACTLY the batch DAG's triples
        over all pages."""
        from qizner_spark.plans.pipeline import build_kg
        from qizner_spark.streaming.pipeline import stream_kg_increments

        pages = pages_from_documents(spark, sf_dir)
        first = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 0)
        second = pages.where(F.pmod(F.xxhash64("url"), F.lit(2)) == 1)
        in_dir, work = str(tmp_path / "in"), str(tmp_path / "work")

        first.repartition(2).write.parquet(in_dir)
        out1 = stream_kg_increments(spark, in_dir, work)
        n_first = out1["mentions"].count()
        assert out1["n_batches"] >= 1
        out1.release()

        second.repartition(2).write.mode("append").parquet(in_dir)
        out2 = stream_kg_increments(spark, in_dir, work)
        assert out2["n_batches"] >= 1, "second drop produced no micro-batch"

        batch = build_kg(spark, pages)
        n_all = batch["mentions"].count()
        assert out2["mentions"].count() == n_all, \
            "mention sink duplicated or dropped rows across invocations"
        assert n_first < n_all  # the first drop really was partial

        cols = ["subj", "pred", "obj", "url", "warc_ts", "prob"]
        s, b = out2["triples"].select(cols), batch["triples"].select(cols)
        assert s.exceptAll(b).count() == 0
        assert b.exceptAll(s).count() == 0
        out2.release()
        batch.release()


    def test_stream_equals_batch(self, spark, sf_dir, tmp_path):
        """The streamed mention staging sink holds exactly the batch
        DAG's mentions, span for span."""
        from qizner_spark.plans.pipeline import build_kg
        from qizner_spark.streaming.pipeline import stream_kg_increments

        pages = pages_from_documents(spark, sf_dir)
        in_dir = str(tmp_path / "in")
        pages.repartition(2).write.parquet(in_dir)
        out = stream_kg_increments(spark, in_dir, str(tmp_path / "work"))
        batch = build_kg(spark, pages)
        cols = ["url", "ent_type", "start", "end"]
        s, b = out["mentions"].select(cols), batch["mentions"].select(cols)
        assert b.count() > 0
        assert s.exceptAll(b).count() == 0
        assert b.exceptAll(s).count() == 0
        out.release()
        batch.release()

    def test_stream_restart_is_exactly_once(self, spark, sf_dir, tmp_path):
        """Restarting on the same checkpoint with no new input runs no
        micro-batch and leaves the mention sink and triples unchanged."""
        from qizner_spark.streaming.pipeline import stream_kg_increments

        pages = pages_from_documents(spark, sf_dir)
        in_dir, work = str(tmp_path / "in"), str(tmp_path / "work")
        pages.repartition(2).write.parquet(in_dir)
        out1 = stream_kg_increments(spark, in_dir, work)
        n1 = out1["mentions"].count()
        t1 = Counter(map(tuple, out1["triples"].collect()))
        out1.release()

        out2 = stream_kg_increments(spark, in_dir, work)
        assert out2["n_batches"] == 0
        assert out2["mentions"].count() == n1
        assert Counter(map(tuple, out2["triples"].collect())) == t1
        out2.release()


class TestResume:
    def test_second_run_is_noop(self, spark, sf_dir, tmp_path):
        pages = pages_from_documents(spark, sf_dir)
        sink = str(tmp_path / "triples")
        m1 = run_resumable(spark, pages, sink)
        assert m1["n_pending"] > 0 and not m1["resumed"]
        m2 = run_resumable(spark, pages, sink)
        assert m2["n_pending"] == 0 and m2["resumed"]

    def test_no_cache_outlives_a_call(self, spark, sf_dir, tmp_path):
        """run_resumable releases every cache its build persists: after
        a committing call, a call that crashes after staging, and a
        no-op call, the session holds the cached RDDs it held before."""
        from qizner_spark.plans.checkpoint import SimulatedCrash

        jsc = spark.sparkContext._jsc
        pages = pages_from_documents(spark, sf_dir).limit(30)
        committed, crashed = str(tmp_path / "committed"), str(tmp_path / "crashed")

        def cached_rdds_added(sink, **kw):
            before = jsc.getPersistentRDDs().size()
            try:
                run_resumable(spark, pages, sink, **kw)
            except SimulatedCrash:
                pass
            return jsc.getPersistentRDDs().size() - before

        assert cached_rdds_added(committed) == 0
        assert cached_rdds_added(crashed, crash_after="stage") == 0
        assert cached_rdds_added(committed) == 0  # nothing pending

    def test_externally_landed_increments_commit_their_triples(self, spark, sf_dir, tmp_path):
        """Increments copied into the landed table outside Spark (so no
        Spark write refreshes the plans cached over that path): each
        commit must write exactly the triples a batch build over that
        increment alone emits. Spark matches a cached plan by its root
        paths, so a cache left by an earlier call would serve the old
        file listing and commit the increment's urls with 0 triples."""
        import shutil

        import pyarrow.parquet as pq

        from qizner_spark.plans.pipeline import build_kg

        docs = pq.read_table(f"{sf_dir}/documents.parquet")
        landed = tmp_path / "landed"
        (landed / "documents.parquet").mkdir(parents=True)
        sink = str(tmp_path / "triples")
        cols = ["subj", "pred", "obj", "url", "warc_ts", "prob"]
        for k in range(3):
            alone = tmp_path / f"increment-{k}"
            (alone / "documents.parquet").mkdir(parents=True)
            part = alone / "documents.parquet" / f"part-{k}.parquet"
            pq.write_table(docs.slice(20 * k, 20), part)
            shutil.copy(part, landed / "documents.parquet" / part.name)

            m = run_resumable(spark, pages_from_documents(spark, str(landed)), sink)
            batch = build_kg(spark, pages_from_documents(spark, str(alone)))
            want = sorted(batch["triples"].select(cols).collect())
            batch.release()
            assert m["n_pending"] == 20, k
            assert m["n_new_triples"] == len(want) > 0, k
            got = spark.read.parquet(f"{sink}/run_id={m['run_id']}").select(cols)
            assert sorted(got.collect()) == want, k

    def test_incremental_append(self, spark, sf_dir, tmp_path):
        pages = pages_from_documents(spark, sf_dir)
        first, rest = pages.limit(20), pages
        sink = str(tmp_path / "triples")
        run_resumable(spark, first, sink)
        n_after_first = spark.read.parquet(sink).count()
        m2 = run_resumable(spark, rest, sink, metrics_path=str(tmp_path / "metrics"))
        assert m2["n_pending"] == pages.count() - 20
        assert spark.read.parquet(sink).count() > n_after_first
        assert spark.read.json(str(tmp_path / "metrics")).count() == 1

    def test_commit_writes_one_file_per_bucket(self, spark, sf_dir, tmp_path):
        """The staging write is clustered on subj_bucket: every bucket
        of a committed increment is one parquet file, however many
        partitions the triples job ran with, and the count observed on
        that write is the number of rows it wrote."""
        import os

        sink = str(tmp_path / "triples")
        m = run_resumable(spark, pages_from_documents(spark, sf_dir), sink)
        run_dir = os.path.join(sink, f"run_id={m['run_id']}")
        buckets = [d for d in os.listdir(run_dir) if d.startswith("subj_bucket=")]
        assert buckets
        for d in buckets:
            files = [f for f in os.listdir(os.path.join(run_dir, d)) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)
        assert m["n_new_triples"] == spark.read.parquet(run_dir).count() > 0

    def test_zero_triple_commit_with_lineage(self, spark, sf_dir, tmp_path):
        """Pages that yield no triples still commit: the manifest lists
        their urls, no lineage row is logged for the empty write (its
        directory holds no parquet file to read back), and a rerun is
        a no-op."""
        import os

        pages = pages_from_documents(spark, sf_dir).where(F.col("lang") == "zh").limit(5)
        sink, mpath = str(tmp_path / "triples"), str(tmp_path / "metrics")
        m = run_resumable(spark, pages, sink, metrics_path=mpath)
        assert m["n_pending"] == 5 and m["n_new_triples"] == 0
        manifest = spark.read.parquet(f"{sink}_processed")
        assert sorted(r["url"] for r in manifest.collect()) == sorted(
            r["url"] for r in pages.select("url").collect())
        assert {r["run_id"] for r in manifest.collect()} == {m["run_id"]}
        assert not os.path.exists(f"{mpath}_partitions")
        m2 = run_resumable(spark, pages, sink, metrics_path=mpath)
        assert m2["n_pending"] == 0 and m2["resumed"]

    def test_recover_after_commit_runs_no_job(self, spark, sf_dir, tmp_path):
        """A publish renames _staging/<id> and leaves _staging/ empty:
        recovering then has nothing to roll and runs no Spark job."""
        import os

        from qizner_spark.plans.checkpoint import recover_sink

        sink = str(tmp_path / "triples")
        run_resumable(spark, pages_from_documents(spark, sf_dir).limit(10), sink)
        assert os.listdir(os.path.join(sink, "_staging")) == []
        rec, jobs = _jobs_run(spark, lambda: recover_sink(spark, sink))
        assert rec == {"rolled_forward": 0, "rolled_back": 0}
        assert jobs == 0

    def test_processed_keys_plans_without_a_job(self, spark, sf_dir, tmp_path):
        """The manifest and sink reads have fixed schemas: building the
        committed-url plan over a committed sink infers nothing, so it
        runs no Spark job."""
        sink = str(tmp_path / "triples")
        m = run_resumable(spark, pages_from_documents(spark, sf_dir).limit(10), sink)
        assert m["n_new_triples"] > 0
        done, jobs = _jobs_run(spark, lambda: processed_keys(spark, sink))
        assert jobs == 0
        assert done.count() == 10

    def test_zero_triple_sink_resumes_without_a_job(self, spark, sf_dir, tmp_path):
        """A sink whose only increment had zero triples holds
        ``run_id=<id>/_SUCCESS`` and no parquet file: it reads as no
        url, the manifest still covers the committed pages, and the
        plan again runs no Spark job."""
        pages = pages_from_documents(spark, sf_dir)
        zh = pages.where(F.col("lang") == "zh").limit(5)
        en = pages.where(F.col("lang") == "en").limit(5)
        sink = str(tmp_path / "triples")
        assert run_resumable(spark, zh, sink)["n_new_triples"] == 0
        _, jobs = _jobs_run(spark, lambda: processed_keys(spark, sink))
        assert jobs == 0
        assert run_resumable(spark, zh.union(en), sink)["n_pending"] == 5

    def test_pending_only_antijoin(self, spark):
        pages = spark.createDataFrame([("u1",), ("u2",), ("u3",)], ["url"])
        done = spark.createDataFrame([("u2",)], ["url"])
        assert {r["url"] for r in pending_only(pages, done).collect()} == {"u1", "u3"}
        assert pending_only(pages, None).count() == 3

    def test_processed_keys_missing_sink(self, spark, tmp_path):
        assert processed_keys(spark, str(tmp_path / "nope")) is None

    def test_remote_sink_uri_rejected_loudly(self, spark, sf_dir):
        """A scheme with no Hadoop connector on the classpath fails
        when the protocol binds the sink's filesystem, before any Spark
        job: nothing is written, so no local ``s3a:`` directory (the
        sink or its manifest taken as a relative path) appears."""
        import os

        from py4j.protocol import Py4JJavaError

        from qizner_spark.plans.checkpoint import recover_sink

        pages = pages_from_documents(spark, sf_dir)

        def both():
            with pytest.raises(Py4JJavaError, match="s3a"):
                run_resumable(spark, pages, "s3a://bucket/triples")
            with pytest.raises(Py4JJavaError, match="s3a"):
                recover_sink(spark, "s3a://bucket/triples")

        assert _jobs_run(spark, both)[1] == 0
        assert not os.path.lexists("s3a:")

    def test_legacy_manifest_without_run_id_is_tolerated(self, spark, sf_dir, tmp_path):
        """A pre-protocol manifest (url only, no run_id column) means
        no staged commit ever happened: recovery must roll staged dirs
        BACK (not crash), and resume must still honor the legacy urls."""
        import os

        from qizner_spark.plans.checkpoint import recover_sink

        pages = pages_from_documents(spark, sf_dir).limit(10)
        sink = str(tmp_path / "triples")
        legacy_urls = pages.select("url").limit(4)
        legacy_urls.write.parquet(f"{sink}_processed")  # url-only manifest
        # an unmanifested staged dir from a crashed pre-commit run
        os.makedirs(os.path.join(sink, "_staging", "deadbeef"))
        rec = recover_sink(spark, sink)
        assert rec == {"rolled_forward": 0, "rolled_back": 1}
        m = run_resumable(spark, pages, sink)
        assert m["n_pending"] == 6  # 4 legacy urls honored, not reprocessed

    def test_crash_between_data_and_manifest_no_duplicates(self, spark, sf_dir, tmp_path):
        """Simulate a crash AFTER the triples append but BEFORE the
        manifest append: the manifest dir is deleted. The rerun must
        skip the already-sunk urls (done-set unions the sink itself)
        instead of appending their triples a second time."""
        import shutil

        pages = pages_from_documents(spark, sf_dir).limit(30)
        sink = str(tmp_path / "triples")
        run_resumable(spark, pages, sink)
        n_rows = spark.read.parquet(sink).count()
        shutil.rmtree(f"{sink}_processed")  # lose the manifest
        m2 = run_resumable(spark, pages, sink)
        assert spark.read.parquet(sink).count() == n_rows  # no double-append
        # zero-triple urls (zh pages) may legitimately reprocess;
        # urls with sunk triples must not
        sunk = {r["url"] for r in spark.read.parquet(sink).select("url").distinct().collect()}
        reprocessed = m2["n_pending"]
        assert reprocessed <= pages.count() - len(sunk)

    def test_crash_after_stage_rolls_back_no_duplicates(self, spark, sf_dir, tmp_path):
        """Crash BEFORE the manifest commit: the staged increment is
        invisible and must be rolled back on the next run; the batch
        reprocesses exactly once with no duplicate rows."""
        from qizner_spark.plans.checkpoint import SimulatedCrash

        pages = pages_from_documents(spark, sf_dir).limit(30)
        sink = str(tmp_path / "triples")
        with pytest.raises(SimulatedCrash):
            run_resumable(spark, pages, sink, crash_after="stage")
        # nothing committed: the sink has no readable data
        assert processed_keys(spark, sink) is None
        m = run_resumable(spark, pages, sink)
        assert m["rolled_back"] == 1 and m["rolled_forward"] == 0
        assert m["n_pending"] == 30
        sunk = spark.read.parquet(sink)
        assert sunk.count() == sunk.dropDuplicates(["url", "subj", "pred", "obj"]).count()
        # and a third run is a clean no-op
        assert run_resumable(spark, pages, sink)["n_pending"] == 0

    def test_crash_after_commit_rolls_forward_no_reprocess(self, spark, sf_dir, tmp_path):
        """Crash BETWEEN manifest commit and publish: the next run
        must finish the rename (roll forward) — no data loss, no
        duplicate, and crucially NO reprocessing (the manifest covers
        every url of the batch, zero-triple urls included)."""
        from qizner_spark.plans.checkpoint import SimulatedCrash

        pages = pages_from_documents(spark, sf_dir).limit(30)
        sink = str(tmp_path / "triples")
        with pytest.raises(SimulatedCrash):
            run_resumable(spark, pages, sink, crash_after="commit")
        m = run_resumable(spark, pages, sink)
        assert m["rolled_forward"] == 1 and m["rolled_back"] == 0
        assert m["n_pending"] == 0  # manifest already covered the batch
        sunk = spark.read.parquet(sink)
        assert sunk.count() > 0
        assert sunk.count() == sunk.dropDuplicates(["url", "subj", "pred", "obj"]).count()
        # parity with an uninterrupted run on the same input
        clean_sink = str(tmp_path / "clean")
        run_resumable(spark, pages, clean_sink)
        clean = spark.read.parquet(clean_sink)
        cols = ["url", "subj", "pred", "obj"]
        assert sunk.select(cols).exceptAll(clean.select(cols)).count() == 0
        assert clean.select(cols).exceptAll(sunk.select(cols)).count() == 0

    def test_empty_staging_dir_means_not_yet_written(self, spark, tmp_path):
        """A crash during the very FIRST append can leave the sink (or
        manifest) directory holding only _temporary: resume must treat
        that as 'nothing committed yet' (None), not raise
        UNABLE_TO_INFER_SCHEMA forever."""
        import os

        sink = str(tmp_path / "triples")
        os.makedirs(os.path.join(sink, "_temporary"))
        os.makedirs(f"{sink}_processed/_temporary")
        assert processed_keys(spark, sink) is None

    def test_corrupt_manifest_raises_not_silently_reprocesses(self, spark, sf_dir, tmp_path):
        import os

        pages = pages_from_documents(spark, sf_dir).limit(10)
        sink = str(tmp_path / "triples")
        run_resumable(spark, pages, sink)
        # corrupt the manifest: a non-parquet file in the directory
        mdir = f"{sink}_processed"
        for f in os.listdir(mdir):
            if f.endswith(".parquet"):
                with open(os.path.join(mdir, f), "wb") as fh:
                    fh.write(b"not a parquet file")
        with pytest.raises(Exception):
            processed_keys(spark, sink).collect()


class TestFilesystemSeam:
    """The commit protocol's metadata ops run through the sink path's
    own Hadoop FileSystem: a ``file://`` URI, a raw path and a path
    with a space must each name one store for the protocol and for
    Spark's writes."""

    def test_file_scheme_sink_round_trips(self, spark, sf_dir, tmp_path):
        """file:///x must publish at /x — before the seam, Spark wrote
        to /x but the publish rename targeted the literal 'file:///x',
        failing AFTER the manifest commit (lost increment)."""
        pages = pages_from_documents(spark, sf_dir).limit(10)
        raw = str(tmp_path / "triples")
        sink = "file://" + raw
        m1 = run_resumable(spark, pages, sink)
        assert m1["n_pending"] == 10
        # published (not stuck in _staging), readable at the raw path
        import os
        assert not os.path.isdir(os.path.join(raw, "_staging")) or \
            os.listdir(os.path.join(raw, "_staging")) == []
        assert spark.read.parquet(raw).count() == m1["n_new_triples"]
        # second run through the RAW path sees the same sink: noop
        m2 = run_resumable(spark, pages, raw)
        assert m2["n_pending"] == 0 and m2["resumed"]

    def test_sink_path_with_space_round_trips(self, spark, sf_dir, tmp_path):
        """A space in the sink path reaches the filesystem binding and
        Spark's writes as the same path: the increment publishes and a
        rerun is a no-op."""
        import os

        pages = pages_from_documents(spark, sf_dir).limit(10)
        sink = str(tmp_path / "kg out" / "triples")
        m1 = run_resumable(spark, pages, sink)
        assert m1["n_pending"] == 10
        assert os.listdir(os.path.join(sink, "_staging")) == []
        assert spark.read.parquet(sink).count() == m1["n_new_triples"] > 0
        m2 = run_resumable(spark, pages, sink)
        assert m2["n_pending"] == 0 and m2["resumed"]


class TestPerPartitionLineage:
    """north_rule: 'lineage and throughput metrics logged per
    partition' — every increment appends one row per subj_bucket with
    its triple/source counts, keyed by run_id."""

    def test_resumable_logs_partition_lineage(self, spark, sf_dir, tmp_path):
        pages = pages_from_documents(spark, sf_dir)
        sink = str(tmp_path / "triples")
        mpath = str(tmp_path / "metrics")
        first, rest = pages.limit(15), pages
        m1 = run_resumable(spark, first, sink, metrics_path=mpath)
        m2 = run_resumable(spark, rest, sink, metrics_path=mpath)
        lineage = spark.read.json(f"{mpath}_partitions")
        assert set(lineage.columns) >= {
            "subj_bucket", "n_triples", "n_source_urls", "run_id", "ts"}
        runs = {r["run_id"] for r in lineage.select("run_id").distinct().collect()}
        assert runs == {m1["run_id"], m2["run_id"]}
        # lineage totals reconcile exactly with the run metrics
        from pyspark.sql import functions as F
        tot = {r["run_id"]: r["s"] for r in lineage.groupBy("run_id")
               .agg(F.sum("n_triples").alias("s")).collect()}
        assert tot[m1["run_id"]] == m1["n_new_triples"]
        assert tot[m2["run_id"]] == m2["n_new_triples"]
        # and with the published sink itself
        assert spark.read.parquet(sink).count() == sum(tot.values())
        # every logged bucket holds triples from at least one source url
        assert lineage.where(F.col("n_source_urls") < 1).count() == 0
