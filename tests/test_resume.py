"""Checkpoint/resume tests: kill-after-partial-commit -> resume -> output
equals a single-run golden, exactly once per url (SURVEY.md §5.2). The
commit-path tests run both jobs that commit through `lineage.commit_parts`."""

import glob
import os
from typing import Callable, NamedTuple

import pyspark.sql.functions as F
import pytest

from activestorage_ocr_spark.operators import curation
from activestorage_ocr_spark.operators import lineage as ln

N_PARTS = 8
MAX_BYTES = 262_144


@pytest.fixture()
def pages(spark, corpus_dir_200):
    return spark.read.parquet(f"{corpus_dir_200}/pages.parquet")


@pytest.fixture()
def docs(spark):
    # 40 docs in 20 exact-duplicate pairs: both outcomes get rows
    return spark.createDataFrame(
        [(i, f"plain readable words of curation document number {i // 2} here", "en")
         for i in range(40)],
        "doc_id long, text string, lang string",
    )


class Job(NamedTuple):
    run: Callable  # (spark, input, out, **kw) -> summary dict
    input_fixture: str
    key: str
    read_ok: Callable
    read_not_ok: Callable


JOBS = {
    "extraction": Job(
        lambda spark, df, out, n_parts=N_PARTS, **kw: ln.run_extraction_job(
            spark, df, out, n_parts=n_parts, max_bytes=MAX_BYTES, **kw),
        "pages", "url", ln.read_output, ln.read_quarantine,
    ),
    "curation": Job(
        lambda spark, df, out, n_parts=N_PARTS, **kw: curation.run_curation_job(
            spark, df, out, n_parts=n_parts, **kw),
        "docs", "doc_id", curation.read_curated, curation.read_rejected,
    ),
}


@pytest.fixture(params=sorted(JOBS))
def job(request):
    return JOBS[request.param]


class TestResume:
    def test_partial_then_resume_exactly_once(self, spark, pages, corpus_dir_200, tmp_path):
        out = str(tmp_path / "out")
        # "crash" after committing only parts {0, 1, 2}
        r1 = ln.run_extraction_job(
            spark, pages, out, run_id="run-1", n_parts=N_PARTS,
            max_bytes=MAX_BYTES, only_parts=[0, 1, 2],
        )
        assert r1["parts_done"] == 3
        m1 = ln.read_manifest(spark, out)
        assert {r.part_key for r in m1.collect()} == {0, 1, 2}

        # resume: full run picks up only the pending parts
        r2 = ln.run_extraction_job(
            spark, pages, out, run_id="run-2", n_parts=N_PARTS, max_bytes=MAX_BYTES,
        )
        assert r2["parts_skipped"] == 3
        assert r2["parts_done"] == N_PARTS - 3

        # exactly-once: every url exactly once across extracted+quarantine
        got = ln.read_output(spark, out).select("url").union(
            ln.read_quarantine(spark, out).select("url")
        )
        assert got.count() == 200
        assert got.distinct().count() == 200

        # byte-identity against the single-node goldens still holds
        golden = spark.read.parquet(f"{corpus_dir_200}/goldens.parquet")
        joined = (
            ln.read_output(spark, out)
            .join(golden.select("url", F.col("extracted_text").alias("want")), "url")
        )
        assert joined.filter(~F.col("extracted_text").eqNullSafe(F.col("want"))).count() == 0

        # manifest attributes parts to the run that processed them
        m2 = ln.read_manifest(spark, out)
        by_run = {r.run_id: r.cnt for r in m2.groupBy("run_id").agg(F.count("*").alias("cnt")).collect()}
        assert by_run == {"run-1": 3, "run-2": N_PARTS - 3}

    def test_rerun_after_complete_is_noop(self, spark, job, request, tmp_path):
        out = str(tmp_path / "out")
        df = request.getfixturevalue(job.input_fixture)
        job.run(spark, df, out, run_id="a")
        r = job.run(spark, df, out, run_id="b")
        assert r["n_rows"] == 0
        assert r["parts_skipped"] == N_PARTS
        # no duplicate manifest rows for a part
        m = ln.read_manifest(spark, out)
        assert m.groupBy("part_key").count().filter("count > 1").count() == 0

    def test_crash_between_data_and_manifest_is_idempotent(self, spark, pages, tmp_path):
        """Simulate the torn state: data for a part committed but manifest
        lost -> the part is reprocessed and dynamically overwritten, not
        duplicated."""
        import shutil

        out = str(tmp_path / "out")
        ln.run_extraction_job(
            spark, pages, out, run_id="x", n_parts=N_PARTS, max_bytes=MAX_BYTES, only_parts=[0],
        )
        # lose the manifest (the crash window is data-commit -> manifest-commit)
        shutil.rmtree(ln.manifest_path(out))
        ln.run_extraction_job(spark, pages, out, run_id="y", n_parts=N_PARTS, max_bytes=MAX_BYTES)
        got = ln.read_output(spark, out).select("url").union(
            ln.read_quarantine(spark, out).select("url")
        )
        assert got.count() == got.distinct().count() == 200

    def test_output_carries_processed_at_and_run_id(self, spark, pages, tmp_path):
        out = str(tmp_path / "out")
        ln.run_extraction_job(spark, pages, out, run_id="stamp", n_parts=N_PARTS, max_bytes=MAX_BYTES)
        got = ln.read_output(spark, out)
        assert "processed_at" in got.columns  # C7 ISO stamp analog
        assert got.filter(F.col("processed_at").isNull()).count() == 0
        assert {r.run_id for r in got.select("run_id").distinct().collect()} == {"stamp"}

    def test_manifest_lineage_metrics(self, spark, pages, tmp_path):
        out = str(tmp_path / "out")
        ln.run_extraction_job(spark, pages, out, run_id="m", n_parts=N_PARTS, max_bytes=MAX_BYTES)
        m = ln.read_manifest(spark, out)
        tot = m.agg(
            F.sum("n_rows").alias("rows"), F.sum("n_ok").alias("ok"),
            F.sum("n_quarantined").alias("q"), F.sum("bytes_in").alias("b"),
        ).first()
        assert tot.rows == 200
        assert tot.ok + tot.q == 200
        assert tot.b > 0
        assert m.filter(F.col("wall_ms") < 0).count() == 0

    def test_resume_with_smaller_n_parts_raises(self, spark, pages, tmp_path):
        # a url in part 5 of 8 hashes to some part of 4: a resume with
        # n_parts=4 would commit it a second time beside part_key=5
        out = str(tmp_path / "out")
        ln.run_extraction_job(
            spark, pages, out, run_id="p", n_parts=8, max_bytes=MAX_BYTES, only_parts=[5],
        )
        with pytest.raises(ValueError, match="n_parts must stay fixed"):
            ln.run_extraction_job(spark, pages, out, run_id="q", n_parts=4, max_bytes=MAX_BYTES)
        assert [r.part_key for r in ln.read_manifest(spark, out).collect()] == [5]
        got = ln.read_output(spark, out).select("url").union(
            ln.read_quarantine(spark, out).select("url")
        )
        assert got.count() == got.distinct().count()

    def test_uri_root_resumes(self, spark, job, request, tmp_path):
        # a file:// root must resume like the same root given as a path:
        # the manifest and data dirs are looked up through Hadoop, not os.path
        plain = str(tmp_path / "out")
        uri = f"file://{plain}"
        df = request.getfixturevalue(job.input_fixture)
        job.run(spark, df, uri, run_id="p", only_parts=[1, 2])
        r = job.run(spark, df, uri, run_id="q")
        assert r["parts_skipped"] == 2
        assert r["parts_done"] == N_PARTS - 2
        assert ln.read_manifest(spark, uri).count() == N_PARTS
        for read in (job.read_ok, job.read_not_ok):
            want = read(spark, plain)
            got = read(spark, uri)
            assert got.columns == want.columns
            assert got.count() == want.count() > 0


class TestQuarantineReads:
    @pytest.mark.parametrize("job_name", sorted(JOBS))
    def test_zero_quarantine_run_reads_as_empty(self, spark, tmp_path, job_name):
        # ADVICE r1: a run with zero quarantined rows leaves a quarantine
        # dir with no parquet footers; read_quarantine must not blow up on
        # schema inference — it returns an empty, correctly-typed frame.
        out = str(tmp_path / "out")
        if job_name == "extraction":
            clean = spark.createDataFrame(
                [
                    (
                        f"https://ok.example/{i}",
                        None,
                        b"<html><body><main><p>"
                        b"A clean page with a long paragraph of honest content text."
                        b"</p></main></body></html>",
                        "en",
                    )
                    for i in range(6)
                ],
                "url string, warc_ts timestamp, html binary, lang string",
            )
            column = "error_code"
        else:
            clean = spark.createDataFrame(
                [(i, f"a clean document with plenty of honest words number {i}", "en")
                 for i in range(6)],
                "doc_id long, text string, lang string",
            )
            column = "reject_reason"
        job = JOBS[job_name]
        r = job.run(spark, clean, out, run_id="clean-run", n_parts=2)
        assert r["n_rows"] == 6
        q = job.read_not_ok(spark, out)
        assert q.count() == 0
        assert column in q.columns and "part_key" in q.columns
        assert q.columns == job.read_ok(spark, out).columns

    def test_missing_quarantine_dir_reads_as_empty(self, spark, job, tmp_path):
        q = job.read_not_ok(spark, str(tmp_path / "never-written"))
        assert q.count() == 0

    def test_job_never_materializes(self, spark, pages, tmp_path, monkeypatch):
        # Verdict r2 "what's wrong #1": the job must stream kernel->parquet —
        # never cache()/persist() the full extraction before the first write.
        # Patch both entry points to raise; the job must still complete.
        # The concrete class: a patch on pyspark.sql.DataFrame does not reach
        # the methods its session-specific subclass overrides.
        DataFrame = type(pages)

        def _boom(self, *a, **k):  # pragma: no cover - should never run
            raise AssertionError("run_extraction_job must not materialize output")

        monkeypatch.setattr(DataFrame, "cache", _boom)
        monkeypatch.setattr(DataFrame, "persist", _boom)
        out = str(tmp_path / "out")
        r = ln.run_extraction_job(
            spark, pages, out, run_id="nocache", n_parts=N_PARTS, max_bytes=MAX_BYTES
        )
        assert r["n_rows"] == pages.count()
        assert ln.read_output(spark, out).count() + ln.read_quarantine(spark, out).count() == r["n_rows"]

    def test_crash_between_data_and_manifest_commits(self, spark, job, request, tmp_path, monkeypatch):
        # the documented idempotence window: data parquet committed, crash
        # before the manifest append -> the next run reprocesses those parts
        # and dynamic overwrite replaces (never duplicates) their output
        out = str(tmp_path / "out")
        df = request.getfixturevalue(job.input_fixture)
        import pyspark.sql.readwriter as rw

        real_save = rw.DataFrameWriter.parquet
        def boom_on_manifest(self, path, *a, **k):
            if path.endswith("_manifest"):
                raise RuntimeError("simulated crash before manifest commit")
            return real_save(self, path, *a, **k)

        monkeypatch.setattr(rw.DataFrameWriter, "parquet", boom_on_manifest)
        with pytest.raises(RuntimeError, match="simulated crash"):
            job.run(spark, df, out, run_id="crash")
        monkeypatch.setattr(rw.DataFrameWriter, "parquet", real_save)
        # data landed, manifest did not -> everything still pending
        assert ln.read_manifest(spark, out).count() == 0
        r = job.run(spark, df, out, run_id="retry")
        assert r["parts_done"] == N_PARTS and r["parts_skipped"] == 0
        got = job.read_ok(spark, out).select(job.key).union(
            job.read_not_ok(spark, out).select(job.key)
        )
        assert got.count() == df.count()                 # exactly once
        assert got.distinct().count() == df.count()
        # and every persisted row carries the retry run_id (overwritten)
        runs = {r.run_id for r in job.read_ok(spark, out).select("run_id").distinct().collect()}
        assert runs == {"retry"}


class TestCommitLayout:
    def test_one_parquet_file_per_partition_dir(self, spark, job, request, tmp_path):
        # the write clusters by part_key, so each (outcome, part_key) dir is
        # written by one task: exactly one parquet file per dir
        out = str(tmp_path / "out")
        job.run(spark, request.getfixturevalue(job.input_fixture), out, run_id="layout")
        dirs = glob.glob(os.path.join(out, "data", "outcome=*", "part_key=*"))
        assert dirs
        counts = {d: sum(f.endswith(".parquet") for f in os.listdir(d)) for d in dirs}
        assert set(counts.values()) == {1}, counts


class TestCommitCost:
    #: a fresh-root extraction commit of the 200-doc corpus at local[4] runs
    #: 18 tasks; a fixed 64-task write stage or a 63-task partition-discovery
    #: listing job would each push it past this bound
    MAX_TASKS = 32

    def test_fresh_root_commit_task_count(self, spark, pages, tmp_path, monkeypatch):
        # the concrete class: a patch on pyspark.sql.DataFrame does not reach
        # the methods its session-specific subclass overrides
        DataFrame = type(pages)
        sc = spark.sparkContext
        tracker = sc.statusTracker()
        group = f"commit-cost-{tmp_path.name}"
        jobs_before_probe = []
        real_take = DataFrame.take

        def take(self, num):
            if not jobs_before_probe:
                jobs_before_probe.append(len(tracker.getJobIdsForGroup(group)))
            return real_take(self, num)

        monkeypatch.setattr(DataFrame, "take", take)
        sc.setJobGroup(group, "fresh-root commit")
        try:
            r = ln.run_extraction_job(
                spark, pages, str(tmp_path / "out"), run_id="cost", max_bytes=MAX_BYTES,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert r["n_rows"] == 200
        # a fresh root has no manifest: the emptiness probe is the first job
        assert jobs_before_probe == [0]
        tasks = 0
        for job_id in tracker.getJobIdsForGroup(group):
            for stage_id in tracker.getJobInfo(job_id).stageIds:
                # the status store evicts skipped stages (no completion time,
                # no tasks run) first once it holds spark.ui.retainedStages
                info = tracker.getStageInfo(stage_id)
                tasks += info.numCompletedTasks if info else 0
        assert 0 < tasks <= self.MAX_TASKS
