"""Resume fixture (FIXTURES.md F7): a run killed after K of M buckets
must resume processing only the M−K remaining buckets and produce a
final state byte-identical to an uninterrupted run."""

from __future__ import annotations

import pytest

from axosyslog_spark import checkpoint as ck
from axosyslog_spark.sources.transcripts import synthesize_transcripts

SF = "/root/testdata/sf0.001"
N_BUCKETS = 8


def _routed_set(spark, out_dir):
    df = ck.read_output(spark, out_dir)
    return sorted(
        (r.sink, r.conv_id, r.turn_idx, r.text)
        for r in df.select("sink", "conv_id", "turn_idx", "text").collect()
    )


def test_resume_after_crash_matches_uninterrupted(spark, tmp_path):
    t = synthesize_transcripts(spark, SF)

    # uninterrupted reference run
    ref_dir = str(tmp_path / "ref")
    rep = ck.run_checkpointed(spark, t, ref_dir, n_buckets=N_BUCKETS, run_id="ref")
    assert rep.processed_buckets == list(range(N_BUCKETS))
    assert rep.skipped_buckets == []

    # crashed run: dies after 3 committed buckets
    crash_dir = str(tmp_path / "crash")
    with pytest.raises(ck.InjectedFailure):
        ck.run_checkpointed(
            spark, t, crash_dir, n_buckets=N_BUCKETS, run_id="r1",
            fail_after_buckets=3,
        )
    assert len(ck.committed_buckets(crash_dir)) == 3

    # resume: processes exactly the remaining 5, skips the 3 committed
    rep2 = ck.run_checkpointed(
        spark, t, crash_dir, n_buckets=N_BUCKETS, run_id="r2"
    )
    assert len(rep2.skipped_buckets) == 3
    assert len(rep2.processed_buckets) == N_BUCKETS - 3

    # final state identical to the uninterrupted run
    assert _routed_set(spark, crash_dir) == _routed_set(spark, ref_dir)

    # lineage fingerprints match bucket-for-bucket
    ref_l = {r["bucket"]: r for r in ck.committed_buckets(ref_dir).values()}
    got_l = {r["bucket"]: r for r in ck.committed_buckets(crash_dir).values()}
    assert set(ref_l) == set(got_l) == set(range(N_BUCKETS))
    for b in ref_l:
        assert ref_l[b]["rows_hash"] == got_l[b]["rows_hash"]
        assert ref_l[b]["total"] == got_l[b]["total"]
        assert ref_l[b]["sink_counts"] == got_l[b]["sink_counts"]


def test_rerun_of_complete_run_is_noop(spark, tmp_path):
    t = synthesize_transcripts(spark, SF)
    out = str(tmp_path / "out")
    ck.run_checkpointed(spark, t, out, n_buckets=4, run_id="a")
    rep = ck.run_checkpointed(spark, t, out, n_buckets=4, run_id="b")
    assert rep.processed_buckets == []
    assert len(rep.skipped_buckets) == 4


def test_lineage_totals_match_pipeline_counts(spark, tmp_path):
    from axosyslog_spark.plans.pipeline import run_pipeline

    t = synthesize_transcripts(spark, SF)
    out = str(tmp_path / "out")
    ck.run_checkpointed(spark, t, out, n_buckets=4)
    lineage = ck.lineage_df(spark, out)
    total = lineage.groupBy().sum("total").collect()[0][0]
    expected = run_pipeline(spark, t).routed.count()
    assert total == expected


def test_empty_buckets_commit_zero_counts(spark, tmp_path):
    """A bucket no conversation hashes into still commits, with a zero
    total and zero per-sink counts (an empty observe() must not read
    as NULL)."""
    t = synthesize_transcripts(spark, SF)
    conv = t.groupBy("conv_id").count().filter("count = 52").orderBy("conv_id").first()
    one = t.filter(t.conv_id == conv.conv_id)
    out = str(tmp_path / "out")
    rep = ck.run_checkpointed(spark, one, out, n_buckets=4)
    assert rep.processed_buckets == [0, 1, 2, 3]
    recs = ck.committed_buckets(out)
    assert sorted(recs) == [0, 1, 2, 3]
    empty = [r for r in recs.values() if r["total"] == 0]
    assert len(empty) == 3
    for r in empty:
        assert set(r["sink_counts"].values()) == {0}
    assert sum(r["total"] for r in recs.values()) == rep.total_rows > 0

    # the observed run shares the counters: an empty input reads 0 too
    from axosyslog_spark.plans.pipeline import run_pipeline_observed

    routed, obs = run_pipeline_observed(spark, one.limit(0))
    routed.write.format("noop").mode("overwrite").save()
    assert set(obs.get.values()) == {0}
