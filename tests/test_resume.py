"""Checkpoint-resume test (SURVEY §5.2.4 / FIXTURES.md §4): kill mid-run
after k of n commits, restart, assert exactly the uncommitted buckets are
reprocessed and the final output equals an uninterrupted run."""

import pytest
from pyspark.sql import functions as F

from ai_textbook_processor_spark.corpus import corpus_df
from ai_textbook_processor_spark.plans.lineage import (
    SimulatedFailure,
    committed_buckets,
    run_extraction,
)
from ai_textbook_processor_spark.sources.io_catalog import Catalog

N_DOCS = 96
N_BUCKETS = 8
PER_COMMIT = 2  # -> 4 commit groups


def spans_inventory(df):
    return sorted(
        (r["doc_id"], tuple((s.kind, s.text, s.media_ref) for s in r["spans"]))
        for r in df.select("doc_id", "spans").collect()
    )


def test_kill_and_resume_equals_uninterrupted(spark, tmp_path):
    docs = corpus_df(spark, N_DOCS, seed=42)

    # uninterrupted reference run
    full_root = str(tmp_path / "full")
    summary = run_extraction(
        spark, docs, full_root, "run-a", n_buckets=N_BUCKETS,
        buckets_per_commit=PER_COMMIT,
    )
    assert summary["docs_total"] == N_DOCS
    assert summary["commits"] == 4

    # killed run: 2 of 4 commits land
    part_root = str(tmp_path / "part")
    with pytest.raises(SimulatedFailure):
        run_extraction(
            spark, docs, part_root, "run-b", n_buckets=N_BUCKETS,
            buckets_per_commit=PER_COMMIT, fail_after_commits=2,
        )
    cat = Catalog(part_root)
    done = committed_buckets(spark, cat, "run-b")
    assert len(done) == 2 * PER_COMMIT  # k groups committed

    # restart: exactly n-k groups reprocessed
    summary2 = run_extraction(
        spark, docs, part_root, "run-b", n_buckets=N_BUCKETS,
        buckets_per_commit=PER_COMMIT,
    )
    assert summary2["buckets_resumed"] == 2 * PER_COMMIT
    assert summary2["buckets_processed"] == N_BUCKETS - 2 * PER_COMMIT
    assert summary2["commits"] == 2
    assert summary2["docs_total"] == N_DOCS

    # output equality vs the uninterrupted run
    a = spans_inventory(Catalog(full_root).table("extracted").read(spark))
    b = spans_inventory(cat.table("extracted").read(spark))
    assert a == b

    # lineage accounting: every bucket committed exactly once, doc counts sum
    lin = cat.table("lineage").read(spark)
    per_bucket = lin.groupBy("partition_id").agg(F.count("*").alias("c")).collect()
    assert all(r["c"] == 1 for r in per_bucket)
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == N_DOCS


def test_rerun_after_completion_is_noop(spark, tmp_path):
    docs = corpus_df(spark, 24, seed=7)
    root = str(tmp_path / "t")
    s1 = run_extraction(spark, docs, root, "r", n_buckets=4, buckets_per_commit=2)
    s2 = run_extraction(spark, docs, root, "r", n_buckets=4, buckets_per_commit=2)
    assert s1["docs_total"] == 24
    assert s2["buckets_processed"] == 0 and s2["commits"] == 0
    assert s2["docs_total"] == 24  # no duplicate rows appended


def test_resume_refuses_changed_bucketing(spark, tmp_path):
    """Resuming a run_id with different n_buckets/buckets_per_commit must be
    rejected: a crash between data commit and lineage append plus a
    re-grouped resume would re-append already-committed buckets (ADVICE r1)."""
    docs = corpus_df(spark, 24, seed=7)
    root = str(tmp_path / "t")
    run_extraction(spark, docs, root, "r", n_buckets=4, buckets_per_commit=2)
    with pytest.raises(ValueError, match="resume must use the same"):
        run_extraction(spark, docs, root, "r", n_buckets=4, buckets_per_commit=1)
    with pytest.raises(ValueError, match="resume must use the same"):
        run_extraction(spark, docs, root, "r", n_buckets=8, buckets_per_commit=2)


def test_idempotent_commit_id(spark, tmp_path):
    """Crash between data commit and lineage append: re-append same id no-ops."""
    docs = corpus_df(spark, 12, seed=3)
    cat = Catalog(str(tmp_path / "c"))
    tbl = cat.table("extracted")
    tbl.append(docs, commit_id="fixed-id")
    tbl.append(docs, commit_id="fixed-id")  # duplicate commit
    assert tbl.read(spark).count() == 12
    assert len(tbl.manifests()) == 1


def test_staged_clean_corpus_kill_resume_and_idempotent_rerun(spark, tmp_path):
    """run_clean_corpus (durable pipeline): kill during the extraction
    stage, resume to completion, and the cleaned/funnel tables must equal
    the in-session clean_corpus on the same docs; a full rerun of the
    completed run no-ops every commit (no duplicate rows)."""
    from ai_textbook_processor_spark.functions.readability import CriteriaConfig
    from ai_textbook_processor_spark.plans.training_pipeline import (
        clean_corpus,
        run_clean_corpus,
    )

    docs = corpus_df(spark, N_DOCS, seed=9)
    cfg = CriteriaConfig(grade_lo=-100.0, grade_hi=100.0)
    out = str(tmp_path / "staged")

    with pytest.raises(SimulatedFailure):
        run_clean_corpus(
            spark, docs, out, "run-cc", cfg=cfg, n_buckets=N_BUCKETS,
            buckets_per_commit=PER_COMMIT, fail_after_commits=2,
            min_quality=0.1,
        )
    # resume: only the remaining extraction buckets run, stages complete
    summary = run_clean_corpus(
        spark, docs, out, "run-cc", cfg=cfg, n_buckets=N_BUCKETS,
        buckets_per_commit=PER_COMMIT, min_quality=0.1,
    )
    assert summary["buckets_resumed"] == 2 * PER_COMMIT
    assert summary["buckets_processed"] == N_BUCKETS - 2 * PER_COMMIT

    cat = Catalog(out)
    staged_cleaned = cat.table("cleaned").read(spark)
    ref_cleaned, ref_funnel = clean_corpus(docs, cfg, min_quality=0.1)
    assert spans_inventory(staged_cleaned) == spans_inventory(ref_cleaned)
    assert summary["funnel"] == {
        r["stage"]: int(r["n"]) for r in ref_funnel.collect()
    }

    # full rerun: extraction resumes to zero work, cleaned/funnel commits
    # no-op -> identical row counts
    n_before = staged_cleaned.count()
    summary2 = run_clean_corpus(
        spark, docs, out, "run-cc", cfg=cfg, n_buckets=N_BUCKETS,
        buckets_per_commit=PER_COMMIT, min_quality=0.1,
    )
    assert summary2["buckets_processed"] == 0
    assert cat.table("cleaned").read(spark).count() == n_before
    assert (
        cat.table("funnel").read(spark).where(F.col("run_id") == "run-cc").count()
        == len(summary["funnel"])
    )


def test_crash_between_data_commit_and_lineage_append(spark, tmp_path, monkeypatch):
    """The write-then-log gap (plans/lineage.py docstring): a crash AFTER a
    bucket group's data commit but BEFORE its lineage row lands leaves a
    committed-but-unrecorded group. The resume must re-run that group, the
    idempotent data commit must no-op (same commit id -> no duplicate
    rows), and the lineage row must land on the retry."""
    from ai_textbook_processor_spark.sources import io_catalog

    docs = corpus_df(spark, N_DOCS, seed=4)
    out = str(tmp_path / "gap")

    real_append = io_catalog.LocalTable.append
    state = {"lineage_appends": 0}

    def gappy_append(self, df, commit_id=None, meta=None):
        if self.dir.endswith("/lineage"):
            state["lineage_appends"] += 1
            if state["lineage_appends"] == 2:
                raise SimulatedFailure("crash in the write-then-log gap")
        return real_append(self, df, commit_id=commit_id, meta=meta)

    monkeypatch.setattr(io_catalog.LocalTable, "append", gappy_append)
    with pytest.raises(SimulatedFailure):
        run_extraction(
            spark, docs, out, "run-gap", n_buckets=N_BUCKETS,
            buckets_per_commit=PER_COMMIT,
        )
    monkeypatch.setattr(io_catalog.LocalTable, "append", real_append)

    cat = Catalog(out)
    # group 2's DATA is committed but its lineage row is missing
    committed = committed_buckets(spark, cat, "run-gap")
    assert len(committed) == PER_COMMIT  # only group 1 recorded

    summary = run_extraction(
        spark, docs, out, "run-gap", n_buckets=N_BUCKETS,
        buckets_per_commit=PER_COMMIT,
    )
    # resume re-ran every unrecorded bucket (incl. the committed-but-
    # unrecorded group), and the idempotent commit kept rows exact
    assert summary["buckets_resumed"] == PER_COMMIT
    assert summary["buckets_processed"] == N_BUCKETS - PER_COMMIT
    assert summary["docs_total"] == N_DOCS

    final = cat.table("extracted").read(spark)
    assert final.count() == N_DOCS
    assert final.select("doc_id").distinct().count() == N_DOCS

    # lineage now covers every bucket exactly once
    lineage = cat.table("lineage").read(spark)
    per_bucket = (
        lineage.where(F.col("run_id") == "run-gap")
        .groupBy("partition_id").count().collect()
    )
    assert len(per_bucket) == N_BUCKETS
    assert all(r["count"] == 1 for r in per_bucket)


def test_merge_upsert_snapshot_semantics(spark, tmp_path):
    """LocalTable.merge: updated keys replaced (no duplicates), new keys
    inserted, untouched rows carried forward; sequential merges compose;
    an idempotent retry of a committed merge is a no-op snapshot-wise."""
    from ai_textbook_processor_spark.sources.io_catalog import Catalog

    tbl = Catalog(str(tmp_path)).table("t")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(10)], "k long, v string"
    )
    tbl.append(base, commit_id="seed")

    up1 = spark.createDataFrame(
        [(3, "v3-new"), (7, "v7-new"), (100, "v100")], "k long, v string"
    )
    tbl.merge(up1, key="k", commit_id="m1")
    state = {r["k"]: r["v"] for r in tbl.read(spark).collect()}
    assert len(state) == 11
    assert state[3] == "v3-new" and state[7] == "v7-new"
    assert state[100] == "v100" and state[0] == "v0"

    # second merge composes on the first's snapshot
    up2 = spark.createDataFrame(
        [(3, "v3-newer"), (200, "v200")], "k long, v string"
    )
    tbl.merge(up2, key="k", commit_id="m2")
    state = {r["k"]: r["v"] for r in tbl.read(spark).collect()}
    assert len(state) == 12
    assert state[3] == "v3-newer" and state[7] == "v7-new" and state[200] == "v200"

    # idempotent retry: same commit id changes nothing
    tbl.merge(up1, key="k", commit_id="m1")
    state2 = {r["k"]: r["v"] for r in tbl.read(spark).collect()}
    assert state2 == state

    # a row count proves no duplicate keys survive anywhere
    n = tbl.read(spark).count()
    assert n == 12


def test_time_travel_and_compaction(spark, tmp_path):
    """Snapshot sequence semantics: read(as_of=...) reconstructs the table
    exactly as of any commit (appends and merges included); compaction
    rewrites the live snapshot into one file set with byte-identical
    contents and a single live manifest — and time travel still works
    across it for pre-compaction commits? No: compaction REPLACES prior
    commits in the live view, but as_of a pre-compaction commit ignores
    the later compaction manifest, so history stays readable."""
    from ai_textbook_processor_spark.sources.io_catalog import Catalog

    tbl = Catalog(str(tmp_path)).table("t")
    tbl.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        commit_id="c1",
    )
    tbl.append(
        spark.createDataFrame([(3, "c")], "k long, v string"), commit_id="c2"
    )
    tbl.merge(
        spark.createDataFrame([(2, "b2"), (4, "d")], "k long, v string"),
        key="k",
        commit_id="m1",
    )

    def state(as_of=None):
        return {
            r["k"]: r["v"] for r in tbl.read(spark, as_of=as_of).collect()
        }

    assert state("c1") == {1: "a", 2: "b"}
    assert state("c2") == {1: "a", 2: "b", 3: "c"}
    assert state("m1") == {1: "a", 2: "b2", 3: "c", 4: "d"}
    assert state() == state("m1")

    before = state()
    tbl.compact(spark, commit_id="compact1")
    assert state() == before, "compaction must not change table contents"
    live = tbl._live_manifests()
    assert len(live) == 1 and live[0]["commit_id"] == "compact1"
    assert len(live[0]["files"]) == 1  # coalesced
    # history before the compaction is still reachable
    assert state("c2") == {1: "a", 2: "b", 3: "c"}
    # idempotent retry
    tbl.compact(spark, commit_id="compact1")
    assert state() == before

    import pytest

    with pytest.raises(ValueError):
        tbl.read(spark, as_of="nope")


def test_staged_clean_corpus_forwards_optional_stages(spark, tmp_path):
    """run_clean_corpus forwards every stage option through ``**stage_kw``:
    with domain cap, DSIR selection and mixing on, the durable pipeline
    gives the in-session clean_corpus funnel (each optional stage row
    included) and the same cleaned doc ids."""
    from ai_textbook_processor_spark.functions.readability import CriteriaConfig
    from ai_textbook_processor_spark.plans.training_pipeline import (
        clean_corpus,
        run_clean_corpus,
    )

    docs = corpus_df(spark, N_DOCS, seed=42)
    fams = sorted(r[0] for r in docs.select("content_type").distinct().collect())
    stage_kw = dict(
        min_quality=0.0,
        domain_cap=6,
        dsir_target_types=tuple(f for f in fams if f.startswith("pdf")),
        dsir_top_k=5,
        mix_rates={"en": 0.5},
        mix_default_rate=0.75,
    )
    cfg = CriteriaConfig(grade_lo=-100.0, grade_hi=100.0)

    summary = run_clean_corpus(
        spark, docs, str(tmp_path / "staged"), "run-opt", cfg=cfg,
        n_buckets=N_BUCKETS, buckets_per_commit=PER_COMMIT, **stage_kw,
    )
    ref_cleaned, ref_funnel = clean_corpus(docs, cfg, **stage_kw)
    ref = {r["stage"]: int(r["n"]) for r in ref_funnel.collect()}

    assert list(ref)[-3:] == ["after_domain_cap", "after_dsir", "after_mix"]
    # every optional stage drops docs, so a dropped option would show
    assert ref["after_near_dedup"] > ref["after_domain_cap"] > ref["after_dsir"] > ref["after_mix"]
    assert summary["funnel"] == ref
    staged_ids = sorted(
        r[0] for r in Catalog(str(tmp_path / "staged")).table("cleaned").read(spark)
        .select("doc_id").collect()
    )
    assert staged_ids == sorted(r[0] for r in ref_cleaned.select("doc_id").collect())
    assert len(staged_ids) == ref["after_mix"]
