"""job --clean-corpus --split --export-shards: the full corpus->shards
surface, driven exactly as a user would (own interpreter, own session)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(out_dir: str) -> dict:
    proc = subprocess.run(
        [
            sys.executable, "-m", "ai_textbook_processor_spark.job",
            "--n-docs", "600", "--out", out_dir,
            "--master", "local[4]",
            "--clean-corpus", "--min-quality", "0.0",
            "--grade-lo", "-100", "--grade-hi", "100",
            "--split", "train=0.9,val=0.05,test=0.05",
            "--export-shards", "4",
        ],
        capture_output=True, text=True, timeout=420, cwd=REPO,
    )
    assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-2000:])
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_clean_corpus_split_export(tmp_path):
    out = str(tmp_path / "run1")
    payload = _run(out)
    splits = payload["splits"]
    assert set(splits) == {"train", "val", "test"}
    # every kept doc lands in exactly one split
    assert sum(s["n_docs"] for s in splits.values()) == payload["docs_kept"]
    # one file per shard, 4 shards per split, on disk
    for name, s in splits.items():
        assert s["n_shards"] == 4 and s["n_files"] == 4, (name, s)
        for k in range(4):
            d = os.path.join(out, "shards", name, f"shard={k}")
            files = [f for f in os.listdir(d) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)
    # 90/5/5 roughly honored
    assert splits["train"]["n_docs"] > 3 * (
        splits["val"]["n_docs"] + splits["test"]["n_docs"]
    )

    # deterministic: a second run from scratch produces the same summary
    payload2 = _run(str(tmp_path / "run2"))
    assert payload2["splits"] == splits
    assert payload2["funnel"] == payload["funnel"]


def test_resumable_clean_corpus_export_resumes(tmp_path):
    """Durable path: first run exports shards; a rerun of the same run_id
    no-ops extraction (buckets_processed=0) AND the export (marker)."""
    out = str(tmp_path / "durable")

    def run():
        proc = subprocess.run(
            [
                sys.executable, "-m", "ai_textbook_processor_spark.job",
                "--n-docs", "400", "--out", out,
                "--master", "local[4]",
                "--clean-corpus", "--resumable", "r5x",
                "--min-quality", "0.0",
                "--grade-lo", "-100", "--grade-hi", "100",
                "--split", "train=0.9,val=0.05,test=0.05",
                "--export-shards", "2",
            ],
            capture_output=True, text=True, timeout=420, cwd=REPO,
        )
        assert proc.returncode == 0, (proc.stdout[-2000:], proc.stderr[-2000:])
        return json.loads(proc.stdout.strip().splitlines()[-1])

    first = run()
    assert set(first["splits"]) == {"train", "val", "test"}
    assert all(not s["resumed"] for s in first["splits"].values())
    assert sum(s["n_docs"] for s in first["splits"].values()) == first[
        "funnel"
    ]["after_near_dedup"]

    second = run()
    assert second["buckets_processed"] == 0
    assert all(s["resumed"] for s in second["splits"].values())
    assert {k: v["n_docs"] for k, v in second["splits"].items()} == {
        k: v["n_docs"] for k, v in first["splits"].items()
    }
    assert second["funnel"] == first["funnel"]


def test_split_layout_is_one_for_both_modes(spark, tmp_path):
    """``--split`` writes the same files and reports the same per-split
    summary in-session and under ``--resumable``, on the same 240 docs."""
    import time

    import pyarrow.parquet as pq

    from ai_textbook_processor_spark import job
    from ai_textbook_processor_spark.corpus import corpus_df

    def run(out, *extra):
        ap = job._parser()
        args = ap.parse_args([
            "--n-docs", "240", "--out", out, "--clean-corpus", "--min-quality", "0.0",
            "--grade-lo", "-100", "--grade-hi", "100", "--split", "train=0.8,val=0.2",
            *extra,
        ])
        job._check_flags(ap, args)
        docs = corpus_df(spark, args.n_docs, seed=args.seed, mega_every=args.mega_every)
        cfg = job.CriteriaConfig(grade_lo=args.grade_lo, grade_hi=args.grade_hi)
        return job._clean_corpus(spark, docs, cfg, args, time.monotonic())

    def layout(out):
        """Per shard directory: its manifest or its rows, sorted."""
        root = os.path.join(out, "shards")
        found = {}
        for d, _dirs, files in os.walk(root):
            rel = os.path.relpath(d, root)
            for f in files:
                if f == "_MANIFEST.json":
                    with open(os.path.join(d, f)) as fh:
                        found[(rel, f)] = json.load(fh)
            parts = [f for f in files if f.endswith(".parquet")]
            if parts:
                assert len(parts) == 1, (d, parts)
                rows = pq.read_table(os.path.join(d, parts[0])).to_pylist()
                found[(rel, "rows")] = sorted(rows, key=lambda r: r["doc_id"])
        return found

    in_session = run(str(tmp_path / "session"))
    resumable = run(str(tmp_path / "durable"), "--resumable", "split-run")
    assert set(in_session["splits"]) == {"train", "val"}
    assert in_session["splits"] == resumable["splits"]
    assert all(0 < s["n_shards"] <= 16 for s in in_session["splits"].values())  # non-empty
    files = layout(str(tmp_path / "session"))
    assert files == layout(str(tmp_path / "durable"))
    assert sum(len(v) for k, v in files.items() if k[1] == "rows") == sum(
        s["n_docs"] for s in in_session["splits"].values()
    )
    assert not os.path.exists(tmp_path / "session" / "cleaned")
