"""job.py rejects flag combinations that a branch of the job would
silently ignore: argparse exits with status 2 before a session starts."""

import pytest

from ai_textbook_processor_spark import job

BASE = ["--n-docs", "4", "--out", "unused"]
INPUT = ["--input", "p", "--out", "unused"]


class _SessionStarted(Exception):
    pass


@pytest.fixture
def no_session(monkeypatch):
    def get_spark(**_kwargs):
        raise _SessionStarted

    monkeypatch.setattr(job, "get_spark", get_spark)


@pytest.mark.parametrize(
    "flags, message",
    [
        (["--salted", "--resumable", "r1"], "--salted cannot be combined with --resumable"),
        (["--salted", "--clean-corpus"], "--salted cannot be combined with --clean-corpus"),
        (["--span-threshold", "9", "--resumable", "r1"],
         "--span-threshold cannot be combined with --resumable"),
        (["--span-threshold", "9", "--clean-corpus"],
         "--span-threshold cannot be combined with --clean-corpus"),
        (["--sink", "noop", "--resumable", "r1"], "--sink noop cannot be combined with --resumable"),
        (["--sink", "noop", "--clean-corpus"], "--sink noop cannot be combined with --clean-corpus"),
        (["--span-threshold", "9"], "--span-threshold needs --salted"),
    ],
    ids=[
        "salted-resumable", "salted-clean-corpus", "span-threshold-resumable",
        "span-threshold-clean-corpus", "noop-resumable", "noop-clean-corpus",
        "span-threshold-without-salted",
    ],
)
def test_ignored_flag_is_rejected(no_session, capsys, flags, message):
    with pytest.raises(SystemExit) as exc:
        job.main(BASE + flags)
    assert exc.value.code == 2
    assert message in capsys.readouterr().err


@pytest.mark.parametrize(
    "flags",
    [
        ["--salted", "--span-threshold", "9", "--sink", "noop"], ["--resumable", "r1", "--clean-corpus"],
        ["--clean-corpus", "--mix-rates", "en=0.5", "--mix-default", "0.2"],
        ["--clean-corpus", "--dsir-target", "a", "--dsir-top-k", "3"],
        ["--clean-corpus", "--resumable", "r1", "--buckets", "8"],
        ["--resumable", "r1", "--buckets-per-commit", "2"],
    ],
)
def test_supported_flags_reach_the_session(no_session, flags):
    with pytest.raises(_SessionStarted):
        job.main(BASE + flags)


@pytest.mark.parametrize(
    "argv, message",
    [
        (INPUT + ["--seed", "7"], "--seed needs --n-docs"),
        (INPUT + ["--mega-every", "5"], "--mega-every needs --n-docs"),
        (INPUT + ["--doc-offset", "5"], "--doc-offset needs --n-docs"),
        (BASE + ["--buckets-per-commit", "2"], "--buckets-per-commit needs --resumable"),
        (BASE + ["--min-quality", "0.1"], "--min-quality needs --clean-corpus"),
        (BASE + ["--benchmark", "b"], "--benchmark needs --clean-corpus"),
        (BASE + ["--mix-rates", "en=0.5"], "--mix-rates needs --clean-corpus"),
        (BASE + ["--domain-cap", "2"], "--domain-cap needs --clean-corpus"),
        (BASE + ["--dsir-target", "a", "--dsir-top-k", "3"], "--dsir-target needs --clean-corpus"),
        (BASE + ["--resumable", "r1", "--dsir-top-k", "3"], "--dsir-top-k needs --clean-corpus"),
        (BASE + ["--split", "train=1.0"], "--split needs --clean-corpus"),
        (BASE + ["--resumable", "r1", "--export-shards", "2"], "--export-shards needs --clean-corpus"),
        (BASE + ["--clean-corpus", "--mix-default", "0.2"], "--mix-default needs --mix-rates"),
        (BASE + ["--clean-corpus", "--dsir-target", "a"], "--dsir-target needs --dsir-top-k"),
        (BASE + ["--clean-corpus", "--dsir-top-k", "3"], "--dsir-top-k needs --dsir-target"),
        (BASE + ["--clean-corpus", "--buckets", "8"],
         "--buckets cannot be combined with --clean-corpus without --resumable"),
    ],
    ids=[
        "seed-input", "mega-every-input", "doc-offset-input",
        "buckets-per-commit-plain", "min-quality-plain", "benchmark-plain",
        "mix-rates-plain", "domain-cap-plain", "dsir-target-plain",
        "dsir-top-k-resumable", "split-plain", "export-shards-resumable",
        "mix-default-without-mix-rates", "dsir-target-without-top-k",
        "dsir-top-k-without-target", "buckets-clean-corpus",
    ],
)
def test_flag_outside_its_mode_is_rejected(no_session, capsys, argv, message):
    with pytest.raises(SystemExit) as exc:
        job.main(argv)
    assert exc.value.code == 2
    assert message in capsys.readouterr().err


def test_plain_extraction_over_input_reads_buckets(no_session):
    with pytest.raises(_SessionStarted):
        job.main(INPUT + ["--buckets", "8"])


def test_malformed_fractions_exit_2(no_session, capsys):
    with pytest.raises(SystemExit) as exc:
        job.main(BASE + ["--clean-corpus", "--split", "train"])
    assert exc.value.code == 2
    assert "name=number" in capsys.readouterr().err
