"""job.py rejects flag combinations that a branch of the job would
silently ignore: argparse exits with status 2 before a session starts."""

import pytest

from ai_textbook_processor_spark import job

BASE = ["--n-docs", "4", "--out", "unused"]


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
    [["--salted", "--span-threshold", "9", "--sink", "noop"], ["--resumable", "r1", "--clean-corpus"]],
)
def test_supported_flags_reach_the_session(no_session, flags):
    with pytest.raises(_SessionStarted):
        job.main(BASE + flags)
