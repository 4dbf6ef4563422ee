"""scripts/crawl.py rejects flag combinations it would silently ignore,
before any Spark session starts (no Spark needed to run these)."""

import importlib.util
import pathlib
import sys

import pytest
from pyspark.sql import SparkSession

SCRIPT = pathlib.Path(__file__).resolve().parents[1] / "scripts" / "crawl.py"
BASE = ["crawl.py", "--synthetic-pages", "50", "--output", "out"]


class SparkStarted(Exception):
    pass


@pytest.fixture
def crawl_main(monkeypatch):
    def no_spark(self):
        raise SparkStarted

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_spark)
    spec = importlib.util.spec_from_file_location("_crawl_cli", SCRIPT)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def run(*flags):
        monkeypatch.setattr(sys, "argv", BASE + list(flags))
        mod.main()

    return run


# each flag the crawl would ignore → an argv tail that uses it so
REJECTED = {
    "--feeds": ["--feeds", "feeds.parquet"],
    "--robots": ["--robots", "robots.parquet"],
    "--host-budgets": ["--host-budgets", "budgets.parquet"],
    "--rank-table": ["--rank-table", "rank.parquet"],
    "--trap-templates": ["--trap-templates", "traps.parquet"],
    "--age-boost": ["--scheduler", "fifo", "--age-boost", "2"],
    "--resume": ["--resume"],
    "--compact": ["--compact"],
}


@pytest.mark.parametrize("flag", REJECTED)
def test_ignored_flags_are_rejected(crawl_main, capsys, flag):
    with pytest.raises(SystemExit) as exc:
        crawl_main(*REJECTED[flag])
    assert exc.value.code == 2
    assert flag in capsys.readouterr().err


@pytest.mark.parametrize(
    "flags",
    [
        ["--feeds", "feeds.parquet", "--collect-text"],
        ["--scheduler", "priority", "--robots", "r.parquet", "--age-boost", "2"],
        ["--resume", "--compact", "--checkpoint-dir", "ckpt"],
    ],
    ids=" ".join,
)
def test_honoured_flags_reach_spark(crawl_main, flags):
    with pytest.raises(SparkStarted):
        crawl_main(*flags)
