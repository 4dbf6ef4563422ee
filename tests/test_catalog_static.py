"""Static catalog checks that need no Spark session: the QUERIES/ORACLES key
sets agree, every SURVEY §2 row sits inside the 50-row recorded window
(build-notes invariant 5), and every module of the package and every
script imports cleanly (no import left dangling by a deleted module)."""

import importlib
import importlib.util
import pathlib

import pytest

from geospatial_web_scraper_spark.entry_queries import ORACLES, QUERIES

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = ROOT / "geospatial_web_scraper_spark"

# One dedicated row per SURVEY §2 operator family.
SURVEY_ROWS = [
    "crawl_bfs_seen", "crawl_trace_budget", "crawl_priority_trace",
    "crawl_deferral_trace", "x1_extract_links", "x2_extract_text",
    "s6_xml_links", "c10_xml_meta", "c7_keywords", "c8_metadata_json",
    "f6_geo_ext_classify", "c3_canonicalize", "c4_filename",
    "t3_priority_dequeue", "j1_seen_anti_join", "f1_first_wins",
    "u1_union_dedup", "u2_except_seeds", "k1_download_manifest",
    "k5_resume_trace", "harvest_engine2", "p1_to_links",
    "a4_batch_accumulate", "a2_cosine_scores", "t1_sort_rank",
    "t2_topk_quirk", "c1_contains", "a1_event_counters",
    "f10_global_budget", "a3_multiset_equality", "c9_json_extract",
]


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


def test_survey_rows_inside_recorded_window():
    window = list(QUERIES)[:50]
    assert [k for k in SURVEY_ROWS if k not in window] == []


def _package_modules():
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(ROOT).with_suffix("")
        parts = list(rel.parts)
        if parts[-1] == "__init__":
            parts.pop()
        yield ".".join(parts)


@pytest.mark.parametrize("name", list(_package_modules()))
def test_package_module_imports(name):
    importlib.import_module(name)


@pytest.mark.parametrize(
    "path",
    sorted(ROOT.joinpath("scripts").glob("*.py")),
    ids=lambda p: p.relative_to(ROOT).as_posix(),
)
def test_script_imports(path):
    spec = importlib.util.spec_from_file_location(
        f"_catalog_static_{path.stem}", path
    )
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
