"""The artifact-citation gate must see SOURCE citations, not just docs
(VERDICT r9: knn.py cited a nonexistent AB_DIM_r09.json and the
docs-only gate passed)."""

import os

from tools.check_artifacts import PATTERN, citation_paths, dangling


def test_source_cited_missing_artifact_fails(tmp_path):
    src = tmp_path / "crawling_vectordb_llm_spark"
    src.mkdir()
    (src / "op.py").write_text(
        "# threshold re-measured at d=1024 in AB_FAKE_r99.json\nX = 1\n"
    )
    missing, n_seen = dangling(root=str(tmp_path))
    assert ("crawling_vectordb_llm_spark/op.py", "AB_FAKE_r99.json") in missing
    assert n_seen == 1


def test_present_artifact_passes(tmp_path):
    src = tmp_path / "tools"
    src.mkdir()
    (src / "t.py").write_text('"""See AB_REAL_r10.json."""\n')
    (tmp_path / "AB_REAL_r10.json").write_text("{}")
    missing, n_seen = dangling(root=str(tmp_path))
    assert missing == [] and n_seen == 1


def test_docs_still_scanned(tmp_path):
    (tmp_path / "SCALE.md").write_text("cites GHOST_r77.json here")
    missing, _ = dangling(root=str(tmp_path))
    assert ("SCALE.md", "GHOST_r77.json") in missing


def test_repo_scan_includes_knn_and_suite_sources():
    paths = {os.path.basename(p) for p in citation_paths()}
    assert {"knn.py", "dedup_suite.py", "selfcheck.py", "SCALE.md"} <= paths


def test_pattern_matches_round_artifacts_only():
    assert PATTERN.findall("see AB_HYBRID_r10.json and BENCH_r09.json") == [
        "AB_HYBRID_r10.json",
        "BENCH_r09.json",
    ]
    assert PATTERN.findall("plain.json or lower_r1.json") == []


def test_live_repo_has_no_dangling_citations():
    missing, n_seen = dangling()
    assert missing == [], f"dangling artifact citations: {missing}"
    assert n_seen > 0
