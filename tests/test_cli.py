"""CLI + spark-submit packaging tests (SURVEY.md §7.6: the reference's
two-command shape, cli/flags.go:16-26, re-expressed over tables)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from pdfsearch_spark import cli


@pytest.fixture(scope="module")
def demo_dirs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("cli")
    pages = str(root / "pages")
    index = str(root / "index")
    assert cli.main(["gen", "-n", "80", "-o", pages, "--partitions", "4"]) == 0
    assert cli.main(["build_index", "-d", pages, "-o", index, "--shards", "4"]) == 0
    return pages, index


def test_cli_search_json_shape(demo_dirs, capsys):
    _, index = demo_dirs
    capsys.readouterr()
    assert cli.main(["search", "-i", index, "-q", "renal failure", "-k", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert isinstance(out, list) and out
    # reference SearchResult JSON shape (database/models.go:18-24)
    assert set(out[0]) == {"FileID", "PageNum", "Title", "Text", "BaseName", "Score"}
    # ascending rank order: FTS5 bm25 scores are negative, best first
    scores = [r["Score"] for r in out]
    assert scores == sorted(scores)


def test_cli_syntax_error_exits_nonzero(demo_dirs, capsys):
    _, index = demo_dirs
    # bare hyphen = reference "no such column" -> HTTP 400 -> exit 1
    assert cli.main(["search", "-i", index, "-q", "covid-19"]) == 1
    err = capsys.readouterr().err
    assert "message" in err


def test_cli_resume_noop(demo_dirs, capsys):
    pages, index = demo_dirs
    capsys.readouterr()
    assert (
        cli.main(["build_index", "-d", pages, "-o", index, "--shards", "4", "--resume"])
        == 0
    )
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == {"resumed": 0}


def test_manifest_has_per_shard_lineage_and_metrics(demo_dirs, spark):
    _, index = demo_dirs
    m = spark.read.parquet(index + "/_build_state")
    rows = {r["shard"]: r for r in m.collect()}
    assert set(rows) == {0, 1, 2, 3}
    total_docs = sum(r["n_docs"] for r in rows.values())
    assert total_docs == 80
    for r in rows.values():
        assert r["status"] == "complete"
        assert r["n_postings"] > 0 and r["postings_bytes"] > 0
        assert r["encode_sec"] > 0 and r["postings_per_sec"] > 0
        assert r["docs_fingerprint"] != 0  # lineage fingerprint recorded


def test_pyfiles_zip_is_zipimport_safe(tmp_path):
    """north_rule: ships via spark-submit --py-files. The zip must import in
    a clean interpreter with data resources readable through zipimport."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "scripts"))
    try:
        import make_pyfiles
    finally:
        sys.path.pop(0)
    zpath = make_pyfiles.build()
    code = (
        "import sys; sys.path.insert(0, %r); "
        "from pdfsearch_spark.analyzer import tokenize; "
        "from pdfsearch_spark import cli, porter, codec, extract; "
        "print('|'.join(tokenize('Caf\\u00e9 running co\\u00f6perate')))" % zpath
    )
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, cwd=str(tmp_path)
    )
    assert r.returncode == 0, r.stderr[-800:]
    assert r.stdout.strip() == "cafe|run|cooper"
