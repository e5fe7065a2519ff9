"""The benchmark's own checks pass on a correct output and fail on a
deliberately corrupted one. No Spark: the correct output is built with the
engine's kernel directly, as the extraction stage would commit it.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import copy

import pytest

from perfbench import checks, gen


def _committed(pages_dir) -> list[dict]:
    """Newest row per url of a pages table, extracted."""
    from sparktika.kernels.extract import extract_document
    from sparktika.synth import SYNTH_CONFIG

    newest = {}
    for r in sorted(checks.read_rows(pages_dir, ["url", "warc_ts", "html"]),
                    key=lambda r: r["warc_ts"]):
        newest[r["url"]] = r
    out = []
    for url, r in newest.items():
        res = extract_document(url, None, r["html"], SYNTH_CONFIG)
        out.append({"url": url, "status": res.status, "title": res.title,
                    "link_targets": [link.target_uri for link in res.links],
                    "text_extracted": res.text_extracted,
                    "content_type_detected": res.content_type_detected})
    return out


@pytest.fixture(scope="module")
def crawl(tmp_path_factory):
    mp = pytest.MonkeyPatch()
    mp.setattr(gen, "CRAWL_ROWS", 60)
    mp.setattr(gen, "CRAWL_WARM_ROWS", 20)
    try:
        path, exp = gen.inputs(tmp_path_factory.mktemp("cache"), "crawl_html", 7)
    finally:
        mp.undo()
    return _committed(path / "main"), exp["main"]["pages"]


@pytest.fixture(scope="module")
def mixed(tmp_path_factory):
    mp = pytest.MonkeyPatch()
    mp.setattr(gen, "MIXED_DOCS_PER_BUILDER", 1)
    mp.setattr(gen, "MIXED_CANONICAL_ROWS", 80)
    mp.setattr(gen, "MIXED_COPIES", 2)
    try:
        path, exp = gen.inputs(tmp_path_factory.mktemp("cache"), "mixed_formats", 7)
    finally:
        mp.undo()
    return _committed(path / "main"), exp["main"]["docs"]


def _corrupt(rows, url_pred, **changes):
    rows = copy.deepcopy(rows)
    for r in rows:
        if url_pred(r):
            r.update(changes)
            return rows
    raise AssertionError("no row to corrupt")


def test_heavy_pages_pass(crawl):
    rows, pages = crawl
    assert len(pages) < 60     # the corpus holds re-crawls
    assert checks.check_heavy_pages(rows, pages) == []


@pytest.mark.parametrize("corruption", [
    lambda rows: _corrupt(rows, lambda r: True, status="failed"),
    lambda rows: _corrupt(rows, lambda r: True, title="Doc 0"),
    lambda rows: _corrupt(rows, lambda r: True, link_targets=["/nav/0"] * 19),
    lambda rows: _corrupt(rows, lambda r: True,
                          text_extracted=" ".join(reversed(rows[0]["text_extracted"].split("\n")))),
    lambda rows: rows[1:],                 # a page not committed
    lambda rows: rows + rows[:1],          # a page committed twice
])
def test_heavy_pages_fail_on_corruption(crawl, corruption):
    rows, pages = crawl
    assert checks.check_heavy_pages(corruption(rows), pages)


def test_mixed_pass(mixed):
    rows, docs = mixed
    assert {d["builder"] for d in docs} >= {"canonical", "build_pdf_embedded"}
    assert {d["status"] for d in docs} >= {"ok", "failed", "skipped_oversize", "unsupported"}
    assert checks.check_mixed(rows, docs) == []


@pytest.mark.parametrize("corruption", [
    lambda rows: _corrupt(rows, lambda r: "/png/" in r["url"], content_type_detected="image/gif"),
    lambda rows: _corrupt(rows, lambda r: "/pst/" in r["url"], status="failed"),
    lambda rows: _corrupt(rows, lambda r: r["status"] == "skipped_oversize", status="ok"),
    lambda rows: _corrupt(rows, lambda r: "/p/" in r["url"] and r["status"] == "ok"
                          and r["text_extracted"], text_extracted="tampered\n"),
    lambda rows: [r for r in rows if "/eml/" not in r["url"]],
])
def test_mixed_fail_on_corruption(mixed, corruption):
    rows, docs = mixed
    assert checks.check_mixed(corruption(rows), docs)


def test_manifest():
    m = {"run_id": "r", "docs_extracted": 10, "status_summary": {"ok": 8, "failed": 2}}
    lineage = [{"run_id": "r", "docs_in": 6}, {"run_id": "r", "docs_in": 4},
               {"run_id": "other", "docs_in": 99}]
    assert checks.check_manifest(m, lineage, 10) == []
    assert checks.check_manifest(m, lineage, 11)
    assert checks.check_manifest({**m, "status_summary": {"ok": 8}}, lineage, 10)
    assert checks.check_manifest(m, lineage[1:], 10)


def test_drop(tmp_path):
    _, d0 = gen.warc_drop(tmp_path, 3, 0)
    _, d1 = gen.warc_drop(tmp_path, 3, 1)
    assert len(d1["new"]) < d1["records"] and not set(d1["new"]) & set(d0["new"])
    all_urls = set(d0["new"]) | set(d1["new"])
    committed = [{"url": u, "status": "ok", "title": f"Doc {d}"}
                 for d_ in (d0, d1) for u, d in d_["new"].items()]
    errors = [{"source_file": f"file:/x/{d1['malformed'][0]}", "error": "KernelError"}]
    ok = checks.check_drop(committed, all_urls, d1["new"], errors, d1["malformed"])
    assert ok == []
    new_url = next(iter(d1["new"]))
    for bad in (
        checks.check_drop(committed[1:], all_urls, d1["new"], errors, d1["malformed"]),
        checks.check_drop(committed + committed[-1:], all_urls, d1["new"], errors,
                          d1["malformed"]),
        checks.check_drop(_corrupt(committed, lambda r: r["url"] == new_url, title="Doc 1"),
                          all_urls, d1["new"], errors, d1["malformed"]),
        checks.check_drop(committed, all_urls, d1["new"], [], d1["malformed"]),
        checks.check_drop(committed, all_urls, d1["new"], errors * 2, d1["malformed"]),
    ):
        assert bad
