"""Correctness checks on the program's outputs, computed apart from it.

Each check takes the rows the program committed (plain dicts read back
from its parquet output) and the generator's expectations, and returns a
list of problems; an empty list means the output is correct. A document
whose status is a refusal (``failed``, ``skipped_oversize``, ...) is a
correct output when the expectation says so.
"""

from __future__ import annotations

import collections
import hashlib
from pathlib import Path

HEAVY_BLOCKS = 20   # synth.build_heavy_payload's default body_repeat
MAX_REPORTED = 5


def read_rows(path: Path | str, columns: list[str]) -> list[dict]:
    """Committed parquet rows (all part files of a directory). A `links`
    column is returned as `link_targets`, each row's list of target_uri:
    converting the full link structs to Python costs several times more."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(str(path), columns=columns)
    if "links" not in columns:
        return table.to_pylist()
    rows = table.drop_columns(["links"]).to_pylist()
    links = table.column("links").combine_chunks()
    targets = pc.struct_field(pc.list_flatten(links), "target_uri").to_pylist()
    offsets = links.offsets.to_pylist()
    for r, a, b in zip(rows, offsets, offsets[1:]):
        r["link_targets"] = targets[a:b]
    return rows


def heavy_links(doc_id: int, repeat: int = HEAVY_BLOCKS) -> list[str]:
    """Link targets of a heavy page in document order: 6 nav links, one
    related link every 4th block, 8 footer links."""
    return ([f"/nav/{k}" for k in range(6)]
            + [f"/rel/{doc_id}/{i}" for i in range(0, repeat, 4)]
            + [f"/foot/{k}" for k in range(8)])


def _in_order(text: str, parts: list[str]) -> bool:
    pos = 0
    for p in parts:
        pos = text.find(p, pos)
        if pos < 0:
            return False
        pos += len(p)
    return True


def _exactly_once(urls: list[str], expected: set[str]) -> list[str]:
    errs = []
    dup = [u for u, n in collections.Counter(urls).items() if n > 1]
    if dup:
        errs.append(f"{len(dup)} urls committed more than once, e.g. {dup[0]}")
    missing, extra = expected - set(urls), set(urls) - expected
    if missing:
        errs.append(f"{len(missing)} expected urls not committed, e.g. {min(missing)}")
    if extra:
        errs.append(f"{len(extra)} unexpected urls committed, e.g. {min(extra)}")
    return errs


def check_heavy_page(row: dict, doc_id: int, text: str,
                     repeat: int = HEAVY_BLOCKS) -> list[str]:
    errs = []
    if row["status"] != "ok":
        errs.append(f"status {row['status']!r}, expected 'ok'")
    if row["title"] != f"Doc {doc_id}":
        errs.append(f"title {row['title']!r}, expected 'Doc {doc_id}'")
    targets = row["link_targets"]
    if targets != heavy_links(doc_id, repeat):
        errs.append(f"{len(targets)} link targets differ from the generator's")
    paras = [f"{text} block {i} of doc {doc_id}" for i in range(repeat)]
    if not _in_order(row["text_extracted"] or "", paras):
        errs.append("paragraphs missing or out of order")
    return [f"{row['url']}: {e}" for e in errs]


def check_heavy_pages(rows: list[dict], pages: dict[str, dict]) -> list[str]:
    """crawl_html: every newest-per-url page committed once, each with its
    status, title, 19 link targets and paragraph order."""
    errs = _exactly_once([r["url"] for r in rows], set(pages))
    for r in rows:
        exp = pages.get(r["url"])
        if exp:
            errs += check_heavy_page(r, exp["doc_id"], exp["text"])
    return errs


def check_mixed(rows: list[dict], docs: list[dict]) -> list[str]:
    """mixed_formats: detected mime and status per document against the
    builder table; canonical pages also against the oracle's text hash."""
    by_url = {d["url"]: d for d in docs}
    errs = _exactly_once([r["url"] for r in rows], set(by_url))
    for r in rows:
        exp = by_url.get(r["url"])
        if exp is None:
            continue
        who = f"{r['url']} ({exp['builder']})"
        if r["status"] != exp["status"]:
            errs.append(f"{who}: status {r['status']!r}, expected {exp['status']!r}")
        if r["content_type_detected"] != exp["mime"]:
            errs.append(f"{who}: mime {r['content_type_detected']!r}, "
                        f"expected {exp['mime']!r}")
        if exp["text_sha256"] is not None:
            got = hashlib.sha256((r["text_extracted"] or "").encode()).hexdigest()
            if got != exp["text_sha256"]:
                errs.append(f"{who}: text differs from the oracle's")
    return errs


def check_manifest(manifest: dict, lineage: list[dict], n_expected: int) -> list[str]:
    """Job level: the run extracted exactly the expected documents, and the
    status summary and the run's lineage rows both account for all of them."""
    errs = []
    if manifest["docs_extracted"] != n_expected:
        errs.append(f"docs_extracted {manifest['docs_extracted']}, expected {n_expected}")
    if sum(manifest["status_summary"].values()) != n_expected:
        errs.append(f"status summary sums to {sum(manifest['status_summary'].values())}, "
                    f"expected {n_expected}")
    docs_in = sum(r["docs_in"] for r in lineage if r["run_id"] == manifest["run_id"])
    if docs_in != n_expected:
        errs.append(f"lineage docs_in sums to {docs_in}, expected {n_expected}")
    return errs


def check_drop(committed: list[dict], all_urls: set[str], new: dict[str, int],
               errors: list[dict], malformed: list[str]) -> list[str]:
    """incremental_warc, after one drop: every url seen so far committed
    exactly once, the drop's new urls carry their first crawl, and the
    error side output names exactly the planted malformed archives."""
    errs = _exactly_once([r["url"] for r in committed], all_urls)
    for r in committed:
        doc_id = new.get(r["url"])
        if doc_id is not None and (r["status"] != "ok" or r["title"] != f"Doc {doc_id}"):
            errs.append(f"{r['url']}: status {r['status']!r} title {r['title']!r}, "
                        f"expected ok 'Doc {doc_id}'")
    bad = sorted(Path(e["source_file"]).name for e in errors)
    if bad != sorted(malformed):
        errs.append(f"read_warc_errors named {bad}, expected {sorted(malformed)}")
    return errs


def summarize(errs: list[str]) -> str:
    more = f" (+{len(errs) - MAX_REPORTED} more)" if len(errs) > MAX_REPORTED else ""
    return "; ".join(errs[:MAX_REPORTED]) + more
