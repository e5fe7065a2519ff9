"""Deterministic workload inputs, cached on disk per (workload, seed).

Everything here is a pure function of the seed. The program under test
receives only the files written here (parquet pages tables and gzipped
WARC archives); what the outputs must be is written beside them
(``expected.json``), computed from the generator's own knowledge and, for
the canonical synth pages, from the DuckDB ``synth.PAGES_CTE`` oracle.

Layout of one cache entry ``<cache>/<workload>-s<seed>-<sizes hash>/``::

    warm/part-*.parquet             crawl_html, mixed_formats: warm-up pages table
    main/part-*.parquet             crawl_html, mixed_formats: timed pages table
    expected.json                   what a correct run must produce, per table
    drop-<k>/archives/*.warc.gz     incremental_warc: crawl drop k (one malformed)
    drop-<k>/expected.json
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import os
import random
import shutil
import string
from pathlib import Path

# Each pages workload has a small warm-up table and a larger timed one.
# crawl_html: Common-Crawl-shaped heavy pages (~7.5 KB) with re-crawls
CRAWL_ROWS = 2400
CRAWL_WARM_ROWS = 400
CRAWL_RECRAWL_SHARE = 0.05
CRAWL_TEXT_WORDS = 42
# mixed_formats: every format builder, plus canonical oracle pages
MIXED_DOCS_PER_BUILDER = 3
MIXED_CANONICAL_ROWS = 200
MIXED_COPIES = 8
# incremental_warc: per drop, ARCHIVES_PER_DROP good archives + 1 malformed
ARCHIVES_PER_DROP = 2
RECORDS_PER_ARCHIVE = 150
RECRAWL_SHARE = 0.75
WARC_BODY_REPEAT = 6
PAGES_FILES = 4

_TS0 = dt.datetime(2026, 1, 1)
_PAGES_COLS = ("url", "warc_ts", "html", "text", "lang")


def _vocab(rng: random.Random, n: int = 600) -> list[str]:
    return ["".join(rng.choice(string.ascii_lowercase)
                    for _ in range(rng.randint(3, 9))) for _ in range(n)]


def _text(rng: random.Random, vocab: list[str], n_words: int) -> str:
    return " ".join(rng.choice(vocab) for _ in range(n_words))


def _write_pages(rows: list[dict], out_dir: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    out_dir.mkdir(parents=True)
    per = -(-len(rows) // PAGES_FILES)
    for i in range(PAGES_FILES):
        chunk = rows[i * per:(i + 1) * per]
        table = pa.table({c: [r[c] for r in chunk] for c in _PAGES_COLS},
                         schema=schema)
        pq.write_table(table, out_dir / f"part-{i:05d}.parquet")


# ---------------------------------------------------------------- crawl_html

def _crawl_table(seed: int, part: str, n_rows: int, out_dir: Path) -> dict:
    from sparktika.synth import build_heavy_payload

    rng = random.Random(f"crawl_html/{seed}/{part}")
    vocab = _vocab(rng)
    base = (1_000_000 if part == "main" else 900_000) + (seed % 100_000) * 5_000
    keys: list[int] = []
    rows, newest = [], {}
    for i in range(n_rows):
        if i >= 20 and rng.random() < CRAWL_RECRAWL_SHARE:
            key = keys[rng.randrange(i)]           # re-crawl of an earlier url
        else:
            key = i
        keys.append(key)
        doc_id = base + i
        text = _text(rng, vocab, CRAWL_TEXT_WORDS)
        url = f"https://host{key % 40:03d}.example.com/h/{base + key:08d}"
        rows.append({"url": url, "warc_ts": _TS0 + dt.timedelta(seconds=i),
                     "html": build_heavy_payload(doc_id, text), "text": text,
                     "lang": "en"})
        newest[url] = {"doc_id": doc_id, "text": text}   # later rows are newer
    _write_pages(rows, out_dir)
    return {"rows": len(rows), "bytes": sum(len(r["html"]) for r in rows),
            "pages": newest}


def gen_crawl_html(seed: int, out: Path) -> dict:
    return {"warm": _crawl_table(seed, "warm", CRAWL_WARM_ROWS, out / "warm"),
            "main": _crawl_table(seed, "main", CRAWL_ROWS, out / "main")}


# ------------------------------------------------------------- mixed_formats

def _canonical_pages(docs: list[tuple[int, str]]) -> tuple[list[tuple], list[dict]]:
    """Runs the DuckDB synth.PAGES_CTE oracle over the canonical documents.
    Returns every page's (doc_id, url, warc_ts) and, for the newest page
    per url, the oracle's expected status, mime and text hash."""
    import duckdb
    import pyarrow as pa

    from sparktika.synth import PAGES_CTE

    con = duckdb.connect()
    try:
        con.register("documents", pa.table({
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": [t for _, t in docs], "lang": ["en"] * len(docs)}))
        pages = con.execute(f"WITH {PAGES_CTE} SELECT doc_id, url, warc_ts "
                            "FROM pages2 ORDER BY doc_id").fetchall()
        newest = con.execute(f"""
            WITH {PAGES_CTE}
            SELECT url, doc_id, status_expected, mime_expected, text_expected
            FROM pages2
            QUALIFY row_number() OVER (PARTITION BY url ORDER BY warc_ts DESC) = 1
        """).fetchall()
    finally:
        con.close()
    return pages, [{"url": u, "doc_id": d, "status": s, "mime": m,
                    "text_sha256": None if t is None
                    else hashlib.sha256(t.encode()).hexdigest()}
                   for u, d, s, m, t in newest]


def gen_mixed_formats(seed: int, out: Path) -> dict:
    from sparktika import synth

    from .formats import EXPECTED, expected

    rng = random.Random(f"mixed_formats/{seed}")
    vocab = _vocab(rng)
    rows, docs = [], []
    # some builders pack the id into 16/32-bit fields: keep ids small
    fbase = 100 + (seed * 7_919) % 90_000
    for name in sorted(EXPECTED):
        build = getattr(synth, name)
        for j in range(MIXED_DOCS_PER_BUILDER):
            doc_id = fbase + j
            url = f"https://files.example.com/{name[6:]}/{doc_id}"
            mime, status = expected(name, doc_id)
            rows.append({"url": url, "warc_ts": _TS0 + dt.timedelta(seconds=doc_id),
                         "html": build(doc_id), "text": None, "lang": None})
            docs.append({"url": url, "builder": name, "doc_id": doc_id,
                         "mime": mime, "status": status, "text_sha256": None})
    # canonical pages: a base that is a multiple of 1000 keeps the
    # doc_id % 20 kind mix and the doc_id % 50 re-crawls the same per seed
    cbase = 1_000 * (1 + seed % 50_000)
    texts = {cbase + i: _text(rng, vocab, 12) for i in range(MIXED_CANONICAL_ROWS)}
    pages, newest = _canonical_pages(list(texts.items()))
    for doc_id, url, ts in pages:
        rows.append({"url": url, "warc_ts": ts, "text": texts[doc_id], "lang": "en",
                     "html": synth.build_payload(doc_id, texts[doc_id])})
    docs += [{**e, "builder": "canonical"} for e in newest]
    rng.shuffle(rows)
    _write_pages(rows, out / "warm")
    warm = {"rows": len(rows), "bytes": sum(len(r["html"]) for r in rows), "docs": docs}
    # the timed table: MIXED_COPIES copies of the corpus, each url made
    # distinct by a query suffix (newest-per-url stays per copy)
    copies = [[{**r, "url": f"{r['url']}?copy={k}"} for r in rows]
              for k in range(MIXED_COPIES)]
    rows = [r for c in copies for r in c]
    rng.shuffle(rows)
    _write_pages(rows, out / "main")
    return {"warm": warm,
            "main": {"rows": len(rows), "bytes": warm["bytes"] * MIXED_COPIES,
                     "docs": [{**d, "url": f"{d['url']}?copy={k}"}
                              for k in range(MIXED_COPIES) for d in docs]}}


# ---------------------------------------------------------- incremental_warc

def _warc_record(wtype: str, uri: str | None, date: str, payload: bytes) -> bytes:
    head = ["WARC/1.0", f"WARC-Type: {wtype}", f"WARC-Date: {date}"]
    if uri:
        head.append(f"WARC-Target-URI: {uri}")
    head.append(f"Content-Length: {len(payload)}")
    return ("\r\n".join(head) + "\r\n\r\n").encode() + payload + b"\r\n\r\n"


def _http_response(body: bytes) -> bytes:
    return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
            + f"Content-Length: {len(body)}\r\n\r\n".encode() + body)


def _gz(raw: bytes) -> bytes:
    return gzip.compress(raw, compresslevel=6, mtime=0)


def new_keys_before(drop: int) -> int:
    """Number of distinct urls that drops 0..drop-1 introduced."""
    per_archive_new = RECORDS_PER_ARCHIVE * ARCHIVES_PER_DROP
    if drop == 0:
        return 0
    return per_archive_new + (drop - 1) * round(per_archive_new * (1 - RECRAWL_SHARE))


def warc_drop_records(seed: int, drop: int) -> list[dict]:
    """The response records of drop ``drop``: most re-crawl urls that
    earlier drops introduced, the rest are new."""
    rng = random.Random(f"incremental_warc/{seed}/{drop}")
    vocab = _vocab(random.Random(f"incremental_warc/{seed}"))
    n = RECORDS_PER_ARCHIVE * ARCHIVES_PER_DROP
    lo, hi = new_keys_before(drop), new_keys_before(drop + 1)
    keys = list(range(lo, hi)) + rng.sample(range(lo), n - (hi - lo))
    rng.shuffle(keys)
    base = 50_000_000 + (seed % 100_000) * 1_000
    day = _TS0 + dt.timedelta(days=60 + drop)
    recs = []
    for r, key in enumerate(keys):
        doc_id = base + drop * 100_000 + r
        recs.append({"url": f"https://crawl{key % 16:02d}.example.com/w/{key:08d}",
                     "doc_id": doc_id, "new": lo <= key < hi,
                     "date": (day + dt.timedelta(seconds=r)).strftime("%Y-%m-%dT%H:%M:%SZ"),
                     "text": _text(rng, vocab, CRAWL_TEXT_WORDS)})
    return recs


def gen_warc_drop(seed: int, drop: int, out: Path) -> dict:
    """Writes the drop's archives (per-record gzip members, as Common Crawl
    ships them) plus one malformed archive; returns its expectations."""
    from sparktika.synth import build_heavy_payload

    recs = warc_drop_records(seed, drop)
    out.mkdir(parents=True)
    info = _gz(_warc_record("warcinfo", None, recs[0]["date"],
                            b"software: perfbench\r\n"))
    n_bytes = 0
    for a in range(ARCHIVES_PER_DROP):
        part = recs[a * RECORDS_PER_ARCHIVE:(a + 1) * RECORDS_PER_ARCHIVE]
        blob = info + b"".join(
            _gz(_warc_record("response", r["url"], r["date"], _http_response(
                build_heavy_payload(r["doc_id"], r["text"], WARC_BODY_REPEAT))))
            for r in part)
        (out / f"crawl-{drop:03d}-{a:02d}.warc.gz").write_bytes(blob)
        n_bytes += len(blob)
    bad = f"crawl-{drop:03d}-bad.warc.gz"
    (out / bad).write_bytes(_gz(b"THIS IS NOT A WARC RECORD\r\n\r\n"))
    return {"records": len(recs), "archives": ARCHIVES_PER_DROP + 1,
            "archive_bytes": n_bytes, "malformed": [bad],
            "new": {r["url"]: r["doc_id"] for r in recs if r["new"]}}


# --------------------------------------------------------------------- cache

_GENERATORS = {"crawl_html": gen_crawl_html, "mixed_formats": gen_mixed_formats}


def _cached(path: Path, build) -> dict:
    """Returns path/expected.json, building the entry first if absent.
    Built in a sibling temp dir and renamed, so a killed run never leaves
    a half-written entry behind."""
    done = path / "expected.json"
    if not done.exists():
        tmp = path.with_name(path.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        (tmp / "expected.json").write_text(json.dumps(build(tmp)))
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    return json.loads(done.read_text())


def _tag() -> str:
    """Short hash of the sizes above, so a changed generator never reuses
    an entry built with other sizes."""
    sizes = (CRAWL_ROWS, CRAWL_WARM_ROWS, MIXED_COPIES, CRAWL_RECRAWL_SHARE, CRAWL_TEXT_WORDS, MIXED_DOCS_PER_BUILDER,
             MIXED_CANONICAL_ROWS, ARCHIVES_PER_DROP, RECORDS_PER_ARCHIVE, RECRAWL_SHARE,
             WARC_BODY_REPEAT, PAGES_FILES)
    return hashlib.sha256(repr(sizes).encode()).hexdigest()[:8]


def inputs(cache: Path, workload: str, seed: int) -> tuple[Path, dict]:
    """(entry dir, expectations) of a pages-table workload."""
    path = cache / f"{workload}-s{seed}-{_tag()}"
    return path, _cached(path, lambda tmp: _GENERATORS[workload](seed, tmp))


def warc_drop(cache: Path, seed: int, drop: int) -> tuple[Path, dict]:
    """(drop dir, expectations) of incremental_warc drop ``drop``."""
    path = cache / f"incremental_warc-s{seed}-{_tag()}" / f"drop-{drop:03d}"
    path.parent.mkdir(parents=True, exist_ok=True)

    return path / "archives", _cached(
        path, lambda tmp: gen_warc_drop(seed, drop, tmp / "archives"))
