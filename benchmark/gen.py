"""Seeded input generator for the benchmark workloads.

Kept apart from the system under test: it writes input files and a
ground-truth sidecar, and the job only ever sees the input files. Every
value is a function of ``(seed, sizes)`` — string-seeded ``random.Random``
instances, no clock, no hash randomisation — so the same seed gives
byte-identical inputs and sidecars.

Two workloads:

* ``pages_hitheavy`` — a parquet pages table in the ``pages.py``
  16-category mix (14 of 16 categories carry an identifier at some finder
  stage or regex tier). Body text is seeded word salad, distinct per page.
* ``warc_dedup`` — one crawl dump as per-record-gzipped ``.warc.gz``
  archives plus a CDXJ index; ~2% of pages carry an identifier and there
  is no pre-extracted ``text``. A share of the dump is near-copies of
  other pages of the same dump, and a few urls are captured twice.
"""
from __future__ import annotations

import base64
import gzip
import json
import os
import random
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from pdf2doi_spark.pages import build_page, category_of, doi_for
from pdf2doi_spark.sources.warc import build_warc_bytes

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_VOCAB_RNG = random.Random("benchmark-vocabulary")
# letters only: a miss page must carry no '10.' and no arXiv shape, so the
# candidate prefilter sees exactly the planted identifiers
VOCAB = [
    "".join(_VOCAB_RNG.choice(_LETTERS)
            for _ in range(_VOCAB_RNG.randint(3, 10)))
    for _ in range(20000)
]
_EPOCH = datetime(2025, 3, 1, tzinfo=timezone.utc)
# parquet files of a pages table, and .warc.gz archives of a dump
N_FILES = 8
N_ARCHIVES = 8
# rows per generator category in the sidecar's oracle sample
SAMPLE_PER_CATEGORY = 6
SAMPLE_PER_KIND = 8
# share of words a near-copy swaps
EDIT_SHARE = 0.02

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choices(VOCAB, k=rng.randint(lo, hi)))


def _slug(rng: random.Random, n: int = 12) -> str:
    return "".join(rng.choice(_LETTERS) for _ in range(n))


def _doc_base(seed: int) -> int:
    # distinct doc_id ranges per seed keep urls and DOIs seed-specific
    return 10_000 + (seed % 100_000) * 1_000_000


def _write_parquet(rows: dict, schema: pa.Schema, out_dir: str,
                   n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(rows, schema=schema)
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part-{k:05d}.parquet"),
                       compression="zstd")


def _sample_indices(rng: random.Random, groups: dict, per_group: int) -> list:
    """Up to ``per_group`` row indices from every group, sorted."""
    picked = []
    for key in sorted(groups):
        idx = groups[key]
        picked.extend(rng.sample(idx, min(per_group, len(idx))))
    return sorted(picked)


def write_sidecar(path: str, truth: dict) -> None:
    with open(path, "w") as fh:
        json.dump(truth, fh, sort_keys=True, separators=(",", ":"))


# ------------------------------------------------------------ pages_hitheavy

def gen_pages_hitheavy(seed: int, out_dir: str, n_pages: int) -> dict:
    """Write ``<out_dir>/pages`` (parquet) and return the sidecar dict.

    The sidecar keeps, per sampled row, what ``pages.expected_for_page``
    needs to rebuild the page and compute the per-row kernel oracle."""
    rng = random.Random(f"pages_hitheavy:{seed}")
    base = _doc_base(seed)
    rows = {c: [] for c in PAGES_SCHEMA.names}
    by_cat: dict = {}
    texts = []
    for i in range(n_pages):
        doc_id = base + i
        doc_text = _words(rng, 60, 90)
        url, ts, html, text = build_page(doc_id, doc_text, "en", "web")
        rows["url"].append(url)
        rows["warc_ts"].append(ts)
        rows["html"].append(html)
        rows["text"].append(text)
        rows["lang"].append("en")
        texts.append(doc_text)
        by_cat.setdefault(category_of(doc_id), []).append(i)
    _write_parquet(rows, PAGES_SCHEMA, os.path.join(out_dir, "pages"), N_FILES)
    sample = [
        {"doc_id": base + i, "doc_text": texts[i], "url": rows["url"][i]}
        for i in _sample_indices(rng, by_cat, SAMPLE_PER_CATEGORY)
    ]
    return {
        "workload": "pages_hitheavy", "seed": seed, "n_pages": n_pages,
        "n_urls": n_pages,
        "input_bytes": _dir_bytes(os.path.join(out_dir, "pages")),
        "categories": len(by_cat), "sample": sample,
    }


# ---------------------------------------------------------------- warc_dedup

_HIT_KINDS = ("meta", "text_doi", "text_doiorg", "url_path")
_HOSTS = ["crawl-%s.org" % s for s in ("alpha", "beta", "gamma", "delta",
                                       "epsilon", "zeta", "eta", "theta")]


def _surt(url: str) -> str:
    rest = url.split("://", 1)[1]
    host, _, path = rest.partition("/")
    return ",".join(reversed(host.split("."))) + ")/" + path


def _site_template(host: str) -> tuple:
    """(head, nav) markup shared by every page of one host: scripts,
    styles and link lists that main-content extraction must strip.
    Letters only, like the body text."""
    rng = random.Random(f"template:{host}")
    style = " ".join(f".{_slug(rng, 6)} {{ color: {_slug(rng, 5)}; }}"
                     for _ in range(120))
    script = " ".join(f"var {_slug(rng, 6)} = '{_slug(rng, 10)}';"
                      for _ in range(150))
    nav = " ".join(f'<a href="/{_slug(rng, 6)}">{_slug(rng, 7)}</a>'
                   for _ in range(60))
    return (f"<style>{style}</style><script>{script}</script>",
            f"<nav>{nav}</nav>")


_TEMPLATES = {h: _site_template(h) for h in _HOSTS}


def _render(host: str, title: str, paras: list, meta_extra: str = "",
            body_extra: str = "") -> bytes:
    head, nav = _TEMPLATES[host]
    body = "".join(f"<p>{p}</p>" for p in paras)
    return (
        f"<html><head><title>{title}</title>"
        f'<meta name="description" content="{paras[0][:80]}">{meta_extra}'
        f"{head}</head><body>{nav}"
        f"<article><h1>{title}</h1>{body}{body_extra}</article>"
        "<footer><a href=\"/terms\">Terms</a> <a href=\"/privacy\">"
        "Privacy</a></footer></body></html>"
    ).encode("utf-8")


def _fresh_page(rng: random.Random, doc_id: int, hit_kind) -> tuple:
    """(url, host, title, paras, html) of a new page; ``hit_kind`` plants
    a DOI."""
    host = rng.choice(_HOSTS)
    url = f"https://{host}/{_slug(rng)}/{_slug(rng, 8)}.html"
    title = _words(rng, 4, 8)
    paras = [_words(rng, 30, 50) for _ in range(rng.randint(4, 6))]
    doi = doi_for(doc_id)
    meta_extra = body_extra = ""
    if hit_kind == "meta":
        meta_extra = f'<meta name="citation_doi" content="{doi}">'
    elif hit_kind == "text_doi":
        body_extra = f"<p>Cite this article as doi: {doi} please.</p>"
    elif hit_kind == "text_doiorg":
        body_extra = f"<p>Published at https://doi.org/{doi} online.</p>"
    elif hit_kind == "url_path":
        url = f"https://{host}/papers/{doi.replace('/', '%2F')}.pdf"
    return url, host, title, paras, _render(host, title, paras,
                                            meta_extra, body_extra)


def _near_copy(rng: random.Random, host: str, title: str,
               paras: list) -> tuple:
    """A mirror of a page on the same host template: new url,
    ~``EDIT_SHARE`` of its words swapped."""
    url = f"https://mirror.{host}/{_slug(rng)}/{_slug(rng, 8)}.html"
    out = []
    for p in paras:
        words = p.split(" ")
        for _ in range(max(1, round(len(words) * EDIT_SHARE))):
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
        out.append(" ".join(words))
    return url, _render(host, title, out)


def gen_warc_dedup(seed: int, out_dir: str, n_urls: int, hit_share: float,
                   dup_share: float, recrawl_share: float) -> dict:
    """Write one crawl dump as ``<out_dir>/warc/*.warc.gz`` plus
    ``<out_dir>/cdx/cdx-00000.gz`` (and a ``<out_dir>/pages`` parquet copy
    of the same captures, read only by the traced run's single-process
    kernel timings) and return the sidecar dict.

    The dump holds ``n_urls`` distinct urls. ``dup_share`` of them are
    near-copies (a mirror url, ``EDIT_SHARE`` of words swapped) of another
    page of the same dump; each original is copied at most once, so the
    planted pairs are disjoint. Of the remaining fresh pages,
    ``hit_share`` carry a DOI. ``recrawl_share`` of the urls are captured
    a second time (byte-identical body, later timestamp); half of those
    recrawls are both members of planted pairs, so whichever member the
    job flags has a recrawl behind it."""
    rng = random.Random(f"warc_dedup:{seed}")
    base = _doc_base(seed)

    n_dups = round(n_urls * dup_share)
    n_fresh = n_urls - n_dups
    n_hits = round(n_fresh * hit_share)
    kinds = [_HIT_KINDS[k % len(_HIT_KINDS)] for k in range(n_hits)]
    kinds += ["miss"] * (n_fresh - n_hits)
    rng.shuffle(kinds)

    pages = []  # (url, html, kind)
    fresh_text = []
    for j, kind in enumerate(kinds):
        url, host, title, paras, html = _fresh_page(
            rng, base + j, None if kind == "miss" else kind)
        pages.append((url, html, kind))
        fresh_text.append((host, title, paras))
    dup_pairs = []
    misses = [j for j, k in enumerate(kinds) if k == "miss"]
    for j in rng.sample(misses, n_dups):
        url, html = _near_copy(rng, *fresh_text[j])
        dup_pairs.append([url, pages[j][0]])
        pages.append((url, html, "dup"))
    rng.shuffle(pages)

    n_recrawl = round(n_urls * recrawl_share)
    pos = {u: j for j, (u, _h, _k) in enumerate(pages)}
    n_pairs = min(len(dup_pairs), n_recrawl // 4)
    recrawled = [pos[u] for pr in rng.sample(dup_pairs, n_pairs) for u in pr]
    taken = set(recrawled)
    rest = [j for j in range(len(pages)) if j not in taken]
    recrawled = sorted(recrawled
                       + rng.sample(rest, n_recrawl - len(recrawled)))

    captures = [(u, h, 0) for u, h, _k in pages]
    captures += [(pages[j][0], pages[j][1], 1) for j in recrawled]
    rng.shuffle(captures)

    warc_dir = os.path.join(out_dir, "warc")
    cdx_dir = os.path.join(out_dir, "cdx")
    os.makedirs(warc_dir)
    os.makedirs(cdx_dir)
    cdx_lines = []
    page_rows = {c: [] for c in PAGES_SCHEMA.names}
    for f in range(N_ARCHIVES):
        name = f"dump-{f:05d}.warc.gz"
        offset = 0
        with open(os.path.join(warc_dir, name), "wb") as fh:
            for k, (url, html, rep) in enumerate(captures[f::N_ARCHIVES]):
                ts = _EPOCH + timedelta(days=rep, seconds=k)
                m = build_warc_bytes(
                    [(url, ts.strftime("%Y-%m-%dT%H:%M:%SZ"), html)],
                    compression="member")
                # gzip stamps the wall clock into each member header (bytes
                # 4-8, outside the CRC); zero it so archives are reproducible
                m = m[:4] + b"\0\0\0\0" + m[8:]
                fh.write(m)
                cdx_lines.append(
                    f"{_surt(url)} {ts.strftime('%Y%m%d%H%M%S')} "
                    + json.dumps({"url": url, "filename": name,
                                  "offset": str(offset),
                                  "length": str(len(m))}))
                offset += len(m)
                for col, v in zip(PAGES_SCHEMA.names, (
                        url, ts.replace(tzinfo=None), html, None, None)):
                    page_rows[col].append(v)
    with gzip.GzipFile(os.path.join(cdx_dir, "cdx-00000.gz"), "wb",
                       mtime=0) as fh:
        fh.write(("\n".join(sorted(cdx_lines)) + "\n").encode("utf-8"))
    _write_parquet(page_rows, PAGES_SCHEMA, os.path.join(out_dir, "pages"),
                   N_ARCHIVES)

    by_kind: dict = {}
    for j, (_u, _h, kind) in enumerate(pages):
        by_kind.setdefault(kind, []).append(j)
    sample = [
        {"url": pages[j][0],
         "html_b64": base64.b64encode(pages[j][1]).decode("ascii"),
         "kind": pages[j][2]}
        for j in _sample_indices(rng, by_kind, SAMPLE_PER_KIND)
    ]
    return {
        "workload": "warc_dedup", "seed": seed,
        "n_pages": len(captures), "n_urls": n_urls, "n_hits_planted": n_hits,
        "input_bytes": _dir_bytes(warc_dir) + _dir_bytes(cdx_dir),
        "dup_pairs": sorted(dup_pairs),
        "recrawled_urls": sorted(pages[j][0] for j in recrawled),
        "sample": sample,
    }


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _d, files in os.walk(path) for f in files)
