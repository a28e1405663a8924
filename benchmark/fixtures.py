"""Seeded benchmark inputs, cached outside the timed region.

Every input is a pure function of ``(workload, seed, size, GEN_VERSION)``
and lives in a cache directory named after that key, so a stale fixture
is never timed: bump ``GEN_VERSION`` whenever a generator changes.

* ``validate``: a ``documents``-shaped table, the web-pages table
  derived from it, and an ``events`` table whose ``props`` JSON mixes
  valid, invalid and malformed documents.  ``events.parquet`` is one
  file, as in the sf test data.
* ``crawl_day``: one crawl day as gzip-member WET shards (one gzip
  member per record, the Common-Crawl layout).  A base corpus is
  copied four times; a seeded half of the copies are exact duplicates
  and the other half are made distinct by replacing one sentence, so
  exact dedup, substring dedup and the quality gates all reject real
  rows.  A seeded share of records lacks its URI or carries an
  unparseable date, which ``ingest_warc`` must quarantine.  The day
  runs against stored state: a URL registry seven times the day's size
  that also holds a seeded share of today's URLs (recrawls), and a
  retraction list of registry URLs plus a few it never held.
"""

from __future__ import annotations

import gzip
import itertools
import json
import os
import random
import shutil
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

#: rows per workload and size; ``tiny`` mirrors the sf0.001 test
#: tables (500 documents, 1,000 events)
SIZES = {
    "validate": {"full": (60_000, 15_000), "tiny": (500, 1_000)},
    "crawl_day": {"full": (500, 0), "tiny": (125, 0)},
}
N_COPIES = 4  # crawl_day: every base page is crawled this many times
N_SOURCES = 20
N_PAGE_FILES = 8
N_WET_SHARDS = 4
HISTORY_FACTOR = 7     # registry size relative to the day (history = 7/8)
RECRAWL_SHARE = 0.25   # share of today's URLs already in the registry
RETRACT_SHARE = 0.02   # share of the registry retracted today

EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
LANGS = ("en", "en", "en", "de", "fr", "es", "zh")

#: the sf test tables' 30-word vocabulary (validate text)
TABLE_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

#: crawl_day prose: pseudo-words plus the English stopwords the Gopher
#: and quality gates look for
_SYLLABLES = "ka lo mi ne ru ta vo se di pa fu ge".split()
PROSE_VOCAB = ["".join(p) for p in itertools.product(_SYLLABLES, repeat=2)]
STOPWORDS = ("the", "of", "and", "to", "a", "in", "is", "that", "with", "have", "be")


@dataclass
class Fixture:
    """Paths of one cached input plus the properties measured on it."""

    root: str
    props: dict

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


def cache_dir(base: str, workload: str, seed: int, size: str) -> str:
    rows = "x".join(str(n) for n in SIZES[workload][size])
    return os.path.join(base, f"{workload}-{rows}-seed{seed}-v{GEN_VERSION}")


def build(base: str, workload: str, seed: int, size: str) -> Fixture:
    """Return the cached fixture for the key, generating it on a miss.

    Generation writes into a temporary sibling directory that is
    renamed into place last, so an interrupted build is never reused."""
    root = cache_dir(base, workload, seed, size)
    props_file = os.path.join(root, "props.json")
    if not os.path.exists(props_file):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        gen = {"validate": _gen_validate, "crawl_day": _gen_crawl_day}[workload]
        props = gen(tmp, random.Random(f"{workload}:{seed}"), *SIZES[workload][size])
        with open(os.path.join(tmp, "props.json"), "w") as fh:
            json.dump(props, fh, indent=1, sort_keys=True)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    with open(props_file) as fh:
        return Fixture(root, json.load(fh))


# ---------------------------------------------------------------------------
# validate
# ---------------------------------------------------------------------------


def _gen_validate(out: str, rng: random.Random, n_docs: int, n_events: int) -> dict:
    nrng = np.random.default_rng(rng.getrandbits(64))
    vocab = np.array(TABLE_VOCAB)
    lengths = nrng.integers(10, 101, n_docs)
    words = vocab[nrng.integers(0, len(vocab), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - n:e]) for n, e in zip(lengths, ends)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[nrng.integers(0, len(LANGS), n_docs)],
        "source": np.char.add("src", nrng.integers(0, N_SOURCES, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))

    # the web-pages table the validation reads, derived from documents by
    # the program's DuckDB twin of ``xjs.sources.webpages`` (violations
    # injected at fixed doc_id residues, a hot duplicate URL on 2% of
    # rows) and stored as N_PAGE_FILES files so every core gets a split
    from xjs.sources.webpages import DUCKDB_CTE

    con = duckdb.connect()
    try:
        con.register("documents", docs)
        pages = con.execute(
            f"WITH {DUCKDB_CTE} SELECT url, warc_ts, CAST(html_str AS BLOB) AS html, text, "
            f"lang, partition_id, doc_id, source FROM webpages ORDER BY doc_id").arrow()
    finally:
        con.close()
    os.makedirs(os.path.join(out, "pages"))
    step = -(-n_docs // N_PAGE_FILES)
    for i in range(N_PAGE_FILES):
        pq.write_table(pages.slice(i * step, step),
                       os.path.join(out, "pages", f"part-{i:05d}.parquet"))

    # events.props: valid {"k": int} documents plus each violation class
    # the dynamic evaluator reports (range, multipleOf, type, required,
    # additionalProperties, malformed JSON)
    gaps = nrng.integers(1, 60_000_000, n_events)
    late = np.where(nrng.random(n_events) < 0.01, 7_200_000_000, 0)
    ts = EPOCH_S * 1_000_000 + np.cumsum(gaps) - late
    ks = nrng.integers(0, 100, n_events)
    kinds = nrng.random(n_events)
    props = [
        '{"k": ' if r < 0.02
        else json.dumps({"k": str(k)}) if r < 0.04
        else json.dumps({"j": int(k)}) if r < 0.06
        else json.dumps({"k": int(k), "extra": True}) if r < 0.08
        else json.dumps({"k": int(k)})
        for r, k in zip(kinds, ks)
    ]
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(nrng.integers(0, max(n_events // 50, 1), n_events), pa.int64()),
        "event_type": np.array(("view", "click", "purchase", "signup", "error"))[
            nrng.integers(0, 5, n_events)],
        "value": np.round(nrng.random(n_events) * 200, 2),
        "props": props,
    })
    pq.write_table(events, os.path.join(out, "events.parquet"))
    return {"n_docs": n_docs, "n_events": n_events}


# ---------------------------------------------------------------------------
# crawl_day
# ---------------------------------------------------------------------------


def _sentence(rng: random.Random, stop_p: float = 0.35) -> str:
    words = [
        rng.choice(STOPWORDS) if rng.random() < stop_p else rng.choice(PROSE_VOCAB)
        for _ in range(rng.randint(6, 14))
    ]
    return " ".join(words).capitalize() + "."


def _page(rng: random.Random) -> list[str]:
    """One page as a list of lines; a seeded share carries a defect one
    of the curation gates rejects or a PII string the redactor rewrites."""
    r = rng.random()
    lines = [_sentence(rng, 0.0 if r < 0.04 else 0.35) for _ in range(rng.randint(3, 12))]
    if 0.04 <= r < 0.07:
        lines.insert(rng.randrange(len(lines)), "Lorem ipsum dolor sit amet consectetur.")
    elif 0.07 <= r < 0.10:
        lines.append("function f() { return the value; }")
    elif 0.10 <= r < 0.13:
        lines = [ln.rstrip(".") for ln in lines]
    elif 0.13 <= r < 0.20:
        i = rng.randrange(len(lines))
        lines[i] = lines[i][:-1] + (
            f" write to user{rng.randrange(999)}@mail.example.org or call "
            f"{rng.randrange(200, 999)}-{rng.randrange(200, 999)}-{rng.randrange(1000, 9999)}."
        )
    return lines


def _record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
    head = b"WARC/1.0\r\n" + b"".join(f"{k}: {v}\r\n".encode() for k, v in headers)
    return head + f"Content-Length: {len(payload)}\r\n\r\n".encode() + payload + b"\r\n\r\n"


def _gen_crawl_day(out: str, rng: random.Random, n_base: int, _unused: int) -> dict:
    base = [_page(rng) for _ in range(n_base)]
    pages: list[tuple[str, str]] = []  # (text, kind)
    for lines in base:
        pages.append(("\n".join(lines), "original"))
        for _ in range(N_COPIES - 1):
            if rng.random() < 0.5:
                pages.append(("\n".join(lines), "exact_copy"))
            else:
                edited = list(lines)
                edited[rng.randrange(len(edited))] = _sentence(rng)
                pages.append(("\n".join(edited), "edited_copy"))
    order = list(range(len(pages)))
    rng.shuffle(order)  # copies get ids anywhere, not always after the original

    n_no_uri = n_bad_date = 0
    clean_urls = []
    shards: list[list[bytes]] = [[] for _ in range(N_WET_SHARDS)]
    for doc_id, i in enumerate(order):
        text, _ = pages[i]
        headers = [("WARC-Type", "conversion"),
                   ("WARC-Record-ID", f"<urn:xjs:doc:{doc_id}>")]
        url = _url(rng, doc_id)
        r = rng.random()
        if r < 0.02:
            n_no_uri += 1
        else:
            headers.append(("WARC-Target-URI", url))
        if 0.02 <= r < 0.04:
            n_bad_date += 1
            headers.append(("WARC-Date", "not-a-date"))
        else:
            headers.append(("WARC-Date", _iso(EPOCH_S + doc_id)))
        if r >= 0.04:
            clean_urls.append(url)
        headers += [("WARC-Identified-Content-Language", rng.choice(LANGS)),
                    ("Content-Type", "text/plain")]
        shards[doc_id % N_WET_SHARDS].append(_record(headers, text.encode()))

    os.makedirs(os.path.join(out, "wet"))
    for s, recs in enumerate(shards):
        info = _record([("WARC-Type", "warcinfo"),
                        ("WARC-Record-ID", f"<urn:xjs:warcinfo:{s}>"),
                        ("WARC-Date", _iso(EPOCH_S)),
                        ("Content-Type", "application/warc-fields")],
                       b"software: xjs-benchmark\r\n")
        with open(os.path.join(out, "wet", f"shard-{s:04d}.warc.gz"), "wb") as fh:
            for rec in [info] + recs:
                fh.write(gzip.compress(rec, compresslevel=6, mtime=0))

    n = len(pages)
    recrawled = [u for u in clean_urls if rng.random() < RECRAWL_SHARE]
    history = recrawled + [_url(rng, d) for d in range(n, n + HISTORY_FACTOR * n)]
    rng.shuffle(history)
    retract = [u for u in history if rng.random() < RETRACT_SHARE]
    unknown = [_url(rng, d) for d in range(-10, 0)]  # never in the registry
    pq.write_table(pa.table({"url": history}), os.path.join(out, "history.parquet"))
    pq.write_table(pa.table({"url": retract + unknown}), os.path.join(out, "retract.parquet"))

    live = set(history) - set(retract)
    kinds = [k for _, k in pages]
    return {
        "n_pages": n,
        "n_base_pages": n_base,
        "exact_dup_share": round(kinds.count("exact_copy") / n, 4),
        "edited_share": round(kinds.count("edited_copy") / n, 4),
        "missing_uri": n_no_uri,
        "bad_date": n_bad_date,
        "n_clean": len(clean_urls),
        "n_novel": sum(1 for u in clean_urls if u not in live),
        "n_history_urls": len(history),
        "n_history_out": len(live | set(clean_urls)),
        "n_retracted": len(retract),
        "n_retract_unknown": len(unknown),
        "recrawl_share": round(len(recrawled) / len(clean_urls), 4),
    }


def _url(rng: random.Random, doc_id: int) -> str:
    return f"https://src{rng.randrange(N_SOURCES)}.example.com/doc/{doc_id}"


def _iso(ts: int) -> str:
    import datetime as _dt

    return _dt.datetime.fromtimestamp(ts, _dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
