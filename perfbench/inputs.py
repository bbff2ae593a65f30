"""Seeded inputs for the workloads and the gates that check the
program's outputs against them.

Everything here is plain Python and pyarrow: the inputs are written to
parquet before any timing starts, and the gates read the program's
parquet output back without Spark, so neither adds work to a timed
call.

* ``extract_small`` uses the generator's pages and its independently
  built ``golden`` table.
* ``curate_dedup`` builds a docs table ``(url, extracted_text, lang)``
  from the generator's golden ``expected_text`` — what the extract
  workload emits — and injects mirrors, near-duplicates, repeated
  banner lines and PII lines from its own seed. The expected survivors
  come from a plain-Python replay of the op chain's documented rules
  (C4 line rule, whitespace/PII regexes, min-url exact dedup, the
  constructed near-duplicate pairs, the exact-ratio bigram fluency
  score), never from the Spark operators.
"""

from __future__ import annotations

import os
import random
import re
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from solrizer_spark.corpus import generate_page, write_corpus

#: pages in the extract_small corpus (~500 B pages, size_factor 1)
EXTRACT_PAGES = 10_000

#: generator pages behind the curate_dedup docs table
CURATE_BASE_PAGES = 3_000

# curate_dedup injection shares and the CLI defaults the op chain runs
MIRROR_SHARE = 0.08
NEAR_SHARE = 0.08
BANNER_SHARE = 0.30
PII_SHARE = 0.20
LINE_MIN_COUNT = 3
NEAR_THRESHOLD = 0.8
MIN_FLUENCY = 1e-4
OOV_P = 1e-6
SHINGLE_N = 3
#: near-duplicates only come from docs with at least this many distinct
#: shingles, so an injected pair sits at Jaccard >= 10/11 where banded
#: LSH (16 bands x 4 rows) misses it with probability < 1e-7
NEAR_MIN_SHINGLES = 10

#: words appended to make near-duplicates
NEAR_WORDS = ("alpha", "bravo", "cedar", "delta", "ember", "fjord", "grove", "harbor")

BANNERS = (
    "Subscribe to our newsletter for weekly updates",
    "This site uses cookies to improve your experience",
    "All rights reserved by the publisher",
)

DOCS_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("extracted_text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``; Hadoop's hidden
    ``.crc`` checksum files are not durable output and are skipped."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.startswith("."):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


# -- extract workloads ---------------------------------------------------


def make_extract_corpus(root: str, seed: int, n_pages: int = EXTRACT_PAGES) -> dict:
    paths = write_corpus(os.path.join(root, "corpus"), n_pages=n_pages, seed=seed)
    golden = pq.read_table(paths["golden"])
    return {
        "input": paths["pages"],
        "golden": golden,
        "n_docs": golden.num_rows,
        "n_bytes": dir_bytes(paths["pages"])[1],
    }


def extract_mismatches(docs: pa.Table, golden: pa.Table) -> int:
    """Urls whose output differs from the golden, plus expected urls
    that are missing and urls written more than once or not expected.

    A golden row expecting a parse failure matches a doc flagged
    ``parse_failed`` with null text; every other row matches only a
    byte-identical ``extracted_text`` with ``parse_failed`` false."""
    expect = {
        r["url"]: (r["expected_text"], r["expect_parse_failed"])
        for r in golden.select(["url", "expected_text", "expect_parse_failed"]).to_pylist()
    }
    bad = 0
    seen: set[str] = set()
    for r in docs.select(["url", "extracted_text", "parse_failed"]).to_pylist():
        url = r["url"]
        if url in seen or url not in expect:
            bad += 1
            continue
        seen.add(url)
        text, failed = expect[url]
        if failed:
            ok = bool(r["parse_failed"]) and r["extracted_text"] is None
        else:
            ok = r["parse_failed"] is False and r["extracted_text"] == text
        bad += not ok
    return bad + len(expect.keys() - seen)


def read_docs(docs_path: str) -> pa.Table:
    return pq.read_table(
        docs_path, columns=["url", "extracted_text", "parse_failed"],
        partitioning="hive",
    )


# -- curate_dedup ----------------------------------------------------------


def make_curate_docs(seed: int, n_base: int = CURATE_BASE_PAGES):
    """Docs rows plus the constructed near-duplicate pairs.

    Every generator doc with text keeps its url. Fixed shares of them
    gain a mirror (same body on another host) or a near-duplicate (same
    body plus one trailing word), carry a PII line, or get a banner
    line; which docs is drawn from the seed, how many is not, so every
    seed gives the same doc count. A doc and its copy share the PII
    decision and a mirror's PII line names its own contact, so after
    ``scrub`` a mirror is an exact duplicate. Banners are corpus-wide
    repeated lines by construction."""
    rng = random.Random(f"curate:{seed}")
    base = []
    for i in range(n_base):
        page, gold = generate_page(i, seed)
        if gold["expected_text"] is not None:
            base.append((i, gold["url"], gold["expected_text"], page["lang"]))
    n = len(base)
    eligible = [
        j for j, (_, _, body, _) in enumerate(base)
        if len(shingles(normalize(body))) >= NEAR_MIN_SHINGLES
    ]
    near = set(rng.sample(eligible, round(NEAR_SHARE * n)))
    mirror = set(rng.sample([j for j in range(n) if j not in near], round(MIRROR_SHARE * n)))
    pii = set(rng.sample(range(n), round(PII_SHARE * n)))

    def pii_line(k: int) -> str:
        return f"Contact user{k}@ex{k % 7}.com or 555-{k % 1000:03d}-{k * 7 % 10000:04d} now"

    rows: list[dict] = []
    near_pairs: list[tuple[str, str]] = []
    for j, (i, url, body, lang) in enumerate(base):
        copies = [(url, body, i)]
        if j in mirror:
            copies.append((f"https://mirror{i % 5}.example.net/page/{i}", body, n_base + i))
        elif j in near:
            copies.append((f"{url}?ref=near", f"{body} {rng.choice(NEAR_WORDS)}", i))
            near_pairs.append((url, copies[-1][0]))
        for u, text, k in copies:
            lines = [text, pii_line(k)] if j in pii else [text]
            rows.append({"url": u, "extracted_text": "\n".join(lines), "lang": lang})
    for r in rng.sample(rows, round(BANNER_SHARE * len(rows))):
        r["extracted_text"] += "\n" + rng.choice(BANNERS)
    return rows, near_pairs


def write_docs(rows: list[dict], path: str) -> int:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=DOCS_SCHEMA),
        os.path.join(path, "part-00000.parquet"),
    )
    return dir_bytes(path)[1]


_CONTROL = re.compile(r"[\x00-\x1f\x7f]")
# Java's default \s class, which normalize_text's regex uses
_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")
_EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
_IPV4 = re.compile(r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b")
_PHONE = re.compile(r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b")


def normalize(text: str) -> str:
    return _JAVA_SPACE.sub(" ", _CONTROL.sub(" ", text)).strip(" ")


def scrub(text: str) -> str:
    return _PHONE.sub("[PHONE]", _IPV4.sub("[IP]", _EMAIL.sub("[EMAIL]", text)))


def shingles(text: str) -> set[str]:
    toks = text.split(" ")
    if len(toks) < SHINGLE_N:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def curate_expected(rows: list[dict], near_pairs: list[tuple[str, str]]) -> dict[str, str]:
    """url → text of the docs the chain
    ``linededup,normalize,scrub,exactdedup,neardedup,fluency`` keeps."""
    # linededup: drop every line occurring LINE_MIN_COUNT+ times
    # corpus-wide; docs left with no lines are dropped
    split = {r["url"]: r["extracted_text"].split("\n") for r in rows}
    counts = Counter(line for lines in split.values() for line in lines)
    text = {}
    for url, lines in split.items():
        kept = [ln for ln in lines if counts[ln] < LINE_MIN_COUNT]
        if kept:
            text[url] = scrub(normalize("\n".join(kept)))
    # exactdedup: the minimum url per identical text survives
    winner: dict[str, str] = {}
    for url in sorted(text):
        winner.setdefault(text[url], url)
    rep = {url: winner[t] for url, t in text.items()}
    alive = set(winner.values())
    # neardedup: constructed pairs at or over the threshold join one
    # cluster; each cluster keeps its minimum url
    parent = {u: u for u in alive}

    def find(u: str) -> str:
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in near_pairs:
        if a not in rep or b not in rep:
            continue
        ra, rb = rep[a], rep[b]
        if ra != rb and jaccard(text[ra], text[rb]) >= NEAR_THRESHOLD:
            roots = find(ra), find(rb)
            parent[max(roots)] = min(roots)
    survivors = {u: text[u] for u in alive if find(u) == u}
    # fluency: bigram model p = c(w1 w2) / c(w1 .) over the survivors,
    # transitions seen once score OOV; mean p folded in token order
    toks = {u: t.split(" ") for u, t in survivors.items()}
    c2 = Counter((a, b) for ts in toks.values() for a, b in zip(ts, ts[1:]))
    c1 = Counter()
    for (a, _), n in c2.items():
        c1[a] += n
    keep = {}
    for u, ts in toks.items():
        n = len(ts) - 1
        if n > 0:
            s = 0.0
            for bg in zip(ts, ts[1:]):
                s += c2[bg] / c1[bg[0]] if c2[bg] >= 2 else OOV_P
            if s / n < MIN_FLUENCY:
                continue
        keep[u] = survivors[u]
    return keep


def curate_mismatches(out: pa.Table, expected: dict[str, str]) -> int:
    """Survivors missing from the output, output rows not expected or
    written twice, and survivors whose text differs."""
    bad = 0
    seen: set[str] = set()
    for r in out.select(["url", "extracted_text"]).to_pylist():
        url = r["url"]
        if url in seen or url not in expected:
            bad += 1
            continue
        seen.add(url)
        bad += r["extracted_text"] != expected[url]
    return bad + len(expected.keys() - seen)
