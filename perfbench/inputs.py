"""Seeded input generator for the benchmark.

Every input is written to files before any clock starts; the program
under test only ever sees those files. With the same numpy, the same seed
gives byte-identical files, and :func:`digest_dir` fingerprints them so
two runs can be shown to have used identical inputs.

Sizes are module constants, not options: every run of a workload must do
the same amount of work, so the seed changes *which* URLs, pages and
documents appear, never how many.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from cmoncrawl_spark.datagen import LANG_CHARSET, synthesize_html_bytes

# -- frontier_probe ---------------------------------------------------------
FRONTIER_CANON = 60_000  # distinct canonical ids in the candidate batch
FRONTIER_DUP_P = 0.25  # share of ids that arrive a second time (variant URL)
FRONTIER_FILES = 8  # the frontier arrives as several files, like a table
SEEN_EXTRA = 15_000  # seen ids that are not in this batch
# -- crawl_rounds -----------------------------------------------------------
CRAWL_SEEDS = 5_000
CRAWL_ROUNDS = 2
CRAWL_FANOUT = 2
# -- record_extract ---------------------------------------------------------
EXTRACT_PAGES = 16_000
ARCHIVE_FILES = 8
RECORD_FILES = 16  # the domain-record JSONL arrives as several files
# -- operators.dedup (record_extract's traced run) ------------------------
DEDUP_DOCS = 4_000  # originals appearing 1-4 times, each copy perturbed
DEDUP_MAX_COPIES = 4

#: hot registered domain (two subdomains) that holds ~40% of a frontier —
#: the skew per-host top-k salting exists for.
HOT_HOSTS = ("news.hot-domain.com", "blog.hot-domain.com")
_TLDS = ("com", "org", "net", "de", "co.uk")
_LANGS = tuple(LANG_CHARSET)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent stream per input, so resizing one input never
    shifts the random draws of another."""
    key = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "big")
    return np.random.default_rng([seed, key])


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=n)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    return np.array(sorted(words))


def _hosts(rng: np.random.Generator, n: int) -> list[str]:
    tlds = rng.choice(_TLDS, size=n)
    return list(HOT_HOSTS) + [
        f"site{i}-{rng.integers(1 << 20):05x}.{t}" for i, t in enumerate(tlds)
    ]


def _host_weights(n_hosts: int) -> np.ndarray:
    """40% on the hot domain, the rest Zipf-like over the long tail."""
    tail = 1.0 / np.arange(1, n_hosts - 1) ** 0.8
    tail = 0.6 * tail / tail.sum()
    return np.concatenate([[0.25, 0.15], tail])


def _policies(rng: np.random.Generator, hosts: list[str], budget_hi: int) -> pa.Table:
    """Per-host politeness. Every URL's host (with and without ``www.``)
    gets a row; about one host in eleven disallows everything."""
    all_hosts = sorted(set(hosts) | {"www." + h for h in hosts})
    n = len(all_hosts)
    delay = rng.integers(1, 8, size=n).astype(np.float64)
    return pa.table(
        {
            "host": all_hosts,
            "crawl_delay_s": delay,
            "budget": rng.integers(budget_hi // 4, budget_hi + 1, size=n).astype(np.int32),
            "robots_disallow_all": rng.random(n) < 1 / 11,
        }
    )


def _canonical_paths(rng: np.random.Generator, n: int, vocab: np.ndarray) -> list[str]:
    sec = rng.integers(0, 40, size=n)
    slug = rng.choice(vocab, size=n)
    # the numeric part keeps ids distinct; the trailing letter keeps the
    # canonicalizer's trailing [/-0-9]+ strip a no-op on the slug.
    return [f"/sec{s}/{w}{i}a" for i, (s, w) in enumerate(zip(sec, slug))]


def _variant(rng: np.random.Generator, hosts: np.ndarray, paths: list[str]) -> list[str]:
    """One concrete URL per canonical id: www. prefix on ~1/7 and a
    suffix (.html, trailing /, ?page=N, none) that canonicalization
    removes again."""
    n = len(paths)
    www = rng.random(n) < 1 / 7
    kind = rng.integers(0, 4, size=n)
    page = rng.integers(0, 13, size=n)
    out = []
    for h, p, w, k, g in zip(hosts, paths, www, kind, page):
        suffix = (".html", "/", f"?page={g}", "")[k]
        out.append(f"https://{'www.' if w else ''}{h}{p}{suffix}")
    return out


def _write_parquet(table: pa.Table, path: str, files: int = 1) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


def gen_frontier(seed: int, out: str) -> dict:
    """Candidate batch + seen set + policies for ``frontier_probe``.

    About a third of the canonical ids are in the seen set, which also
    holds ``SEEN_EXTRA`` ids this batch never mentions; a quarter of the
    ids arrive twice under different URL spellings (intra-batch dups).
    """
    rng = _rng(seed, "frontier")
    vocab = _vocab(rng, 3000)
    hosts = _hosts(rng, 600)
    host_idx = rng.choice(len(hosts), size=FRONTIER_CANON, p=_host_weights(len(hosts)))
    canon_host = np.array(hosts)[host_idx]
    paths = _canonical_paths(rng, FRONTIER_CANON, vocab)
    dup = np.flatnonzero(rng.random(FRONTIER_CANON) < FRONTIER_DUP_P)
    urls = _variant(rng, canon_host, paths) + _variant(
        rng, canon_host[dup], [paths[i] for i in dup]
    )
    n = len(urls)
    order = rng.permutation(n)
    frontier = pa.table(
        {
            "url": pa.array(urls).take(pa.array(order)),
            "depth": rng.integers(0, 5, size=n).astype(np.int32),
            "priority": np.round(rng.random(n), 6),
        }
    )
    seen_mask = rng.random(FRONTIER_CANON) < 1 / 3
    seen_ids = [f"{h}{p}" for h, p, s in zip(canon_host, paths, seen_mask) if s]
    seen_ids += [f"{hosts[i % len(hosts)]}/old{i}b" for i in range(SEEN_EXTRA)]
    _write_parquet(frontier, os.path.join(out, "frontier"), FRONTIER_FILES)
    _write_parquet(pa.table({"url_id": seen_ids}), os.path.join(out, "seen"), 4)
    _write_parquet(_policies(rng, hosts, 60), os.path.join(out, "policies"))
    return {"candidates": n, "seen": len(seen_ids)}


def gen_crawl(seed: int, out: str) -> dict:
    """Seeds + policies for ``crawl_rounds``."""
    rng = _rng(seed, "crawl")
    vocab = _vocab(rng, 2000)
    hosts = _hosts(rng, 300)
    host_idx = rng.choice(len(hosts), size=CRAWL_SEEDS, p=_host_weights(len(hosts)))
    paths = _canonical_paths(rng, CRAWL_SEEDS, vocab)
    seeds = pa.table(
        {
            "url": [f"https://{hosts[h]}{p}" for h, p in zip(host_idx, paths)],
            "depth": np.zeros(CRAWL_SEEDS, dtype=np.int32),
            "priority": np.round(rng.random(CRAWL_SEEDS), 6),
        }
    )
    _write_parquet(seeds, os.path.join(out, "seeds"), 4)
    _write_parquet(_policies(rng, hosts, 40), os.path.join(out, "policies"))
    return {"seeds": CRAWL_SEEDS}


def _texts(rng: np.random.Generator, vocab: np.ndarray, n: int, lo: int, hi: int) -> list[str]:
    """``n`` texts of ``lo``..``hi - 1`` words, drawn in one call."""
    lens = rng.integers(lo, hi, size=n)
    words = rng.choice(vocab, size=int(lens.sum())).tolist()
    ends = np.cumsum(lens).tolist()
    return [" ".join(words[e - k : e]) for e, k in zip(ends, lens.tolist())]


def gen_records(seed: int, out: str) -> dict:
    """Archive files + domain-record JSONL for ``record_extract``.

    Pages are ``datagen.synthesize_html_bytes`` documents, so every
    non-garbage page's title is ``Doc {doc_id}``. The seed decides each
    page's archive file, its position inside the file, and the order of
    the JSONL lines, which arrive as RECORD_FILES files.
    """
    rng = _rng(seed, "records")
    vocab = _vocab(rng, 4000)
    hosts = _hosts(rng, 200)
    n = EXTRACT_PAGES
    doc_ids = (np.arange(1, n + 1) + int(rng.integers(0, 1_000_000)) * 1000).tolist()
    arch = rng.integers(0, ARCHIVE_FILES, size=n).tolist()
    host_idx = rng.choice(len(hosts), size=n, p=_host_weights(len(hosts))).tolist()
    shop = (rng.random(n) < 0.1).tolist()
    langs = rng.choice(_LANGS, size=n).tolist()
    years = rng.integers(2020, 2024, size=n).tolist()
    pads = rng.integers(1, 64, size=n).tolist()
    texts = _texts(rng, vocab, n, 20, 120)
    adir = os.path.join(out, "archives")
    os.makedirs(adir, exist_ok=True)
    lines = [""] * n
    for a in range(ARCHIVE_FILES):
        fname = f"seg-{a}.warc"
        offset = 0
        with open(os.path.join(adir, fname), "wb") as f:
            for i in rng.permutation(n).tolist():
                if arch[i] != a:
                    continue
                data = synthesize_html_bytes(doc_ids[i], texts[i], langs[i])
                f.write(b"\n" * pads[i] + data)
                offset += pads[i]
                record = {
                    "domain_record": {
                        "filename": fname,
                        "url": f"https://{hosts[host_idx[i]]}/{'shop/' if shop[i] else ''}p{doc_ids[i]}x",
                        "offset": offset,
                        "length": len(data),
                        "digest": hashlib.sha1(data).hexdigest(),
                        "encoding": LANG_CHARSET[langs[i]],
                        "timestamp": f"{years[i]}-06-15T12:00:00Z",
                    },
                    "additional_info": {"doc_id": str(doc_ids[i])},
                }
                lines[i] = json.dumps(record, sort_keys=True) + "\n"
                offset += len(data)
    rdir = os.path.join(out, "records")
    os.makedirs(rdir, exist_ok=True)
    order = rng.permutation(n).tolist()
    for k in range(RECORD_FILES):
        with open(os.path.join(rdir, f"records-{k:02d}.jsonl"), "w") as f:
            f.writelines(lines[j] for j in order[k::RECORD_FILES])
    return {"pages": n}


def gen_docs(seed: int, out: str) -> dict:
    """Near-duplicate corpus for the dedup layer: DEDUP_DOCS documents,
    each original appearing 1..DEDUP_MAX_COPIES times with a few words
    replaced in every copy, so clusters are small and LSH buckets stay
    far under the bucket cap."""
    rng = _rng(seed, "docs")
    vocab = _vocab(rng, 20_000)
    ids, texts = [], []
    next_id = int(rng.integers(0, 1_000_000)) * 100
    while len(ids) < DEDUP_DOCS:
        words = rng.choice(vocab, size=int(rng.integers(60, 140)))
        copies = min(int(rng.integers(1, DEDUP_MAX_COPIES + 1)), DEDUP_DOCS - len(ids))
        for _c in range(copies):
            copy = words.copy()
            hit = rng.random(len(copy)) < 0.03
            copy[hit] = rng.choice(vocab, size=int(hit.sum()))
            next_id += int(rng.integers(1, 5))
            ids.append(next_id)
            texts.append(" ".join(copy))
    order = rng.permutation(len(ids))
    table = pa.table({"doc_id": np.array(ids, dtype=np.int64)[order], "text": pa.array(texts).take(pa.array(order))})
    _write_parquet(table, os.path.join(out, "docs"), 4)
    return {"docs": len(ids)}


def gen_extract(seed: int, out: str) -> dict:
    """``record_extract``'s pages, plus the dedup corpus its traced run
    measures ``operators.dedup`` on."""
    return gen_records(seed, out) | gen_docs(seed, out)


GENERATORS = {
    "frontier_probe": gen_frontier,
    "crawl_rounds": gen_crawl,
    "record_extract": gen_extract,
}


def digest_dir(path: str) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode() + b"\0")
            with open(p, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()
