"""Seeded input generator for the benchmark.

Everything a workload feeds the system is written here, in one Python
process, before the Spark session starts; the system receives only these
files. The generator keeps a record of what it emitted so that each
workload can check the system's output against a pure-Python reference.

It never uses the package's ``uuid()``/``rand()`` order generator: those
are unseeded, so the same seed would not give the same inputs.
"""

from __future__ import annotations

import json
import os
import random
import time

N_CUSTOMERS = 10_000
# Order customer ids are drawn from 1..N_CUSTOMERS + OUTSIDE, so about 1%
# of orders miss the reference table and the inner join must drop them.
OUTSIDE = 100
CITIES = (
    "Chicago", "Seattle", "Austin", "Boston", "Denver", "Miami", "Portland",
    "Phoenix", "Atlanta", "Dallas", "Detroit", "Memphis", "Omaha", "Tucson",
)
# Shares of a doc file; the rest are exact re-sends.
NOVEL, RECRAWL = 0.6, 0.25
SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
             "qu", "dor", "len", "mar", "sol", "tin", "var", "bel")


def _word(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(lo, hi)))


def _write_lines(path: str, rows, mtime: float) -> None:
    """One JSON object per line; ``mtime`` fixes the file source's order
    (it lists new files by modification time)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(json.dumps(r, separators=(",", ":")) for r in rows))
        f.write("\n")
    os.utime(path, (mtime, mtime))


def _file_times(n: int) -> list[float]:
    """Distinct, increasing, past modification times for ``n`` files."""
    base = int(time.time()) - n - 10
    return [float(base + i) for i in range(n)]


# -- orders + customers (enrich_backlog) ------------------------------------


def customers(rng: random.Random) -> list[dict]:
    """The 10k-row reference table (customers.sql shape)."""
    return [
        {"cust_id": i, "cust_name": _word(rng, 2, 4).title(),
         "city": rng.choice(CITIES)}
        for i in range(1, N_CUSTOMERS + 1)
    ]


def write_customers(path: str, cust: list[dict]) -> None:
    _write_lines(path, cust, time.time())


def write_orders(
    rng: random.Random, out_dir: str, cust: list[dict], *, n_files: int,
    rows_per_file: int, key_prefix: str,
) -> dict[str, tuple[str, int]]:
    """Order files in the reference wire shape ({orderID, customerID,
    amount}), no key repeated. Returns what the join must keep:
    ``{orderID: (city, amount)}``."""
    city_of = {c["cust_id"]: c["city"] for c in cust}
    joined: dict[str, tuple[str, int]] = {}
    for f, mtime in enumerate(_file_times(n_files)):
        rows = []
        for r in range(rows_per_file):
            key = f"{key_prefix}-{f:04d}-{r:06d}"
            cid = rng.randint(1, N_CUSTOMERS + OUTSIDE)
            amount = rng.randint(20, 499)
            rows.append({"orderID": key, "customerID": cid, "amount": amount})
            if cid in city_of:
                joined[key] = (city_of[cid], amount)
        _write_lines(os.path.join(out_dir, f"orders-{f:04d}.json"), rows, mtime)
    return joined


# -- documents (corpus_dedup_ingest) -----------------------------------------


def vocabulary(rng: random.Random, n: int = 4000) -> list[str]:
    return sorted({_word(rng, 2, 4) for _ in range(n)})


def _doc(rng: random.Random, vocab: list[str]) -> list[str]:
    return [rng.choice(vocab) for _ in range(rng.randint(40, 120))]


def _light_edit(rng: random.Random, words: list[str], vocab: list[str]) -> list[str]:
    """A recrawl: one word in fifty replaced (word-3-gram Jaccard ~0.9,
    above the index's 0.8 threshold)."""
    out = list(words)
    for _ in range(max(1, len(out) // 50)):
        out[rng.randrange(len(out))] = rng.choice(vocab)
    return out


def write_corpus(rng: random.Random, path: str, vocab: list[str], n_docs: int) -> list[dict]:
    docs = [{"doc_id": i, "text": " ".join(_doc(rng, vocab))}
            for i in range(1, n_docs + 1)]
    _write_lines(path, docs, time.time())
    return docs


def write_doc_stream(
    rng: random.Random, out_dir: str, vocab: list[str], corpus: list[dict], *,
    n_files: int, docs_per_file: int, first_id: int,
) -> dict:
    """Doc files mixing novel docs, light-edit recrawls of corpus docs and
    exact re-sends (new id, same text) of novel docs sent in an earlier
    file. Returns the ids of each kind."""
    sent_novel: list[str] = []
    kinds: dict[str, list[int]] = {"novel": [], "recrawl": [], "resend": []}
    next_id = first_id
    for f, mtime in enumerate(_file_times(n_files)):
        rows, new_novel = [], []
        for _ in range(docs_per_file):
            u = rng.random()
            if u < NOVEL or (u >= NOVEL + RECRAWL and not sent_novel):
                kind, text = "novel", " ".join(_doc(rng, vocab))
                new_novel.append(text)
            elif u < NOVEL + RECRAWL:
                src = rng.choice(corpus)["text"].split(" ")
                kind, text = "recrawl", " ".join(_light_edit(rng, src, vocab))
            else:
                kind, text = "resend", rng.choice(sent_novel)
            kinds[kind].append(next_id)
            rows.append({"doc_id": next_id, "text": text})
            next_id += 1
        sent_novel.extend(new_novel)  # re-sends only point at EARLIER files
        _write_lines(os.path.join(out_dir, f"docs-{f:04d}.json"), rows, mtime)
    return kinds
