"""Seeded input generators for the benchmark.

Each generator writes its inputs under a cache directory keyed by
(workload, seed, size) and returns the expected answer with them:

* ``text_corpus``   -- text files plus the exact per-word counts after
  lowercasing (the ``cli.count_words`` relation).
* ``documents``     -- a ``documents.parquet`` with the testdata schema
  (doc_id, text, lang, source, n_chars) plus the planted duplicate
  structure (exact-copy pairs, near-duplicate pairs).
* ``keyed_table``   -- a keyed base table plus clustered upsert batches
  plus enough to replay the key -> value model after every commit.

Generation uses only NumPy, pandas and pyarrow, never Spark, so the
engine sees nothing but the files written here.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Letters the engine's tokenizer ([^\p{L}]+ splits) treats as word
# characters. The non-ASCII ones round-trip through upper/lower case in
# both Python and Java, so the expected counts stay exact.
ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyzéüñøåç"))
# Separators hold no letter: spaces, punctuation, digits, tabs.
SEPARATORS = np.array([" ", ", ", ". ", " - ", "; ", " 1984 ", "! ", "? ", " (", ") ", "\t", " 42 "])
SEP_P = np.array([0.70, 0.07, 0.06, 0.03, 0.02, 0.02, 0.02, 0.02, 0.02, 0.02, 0.01, 0.01])


def _cached(root: str, key: str, build) -> str:
    """Return ``root/key``, building it with ``build(tmpdir)`` first if
    it is missing. The build writes into a temporary sibling that is
    renamed into place, so a killed run never leaves a half cache."""
    out = os.path.join(root, key)
    if os.path.isfile(os.path.join(out, "DONE")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct lowercase words: a unique 4-letter code
    (32^4 > 10^6 codes) followed by a random 0-5 letter suffix."""
    codes = rng.choice(len(ALPHABET) ** 4, size=size, replace=False)
    chars = np.full((size, 9), "\0", dtype="<U1")  # NumPy drops trailing NULs
    for i in range(4):
        chars[:, i] = ALPHABET[codes % len(ALPHABET)]
        codes //= len(ALPHABET)
    suffix_len = rng.integers(0, 6, size=size)
    letters = ALPHABET[rng.integers(0, len(ALPHABET), size=(size, 5))]
    chars[:, 4:] = np.where(np.arange(5) < suffix_len[:, None], letters, "\0")
    return chars.view("<U9").ravel().astype(object)


def _zipf_ids(rng: np.random.Generator, vocab: int, n: int, s: float) -> np.ndarray:
    """``n`` draws from a Zipf(s) law truncated to ``vocab`` ranks."""
    cdf = np.cumsum(np.arange(1, vocab + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), vocab - 1)


def text_corpus(root: str, seed: int, vocab: int, tokens: int, files: int) -> dict:
    """Text files of ``tokens`` Zipf(1.1) words over ``vocab`` words in
    mixed case, split over ``files`` files. Returns the file paths and
    the path of the expected (word, cnt) parquet."""

    def build(out: str) -> None:
        rng = np.random.default_rng(seed)
        words = _vocabulary(rng, vocab)
        ids = _zipf_ids(rng, vocab, tokens, 1.1)
        case = rng.random(tokens)
        rendered = words[ids]
        cap = case >= 0.80
        up = case >= 0.95
        rendered[cap & ~up] = np.array([w.capitalize() for w in rendered[cap & ~up]], dtype=object)
        rendered[up] = np.array([w.upper() for w in rendered[up]], dtype=object)
        seps = SEPARATORS[rng.choice(len(SEPARATORS), size=tokens, p=SEP_P)].astype(object)
        seps[rng.random(tokens) < 1 / 12] = "\n"
        bounds = np.linspace(0, tokens, files + 1).astype(int)
        for f in range(files):
            lo, hi = bounds[f], bounds[f + 1]
            parts = np.empty(2 * (hi - lo), dtype=object)
            parts[0::2] = rendered[lo:hi]
            parts[1::2] = seps[lo:hi]
            with open(os.path.join(out, f"part-{f:03d}.txt"), "w", encoding="utf-8") as fh:
                fh.write("".join(parts.tolist()))
                fh.write("\n")
        counts = np.bincount(ids, minlength=vocab)
        nz = np.nonzero(counts)[0]
        pq.write_table(
            pa.table({"word": words[nz].tolist(), "cnt": counts[nz].astype(np.int64)}),
            os.path.join(out, "expected.parquet"),
        )

    d = _cached(root, f"text-v{vocab}-t{tokens}-f{files}-s{seed}", build)
    return {
        "dir": d,
        "files": sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".txt")),
        "expected": os.path.join(d, "expected.parquet"),
    }


LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])


def documents(root: str, seed: int, n_docs: int, vocab: int = 20000) -> dict:
    """A ``documents`` table of ``n_docs`` rows: ~80% original docs
    (Zipf(1.1) words, 30-200 tokens), ~10% exact copies of an original
    and ~10% near-duplicates (an original with ~5% of tokens replaced).
    Returns the table directory and the path of the planted structure."""

    def build(out: str) -> None:
        rng = np.random.default_rng(seed)
        words = _vocabulary(rng, vocab)
        n_exact = n_docs // 10
        n_near = n_docs // 10
        n_orig = n_docs - n_exact - n_near
        texts: list[str] = []
        for _ in range(n_orig):
            n = int(rng.integers(30, 201))
            texts.append(" ".join(words[_zipf_ids(rng, vocab, n, 1.1)].tolist()))
        exact_src = rng.integers(0, n_orig, size=n_exact)
        texts.extend(texts[s] for s in exact_src)
        near_src = rng.integers(0, n_orig, size=n_near)
        for s in near_src:
            toks = texts[s].split(" ")
            hit = rng.random(len(toks)) < 0.05
            repl = words[rng.integers(0, vocab, size=len(toks))]
            texts.append(" ".join(np.where(hit, repl, np.array(toks, dtype=object)).tolist()))
        # doc_ids are a shuffled permutation so copies are not adjacent
        ids = rng.permutation(n_docs)
        df = pd.DataFrame(
            {
                "doc_id": ids.astype(np.int64),
                "text": texts,
                "lang": LANGS[rng.integers(0, len(LANGS), size=n_docs)],
                "source": np.char.add("src", rng.integers(0, 10, size=n_docs).astype(str)),
            }
        )
        df["n_chars"] = df["text"].str.len().astype(np.int64)
        df = df.sort_values("doc_id").reset_index(drop=True)
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), os.path.join(out, "documents.parquet"))
        planted = {
            "exact_pairs": [[int(ids[s]), int(ids[n_orig + i])] for i, s in enumerate(exact_src)],
            "near_pairs": [[int(ids[s]), int(ids[n_orig + n_exact + i])] for i, s in enumerate(near_src)],
        }
        with open(os.path.join(out, "planted.json"), "w") as fh:
            json.dump(planted, fh)

    d = _cached(root, f"docs-n{n_docs}-v{vocab}-s{seed}", build)
    return {"dir": d, "sf_dir": d, "planted": os.path.join(d, "planted.json")}


def keyed_table(root: str, seed: int, rows: int, batches: int, batch_frac: float = 0.01) -> dict:
    """A keyed base table (even keys 0, 2, ..., 2*(rows-1)) and
    ``batches`` upsert batches. Batch ``b`` covers one random key range
    holding ~``batch_frac`` of the rows: it updates every even key in
    the range and inserts half of its (absent) odd keys. Keys are
    unique within a batch, and applying batches in order to the base
    gives the key -> value model."""

    def build(out: str) -> None:
        rng = np.random.default_rng(seed)
        keys = np.arange(rows, dtype=np.int64) * 2
        pq.write_table(
            pa.table({"k": keys, "v": rng.integers(0, 1 << 40, size=rows)}),
            os.path.join(out, "base.parquet"),
        )
        span = max(2, int(2 * rows * batch_frac))
        bk, bv, bb = [], [], []
        for b in range(batches):
            lo = int(rng.integers(0, 2 * rows - span))
            lo -= lo % 2
            upd = np.arange(lo, lo + span, 2, dtype=np.int64)
            odd = np.arange(lo + 1, lo + span, 2, dtype=np.int64)
            ins = odd[rng.random(len(odd)) < 0.5]
            k = np.concatenate([upd, ins])
            bk.append(k)
            bv.append(rng.integers(0, 1 << 40, size=len(k)))
            bb.append(np.full(len(k), b, dtype=np.int32))
        pq.write_table(
            pa.table({"batch": np.concatenate(bb), "k": np.concatenate(bk), "v": np.concatenate(bv)}),
            os.path.join(out, "batches.parquet"),
        )

    d = _cached(root, f"keyed-r{rows}-b{batches}-f{batch_frac}-s{seed}", build)
    return {"dir": d, "base": os.path.join(d, "base.parquet"), "batches": os.path.join(d, "batches.parquet"), "key_space": 2 * rows}
