"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument, writes only under the
directory it is given and returns a content digest of what it wrote:
the same seed gives the same bytes (and digest), another seed other
bytes. The program under test only ever sees the generated files.

* ``text_corpus``   — the reference job's input: a manifest plus many
  small text files drawn from a Zipf law over a Heaps-sized vocabulary,
  with mixed case, punctuation and digit tokens.
* ``documents``     — the ``documents`` table in the distribution of
  ``scripts/gen_scale_tables.gen_documents``: Zipf(1) words over the
  fixture vocabulary (grown by Heaps' law), uniform lengths, planted
  exact (~0.2%) and near (~0.4%) duplicates.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word list of the sf0.1 documents fixture: the head ranks of the
# documents vocabulary, as in gen_documents.
BASE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20


def digest_dir(root: Path) -> str:
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for p in sorted(q for q in root.rglob("*") if q.is_file()):
        h.update(p.relative_to(root).as_posix().encode())
        h.update(b"\0")
        h.update(p.read_bytes())
    return h.hexdigest()


def dir_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


# --- invindex_cli: multi-file text corpus ----------------------------------

_PUNCT = np.array(list(".,;:!?"))


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """`size` distinct lowercase words, short ones more likely."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    # English-like initial-letter skew, so the 26 letter files differ in size.
    first_p = rng.dirichlet(np.full(26, 0.8))
    words: set[str] = set()
    while len(words) < size:
        n = size - len(words)
        lens = np.clip(rng.poisson(6.0, n) + 1, 2, 14)
        firsts = letters[rng.choice(26, n, p=first_p)]
        for first, ln in zip(firsts, lens):
            words.add(first + "".join(letters[rng.integers(0, 26, ln - 1)]))
    out = np.array(sorted(words))
    rng.shuffle(out)  # rank order independent of spelling
    return out


def text_corpus(
    seed: int, out: Path, n_files: int = 355, total_tokens: int = 820_000,
    vocab: int = 38_000,
) -> dict:
    """Write `n_files` text files plus `manifest.txt` (reference format:
    N, then N paths relative to the manifest) under `out`."""
    rng = np.random.default_rng([seed, 1])
    out.mkdir(parents=True, exist_ok=True)
    words = _vocabulary(rng, vocab)
    zipf = 1.0 / np.arange(1, vocab + 1) ** 1.05
    zipf /= zipf.sum()
    draws = words[rng.choice(vocab, total_tokens, p=zipf)].astype(object)

    # Surface noise the normalizer (strip non-letters, lowercase) undoes.
    u = rng.random(total_tokens)
    title = u < 0.12
    draws[title] = [w.capitalize() for w in draws[title]]
    upper = (u >= 0.12) & (u < 0.14)
    draws[upper] = [w.upper() for w in draws[upper]]
    v = rng.random(total_tokens)
    punct = v < 0.09
    draws[punct] = draws[punct] + _PUNCT[rng.integers(0, len(_PUNCT), punct.sum())]
    quoted = (v >= 0.09) & (v < 0.10)
    draws[quoted] = ['"' + w + '"' for w in draws[quoted]]
    numeric = (v >= 0.10) & (v < 0.13)  # pure digits: normalize to nothing
    draws[numeric] = rng.integers(0, 100_000, numeric.sum()).astype(str)
    alnum = (v >= 0.13) & (v < 0.14)  # "word42" normalizes to "word"
    draws[alnum] = draws[alnum] + rng.integers(0, 100, alnum.sum()).astype(str)
    hyphen = (v >= 0.14) & (v < 0.143)  # "a-b" joins into one word
    partner = words[rng.integers(0, min(2000, vocab), hyphen.sum())]
    draws[hyphen] = draws[hyphen] + "-" + partner

    sizes = rng.lognormal(0.0, 0.8, n_files)
    bounds = np.concatenate(
        [[0], np.round(np.cumsum(sizes) / sizes.sum() * total_tokens).astype(int)]
    )
    names = []
    for i in range(n_files):
        toks = draws[bounds[i] : bounds[i + 1]]
        line_len = rng.integers(6, 16, len(toks) // 6 + 1)
        cuts = np.cumsum(line_len)
        lines, start = [], 0
        for c in cuts:
            if start >= len(toks):
                break
            sep = "\t" if rng.random() < 0.05 else " "
            lines.append(sep.join(toks[start:c]))
            start = c
        name = f"doc{i + 1:04d}.txt"
        (out / name).write_text("\n".join(lines) + "\n", encoding="utf-8")
        names.append(name)
    (out / "manifest.txt").write_text(
        f"{n_files}\n" + "\n".join(names) + "\n", encoding="utf-8"
    )
    return {"digest": digest_dir(out), "bytes": dir_bytes(out), "files": n_files}


# --- clean_snapshot: documents table ----------------------------------------

def documents(seed: int, out: Path, n_docs: int = 1000) -> dict:
    """`documents.parquet` under `out`, gen_documents' distribution.

    Vocabulary grows with the corpus as in gen_documents (Heaps' law,
    |V| = 31·sqrt(n / 5000), never below the 31 fixture words)."""
    rng = np.random.default_rng([seed, 2])
    out.mkdir(parents=True, exist_ok=True)
    mult = n_docs / 5000
    target_vocab = max(len(BASE_WORDS), int(round(len(BASE_WORDS) * mult**0.5)))
    full_vocab = np.array(
        BASE_WORDS + [f"w{i:04d}" for i in range(target_vocab - len(BASE_WORDS))]
    )
    lengths = rng.integers(10, 101, n_docs)
    zipf = 1.0 / np.arange(1, len(full_vocab) + 1, dtype=np.float64)
    zipf /= zipf.sum()
    draws = rng.choice(len(full_vocab), size=int(lengths.sum()), p=zipf)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [
        " ".join(full_vocab[draws[bounds[i] : bounds[i + 1]]]) for i in range(n_docs)
    ]
    for _ in range(n_docs // 500):  # exact duplicates
        i, j = sorted(rng.integers(0, n_docs, 2).tolist())
        if i != j:
            texts[j] = texts[i]
    for _ in range(n_docs // 250):  # near duplicates: one-token substitution
        i = int(rng.integers(0, n_docs - 1))
        toks = texts[i].split()
        if len(toks) < 10:
            continue
        toks[int(rng.integers(0, len(toks)))] = BASE_WORDS[
            int(rng.integers(0, len(BASE_WORDS)))
        ]
        texts[i + 1] = " ".join(toks)
    tbl = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)], pa.string()
            ),
            "source": pa.array(
                [f"src{k}" for k in rng.integers(0, N_SOURCES, n_docs)], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, out / "documents.parquet")
    return {"digest": digest_dir(out), "bytes": dir_bytes(out), "rows": n_docs}
