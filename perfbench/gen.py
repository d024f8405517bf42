"""Seeded input corpora for the benchmark workloads.

Everything here is a pure function of ``(workload, seed)``: the same seed
gives byte-identical parquet. The program under test only ever sees the
written files. Inputs are cached under ``<work>/inputs/<workload>-s<seed>-
<generator hash>``, so editing this file invalidates every cached corpus.
Each corpus directory carries ``manifest.json`` with its row counts and
planted shares.

Only pyarrow and numpy are used, so generation needs no Spark session and
costs no benchmark metric.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are fixed here, not per host, so every host sees the same inputs.
RECIPE_DOCS = 5_000
RECIPE_FILES = 8
STREAM_FILES = 8
STREAM_ROWS_PER_FILE = 500

# English function words (the Gopher stopwords and the engine's English
# language markers are all in here).
STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with", "a", "in",
    "is", "on", "for", "it", "as", "was", "are", "at", "by", "this",
    "from", "or", "an", "but", "not", "all", "were", "when", "can", "had",
)
# Content words: none is a stopword or a language marker of any language
# the engine knows, so a stopword-free document is exactly that.
VOCAB = (
    "river", "market", "garden", "signal", "engine", "bridge", "stream",
    "window", "planet", "letter", "forest", "winter", "summer", "harbor",
    "valley", "castle", "doctor", "farmer", "silver", "copper", "museum",
    "report", "season", "number", "family", "island", "mirror", "pocket",
    "ladder", "candle", "basket", "ticket", "circle", "anchor", "rocket",
    "cotton", "pepper", "butter", "hammer", "needle", "feather", "lantern",
    "journey", "village", "kitchen", "teacher", "student", "history",
    "science", "picture", "weather", "machine", "traffic", "library",
    "morning", "evening", "program", "pattern", "theory", "method",
    "sample", "vector", "cluster", "filter", "batch", "table", "chair",
    "paper", "stone", "cloud", "light", "music", "water", "field", "house",
    "road", "city", "town", "team", "game", "story", "money", "power",
    "heart", "voice", "mind", "price", "court", "plant", "train", "boat",
    "horse", "bird", "fish", "tree", "leaf", "seed", "wind", "rain", "snow",
    "sun", "moon", "star", "coast", "hill", "lake", "path", "wall", "door",
    "floor", "roof", "glass", "metal", "wood", "clay", "sand", "salt",
    "bread", "fruit", "grain", "cattle", "wool", "silk", "iron", "coal",
)
SUFFIXES = ("", "", "", "s", "ed", "ing", "ly", "er")


def generator_hash() -> str:
    """Short digest of this file: part of every cache key."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _word(rng: random.Random, stop_p: float) -> str:
    if rng.random() < stop_p:
        return rng.choice(STOPWORDS)
    return rng.choice(VOCAB) + rng.choice(SUFFIXES)


def sentence(rng: random.Random, n_words: int, *, stop_p: float = 0.25, lead=()) -> str:
    """Capitalized sentence ending in a period; ``lead`` words are placed
    right after the first word."""
    words = [_word(rng, stop_p) for _ in range(n_words)]
    for k, w in enumerate(lead):
        if k + 1 < len(words):
            words[k + 1] = w
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def prose(rng: random.Random, n_words: int) -> str:
    """Sentences until ``n_words``, two or three per line. The first one
    carries 'the' and 'of', so every prose document is English with two
    distinct Gopher stopwords."""
    sents, n = [], 0
    while n < n_words:
        k = rng.randint(8, 18)
        sents.append(sentence(rng, k, lead=("the", "of") if not sents else ()))
        n += k
    lines, i = [], 0
    while i < len(sents):
        step = rng.randint(2, 3)
        lines.append(" ".join(sents[i : i + step]))
        i += step
    return "\n".join(lines)


def _case_ws_variant(rng: random.Random, text: str) -> str:
    """Same normalized content (lowercase, whitespace runs collapsed,
    trimmed) with different raw bytes: an exact duplicate only after
    normalization."""
    words = text.split()
    seps = [rng.choice(("  ", " \t", "\n", " ")) for _ in words]
    out = "".join(w.upper() + s if k % 3 == 0 else w + s for k, (w, s) in enumerate(zip(words, seps)))
    return "  " + out


# ------------------------------------------------------------ recipe_gopher

# Planted kinds per block of 50 documents; the rest of each block is clean
# prose that passes every published Gopher rule.
RECIPE_QUOTA = {
    "short": 1,  # 25-38 words: Gopher word-count floor
    "ultrashort": 1,  # under 80 chars
    "soup": 1,  # no stopwords at all: language cut
    "one_stopword": 1,  # only 'the': Gopher >= 2 stopwords
    "hashtags": 1,  # '#' ratio ~0.15: Gopher symbol ratio
    "bullets": 1,  # every line bulleted: Gopher bullet lines
    "ellipsis": 1,  # 40% of lines end in '...': Gopher ellipsis lines
    "glued": 1,  # mean word length > 10
    "numeric": 1,  # ~25% numeric tokens: Gopher alphabetic-word fraction
    "repeat_sentence": 1,  # one sentence 10x: duplicate-word ratio
    "bigram_run": 1,  # one bigram repeated: duplicate-word and top-bigram
    "exact_dup": 2,  # verbatim copy of a clean document
    "case_ws_dup": 1,  # copy differing only in case and whitespace
    "near_dup": 2,  # copy with its last sentence rewritten: MinHash
}
BLOCK = 50


def _recipe_text(kind: str, rng: random.Random) -> str:
    if kind == "clean":
        return prose(rng, rng.randint(55, 160))
    if kind == "short":
        return prose(rng, rng.randint(25, 38))
    if kind == "ultrashort":
        return sentence(rng, 7, lead=("the", "of"))[:78]
    if kind == "soup":
        return " ".join(rng.choice(VOCAB) + rng.choice(("s", "ed", "ing")) for _ in range(rng.randint(60, 120)))
    if kind == "one_stopword":
        body = [rng.choice(VOCAB) for _ in range(rng.randint(70, 110))]
        for k in range(0, len(body), 9):
            body[k] = "the"
        return " ".join(body)
    if kind == "hashtags":
        words = prose(rng, 95).split()
        for k in range(0, len(words), 7):
            words[k] = "#" + words[k].strip(".").lower()
        return " ".join(words)
    if kind == "bullets":
        return "\n".join("- " + sentence(rng, rng.randint(8, 14), lead=("the", "of")) for _ in range(8))
    if kind == "ellipsis":
        lines = [sentence(rng, rng.randint(8, 14), lead=("the", "of") if j == 0 else ()) for j in range(10)]
        return "\n".join(s[:-1] + "..." if j % 5 < 2 else s for j, s in enumerate(lines))
    if kind == "glued":
        words = [rng.choice(VOCAB) + rng.choice(VOCAB) + rng.choice(("ment", "ation", "ness")) for _ in range(rng.randint(55, 70))]
        words[1], words[3] = "the", "of"
        return " ".join(words) + "."
    if kind == "numeric":
        words = prose(rng, 90).split()
        for k in range(0, len(words) - 1, 4):
            words[k] = str(rng.randint(1000, 99999))
        return " ".join(words)
    if kind == "repeat_sentence":
        return " ".join([sentence(rng, 12, lead=("the", "of"))] * 10)
    if kind == "bigram_run":
        a, b = rng.choice(VOCAB), rng.choice(VOCAB)
        return sentence(rng, 10, lead=("the", "of")) + " " + " ".join([a, b] * 30)
    raise ValueError(kind)


def recipe_corpus(seed: int) -> tuple[pa.Table, dict]:
    """``(doc_id, text)`` prose with the per-rule violator quota of
    ``RECIPE_QUOTA`` in every block of 50 ids (positions seeded) and
    exact, case/whitespace and near duplicates of clean documents."""
    rng = random.Random(seed * 1_000_003 + 17)
    kinds: list[str] = []
    while len(kinds) < RECIPE_DOCS:
        block = [k for k, n in RECIPE_QUOTA.items() for _ in range(n)]
        block += ["clean"] * (BLOCK - len(block))
        rng.shuffle(block)
        kinds.extend(block)
    kinds = kinds[:RECIPE_DOCS]
    texts: list[str | None] = [None] * RECIPE_DOCS
    for i, kind in enumerate(kinds):
        if not kind.endswith("_dup"):
            texts[i] = _recipe_text(kind, random.Random(f"{seed}:{i}"))
    clean = [i for i, k in enumerate(kinds) if k == "clean"]
    for i, kind in enumerate(kinds):
        if kind.endswith("_dup"):
            drng = random.Random(f"{seed}:{i}:dup")
            src = texts[drng.choice(clean)]
            if kind == "exact_dup":
                texts[i] = src
            elif kind == "case_ws_dup":
                texts[i] = _case_ws_variant(drng, src)
            else:
                cut = src.rfind(". ")
                texts[i] = src[: cut + 2] + sentence(drng, 10)
    table = pa.table({"doc_id": pa.array(range(RECIPE_DOCS), pa.int64()), "text": pa.array(texts, pa.string())})
    shares = {k: kinds.count(k) / RECIPE_DOCS for k in sorted(set(kinds))}
    return table, {"rows": RECIPE_DOCS, "planted_shares": shares}


# ------------------------------------------------------- stream_incremental

def _sentence_pool(rng: random.Random, n: int) -> list[str]:
    return [sentence(rng, rng.randint(8, 18)) for _ in range(n)]


def _texts_from_pool(gen: np.random.Generator, pool: list[str], counts: np.ndarray) -> list[str]:
    """One text per row: ``counts[i]`` pool sentences, two or three per
    line."""
    picks = gen.integers(0, len(pool), int(counts.sum()))
    out, pos = [], 0
    for c in counts.tolist():
        sents = [pool[j] for j in picks[pos : pos + c]]
        pos += c
        out.append("\n".join(" ".join(sents[k : k + 3]) for k in range(0, c, 3)))
    return out


def _plant_duplicates(gen: np.random.Generator, texts: list[str], share_exact: float, share_variant: float, group=None):
    """Overwrite a seeded ``share_exact`` of rows with a verbatim copy of
    another row's text and ``share_variant`` with a case/whitespace
    variant. Sources are never themselves overwritten. With ``group``
    (the file index per row), a copy always comes from another file.
    Returns (exact rows, variant rows)."""
    n = len(texts)
    order = gen.permutation(n)
    n_ex, n_var = int(n * share_exact), int(n * share_variant)
    dups, sources = order[: n_ex + n_var], order[n_ex + n_var :]
    src_pick = sources[gen.integers(0, len(sources), len(dups))]
    if group is not None:
        for k in range(len(dups)):
            while group[src_pick[k]] == group[dups[k]]:
                src_pick[k] = sources[gen.integers(0, len(sources))]
    vrng = random.Random(int(gen.integers(0, 2**31)))
    for k, (d, s) in enumerate(zip(dups.tolist(), src_pick.tolist())):
        texts[d] = texts[s] if k < n_ex else _case_ws_variant(vrng, texts[s])
    return n_ex, n_var


STREAM_MIN_LEN = 100
STREAM_MAX_LEN = 900
STREAM_WEIGHTS = {"lottery": 0.6, "winner": 0.3, "prize": 0.2, "urgent": 0.1}
STREAM_THRESHOLD = 0.5


def stream_corpus(seed: int) -> tuple[list[pa.Table], dict]:
    """``STREAM_FILES`` landing files of ``(doc_id, text)``: short prose,
    some rows under or over the length window, some carrying spam words
    for the word-score filter, and duplicates planted across files (each
    copy's source lives in another file)."""
    gen = np.random.default_rng(seed + 101)
    rng = random.Random(seed * 13 + 5)
    n = STREAM_FILES * STREAM_ROWS_PER_FILE
    v = gen.random(n)
    counts = np.where(v < 0.05, 1, np.where(v < 0.97, gen.integers(2, 8, n), gen.integers(14, 18, n)))
    texts = _texts_from_pool(gen, _sentence_pool(rng, 4000), counts)
    spam = gen.random(n) < 0.06
    spam_words = list(STREAM_WEIGHTS)
    for i in np.flatnonzero(spam).tolist():
        texts[i] = texts[i] + " " + " ".join(rng.sample(spam_words, rng.randint(1, 3))) + "."
    group = np.repeat(np.arange(STREAM_FILES), STREAM_ROWS_PER_FILE)
    n_ex, n_var = _plant_duplicates(gen, texts, 0.10, 0.04, group=group)
    ids = np.arange(n, dtype=np.int64)
    files = [
        pa.table(
            {
                "doc_id": pa.array(ids[f * STREAM_ROWS_PER_FILE : (f + 1) * STREAM_ROWS_PER_FILE]),
                "text": pa.array(texts[f * STREAM_ROWS_PER_FILE : (f + 1) * STREAM_ROWS_PER_FILE], pa.string()),
            }
        )
        for f in range(STREAM_FILES)
    ]
    shares = {"spam_rows": float(spam.mean()), "cross_file_exact_dup": n_ex / n, "cross_file_case_ws_dup": n_var / n}
    return files, {"rows": n, "files": STREAM_FILES, "planted_shares": shares}


# ------------------------------------------------------------------ caching

def _write_split(table: pa.Table, out_dir: str, n_files: int) -> None:
    step = -(-table.num_rows // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step), os.path.join(out_dir, f"part-{f:03d}.parquet"))


def ensure_inputs(workload: str, seed: int, work_dir: str, keep: int = 6) -> tuple[str, dict]:
    """Directory of the workload's parquet input for ``seed`` (generated on
    first use) and its manifest. Keeps the ``keep`` most recently used
    corpora and deletes older ones."""
    root = os.path.join(work_dir, "inputs")
    final = os.path.join(root, f"{workload}-s{seed}-{generator_hash()}")
    manifest_path = os.path.join(final, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        if workload == "recipe_gopher":
            table, manifest = recipe_corpus(seed)
            _write_split(table, data, RECIPE_FILES)
        elif workload == "stream_incremental":
            files, manifest = stream_corpus(seed)
            for f, t in enumerate(files):
                pq.write_table(t, os.path.join(data, f"land-{f:04d}.parquet"))
        else:
            raise ValueError(f"unknown workload {workload!r}")
        manifest.update(
            workload=workload,
            seed=seed,
            generator=generator_hash(),
            input_bytes=sum(e.stat().st_size for e in os.scandir(data)),
            input_files=len(os.listdir(data)),
        )
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    os.utime(final)
    entries = sorted((e for e in os.scandir(root) if e.is_dir()), key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[keep:]:
        shutil.rmtree(e.path, ignore_errors=True)
    with open(manifest_path) as f:
        return os.path.join(final, "data"), json.load(f)
