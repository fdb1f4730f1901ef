"""Seeded input generators for the benchmark workloads.

Every generator takes the seed and the size as arguments and writes its
files into a cache directory keyed by both, so the same (seed, size)
gives byte-identical inputs and is generated once per checkout. Each
cache entry carries a ``meta.json`` with the SHA-256 digest of the
generated bytes and whatever the generator knows about the right
answer (the per-neighbourhood sums of the listings CSV).

The program under test only ever sees the generated files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np

# The 16 columns of the reference's AB_NYC_2019 BigQuery schema,
# including its ``longtiude`` spelling.
NYC_FIELDS = [
    {"name": "id", "type": "INTEGER"},
    {"name": "name", "type": "STRING"},
    {"name": "host_id", "type": "INTEGER"},
    {"name": "host_name", "type": "STRING"},
    {"name": "neighbourhood_group", "type": "STRING"},
    {"name": "neighbourhood", "type": "STRING"},
    {"name": "latitude", "type": "FLOAT"},
    {"name": "longtiude", "type": "FLOAT"},
    {"name": "room_type", "type": "STRING"},
    {"name": "price", "type": "INTEGER"},
    {"name": "minimum_nights", "type": "INTEGER"},
    {"name": "number_of_reviews", "type": "INTEGER"},
    {"name": "last_review", "type": "DATE"},
    {"name": "reviews_per_month", "type": "FLOAT"},
    {"name": "calculated_host_listings_count", "type": "INTEGER"},
    {"name": "availability_365", "type": "INTEGER"},
]
N_NEIGHBOURHOODS = 221
BOROUGHS = ["Bronx", "Brooklyn", "Manhattan", "Queens", "Staten Island"]
ROOM_TYPES = ["Entire home/apt", "Private room", "Shared room"]
# English stopwords the corpus quality filter counts; the rest of each
# document is drawn from a seeded pseudo-word vocabulary.
STOPWORDS = ["the", "a", "of", "and", "to", "is", "in", "that", "it", "for"]
VOCAB_SIZE = 4000
EVAL_MODULUS = 97  # doc_id % 97 == 0 is the corpus build's eval set


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def _cached(cache_root: str, kind: str, seed: int, size: int, build) -> tuple[str, dict]:
    """Return (directory, meta) of the (kind, seed, size) entry,
    building it with ``build(tmp_dir) -> (files, extra_meta)`` when
    absent. The entry is renamed into place only once complete."""
    out = os.path.join(cache_root, f"{kind}-s{seed}-n{size}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    files, extra = build(tmp)
    meta = {
        "kind": kind,
        "seed": seed,
        "size": size,
        "files": files,
        "digest": _digest([os.path.join(tmp, p) for p in files]),
        **extra,
    }
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, meta


def _neighbourhood_names(rng: np.random.Generator) -> list[str]:
    heads = ["East", "West", "North", "South", "Upper", "Lower", "Old", "New",
             "Little", "Fort", "Port", "Mount", "Bay", "Park", "Sea"]
    tails = ["Village", "Heights", "Hill", "Park", "Beach", "Harbor", "Point",
             "Gardens", "Side", "Slope", "Flats", "Ridge", "Terrace", "Neck",
             "Bluff", "Manor", "Crossing", "Landing"]
    pairs = [f"{h} {t}" for h in heads for t in tails]
    pick = rng.choice(len(pairs), size=N_NEIGHBOURHOODS, replace=False)
    # A few real-world shapes: apostrophes, hyphens, a comma.
    names = [pairs[i] for i in pick]
    names[0] = "Hell's Kitchen"
    names[1] = "Bedford-Stuyvesant"
    names[2] = "Prospect-Lefferts Gardens, South"
    return names


def generate_listings(cache_root: str, seed: int, n_rows: int) -> tuple[str, dict]:
    """An AB_NYC_2019-schema CSV with ``n_rows`` listings over 221
    neighbourhoods. Listing and host names carry embedded commas and
    double quotes. ``meta["sums"]`` maps each neighbourhood to the sum
    of ``calculated_host_listings_count`` as a decimal string."""

    def build(tmp: str):
        import pyarrow as pa
        import pyarrow.csv as pacsv

        rng = np.random.default_rng(seed)
        hoods = _neighbourhood_names(rng)
        # Zipf-like neighbourhood popularity, like the real file.
        weights = 1.0 / np.arange(1, N_NEIGHBOURHOODS + 1) ** 0.9
        weights /= weights.sum()
        hood_idx = rng.choice(N_NEIGHBOURHOODS, size=n_rows, p=weights)
        count = np.minimum(rng.geometric(0.35, size=n_rows), 327).astype(np.int64)
        adjectives = ["Cozy", "Sunny", "Spacious", "Quiet", "Modern", "Charming",
                      "Bright", "Large", "Tiny", "Lovely"]
        name_pool = pa.array(
            [f'{a} {r.lower()}, near "{h}" #{j}'
             for j, (a, r, h) in enumerate(
                 (adjectives[i % 10], ROOM_TYPES[i % 3], hoods[i % N_NEIGHBOURHOODS])
                 for i in range(997))]
        )
        host_pool = pa.array(
            [f"Host {i}" if i % 7 else f'Host {i}, "Jr."' for i in range(613)]
        )
        reviews = rng.integers(0, 300, size=n_rows)
        has_review = reviews > 0
        days = rng.integers(0, 3000, size=n_rows).astype("timedelta64[D]")
        last_review = (np.datetime64("2011-06-01") + days).astype(str).astype(object)
        last_review[~has_review] = None
        rpm = np.round(rng.gamma(1.2, 1.1, size=n_rows), 2).astype(object)
        rpm[~has_review] = None
        hood_arr = pa.array(hoods)
        table = pa.table(
            {
                "id": pa.array(np.arange(2539, 2539 + n_rows, dtype=np.int64)),
                "name": name_pool.take(pa.array(rng.integers(0, 997, size=n_rows))),
                "host_id": pa.array(rng.integers(2000, 275_000_000, size=n_rows)),
                "host_name": host_pool.take(pa.array(rng.integers(0, 613, size=n_rows))),
                "neighbourhood_group": pa.array(BOROUGHS).take(pa.array(hood_idx % 5)),
                "neighbourhood": hood_arr.take(pa.array(hood_idx)),
                "latitude": pa.array(np.round(rng.uniform(40.5, 40.92, size=n_rows), 5)),
                "longtiude": pa.array(np.round(rng.uniform(-74.25, -73.7, size=n_rows), 5)),
                "room_type": pa.array(ROOM_TYPES).take(pa.array(rng.integers(0, 3, size=n_rows))),
                "price": pa.array(rng.integers(10, 1000, size=n_rows)),
                "minimum_nights": pa.array(rng.integers(1, 31, size=n_rows)),
                "number_of_reviews": pa.array(reviews),
                "last_review": pa.array(last_review, pa.string()),
                "reviews_per_month": pa.array(rpm, pa.float64()),
                "calculated_host_listings_count": pa.array(count),
                "availability_365": pa.array(rng.integers(0, 366, size=n_rows)),
            }
        )
        pacsv.write_csv(table, os.path.join(tmp, "listings.csv"))
        sums = np.bincount(hood_idx, weights=count, minlength=N_NEIGHBOURHOODS)
        expected = {
            hoods[i]: str(int(sums[i]))
            for i in range(N_NEIGHBOURHOODS)
            if (hood_idx == i).any()
        }
        return ["listings.csv"], {"rows": n_rows, "sums": expected}

    return _cached(cache_root, "listings", seed, n_rows, build)


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, size=n)
    out = {"".join(rng.choice(letters, size=k)) for k in lens}
    words = sorted(out - set(STOPWORDS))
    return np.array(words, dtype=object)


def generate_corpus(cache_root: str, seed: int, n_docs: int) -> tuple[str, dict]:
    """A ``documents.parquet`` (doc_id, text, lang, source, n_chars) of
    ``n_docs`` documents exercising every corpus-build stage: a spread
    of stopword ratios and lengths around the quality threshold, exact
    duplicates (0.1 %), one-token-edit near duplicates (0.5 %), copies
    of eval-set text (doc_id % 97 == 0) planted into 0.3 % of documents,
    and shared boilerplate spans in 10 % of documents."""

    def build(tmp: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        vocab = _words(rng, VOCAB_SIZE)
        stop = np.array(STOPWORDS, dtype=object)
        n_tok = rng.integers(8, 90, size=n_docs)
        total = int(n_tok.sum())
        words = vocab[rng.integers(0, len(vocab), size=total)]
        sw_rate = np.repeat(rng.uniform(0.0, 0.3, size=n_docs), n_tok)
        sw = rng.random(total) < sw_rate
        words[sw] = stop[rng.integers(0, len(stop), size=int(sw.sum()))]
        offs = np.concatenate([[0], np.cumsum(n_tok)])
        wl = words.tolist()
        docs = [wl[offs[i]: offs[i + 1]] for i in range(n_docs)]
        boiler = [vocab[rng.integers(0, len(vocab), size=12)].tolist() for _ in range(20)]
        for i in np.flatnonzero(rng.random(n_docs) < 0.10):
            pos = int(rng.integers(0, len(docs[i]) + 1))
            docs[i][pos:pos] = boiler[int(rng.integers(0, len(boiler)))]
        half = n_docs // 2
        n_eval = max(1, (n_docs - 1) // EVAL_MODULUS)
        for _ in range(int(n_docs * 0.003)):
            src = EVAL_MODULUS * int(rng.integers(1, n_eval + 1))
            dst = int(rng.integers(0, n_docs))
            if dst % EVAL_MODULUS and src < n_docs:
                docs[dst] = list(docs[src]) + docs[dst][:5]
        for _ in range(int(n_docs * 0.005)):
            src, dst = int(rng.integers(0, half)), int(rng.integers(half, n_docs))
            toks = list(docs[src])
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
            docs[dst] = toks
        for _ in range(int(n_docs * 0.001)):
            src, dst = int(rng.integers(0, half)), int(rng.integers(half, n_docs))
            docs[dst] = list(docs[src])
        texts = [" ".join(d) for d in docs]
        langs = np.array(["de", "en", "es", "fr", "zh"], dtype=object)
        table = pa.table(
            {
                "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(langs[rng.integers(0, 5, size=n_docs)], pa.string()),
                "source": pa.array(
                    [f"src{j}" for j in rng.integers(0, 20, size=n_docs)], pa.string()
                ),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(tmp, "documents.parquet"))
        return ["documents.parquet"], {"rows": n_docs}

    return _cached(cache_root, "corpus", seed, n_docs, build)


def generate_embeddings(
    cache_root: str, seed: int, n_vecs: int, dim: int = 64
) -> tuple[str, dict]:
    """An ``embeddings.parquet`` (vec_id, embedding: list<float32>,
    label) of ``n_vecs`` vectors around 64 seeded centres, with 3 % of
    the vectors planted as small perturbations of an earlier vector so
    the cosine >= 0.9 verify has pairs to find."""

    def build(tmp: str):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        n_centres = 64
        centres = rng.standard_normal((n_centres, dim))
        labels = rng.integers(0, n_centres, size=n_vecs)
        mat = centres[labels] + 0.8 * rng.standard_normal((n_vecs, dim))
        dup = np.flatnonzero(rng.random(n_vecs) < 0.03)
        dup = dup[dup > 0]
        src = (rng.random(len(dup)) * dup).astype(np.int64)
        mat[dup] = mat[src] + 0.05 * rng.standard_normal((len(dup), dim))
        labels[dup] = labels[src]
        flat = pa.array(mat.astype(np.float32).ravel(), pa.float32())
        emb = pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float32()))
        table = pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
                "embedding": emb,
                "label": pa.array(labels.astype(np.int32)),
            }
        )
        pq.write_table(table, os.path.join(tmp, "embeddings.parquet"))
        return ["embeddings.parquet"], {"rows": n_vecs, "dim": dim}

    return _cached(cache_root, "embeddings", seed, n_vecs, build)
