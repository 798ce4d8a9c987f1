"""Seeded input generator and oracle twins for the benchmark workloads.

Every workload reads one ``documents.parquet`` (doc_id, text, lang,
source, n_chars) — the table the engine's driver queries and their DuckDB
``oracle_sql()`` twins are written against. The seed picks which doc ids
exist and, for ``corpus``, every document's text, so two seeds give
different rows of the same shape and size.

The generator also runs the DuckDB twin of every checked output once and
stores its checksum (``check.checksum``) next to the inputs, so the timed
process only compares checksums. Output lands in
``<cache>/<workload>-<size>-<seed>/`` and is reused by later runs.

Usage: python3 perfbench/gen.py --workload corpus --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows of documents.parquet per workload (see README.md for how they were
# chosen); hydro's ids fill 90% of [0, HYDRO_SPAN)
SIZES = {"hydro": 922, "tiles": 20_000, "corpus": 5_000}
HYDRO_SPAN = 1024

# checked outputs per workload and the oracle_sql() entry of each; knn is
# checked by brute force on a sample instead (no feasible full oracle)
ORACLES = {
    "hydro": ["reference_network"],
    "tiles": ["pip_join", "tile_assign", "zonal_pct"],
    "corpus": ["curation_pipeline", "refresh_pipeline"],
}

N_SOURCES = 20
LANGS = np.array(["en", "en", "en", "fr", "de", "es", "zh", "en", "fr", "it"])
BENCH_MOD = 101  # the curation driver query's benchmark = doc_id % 101 == 0


def input_dir(cache: str, workload: str, seed: int) -> str:
    return os.path.join(cache, f"{workload}-{SIZES[workload]}-{seed}")


def hydro_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """Ids 0 and 1 (outlet root and its first reach) always exist; the seed
    picks the other n-2 from [2, HYDRO_SPAN), so the tree keeps its depth
    while which reaches exist, and where they lie, change."""
    rest = rng.choice(np.arange(2, HYDRO_SPAN), size=n - 2, replace=False)
    return np.sort(np.concatenate([[0, 1], rest])).astype(np.int64)


def tiles_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """n distinct ids out of [0, 4n): point positions derive from the id."""
    return np.sort(rng.choice(4 * n, size=n, replace=False)).astype(np.int64)


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        length = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, size=length)))
    return np.array(sorted(words))


def corpus_texts(rng: np.random.Generator, ids: np.ndarray) -> list[str]:
    """Texts on which every curation gate both drops and keeps documents:
    exact duplicates, short docs (< 10 tokens), repetitive docs (top token
    > 1/5 of the tokens) and docs that quote three tokens of a benchmark
    doc (doc_id % 101 == 0) are planted among random-vocabulary docs,
    which share no 3-token shingle with the benchmark by chance. Near twins
    (first half of an earlier doc, fresh second half; 3-shingle Jaccard
    ~0.3) give the refresh's LSH candidates that fail verification."""
    vocab = _vocab(rng, 6000)
    n = len(ids)
    kind = rng.choice(6, size=n, p=[0.73, 0.06, 0.05, 0.05, 0.06, 0.05])
    texts: list[str] = []
    for i in range(n):
        n_tok = int(rng.integers(12, 48))
        toks = list(rng.choice(vocab, size=n_tok))
        k = kind[i]
        if k == 1 and i > 0:      # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if k == 2:                # too short for the 10-token gate
            toks = toks[: int(rng.integers(4, 10))]
        elif k == 3:              # one token is over 1/5 of the doc
            toks[: n_tok // 3] = [toks[0]] * (n_tok // 3)
            rng.shuffle(toks)
        elif k == 5 and i > 0:    # near twin of an earlier doc
            twin = texts[int(rng.integers(0, i))].split(" ")
            toks = twin[: len(twin) // 2] + toks[: len(twin) - len(twin) // 2]
        texts.append(" ".join(toks))
    bench = [i for i in range(n) if ids[i] % BENCH_MOD == 0]
    for i in np.flatnonzero(kind == 4):  # quotes a benchmark doc
        if not bench or ids[i] % BENCH_MOD == 0:
            continue
        src = texts[bench[int(rng.integers(0, len(bench)))]].split(" ")
        if len(src) < 3:
            continue
        at = int(rng.integers(0, len(src) - 2))
        texts[i] = texts[i] + " " + " ".join(src[at: at + 3])
    return texts


def make_documents(workload: str, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    n = SIZES[workload]
    if workload == "hydro":
        ids = hydro_ids(rng, n)
    elif workload == "tiles":
        ids = tiles_ids(rng, n)
    else:
        ids = np.sort(rng.choice(2 * n, size=n, replace=False)).astype(np.int64)
    if workload == "corpus":
        texts = corpus_texts(rng, ids)
    else:
        texts = [""] * n
    source = np.char.add("src", rng.integers(0, N_SOURCES, n).astype(str))
    lang = LANGS[rng.integers(0, len(LANGS), n)]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def knn_points(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The knn inputs' integer coordinates, the same LCG arithmetic the
    driver queries use to place a doc."""
    h = (ids * 1103515245 + 12345) % 2147483648
    return h % 100000, (h // 7) % 100000


def run_oracles(workload: str, docs_path: str) -> dict:
    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import __spark_entry__ as E

    from check import checksum

    sqls = E.oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
    return {name: checksum(con.execute(sqls[name]).fetch_arrow_table())
            for name in ORACLES[workload]}


def generate(workload: str, seed: int, out: str) -> dict:
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    docs = make_documents(workload, seed)
    path = os.path.join(tmp, "documents.parquet")
    pq.write_table(docs, path)
    meta = {
        "workload": workload, "seed": seed, "rows": docs.num_rows,
        "bytes": os.path.getsize(path),
        "text_bytes": int(sum(len(t) for t in docs.column("text").to_pylist())),
        "oracle": run_oracles(workload, path),
    }
    empty = [k for k, v in meta["oracle"].items() if v["rows"] == 0]
    if empty:
        raise SystemExit(f"gen: oracle outputs empty for {empty} "
                         f"({workload}, seed {seed})")
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, out)
    return meta


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    meta = generate(a.workload, a.seed, a.out)
    print(json.dumps({k: v for k, v in meta.items() if k != "oracle"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
