"""Seeded input generator for the benchmark workloads.

Runs in one process with NumPy and pyarrow only (no Spark), so the
same ``seed`` always yields byte-identical files.  Each generator
writes the program's inputs (parquet / TSV) into ``out_dir`` and a
``truth.json`` beside them that only the output checker reads: the
planted differential genes, the platform membership of every gene and
the planted duplicate clusters.

Usage: ``python3 perfbench/gen.py <workload> <seed> <out_dir>``.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes.  An iteration's time is dominated by per-job overhead and
# query planning at these sizes more than by the data (on a 4-core host
# a meta_tsv iteration takes ~5 s warm, a corpus_dedup one ~5 s), so
# they are kept small enough that a whole run -- JVM start, cold
# iteration, warm-up and timed iterations -- stays near a minute.
SIZES = {
    "meta_tsv": {"genes": 1000, "platforms": 2, "samples_per_platform": 20},
    "corpus_dedup": {"docs": 200, "words_per_doc": 50},
}
SHARED_FRACTION = 0.8  # of the genes, on every platform; the rest on one


def _write_parquet(path: str, columns: dict) -> dict:
    table = pa.table(columns)
    pq.write_table(table, path, compression="snappy")
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _write_tsv(path: str, genes: list[str], samples: list[str], values: np.ndarray) -> dict:
    """Reference-style wide matrix: an unnamed rowname column, one
    column per sample, values printed with three decimals."""
    lines = ["\t" + "\t".join(samples)]
    for g, row in zip(genes, values):
        lines.append(g + "\t" + "\t".join(f"{v:.3f}" for v in row))
    with open(path, "w", encoding="ascii") as fh:
        fh.write("\n".join(lines) + "\n")
    return {"rows": values.size, "bytes": os.path.getsize(path)}


def gen_meta_tsv(seed: int, out_dir: str, genes: int, platforms: int, samples_per_platform: int) -> dict:
    """One wide TSV per platform over partly overlapping gene sets: a
    fixed share of the genes on every platform, the rest spread over
    single platforms, so the cell count does not depend on the seed.
    A per-platform offset stands in for the batch effect; the planted
    differential genes (all on every platform) shift the "T" samples
    by a large effect."""
    rng = np.random.default_rng([seed, 2])
    gene_ids = [f"G{i:05d}" for i in range(genes)]
    plat_names = [f"PL{p + 1}" for p in range(platforms)]
    order = rng.permutation(genes)
    n_shared = int(round(SHARED_FRACTION * genes))
    member = np.zeros((genes, platforms), dtype=bool)
    member[order[:n_shared]] = True
    for i, g in enumerate(order[n_shared:]):
        member[g, i % platforms] = True
    n_de = max(4, genes // 30)
    de_idx = np.sort(rng.choice(order[:n_shared], n_de, replace=False))
    de_sign = rng.choice([-1, 1], n_de)
    effect = np.zeros(genes)
    effect[de_idx] = 4.0 * de_sign
    base = rng.uniform(7.0, 12.0, genes)

    os.makedirs(out_dir, exist_ok=True)
    inputs, t_rows, cells = {}, [], 0
    for p, pname in enumerate(plat_names):
        samples = [f"{pname}_S{s:02d}" for s in range(samples_per_platform)]
        grp = np.array([s % 2 == 0 for s in range(samples_per_platform)])
        t_rows += [(sid, "T" if t else "N") for sid, t in zip(samples, grp)]
        rows = np.flatnonzero(member[:, p])
        vals = (
            base[rows, None]
            + 0.5 * p
            + np.where(grp[None, :], effect[rows, None], 0.0)
            + rng.normal(0.0, 0.5, (len(rows), samples_per_platform))
        )
        info = _write_tsv(
            os.path.join(out_dir, f"{pname}.tsv"), [gene_ids[g] for g in rows], samples, vals
        )
        inputs[pname] = info
        cells += info["rows"]
    inputs["targets"] = _write_parquet(
        os.path.join(out_dir, "targets.parquet"),
        {"sample_id": [t[0] for t in t_rows], "target": [t[1] for t in t_rows]},
    )
    truth = {
        "platforms": plat_names,
        "n_platforms": {gene_ids[g]: int(member[g].sum()) for g in range(genes)},
        "de_genes": {gene_ids[g]: int(s) for g, s in zip(de_idx, de_sign)},
    }
    return {"inputs": inputs, "input_rows": cells, "truth": truth}


def _mutate_one_char(text: str, rng: np.random.Generator) -> str:
    while True:
        i = int(rng.integers(0, len(text)))
        if text[i] != " ":
            break
    c = chr(ord("a") + (ord(text[i]) - ord("a") + 1 + int(rng.integers(0, 25))) % 26)
    return text[:i] + c + text[i + 1 :]


def gen_corpus_dedup(seed: int, out_dir: str, docs: int, words_per_doc: int) -> dict:
    """Documents of random words with planted clusters: exact copies
    (2-5 per cluster), near copies (a base text plus 1-3 variants that
    each differ by one character, character 5-shingle Jaccard ~0.98)
    and mixed clusters (a near copy that is itself copied exactly).
    Everything else is a unique document.  Cluster sizes are fixed; the
    seed picks the texts and the doc ids."""
    rng = np.random.default_rng([seed, 3])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, int(n))) for n in rng.integers(4, 10, 5000)]

    def fresh() -> str:
        return " ".join(vocab[i] for i in rng.integers(0, len(vocab), words_per_doc))

    texts: list[str] = []
    clusters: list[list[int]] = []
    for i in range(docs // 40):
        t = fresh()
        k = 2 + i % 4
        clusters.append(list(range(len(texts), len(texts) + k)))
        texts += [t] * k
    for i, kind in enumerate(["near"] * (docs // 40) + ["mixed"] * (docs // 80)):
        t = fresh()
        members = [t] + [_mutate_one_char(t, rng) for _ in range(1 + i % 3)]
        if kind == "mixed":
            members.append(members[-1])
        clusters.append(list(range(len(texts), len(texts) + len(members))))
        texts += members
    while len(texts) < docs:
        texts.append(fresh())
    # doc ids are a seeded permutation, so clusters are not contiguous
    ids = (rng.permutation(len(texts)) * 7 + 1000).astype(np.int64)
    os.makedirs(out_dir, exist_ok=True)
    inputs = {
        "docs": _write_parquet(
            os.path.join(out_dir, "docs.parquet"), {"doc_id": ids, "text": texts}
        )
    }
    truth = {"clusters": [sorted(int(ids[i]) for i in c) for c in clusters]}
    return {"inputs": inputs, "input_rows": len(texts), "truth": truth}


GENERATORS = {
    "meta_tsv": gen_meta_tsv,
    "corpus_dedup": gen_corpus_dedup,
}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's inputs and ``truth.json``; return the input
    summary (rows and bytes per input file, total input rows)."""
    made = GENERATORS[workload](seed, out_dir, **SIZES[workload])
    with open(os.path.join(out_dir, "truth.json"), "w", encoding="utf-8") as fh:
        json.dump(made["truth"], fh, sort_keys=True)
    return {"inputs": made["inputs"], "input_rows": made["input_rows"]}


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
