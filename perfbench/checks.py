"""Output checks, independent of the program under test.

Each check takes the rows the program returned (plain dicts), the
generator's ``truth.json`` and, for the TSV boundary, the parsed input
and output files, and returns a list of error strings (empty when the
output is correct).  Nothing here imports the program or Spark.
"""

from __future__ import annotations

import glob
import hashlib
import os

_TOL = 1e-12


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def digest(rows: list[dict], keys: list[str]) -> str:
    """Order-insensitive digest of ``rows`` over ``keys``; floats are
    rounded to six significant digits so that summation-order noise in
    the last bits does not change it."""
    lines = sorted("\t".join(_fmt(r[k]) for k in keys) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _check_unit_interval(rows: list[dict], col: str, errs: list[str]) -> None:
    bad = [r for r in rows if r[col] is None or not (-_TOL <= r[col] <= 1 + _TOL)]
    if bad:
        errs.append(f"{len(bad)} rows with {col} outside [0,1], e.g. {bad[0]}")


def check_bh(rows: list[dict], p_col: str, adj_col: str) -> list[str]:
    """p and BH-adjusted p lie in [0,1], adj >= p, and adj is a
    non-decreasing function of p."""
    errs: list[str] = []
    _check_unit_interval(rows, p_col, errs)
    _check_unit_interval(rows, adj_col, errs)
    if errs:
        return errs
    if any(r[adj_col] < r[p_col] - _TOL for r in rows):
        errs.append(f"{adj_col} below {p_col}")
    ordered = sorted(rows, key=lambda r: (r[p_col], r[adj_col]))
    for a, b in zip(ordered, ordered[1:]):
        if b[adj_col] < a[adj_col] - _TOL:
            errs.append(f"{adj_col} not monotone in {p_col}: {a} then {b}")
            break
    return errs


def check_meta(rows: list[dict], truth: dict) -> list[str]:
    """Exactly the genes planted on more than one platform are combined,
    each with the planted ``n_platforms``; planted DE genes combine to
    a significant BH-adjusted p with the planted direction; p and its
    BH adjustment in range."""
    errs: list[str] = []
    want = {g: n for g, n in truth["n_platforms"].items() if n > 1}
    got = {r["gene_id"]: r["n_platforms"] for r in rows}
    if len(got) != len(rows):
        errs.append("duplicate genes in meta output")
    if got != want:
        wrong = sorted(set(got.items()) ^ set(want.items()))[:3]
        errs.append(f"n_platforms differs from the planted overlap, e.g. {wrong}")
    errs += check_bh(rows, "p_comb", "adj_p_comb")
    by_gene = {r["gene_id"]: r for r in rows}
    for gene, sign in truth["de_genes"].items():
        r = by_gene.get(gene)
        if r is None:
            continue  # already reported above
        if not (r["adj_p_comb"] < 0.05 and (r["avg_log2fc"] > 0) == (sign > 0)):
            errs.append(f"planted DE gene {gene} not recovered: {r}")
    return errs


def read_wide_tsv(path: str) -> dict:
    """Parse a wide gene x sample TSV (a file, or a directory of part
    files) into ``{(gene, sample): value}``; empty cells are absent."""
    files = sorted(glob.glob(os.path.join(path, "part-*"))) if os.path.isdir(path) else [path]
    cells: dict = {}
    for f in files:
        with open(f, encoding="utf-8") as fh:
            header = fh.readline().rstrip("\n").split("\t")
            for line in fh:
                parts = line.rstrip("\n").split("\t")
                for sample, v in zip(header[1:], parts[1:]):
                    if v != "":
                        cells[(parts[0], sample)] = float(v)
    return cells


def check_tsv_roundtrip(input_paths: list[str], output_path: str) -> list[str]:
    """The written wide TSV holds exactly the cells of the input TSVs."""
    want: dict = {}
    for p in input_paths:
        want.update(read_wide_tsv(p))
    got = read_wide_tsv(output_path)
    if got == want:
        return []
    diff = [k for k in set(want) | set(got) if want.get(k) != got.get(k)]
    return [f"{len(diff)} TSV cells differ after the round trip, e.g. {sorted(diff)[:3]}"]


def check_clusters(rows: list[dict], truth: dict) -> list[str]:
    """The dedup table holds exactly the planted clusters: every member
    maps to the cluster's minimum id with the cluster's size, and no
    unique document appears."""
    want = {}
    for c in truth["clusters"]:
        for d in c:
            want[d] = (min(c), len(c))
    got = {r["doc_id"]: (r["canonical_id"], r["cluster_size"]) for r in rows}
    if len(got) != len(rows):
        return ["duplicate doc ids in dedup table"]
    if got == want:
        return []
    diff = sorted(d for d in set(want) | set(got) if want.get(d) != got.get(d))
    return [f"{len(diff)} docs differ from the planted clusters, e.g. "
            f"{[(d, want.get(d), got.get(d)) for d in diff[:3]]}"]
