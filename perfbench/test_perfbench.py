"""Self-tests of the benchmark itself; no Spark needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _files(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def _truth(d: str) -> dict:
    with open(os.path.join(d, "truth.json"), encoding="utf-8") as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_byte_identical_for_a_seed(tmp_path, workload):
    a = gen.generate(workload, 7, str(tmp_path / "a"))
    b = gen.generate(workload, 7, str(tmp_path / "b"))
    c = gen.generate(workload, 8, str(tmp_path / "c"))
    assert a == b
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))
    assert a["input_rows"] == c["input_rows"]  # the input size does not depend on the seed


# ------------------------------------------------------------------ meta_tsv


def _bh(ps: list[float]) -> list[float]:
    order = sorted(range(len(ps)), key=lambda i: ps[i])
    adj, running = [0.0] * len(ps), 1.0
    for rank in range(len(ps), 0, -1):
        i = order[rank - 1]
        running = min(running, ps[i] * len(ps) / rank)
        adj[i] = running
    return adj


def _meta_rows(truth: dict) -> list[dict]:
    """A correct meta table for the planted truth."""
    genes = sorted(g for g, n in truth["n_platforms"].items() if n > 1)
    rows = []
    for i, g in enumerate(genes):
        sign = truth["de_genes"].get(g)
        p = 1e-12 * (i + 1) if sign else 0.05 + 0.9 * i / len(genes)
        rows.append({
            "gene_id": g, "n_platforms": truth["n_platforms"][g],
            "avg_log2fc": 0.5 * sign if sign else 0.01, "p_comb": p,
        })
    for r, adj in zip(rows, _bh([r["p_comb"] for r in rows])):
        r["adj_p_comb"] = adj
    return rows


@pytest.fixture(scope="module")
def meta_inputs(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("meta"))
    gen.generate("meta_tsv", 3, d)
    return d


def test_meta_check_accepts_a_correct_table(meta_inputs):
    truth = _truth(meta_inputs)
    assert checks.check_meta(_meta_rows(truth), truth) == []


def _corrupt_sign(rows, truth):
    de = next(r for r in rows if r["gene_id"] in truth["de_genes"])
    de["avg_log2fc"] = -de["avg_log2fc"]


def _corrupt_overlap(rows, truth):
    rows.pop()


def _corrupt_bh(rows, truth):
    top = max(rows, key=lambda r: r["p_comb"])
    top["adj_p_comb"] = top["p_comb"] / 2


def _corrupt_p_range(rows, truth):
    rows[0]["p_comb"] = 1.5


@pytest.mark.parametrize("corrupt", [_corrupt_sign, _corrupt_overlap, _corrupt_bh, _corrupt_p_range])
def test_meta_check_fails_a_corrupted_table(meta_inputs, corrupt):
    truth = _truth(meta_inputs)
    rows = _meta_rows(truth)
    corrupt(rows, truth)
    assert checks.check_meta(rows, truth)


def test_tsv_roundtrip_check(meta_inputs, tmp_path):
    inputs = sorted(os.path.join(meta_inputs, f) for f in os.listdir(meta_inputs) if f.endswith(".tsv"))
    out = tmp_path / "merged"
    out.mkdir()
    for i, p in enumerate(inputs):
        shutil.copy(p, out / f"part-{i:05d}.csv")
    assert checks.check_tsv_roundtrip(inputs, str(out)) == []
    part = out / "part-00000.csv"
    lines = part.read_text().split("\n")
    cells = lines[1].split("\t")
    cells[1] = f"{float(cells[1]) + 0.001:.3f}"
    lines[1] = "\t".join(cells)
    part.write_text("\n".join(lines))
    assert checks.check_tsv_roundtrip(inputs, str(out))


# -------------------------------------------------------------- corpus_dedup


def _cluster_rows(truth: dict) -> list[dict]:
    return [
        {"doc_id": d, "canonical_id": min(c), "cluster_size": len(c)}
        for c in truth["clusters"] for d in c
    ]


def test_cluster_check(tmp_path):
    gen.generate("corpus_dedup", 3, str(tmp_path))
    truth = _truth(str(tmp_path))
    rows = _cluster_rows(truth)
    assert checks.check_clusters(rows, truth) == []
    split = [dict(r) for r in rows]
    split[0]["canonical_id"] = split[0]["doc_id"] + 1  # a member split off its cluster
    assert checks.check_clusters(split, truth)
    extra = rows + [{"doc_id": 1, "canonical_id": 1, "cluster_size": 2}]  # a unique doc
    assert checks.check_clusters(extra, truth)


def test_digest_ignores_row_order_but_not_values():
    rows = [{"k": 1, "v": 0.5}, {"k": 2, "v": 0.25}]
    assert checks.digest(rows, ["k", "v"]) == checks.digest(rows[::-1], ["k", "v"])
    assert checks.digest(rows, ["k", "v"]) != checks.digest([rows[0], {"k": 2, "v": 0.3}], ["k", "v"])


# ------------------------------------------------------------------- metrics


def _benchmark() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_metric_names_are_well_formed_and_recorded():
    bench = _benchmark()
    e2e = run.end_to_end([1.0, 2.0, 3.0], 100, 5.0, 900.0)
    names = list(e2e) + [n for n, _, _ in spans.PER_LAYER]
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert len(set(names)) == len(names)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {k: v["unit"] for k, v in e2e.items()}
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == spans.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(gen.GENERATORS)


class _FakeContext:
    def setJobGroup(self, group, description):
        pass


def test_closure_counts_are_reported_with_their_spread():
    """connected_components' job count differs by one or two between
    traced iterations over identical input: its counts are medians plus
    a spread, never assumed to repeat."""
    tr = spans.Tracer(_FakeContext())
    jobs = []
    for rounds, n_jobs in ((4, 3), (5, 4), (4, 3)):
        tr.next_iteration()
        with tr.span("iteration"):
            with tr.span("llmdata.dedup.connected_components") as rec:
                pass
        tr.counters[-1]["llmdata.dedup.cc_rounds"] = rounds
        jobs += [{"group": f"s{rec['id']}:action", "site": ""}] * n_jobs
    out = spans.assemble(tr, jobs, [], job_s=1.0)
    assert out["llmdata.dedup.cc_rounds"] == 4
    assert out["llmdata.dedup.cc_rounds_spread"] == 1
    assert out["llmdata.dedup.connected_components.jobs"] == 3
    assert out["llmdata.dedup.connected_components.jobs_spread"] == 1


def test_pipeline_self_time_accounts_for_its_wall_time():
    tr = spans.Tracer(_FakeContext())
    tr.next_iteration()
    with tr.span("iteration"):
        with tr.span("pipelines.meta"):
            with tr.span("stats.ttest"):
                pass
            with tr.span("stats.stouffer"):
                pass
    out = spans.assemble(tr, [], [], job_s=1.0)
    children = out["stats.ttest_s"] + out["stats.stouffer_s"]
    assert out["pipelines.meta.self_s"] + children == pytest.approx(out["pipelines.meta_s"])
