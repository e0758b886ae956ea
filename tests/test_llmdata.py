"""Unit tests for the training-data pipeline operators (llmdata/)."""

from __future__ import annotations

import hashlib
import warnings

import pytest
from pyspark.sql import functions as F

from transcriptomics_data_integration_spark.llmdata.dedup import (
    exact_dedup,
    lsh_candidates_from_columns,
    minhash_sig_columns,
    ngram_jaccard_pairs,
    shingles,
    simhash,
)
from transcriptomics_data_integration_spark.llmdata.multimodal import (
    attach_binary_payload,
    featurize_media,
    frame_sample,
)
from transcriptomics_data_integration_spark.llmdata.similarity import cosine_topk
from transcriptomics_data_integration_spark.llmdata.text import (
    doc_fingerprint,
    language_id,
    token_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(spark):
    df = _docs(spark, [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")])
    out = {r["canonical_id"]: r["n_copies"] for r in exact_dedup(df, "doc_id").collect()}
    assert out == {1: 3, 2: 1}


def test_token_stats_and_fingerprint(spark):
    df = _docs(spark, [(1, "the cat sat"), (2, "")])
    ts = {r["doc_id"]: r["n_tokens"] for r in token_stats(df).collect()}
    assert ts[1] == 3
    fp = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(df).collect()}
    # golden: rolling hash of "the cat sat"
    h = 0
    for ch in "the cat sat":
        h = (h * 31 + ord(ch)) % 1_000_000_007
    assert fp[1] == h
    assert fp[2] == 0


def test_language_id_markers(spark):
    df = _docs(
        spark,
        [
            (1, "the cat and the dog of a to"),
            (2, "le chat et la maison des les"),
            (3, "der hund und die katze das nicht"),
            (4, "zzz qqq www"),
        ],
    )
    out = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert out == {1: "en", 2: "fr", 3: "de", 4: "und"}


def test_ngram_jaccard_identical_docs(spark):
    df = _docs(spark, [(1, "abcdefghij"), (2, "abcdefghij"), (3, "zzzzzzzzzz")])
    out = ngram_jaccard_pairs(df, "doc_id", threshold=0.9).collect()
    assert len(out) == 1
    assert (out[0]["id_a"], out[0]["id_b"], out[0]["jaccard"]) == (1, 2, 1.0)


def test_minhash_identical_docs_share_all_bands(spark):
    df = _docs(spark, [(1, "abcdefghijklm"), (2, "abcdefghijklm"), (3, "nopqrstuvwxyz")])
    sigs = minhash_sig_columns(shingles(df, "doc_id"), "doc_id")
    # identical shingle sets -> identical signatures
    rows = {r["doc_id"]: r.asDict() for r in sigs.collect()}
    assert {k: v for k, v in rows[1].items() if k != "doc_id"} == {
        k: v for k, v in rows[2].items() if k != "doc_id"
    }
    cands = lsh_candidates_from_columns(sigs, "doc_id").collect()
    assert {(r["id_a"], r["id_b"]) for r in cands} == {(1, 2)}


def test_minhash_matches_python_md5(spark):
    # signature reproducible outside Spark: seed j is the 30-bit half
    # (hi for even j, lo for odd j) of the 60-bit word (j//2)%2 — hex
    # chars [15w, 15w+15) — of md5("<shingle>#<j//4>"): four
    # independent lanes per md5 call (r9 recipe)
    text = "abcdefg"
    df = _docs(spark, [(1, text)])
    (row,) = minhash_sig_columns(shingles(df, "doc_id"), "doc_id").collect()
    sigs = {j: row[f"m{j}"] for j in range(16)}
    grams = {text[i : i + 5] for i in range(len(text) - 4)}

    def lane(s, j):
        w = (j // 2) % 2
        word = int(
            hashlib.md5(f"{s}#{j // 4}".encode()).hexdigest()[15 * w : 15 * w + 15],
            16,
        )
        return word >> 30 if j % 2 == 0 else word & ((1 << 30) - 1)

    for seed in (0, 1, 2, 3, 4, 7, 15):
        assert sigs[seed] == min(lane(s, seed) for s in grams)


def test_simhash_equal_for_identical_token_multisets(spark):
    df = _docs(spark, [(1, "x y z"), (2, "z y x"), (3, "totally different words")])
    out = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id").collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_cosine_topk_orthogonal(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.where(F.col("vec_id") == 1)
    out = cosine_topk(emb, q, k=2).collect()
    assert [r["cand_id"] for r in out] == [2, 3]
    assert out[0]["cosine"] == pytest.approx(0.9 / (0.81 + 0.01) ** 0.5)


def test_multimodal_featurize_and_frames(spark):
    df = _docs(spark, [(1, "hello world"), (2, "xy")])
    media = attach_binary_payload(df, "doc_id")
    feats = {r["media_id"]: r for r in featurize_media(media).collect()}
    assert feats[1]["n_bytes"] == 11
    # opaque text payload: honest unknown -> passthrough type, NULL dims
    assert feats[1]["media_type"] == "application/octet-stream"
    assert feats[1]["width"] is None and feats[1]["height"] is None
    assert feats[1]["checksum"] == sum(b"hello world") % 2147483647
    frames = frame_sample(featurize_media(media), "media_id", n_frames=4).collect()
    assert len(frames) == 8
    offs = sorted(r["byte_offset"] for r in frames if r["media_id"] == 1)
    assert offs == [0, 2, 5, 8]


def _png_bytes(w, h):
    import struct, zlib

    ihdr = struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00"
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
    )


def _jpeg_bytes(w, h, sof=0xC0, extra_segments=2):
    import struct

    out = b"\xff\xd8"
    for i in range(extra_segments):  # APP0/COM segments the scan must skip
        payload = bytes([i]) * (5 + i)
        out += bytes([0xFF, 0xE0 + i]) + struct.pack(">H", 2 + len(payload)) + payload
    out += bytes([0xFF, sof]) + struct.pack(">H", 17) + b"\x08"
    out += struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
    return out


def test_decode_image_header_real_formats():
    """The pure-Python header parser recovers planted dimensions from
    real PNG/JPEG/GIF header bytes — including a progressive JPEG
    (SOF2) behind multiple APPn segments — and degrades honestly."""
    import struct

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_image_header,
    )

    assert decode_image_header(_png_bytes(640, 480)) == ("image/png", 640, 480)
    assert decode_image_header(_png_bytes(1, 100000)) == ("image/png", 1, 100000)
    assert decode_image_header(_jpeg_bytes(1024, 768)) == ("image/jpeg", 1024, 768)
    assert decode_image_header(_jpeg_bytes(33, 7, sof=0xC2, extra_segments=4)) == (
        "image/jpeg", 33, 7
    )
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert decode_image_header(gif) == ("image/gif", 320, 200)
    # JPEG that hits SOS before any SOF: recognized container, no dims
    no_sof = b"\xff\xd8\xff\xda\x00\x04\x00\x00"
    assert decode_image_header(no_sof) == ("image/jpeg", None, None)
    assert decode_image_header(b"plain text payload") is None
    assert decode_image_header(b"") is None
    # truncated PNG signature-only
    assert decode_image_header(b"\x89PNG\r\n\x1a\n\x00\x00") is None


def test_featurize_media_decodes_real_headers(spark):
    """featurize_media over a mixed real-format corpus extracts true
    dimensions distributed-side (mapInPandas)."""
    rows = [
        (1, bytearray(_png_bytes(12, 34))),
        (2, bytearray(_jpeg_bytes(56, 78))),
        (3, bytearray(b"not an image at all")),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary").select(
        "media_id",
        "payload",
        F.octet_length("payload").alias("n_bytes"),
        F.lit("application/octet-stream").alias("media_type"),
    )
    feats = {r["media_id"]: r for r in featurize_media(df).collect()}
    assert (feats[1]["media_type"], feats[1]["width"], feats[1]["height"]) == (
        "image/png", 12, 34
    )
    assert (feats[2]["media_type"], feats[2]["width"], feats[2]["height"]) == (
        "image/jpeg", 56, 78
    )
    assert feats[3]["media_type"] == "application/octet-stream"
    assert feats[3]["width"] is None


def test_ivf_topk_matches_bruteforce_top1(spark):
    """IVF with n_probe == n_cells degenerates to exact search — its
    top-1 must match brute force."""
    import random

    from transcriptomics_data_integration_spark.llmdata.similarity import ivf_topk

    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.where(F.col("vec_id") < 5)
    exact = {
        r["query_id"]: r["cand_id"]
        for r in cosine_topk(emb, q, k=1).collect()
    }
    approx = {
        r["query_id"]: r["cand_id"]
        for r in ivf_topk(emb, q, k=1, n_cells=4, n_probe=4).collect()
    }
    assert approx == exact


def test_cosine_neardup_finds_planted_pairs(spark):
    """A tiny-perturbation copy of each vector must surface as a
    near-dup pair (cosine ~1), random cross pairs must not."""
    import random

    from transcriptomics_data_integration_spark.llmdata.similarity import (
        cosine_neardup_pairs,
    )

    rnd = random.Random(11)
    base = []
    for i in range(40):
        v = [rnd.gauss(0, 1) for _ in range(16)]
        n = sum(x * x for x in v) ** 0.5
        base.append((i, [x / n for x in v]))
    planted = [(i + 1000, [x + 1e-4 for x in v]) for i, v in base]
    emb = spark.createDataFrame(base + planted, ["vec_id", "embedding"])
    out = cosine_neardup_pairs(
        emb, threshold=0.999, n_planes=8, n_bands=4, dim=16
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    # 2-bit bands -> every planted pair is a candidate; all must verify
    assert pairs == {(i, i + 1000) for i in range(40)}
    assert all(r["cosine"] > 0.999 for r in out)


def test_simhash_star_and_all_agree_on_null_text(spark):
    """Null text has no digest, so it is no one's exact duplicate: the
    star edge set pairs no null docs, and star and all give the same
    clusters when some texts are null."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        dedup_clusters,
        simhash_neardup_pairs,
    )

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    star = simhash_neardup_pairs(docs, "doc_id", expand="star")
    assert {tuple(r) for r in star.collect()} == {(0, 1, 0)}
    clusters = {
        mode: {
            (r["doc_id"], r["canonical_id"])
            for r in dedup_clusters(simhash_neardup_pairs(docs, "doc_id", expand=mode)).collect()
        }
        for mode in ("all", "star")
    }
    assert clusters["all"] == clusters["star"] == {(0, 0), (1, 0)}


def test_minhash_accuracy_estimator_calibration(spark):
    """The 64-hash MinHash estimate tracks exact Jaccard: unbiased
    within a few binomial sigmas on near-dup pairs, and the mean
    absolute error over all pairs stays under one sigma at J=0.5."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        minhash_accuracy,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "the quick brown fox jumps over the lazy dog tonight!"),
            (3, "a completely different document about spark engines"),
            (4, "a completely different document about spark planners"),
            (5, "unrelated text with its own vocabulary entirely here"),
        ],
        ["doc_id", "text"],
    )
    out = {(r["id_a"], r["id_b"]): r
           for r in minhash_accuracy(docs, "doc_id", n_hashes=64).collect()}
    near = out[(1, 2)]
    assert near["jaccard"] > 0.8
    # 3 sigma of Binomial(64, J)/64 at J~0.9 is ~0.11
    assert near["abs_err"] < 0.15, near
    pair34 = out[(3, 4)]
    assert 0.3 < pair34["jaccard"] < 0.95
    assert pair34["abs_err"] < 0.2, pair34
    # every reported pair carries consistent integer accounting
    for r in out.values():
        assert 0 <= r["n_match"] <= 64
        assert r["n_inter"] <= min(r["n_a"], r["n_b"])


def test_quality_model_learns_discriminating_scores(spark):
    """The fixed-IRLS quality classifier separates the weak labels:
    positive-label docs score higher on average than negative ones,
    betas are finite, and scores stay in (0, 1)."""
    import random

    from transcriptomics_data_integration_spark.llmdata.quality_model import (
        quality_model_score,
    )

    rnd = random.Random(3)
    vocab = ["alpha", "beta", "gamma", "the", "and", "of", "scan", "sort"]
    rows = []
    for i in range(200):
        n = rnd.randint(5, 60)
        words = [rnd.choice(vocab) for _ in range(n)]
        # longer docs likelier to carry the marker — learnable signal
        if rnd.random() < min(0.9, n / 50):
            words.insert(rnd.randrange(len(words)), "spark")
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = quality_model_score(docs).collect()
    assert len(out) == 200
    assert all(0.0 < r["score"] < 1.0 for r in out)
    assert all(
        r["b0"] == out[0]["b0"] and r["b1"] == out[0]["b1"] for r in out
    )
    pos = [r["score"] for r in out if r["label"] == 1]
    neg = [r["score"] for r in out if r["label"] == 0]
    assert pos and neg
    assert sum(pos) / len(pos) > sum(neg) / len(neg) + 0.05


def test_repetition_stats_flags_stuffing(spark):
    """Gopher repetition signals: keyword stuffing scores high on
    top_2gram_frac, wholesale repetition on dup_5gram_frac, diverse
    text low on both; short docs yield zero-gram rows, not errors."""
    from transcriptomics_data_integration_spark.llmdata.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "buy now buy now buy now buy now buy now"),
            (2, "one two three four five one two three four five"),
            (3, "the quick brown fox jumps over a lazy dog tonight"),
            (4, "tiny"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, "doc_id").collect()}
    # "buy now"/"now buy" dominate doc 1's 2-grams
    assert out[1]["top_2gram_frac"] > 0.5
    # doc 2 repeats its 5-gram sentence verbatim (2 of its 6 5-grams)
    assert out[2]["dup_5gram_frac"] > 0.3
    assert out[3]["top_2gram_frac"] < 0.2
    assert out[3]["dup_5gram_frac"] == 0.0
    assert out[4]["n2_chars"] == 0 and out[4]["top_2gram_frac"] == 0.0


def test_semdedup_drops_planted_twin_keeps_diverse(spark):
    """SemDeDup: each (vector, perturbed-twin) pair lands in one cell
    and exactly one member survives (the lower-centroid-cosine one);
    vectors without a near-dup are all kept."""
    import random

    from transcriptomics_data_integration_spark.llmdata.similarity import semdedup

    rnd = random.Random(7)
    base = []
    for i in range(30):
        v = [rnd.gauss(0, 1) for _ in range(16)]
        n = sum(x * x for x in v) ** 0.5
        base.append((i, [x / n for x in v]))
    planted = [(i + 1000, [x + 1e-4 for x in v]) for i, v in base]
    emb = spark.createDataFrame(base + planted, ["vec_id", "embedding"])
    out = {r["vec_id"]: r for r in semdedup(emb, n_cells=4, tau=0.999).collect()}
    assert len(out) == 60
    colocated = 0
    for i in range(30):
        a, b = out[i], out[i + 1000]
        if a["cell"] == b["cell"]:
            # co-located twins: exactly one survives, and it is the one
            # less similar to its centroid
            colocated += 1
            assert a["kept"] != b["kept"], (i, a, b)
            kept = a if a["kept"] else b
            drop = b if a["kept"] else a
            assert kept["cos_centroid"] <= drop["cos_centroid"]
        else:
            # a twin can straddle a cell boundary (near-equidistant to
            # two centers — the paper's k-means has the same recall
            # property); both members are then kept
            assert a["kept"] and b["kept"]
    # the boundary-straddling case must be the rare exception
    assert colocated >= 25, colocated
    # no near-dups at all -> everything kept
    solo = spark.createDataFrame(base, ["vec_id", "embedding"])
    kept_solo = semdedup(solo, n_cells=4, tau=0.999).collect()
    assert all(r["kept"] for r in kept_solo)
    # the Arrow/BLAS scale path applies the identical cell + keep rule:
    # kept flags match the JVM fold exactly away from the tau boundary
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        semdedup_arrow,
    )

    arrow = {r["vec_id"]: r for r in semdedup_arrow(emb, n_cells=4, tau=0.999).collect()}
    assert {v: r["kept"] for v, r in arrow.items()} == {
        v: r["kept"] for v, r in out.items()
    }
    assert {v: r["cell"] for v, r in arrow.items()} == {
        v: r["cell"] for v, r in out.items()
    }


def test_duplicate_chunk_stats_counts_cross_doc_repeats(spark):
    from transcriptomics_data_integration_spark.llmdata.text import (
        duplicate_chunk_stats,
    )

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),          # chunks: "a b c", "d e f"
            (2, "a b c x y z"),          # shares "a b c" with doc 1
            (3, "q r s"),                # unique chunk
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in duplicate_chunk_stats(df, chunk_words=3).collect()}
    assert out[1]["n_chunks"] == 2 and out[1]["n_dup_chunks"] == 1
    assert out[2]["n_chunks"] == 2 and out[2]["n_dup_chunks"] == 1
    assert out[3]["n_chunks"] == 1 and out[3]["n_dup_chunks"] == 0
    assert out[1]["dup_chunk_ratio"] == 0.5


def test_lsh_bucketed_topk_is_exact_within_bucket(spark):
    """Bucketed ANN must return exactly the brute-force ranking
    restricted to same-bucket candidates."""
    import random

    from transcriptomics_data_integration_spark.llmdata.similarity import (
        hyperplane_bits,
        lsh_bucketed_topk,
    )

    rnd = random.Random(5)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.where(F.col("vec_id") < 8)
    got = lsh_bucketed_topk(emb, q, k=3, n_planes=4, dim=16).collect()
    # recompute expected: same-bucket pairs ranked by exact cosine
    b = {r["vec_id"]: r["bucket"] for r in emb.select(
        "vec_id", hyperplane_bits("embedding", 4, 16).alias("bucket")).collect()}
    import math

    vecs = dict(rows)

    def cos(a_, b_):
        d = sum(x * y for x, y in zip(vecs[a_], vecs[b_]))
        na = math.sqrt(sum(x * x for x in vecs[a_]))
        nb = math.sqrt(sum(x * x for x in vecs[b_]))
        return d / (na * nb)

    for qid in range(8):
        cands = [c for c in vecs if c != qid and b[c] == b[qid]]
        expect = sorted(cands, key=lambda c: (-cos(qid, c), c))[:3]
        mine = [r["cand_id"] for r in sorted(
            (g for g in got if g["query_id"] == qid), key=lambda r: r["rank"])]
        assert mine == expect


def test_simhash_neardup_pigeonhole_complete(spark):
    """For max_hamming < n_bands, banding must find EVERY pair within
    the Hamming budget (pigeonhole) — compare against brute force."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        simhash,
        simhash_neardup_pairs,
    )

    texts = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact dup of 1
        (3, "alpha beta gamma delta epsilon eta"),    # near 1
        (4, "totally different words entirely here now"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(df, "doc_id", max_hamming=3).collect()
    }
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(df, "doc_id").collect()}
    expect = {}
    for a in sigs:
        for b in sigs:
            if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 3:
                expect[(a, b)] = bin(sigs[a] ^ sigs[b]).count("1")
    assert got == expect
    assert got[(1, 2)] == 0  # exact dup found at distance 0


def test_connected_components_chain_and_cliques(spark, monkeypatch):
    from transcriptomics_data_integration_spark.llmdata import dedup as dd
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        connected_components,
        dedup_clusters,
    )

    # small graphs take the driver arm; this test covers propagation
    monkeypatch.setattr(dd, "DRIVER_CLOSURE_MAX_EDGES", -1)

    # a 12-node chain (diameter >> 1: forces pointer jumping to earn its
    # keep within max_iter) plus a separate triangle and an isolated pair
    chain = [(i, i + 1) for i in range(100, 111)]
    tri = [(1, 2), (2, 3), (1, 3)]
    pair = [(50, 51)]
    edges = spark.createDataFrame(chain + tri + pair, ["id_a", "id_b"])

    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert all(cc[n] == 100 for n in range(100, 112))
    assert cc[1] == cc[2] == cc[3] == 1
    assert cc[50] == cc[51] == 50

    out = dedup_clusters(edges).collect()
    by_doc = {r["doc_id"]: r for r in out}
    assert by_doc[111]["canonical_id"] == 100
    assert by_doc[111]["cluster_size"] == 12
    assert by_doc[3]["cluster_size"] == 3
    # "keep one copy" contract: exactly one canonical per component
    canonicals = {r["canonical_id"] for r in out}
    assert canonicals == {100, 1, 50}


def test_quantization_roundtrip_error_bound(spark):
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        quantization_error,
        quantize_embeddings,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [127.0, -127.0, 63.5, 1.0]),
            (3, [0.0, 0.0, 0.0, 0.0]),  # zero vector: scale 0, zero codes
        ],
        "vec_id long, embedding array<float>",
    )
    q = {r["vec_id"]: r for r in quantize_embeddings(emb).collect()}
    assert q[1]["codes"] == [127, -64, 32, 0]  # scale = 1/127
    assert q[2]["codes"] == [127, -127, 64, 1]  # scale = 1.0
    assert q[3]["scale"] == 0.0 and q[3]["codes"] == [0, 0, 0, 0]

    errs = {r["vec_id"]: r for r in quantization_error(emb).collect()}
    for vid, r in errs.items():
        assert r["max_err"] <= r["scale"] / 2 + 1e-12, vid


def test_sampling_deterministic_and_exact(spark):
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        hash_sample,
        stratified_sample_exact,
    )

    docs = spark.createDataFrame(
        [(i, "en" if i % 3 else "fr") for i in range(300)], "doc_id long, lang string"
    )
    s1 = sorted(r["doc_id"] for r in hash_sample(docs, "doc_id", 0.25).collect())
    s2 = sorted(
        r["doc_id"]
        for r in hash_sample(docs.repartition(7), "doc_id", 0.25).collect()
    )
    assert s1 == s2  # membership survives re-partitioning
    assert 40 <= len(s1) <= 110  # ~25% of 300, hash-uniform

    strat = stratified_sample_exact(docs, "lang", "doc_id", 10).collect()
    by_lang = {}
    for r in strat:
        by_lang.setdefault(r["lang"], []).append(r["doc_id"])
    assert len(by_lang["en"]) == 10 and len(by_lang["fr"]) == 10
    again = stratified_sample_exact(docs, "lang", "doc_id", 10).collect()
    assert sorted(map(tuple, strat)) == sorted(map(tuple, again))


def test_pack_sequences_partitions_token_stream(spark):
    from transcriptomics_data_integration_spark.llmdata.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(1, 100), (2, 950), (3, 2500), (4, 1), (5, 0)],  # doc 3 spans seqs; doc 5 dropped
        "doc_id long, n_toks long",
    )
    rows = pack_sequences(docs, "doc_id", "n_toks", 1024).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 5 not in by_doc
    # stream: d1 [0,100) d2 [100,1050) d3 [1050,3550) d4 [3550,3551)
    assert [(r["seq_id"], r["seq_offset"], r["n_tokens"]) for r in by_doc[2]] == [
        (0, 100, 924), (1, 0, 26)
    ]
    assert len(by_doc[3]) == 3  # spans seqs 1,2,3
    # conservation: every token lands in exactly one (doc, seq) slot
    assert sum(r["n_tokens"] for r in rows) == 100 + 950 + 2500 + 1
    # within each sequence, slots tile [0, 1024) without overlap
    seqs = {}
    for r in rows:
        seqs.setdefault(r["seq_id"], []).append((r["seq_offset"], r["n_tokens"]))
    for sid, slots in seqs.items():
        slots.sort()
        pos = slots[0][0]
        for off, n in slots:
            assert off == pos
            pos = off + n


def test_contamination_flags_overlapping_docs(spark):
    from transcriptomics_data_integration_spark.llmdata.text import contamination_check

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "entirely unrelated content with zero overlap at all?!"),
            (3, "quick brown fox"),  # partial overlap with eval doc 100
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox ran home")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in contamination_check(train, eval_docs).collect()}
    assert 2 not in got  # clean doc not emitted
    assert got[1]["n_shared"] > got[3]["n_shared"] > 0
    assert got[1]["n_eval_docs"] == 1


def test_language_id_ngram_profiles(spark):
    from transcriptomics_data_integration_spark.llmdata.text import language_id_ngram

    docs = spark.createDataFrame(
        [
            (1, "The king and the queen are singing of the nation"),
            (2, "les enfants de la ville sont dans les rues anciennes"),
            (3, "der Hund und die Katze schlafen nicht in der Nacht"),
            (4, "zzzz qqqq xxxx"),  # no profile trigrams at all
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in language_id_ngram(docs).collect()}
    assert got[1]["lang_pred"] == "en"
    assert got[2]["lang_pred"] == "fr"
    assert got[3]["lang_pred"] == "de"
    assert got[4]["lang_pred"] == "und" and got[4]["score"] == 0


def test_resize_media_composes_with_featurize(spark):
    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        attach_binary_payload,
        featurize_media,
        frame_sample,
        resize_media,
    )

    docs = spark.createDataFrame(
        [(1, "abc"), (2, "x" * 5000)], "doc_id long, text string"
    )
    media = attach_binary_payload(docs, "doc_id")
    rs = resize_media(media, 224, 224)
    rows = {r["media_id"]: r for r in rs.collect()}
    budget = (224 * 224) // 256
    assert rows[1]["n_bytes"] == budget == len(rows[1]["payload"])
    assert rows[2]["n_bytes"] == budget
    assert (rows[1]["width"], rows[1]["height"]) == (224, 224)
    # downstream ops compose on the resized payloads
    feat = {r["media_id"]: r for r in featurize_media(rs).collect()}
    assert feat[1]["n_bytes"] == budget
    frames = frame_sample(rs, "media_id", n_frames=4).collect()
    assert len(frames) == 8


def test_vocab_size_sketch_within_rsd(spark):
    import transcriptomics_data_integration_spark.suite as suite

    rows = suite.QUERIES["vocab_size_sketch"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert abs(r["vocab_hll"] - r["vocab_exact"]) / r["vocab_exact"] < 0.05, tuple(r)


def test_mixture_sample_rebalances_sources(spark):
    from transcriptomics_data_integration_spark.llmdata.sampling import mixture_sample

    docs = spark.createDataFrame(
        [(i, "web" if i < 900 else "code") for i in range(1000)],
        "doc_id long, source string",
    )
    # targets: half web, half code -> web downsampled (~500/900), code kept fully
    out = mixture_sample(docs, "source", "doc_id", {"web": 0.5, "code": 0.5})
    by_src = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_src["code"] == 100            # rate 5.0 -> clamped to 1.0
    assert 450 <= by_src["web"] <= 560      # rate 500/900, hash-uniform
    # unlisted source -> dropped entirely
    out2 = mixture_sample(docs, "source", "doc_id", {"code": 1.0})
    assert out2.where(F.col("source") == "web").count() == 0


def test_pack_sequences_property_random_corpora(spark):
    """Property: for ANY doc-length multiset and seq_len, packing
    conserves every token exactly once, tiles each sequence gap-free
    from offset 0, and never overflows seq_len."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from transcriptomics_data_integration_spark.llmdata.sampling import pack_sequences

    @given(
        st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=30),
        st.integers(min_value=16, max_value=257),
    )
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def check(lengths, seq_len):
        docs = spark.createDataFrame(
            [(i, n) for i, n in enumerate(lengths)], "doc_id long, n long"
        )
        rows = pack_sequences(docs, "doc_id", "n", seq_len).collect()
        assert sum(r["n_tokens"] for r in rows) == sum(lengths)
        seqs = {}
        for r in rows:
            assert 0 < r["n_tokens"] <= seq_len
            assert 0 <= r["seq_offset"] < seq_len
            seqs.setdefault(r["seq_id"], []).append((r["seq_offset"], r["n_tokens"]))
        total = sum(lengths)
        for sid, slots in seqs.items():
            slots.sort()
            pos = 0
            for off, n in slots:
                assert off == pos, (sid, slots)
                pos = off + n
            # every sequence except the last must be completely full
            if sid < (total - 1) // seq_len:
                assert pos == seq_len, (sid, pos)

    check()


def test_dedup_paragraphs_roundtrip_property(spark):
    """Property: for ANY corpus (random word paragraphs, separators
    drawn from a set including regex metacharacters) a doc whose
    normalized paragraphs are all corpus-unique round-trips EXACTLY;
    in general each doc keeps a subset of its paragraphs in order and
    n_kept <= n_paras."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from transcriptomics_data_integration_spark.llmdata.dedup import (
        dedup_paragraphs,
    )

    words = st.text(alphabet="abcxyz", min_size=1, max_size=6)
    para = st.lists(words, min_size=1, max_size=4).map(" ".join)

    @given(
        st.lists(st.lists(para, min_size=1, max_size=4), min_size=1, max_size=5),
        st.sampled_from(["\n\n", " | ", ". ", "##"]),
    )
    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    def check(doc_paras, sep):
        rows = [(i, sep.join(ps)) for i, ps in enumerate(doc_paras)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in dedup_paragraphs(docs, "doc_id", sep=sep).collect()}
        # first-occurrence map over the normalized corpus
        seen: dict[str, tuple[int, int]] = {}
        for i, ps in enumerate(doc_paras):
            for pos, p in enumerate(ps):
                seen.setdefault(p.strip().lower(), (i, pos))
        for i, ps in enumerate(doc_paras):
            r = out[i]
            assert r["n_paras"] == len(ps)
            expected = [
                p for pos, p in enumerate(ps)
                if len(p.strip()) < 1 or seen[p.strip().lower()] == (i, pos)
            ]
            assert r["text_deduped"] == sep.join(expected), (sep, ps, r)
            assert r["n_kept"] == len(expected)

    check()


def test_semdedup_preferred_member_always_kept_property(spark):
    """Property: for ANY random embedding corpus, the (cos_centroid,
    id)-minimal member of every cell survives (it has no
    keep-preferred peer), and kept is monotone — dropping only ever
    removes rows with a surviving preferred witness in-cell."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from transcriptomics_data_integration_spark.llmdata.similarity import semdedup

    @given(
        st.lists(
            st.lists(
                st.floats(min_value=-1, max_value=1, allow_nan=False),
                min_size=8, max_size=8,
            ),
            min_size=3, max_size=25,
        ),
        st.floats(min_value=0.5, max_value=0.999),
    )
    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    def check(vecs, tau):
        emb = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
        )
        out = semdedup(emb, n_cells=2, tau=tau).collect()
        assert len(out) == len(vecs)
        by_cell: dict[int, list] = {}
        for r in out:
            by_cell.setdefault(r["cell"], []).append(r)
        for cell, rows in by_cell.items():
            best = min(rows, key=lambda r: (r["cos_centroid"], r["vec_id"]))
            assert best["kept"], (cell, rows)

    check()


def test_scrub_pii_categories_and_order(spark):
    from transcriptomics_data_integration_spark.llmdata.text import scrub_pii

    rows = [
        (1, "mail a.b+c@x-y.org and d@e.io twice"),
        (2, "ip 192.168.0.1 and 10.0.0.255 end"),
        (3, "ssn 123-45-6789 but not 1234-56-789"),
        (4, "call +1 555-123-4567 now"),
        (5, "clean text with no pii at all"),
        (6, "combo u@v.org 1.2.3.4 999-88-7777 +44 20-7946-0958"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    assert out[1]["n_email"] == 2 and "<EMAIL>" in out[1]["text_scrubbed"]
    assert "@" not in out[1]["text_scrubbed"].replace("<EMAIL>", "")
    assert out[2]["n_ipv4"] == 2
    assert out[3]["n_ssn"] == 1  # 4-3-3 digit shape must NOT match
    assert out[4]["n_phone"] == 1
    assert all(out[5][f"n_{c}"] == 0 for c in ("email", "ssn", "ipv4", "phone"))
    assert out[5]["text_scrubbed"] == out[5]["text"]
    r6 = out[6]
    assert (r6["n_email"], r6["n_ipv4"], r6["n_ssn"], r6["n_phone"]) == (1, 1, 1, 1)
    for tok in ("<EMAIL>", "<IP>", "<SSN>", "<PHONE>"):
        assert tok in r6["text_scrubbed"]


def test_pq_roundtrip_and_recall(spark):
    """Product quantization: deterministic codebooks, sane
    reconstruction, and ADC top-k recall against exact euclidean on
    clustered vectors."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.similarity import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    rng = np.random.RandomState(0)
    centers = rng.randn(6, 16) * 5
    rows = []
    for i in range(240):
        v = centers[i % 6] + rng.randn(16) * 0.3
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    books, dims = pq_train(df, m=8, k=16, seed=1)
    assert books.shape == (8, 16, 2) and dims == [2] * 8
    books2, _ = pq_train(df, m=8, k=16, seed=1)
    assert np.allclose(books, books2)  # deterministic

    codes = pq_encode(df, books)
    got = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert len(got) == 240 and all(len(c) == 8 for c in got.values())
    assert all(0 <= ci < 16 for c in got.values() for ci in c)

    # reconstruction error far below raw vector energy
    X = {i: np.array(v) for i, v in rows}
    errs, mags = [], []
    for i, c in got.items():
        rec = np.concatenate([books[s][c[s]] for s in range(8)])
        errs.append(((X[i] - rec) ** 2).sum())
        mags.append((X[i] ** 2).sum())
    assert np.mean(errs) < 0.2 * np.mean(mags)

    # ADC top-k: every hit must come from the query's own cluster
    # (the guarantee PQ gives at this granularity — within-cluster
    # ordering degrades with quantization ties), plus a recall floor
    queries = df.where(F.col("vec_id") % 60 == 0)  # 4 queries
    topk = pq_topk(codes, queries, books, k=5)
    by_q = {}
    for r in topk.collect():
        by_q.setdefault(r["query_id"], []).append(r["cand_id"])
    assert set(by_q) == {0, 60, 120, 180}
    hits = total = 0
    for qid, cands in by_q.items():
        assert len(cands) == 5
        assert all(c % 6 == qid % 6 for c in cands)  # same cluster
        d = {i: ((X[qid] - X[i]) ** 2).sum() for i in X if i != qid}
        exact5 = set(sorted(d, key=d.get)[:5])
        hits += len(exact5 & set(cands))
        total += 5
    assert hits / total >= 0.2


def test_pq_train_sample_is_layout_independent(spark):
    """pq_train's training sample is ordered before the cap, so the
    codebooks are a pure function of the data — identical across
    partitioning layouts even when the corpus is smaller than
    sample_cap (the regime where the old .limit() took an arbitrary
    partitioning-dependent subset)."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.similarity import pq_train

    rng = np.random.RandomState(13)
    rows = [
        (i, [float(x) for x in rng.randn(16)]) for i in range(300)
    ]
    df1 = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(1)
    df2 = (
        spark.createDataFrame(list(reversed(rows)), ["vec_id", "embedding"])
        .repartition(13, "vec_id")
    )
    # cap BELOW the corpus size so the cap path actually engages
    b1, _ = pq_train(df1, m=4, k=8, sample_cap=100, seed=1)
    b2, _ = pq_train(df2, m=4, k=8, sample_cap=100, seed=1)
    assert np.array_equal(b1, b2)


def test_ivf_fixed_topk_matches_bruteforce_on_probed_cells(spark):
    """ivf_fixed_topk returns exactly the brute-force cosine top-k
    restricted to the probed cells (local numpy replay of codebook,
    assignment, probes)."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.similarity import (
        ivf_fixed_topk,
    )

    rng = np.random.default_rng(9)
    N, D, CELLS, PROBE, K = 60, 8, 4, 2, 3
    V = rng.normal(0, 1, (N, D)).astype("float32")
    df = spark.createDataFrame(
        [(i, V[i].tolist()) for i in range(N)], "vec_id long, embedding array<float>"
    )
    qs = df.where("vec_id % 10 = 0")
    got = {}
    for r in ivf_fixed_topk(df, qs, k=K, n_cells=CELLS, n_probe=PROBE).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["cand_id"]))

    # local replay
    h = [(i * 2654435761) % 4294967296 for i in range(N)]
    order = sorted(range(N), key=lambda i: (h[i], i))[:CELLS]
    C = V[order].astype(float)
    Vd = V.astype(float)
    d2 = ((Vd[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)  # ties -> smaller cell, argmin matches
    norms = np.sqrt((Vd * Vd).sum(axis=1))
    for qi in range(0, N, 10):
        probe_cells = np.argsort(d2[qi], kind="stable")[:PROBE]
        cands = [c for c in range(N) if assign[c] in probe_cells and c != qi]
        cos = {
            c: float(Vd[qi] @ Vd[c] / (norms[qi] * norms[c])) for c in cands
        }
        want = sorted(cands, key=lambda c: (-cos[c], c))[:K]
        assert [c for _, c in sorted(got[qi])] == want


def test_pq_fixed_codes_match_arrow_encode(spark):
    """The relational PQ encode (pq_fixed's hash-gated path) and the
    Arrow pq_encode kernel produce IDENTICAL codes when given the same
    codebook — cross-validating the production Arrow path against the
    oracle-checked algebra."""
    import numpy as np

    from pyspark.sql import functions as F

    from transcriptomics_data_integration_spark.llmdata.similarity import (
        _pq_fixed_centers,
        _pq_fixed_codes,
        pq_encode,
    )

    M, NCENT = 8, 16
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("vec"))
    centers = _pq_fixed_centers(base, M, NCENT)
    rel = {
        r["cand_id"]: list(r["codes"])
        for r in _pq_fixed_codes(base, centers, M).collect()
    }

    # same codebook as a [m, k, dsub] ndarray for the Arrow kernel
    crows = centers.collect()
    dsub = len(crows[0]["center"])
    books = np.zeros((M, NCENT, dsub))
    for r in crows:
        books[r["s"], r["c"]] = r["center"]
    arrow = {
        r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()
    }
    assert rel == arrow


def test_doc_logprob_ranks_gibberish_below_normal_text(spark):
    from transcriptomics_data_integration_spark.llmdata.text import doc_logprob

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and the cat"),
        (2, "the dog and the cat and the fox run over the field"),
        (3, "zxqv jkwpf qqxzv wvvtkj zzpqx mmvnx"),  # gibberish: rare tokens
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in doc_logprob(df, "doc_id").collect()}
    assert got[3]["mean_logprob"] < got[1]["mean_logprob"]
    assert got[3]["mean_logprob"] < got[2]["mean_logprob"]
    assert got[1]["n_tokens"] == 12


def test_bpe_train_fixed_matches_reference_and_encode_roundtrips(spark):
    """bpe_train_fixed == a local classic BPE trainer (same
    pre-tokenization, tie-break, greedy merge); bpe_encode applies the
    learned merges and its token concatenation reconstructs the words."""
    import re as _re
    from collections import Counter

    from transcriptomics_data_integration_spark.llmdata.bpe import (
        bpe_encode,
        bpe_train_fixed,
    )

    texts = [
        "the theme of the thesis is the theory",
        "then there is another theorem about the theory",
        "banana bandana and the band played on and on",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
    )
    N = 6
    got = {
        r["merge_rank"]: (r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_train_fixed(docs, "text", n_merges=N).collect()
    }

    # local reference
    words = Counter()
    for t in texts:
        for w in _re.split(r"[^a-z0-9]+", t.lower()):
            if w:
                words[w] += 1
    vocab = {tuple(w): c for w, c in words.items()}
    want = {}
    for rank in range(1, N + 1):
        pc = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        (a, b), c = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want[rank] = (a, b, c)
        new = {}
        for syms, cnt in vocab.items():
            out = [syms[0]]
            for x in syms[1:]:
                if out[-1] == a and x == b:
                    out[-1] = a + b
                else:
                    out.append(x)
            key = tuple(out)
            new[key] = new.get(key, 0) + cnt
        vocab = new
    assert got == want

    merges = [(got[r][0], got[r][1]) for r in sorted(got)]
    enc = bpe_encode(docs, merges, "text")
    for r in enc.collect():
        joined = "".join(r["bpe_tokens"])
        plain = "".join(w for w in _re.split(r"[^a-z0-9]+", texts[r["doc_id"]].lower()) if w)
        assert joined == plain  # merging never loses characters


def test_edit_distance_pairs_complete_vs_bruteforce(spark):
    """SymSpell banding is candidate-complete: the banded operator
    returns exactly the brute-force levenshtein pairs at max_dist 1
    and 2 on a vocab with planted typos."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        edit_distance_pairs,
    )

    words = [
        "banana", "bananna", "bnana",        # 1-del / 1-ins neighbors
        "theory", "theorie", "tehory",       # subst/transposition-ish
        "spark", "sparks", "shark", "stark",
        "tokenizer", "tokenzier", "alignment",
        "x", "xy",                            # short edge cases
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")

    def brute(k):
        import itertools

        def lev(a, b):
            dp = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, dp[0] = dp[0], i
                for j, cb in enumerate(b, 1):
                    prev, dp[j] = dp[j], min(
                        dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                    )
            return dp[len(b)]

        return sorted(
            (a, b, lev(a, b))
            for a, b in itertools.combinations(sorted(words), 2)
            if 1 <= lev(a, b) <= k
        )

    for k in (1, 2):
        got = sorted(
            (r["id_a"], r["id_b"], r["dist"])
            for r in edit_distance_pairs(df, "w", "w", max_dist=k).collect()
        )
        assert got == brute(k), f"max_dist={k}"


def test_canonical_url_normalizations(spark):
    from pyspark.sql import functions as F

    from transcriptomics_data_integration_spark.llmdata.urls import (
        canonical_url,
        url_domain,
    )

    cases = {
        "HTTPS://WWW.Example.COM:443/Path/page/?utm_source=x&id=7#s":
            "https://example.com/Path/page?id=7",
        "http://example.com:80/": "http://example.com",
        "https://sub.Example.org/a/b?x=1&utm_campaign=z&y=2":
            "https://sub.example.org/a/b?x=1&y=2",
        "https://e.com/?utm_a=1&utm_b=2&utm_c=3&q=1": "https://e.com?q=1",
        "http://www.foo.net?utm_medium=a": "http://foo.net",
        "https://ok.com/keep:8080/path": "https://ok.com/keep:8080/path",
    }
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got = {
        r["u"]: r["c"]
        for r in df.select("u", canonical_url(F.col("u")).alias("c")).collect()
    }
    assert got == cases
    doms = {
        r["c"]: r["d"]
        for r in df.select(canonical_url(F.col("u")).alias("c"))
        .withColumn("d", url_domain(F.col("c")))
        .collect()
    }
    assert doms["https://example.com/Path/page?id=7"] == "example.com"
    assert doms["https://sub.example.org/a/b?x=1&y=2"] == "sub.example.org"


def test_dedup_lines_keeps_first_occurrence_in_order(spark):
    from transcriptomics_data_integration_spark.llmdata.text import dedup_lines

    df = spark.createDataFrame(
        [
            (1, "banner\nA\nbanner\nB\nA\nbanner"),
            (2, "single"),
            (3, "x\nx\nx"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in dedup_lines(df, "doc_id").collect()}
    assert got[1]["text_deduped"] == "banner\nA\nB"
    assert (got[1]["n_lines"], got[1]["n_unique_lines"]) == (6, 3)
    assert got[2]["text_deduped"] == "single"
    assert got[3]["text_deduped"] == "x" and got[3]["n_unique_lines"] == 1


def test_winnow_fingerprints_matches_python_reference(spark):
    """Pin winnow_fingerprints against a pure-Python robust-winnowing
    reference (Schleimer et al. 2003, Fig. 5 semantics: rightmost
    minimum per window) using the same 60-bit md5 k-gram hash."""
    import hashlib as _hl

    from transcriptomics_data_integration_spark.llmdata.text import (
        winnow_fingerprints,
    )

    def _h(s: str) -> int:
        return int(_hl.md5(s.encode()).hexdigest()[:15], 16)

    def _ref(text: str, k: int, w: int) -> dict[int, int]:
        if len(text) < k:
            return {}
        hs = [_h(text[i : i + k]) for i in range(len(text) - k + 1)]
        out: dict[int, int] = {}
        for p in range(max(len(hs) - w + 1, 1)):
            win = hs[p : p + w]
            m = win[0]
            for x in win[1:]:  # rightmost min: <= replaces
                if x <= m:
                    m = x
            out[m] = out.get(m, 0) + 1
        return out

    texts = [
        (1, "adorunrunrunadorunrun"),  # the paper's running example text
        (2, "do run run run do run run"),
        (3, "abcde"),      # exactly k chars -> one k-gram, one window
        (4, "abcd"),       # shorter than k -> no fingerprints
        (5, "abcdefg"),    # k <= len < k+w-1 -> fewer hashes than window
    ]
    df = spark.createDataFrame(texts + [(6, None)], "doc_id int, text string")
    got: dict[int, dict[int, int]] = {}
    for r in winnow_fingerprints(df, "doc_id", k=5, window=4).collect():
        got.setdefault(r["doc_id"], {})[r["fingerprint"]] = r["n_windows"]
    for doc_id, text in texts:
        assert got.get(doc_id, {}) == _ref(text, 5, 4), doc_id
    assert 6 not in got  # NULL text yields no rows (not a NULL fingerprint)

    # winnowing guarantee: any shared substring of length >= k+w-1 (=8)
    # produces at least one shared fingerprint
    pair = spark.createDataFrame(
        [(10, "xxxx commonsubstring yyyy"), (11, "zz commonsubstring qq")],
        "doc_id int, text string",
    )
    fp = {}
    for r in winnow_fingerprints(pair, "doc_id", k=5, window=4).collect():
        fp.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fp[10] & fp[11], "shared >=8-char substring must share a fingerprint"


def test_keep_best_per_cluster_survivors(spark):
    """Longest member survives per cluster (min-id tie-break);
    singletons survive as themselves with cluster_size 1."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        keep_best_per_cluster,
    )

    docs = spark.createDataFrame(
        [
            (1, "short"),
            (2, "the longest member of cluster one"),
            (3, "mid length"),
            (4, "alone and unclustered"),
            (5, "tie text"),
            (6, "tie abcd"),  # same length as 5 -> min id 5 wins
        ],
        "doc_id long, text string",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)],
        "doc_id long, canonical_id long",
    )
    got = {
        r["cluster_key"]: r
        for r in keep_best_per_cluster(docs, clusters, "doc_id").collect()
    }
    assert set(got) == {1, 4, 5}
    assert got[1]["kept_id"] == 2 and got[1]["cluster_size"] == 3
    assert got[4]["kept_id"] == 4 and got[4]["cluster_size"] == 1
    assert got[5]["kept_id"] == 5 and got[5]["cluster_size"] == 2
    assert got[1]["kept_score"] == len("the longest member of cluster one")

    # id_col other than "doc_id" works against a dedup_clusters-style
    # table (whose id column is always literally "doc_id")
    renamed = docs.withColumnRenamed("doc_id", "id")
    got2 = {
        r["cluster_key"]: r["kept_id"]
        for r in keep_best_per_cluster(renamed, clusters, "id").collect()
    }
    assert got2 == {1: 2, 4: 4, 5: 5}


def test_text_operators_survive_degenerate_docs(spark):
    """ANSI-mode safety battery: empty, whitespace-only, single-char,
    and NULL text must not raise (divide-by-zero in ratio columns,
    sequence(1,0) descents, NULL propagation) in any of the per-doc
    text operators."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        dedup_lines,
        doc_fingerprint,
        language_id,
        language_id_ngram,
        normalize_text,
        quality_filter,
        repetition_stats,
        scrub_pii,
        text_quality,
        token_stats,
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "x"), (4, None), (5, "\n\n"), (6, "ok doc")],
        "doc_id long, text string",
    )
    for fn in (
        token_stats,
        text_quality,
        language_id,
        language_id_ngram,
        doc_fingerprint,
        normalize_text,
        quality_filter,
        scrub_pii,
    ):
        rows = fn(df).collect()
        assert len(rows) == 6, fn.__name__
    assert len(dedup_lines(df, "doc_id").collect()) == 6
    assert len(repetition_stats(df, "doc_id").collect()) == 6
    fps = winnow_fingerprints(df, "doc_id").collect()
    assert {r["doc_id"] for r in fps} == {6}


def test_similarity_operators_survive_zero_vectors(spark):
    """ANSI-mode safety battery for the embedding family: a zero-norm
    vector must be excluded (no cosine exists for it), not crash the
    job with DIVIDE_BY_ZERO."""
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        cosine_neardup_pairs,
        lsh_bucketed_topk,
        quantize_embeddings,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector
            (3, [0.9, 0.1, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = cosine_topk(emb, emb, k=2).collect()
    ids = {r["query_id"] for r in out}
    assert 2 not in ids  # zero vector is not a query...
    assert all(r["cand_id"] != 2 for r in out)  # ...nor a candidate
    assert {r["cand_id"] for r in out if r["query_id"] == 1} == {3}

    lsh = lsh_bucketed_topk(emb, emb, k=2, n_planes=2, dim=4).collect()
    assert all(r["cand_id"] != 2 and r["query_id"] != 2 for r in lsh)

    nd = cosine_neardup_pairs(emb, threshold=0.5, n_planes=2, n_bands=1, dim=4)
    assert all(2 not in (r["id_a"], r["id_b"]) for r in nd.collect())

    assert len(quantize_embeddings(emb).collect()) == 3


def test_winnow_containment_detects_subdocument_copy(spark):
    """A document fully contained in a larger one yields n_shared equal
    to (nearly all of) the small doc's eligible fingerprints —
    containment evidence the symmetric overlap score understates."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        winnow_fingerprints,
    )

    quoted = "the quick brown fox jumps over the lazy dog near the river bank"
    big = "PREFIX material here. " + quoted + " SUFFIX trailing content."
    df = spark.createDataFrame(
        [(1, quoted), (2, big), (3, "completely unrelated words entirely")],
        "doc_id long, text string",
    )
    fp = {}
    for r in winnow_fingerprints(df, "doc_id", k=5, window=4).collect():
        fp.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    shared_12 = fp[1] & fp[2]
    # winnowing guarantee: every shared substring >= 8 chars shares a
    # fingerprint; the full quoted sentence is shared, so doc 1's set
    # is almost entirely contained in doc 2's
    assert len(shared_12) >= 0.8 * len(fp[1])
    assert not (fp[1] & fp[3])


def test_domain_dup_rate_flags_cross_source_duplicates(spark, tmp_path):
    """Exact duplicates count for EVERY source involved; unique docs
    do not."""
    import os

    from transcriptomics_data_integration_spark.suite_llm import q_domain_dup_rate

    d = tmp_path / "sf"
    d.mkdir()
    spark.createDataFrame(
        [
            (1, "srcA", "same text"),
            (2, "srcB", "same text"),      # cross-source dup
            (3, "srcA", "unique one"),
            (4, "srcB", "unique two"),
            (5, "srcB", "another dup"),
            (6, "srcB", "another dup"),    # within-source dup
        ],
        "doc_id long, source string, text string",
    ).write.parquet(os.path.join(str(d), "documents.parquet"))
    got = {
        r["source"]: (r["n_docs"], r["n_dup_docs"])
        for r in q_domain_dup_rate(spark, str(d)).collect()
    }
    assert got == {"srcA": (2, 1), "srcB": (4, 3)}


def test_minhash_star_mode_connectivity_equivalent(spark):
    """expand='star' must produce the SAME connected components (hence
    the same dedup decisions) as the quadratic expand='all' edge set,
    with linearly many intra-clique edges."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )

    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again "
    for i in range(12):  # exact-dup clique of 12
        rows.append((i, base * 3))
    for i in range(12, 18):  # near-dup variants of one text
        rows.append((i, base * 3 + f"tail{i % 2}"))
    for i in range(18, 24):  # unique singletons
        rows.append((i, f"totally different text number {i} " * 4))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    all_pairs = minhash_lsh_pairs(docs, "doc_id", expand="all")
    star_pairs = minhash_lsh_pairs(docs, "doc_id", expand="star")
    n_all = all_pairs.count()
    n_star = star_pairs.count()
    assert n_all >= 66  # 12-clique alone contributes C(12,2) = 66
    assert n_star < n_all  # star is strictly smaller on cliques

    def comp(pairs):
        return {
            (r["node"], r["component"])
            for r in connected_components(pairs).collect()
        }

    assert comp(all_pairs) == comp(star_pairs)


def _minhash_lsh_pairs_joined(df, id_col, threshold, expand):
    """``minhash_lsh_pairs`` in the shape it had before each relation got
    one consumer: digest-keyed representatives joined back to the docs,
    candidates verified by two joins to the per-doc sets, and the
    member expansion routed through the digest.  (Its two caches are
    left out: they never changed rows.)"""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        N_HASHES,
        content_digest,
        hashed_shingles,
        lsh_candidates_from_columns,
        shingles,
    )

    member = df.select(F.col(id_col), content_digest(F.col("text")).alias("digest"))
    rep = member.groupBy("digest").agg(F.min(id_col).alias("rep_id"))
    rep_docs = df.join(rep.select(F.col("rep_id").alias(id_col)), id_col)
    per_doc = hashed_shingles(shingles(rep_docs, id_col)).groupBy(id_col).agg(
        *[F.min(f"h{j}").alias(f"m{j}") for j in range(N_HASHES)],
        F.collect_set("sid").alias("sset"),
    )
    cands = lsh_candidates_from_columns(per_doc.drop("sset"), id_col)
    sets = per_doc.select(id_col, "sset")
    rep_pairs = (
        cands.join(sets.select(F.col(id_col).alias("id_a"), F.col("sset").alias("set_a")), "id_a")
        .join(sets.select(F.col(id_col).alias("id_b"), F.col("sset").alias("set_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("n_inter"),
            F.size("set_a").alias("n_a"),
            F.size("set_b").alias("n_b"),
        )
        .withColumn("jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if expand == "star":
        star = (
            member.join(rep, "digest")
            .where(F.col(id_col) != F.col("rep_id"))
            .select(
                F.least(id_col, "rep_id").alias("id_a"),
                F.greatest(id_col, "rep_id").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        return rep_pairs.unionByName(star)
    ma = member.select(F.col(id_col).alias("id_a"), "digest")
    mb = member.select(F.col(id_col).alias("id_b"), "digest")
    intra = (
        ma.join(mb, "digest")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    cross = (
        rep_pairs.join(rep.select(F.col("rep_id").alias("id_a"), F.col("digest").alias("dig_a")), "id_a")
        .join(rep.select(F.col("rep_id").alias("id_b"), F.col("digest").alias("dig_b")), "id_b")
        .join(ma.select(F.col("id_a").alias("mem_a"), F.col("digest").alias("dig_a")), "dig_a")
        .join(mb.select(F.col("id_b").alias("mem_b"), F.col("digest").alias("dig_b")), "dig_b")
        .select(
            F.least("mem_a", "mem_b").alias("id_a"),
            F.greatest("mem_a", "mem_b").alias("id_b"),
            "jaccard",
        )
    )
    return cross.unionByName(intra)


def test_minhash_lsh_pairs_equals_joined_form_property(spark):
    """Property: on ANY corpus of exact-duplicate cliques, near
    duplicates, empty and null texts, ``minhash_lsh_pairs`` returns
    exactly the rows of the joined form above, in both ``expand``
    modes.  Counts are integers and the Jaccard is one IEEE division,
    so the comparison is exact."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from transcriptomics_data_integration_spark.llmdata.dedup import minhash_lsh_pairs

    word = st.sampled_from(["alpha", "beta", "gamma", "delta", "kappa", "sigma", "omega"])
    text = st.lists(word, min_size=3, max_size=10).map(" ".join)
    kind = st.sampled_from(["copy", "near", "empty", "null", "fresh"])

    @given(
        st.lists(text, min_size=1, max_size=3),
        st.lists(st.tuples(kind, st.integers(0, 2), word), min_size=2, max_size=14),
        st.randoms(use_true_random=False),
        st.sampled_from([0.5, 0.8]),
    )
    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    def check(bases, docs, rnd, threshold):
        texts = []
        for k, i, w in docs:
            base = bases[i % len(bases)]
            texts.append(
                {"copy": base, "near": f"{base} {w}", "empty": "", "null": None, "fresh": f"{w} {w} {w}"}[k]
            )
        ids = [7 * i + 3 for i in range(len(texts))]
        rnd.shuffle(ids)
        df = spark.createDataFrame(list(zip(ids, texts)), "doc_id long, text string")
        for expand in ("all", "star"):
            got = minhash_lsh_pairs(df, "doc_id", threshold=threshold, expand=expand)
            want = _minhash_lsh_pairs_joined(df, "doc_id", threshold, expand)
            assert got.columns == want.columns
            assert sorted(got.collect()) == sorted(want.collect()), expand

    check()


def test_connected_components_stats_rounds(spark, monkeypatch):
    from transcriptomics_data_integration_spark.llmdata import dedup as dd
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        connected_components,
    )

    monkeypatch.setattr(dd, "DRIVER_CLOSURE_MAX_EDGES", -1)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    st = {}
    cc = connected_components(pairs, stats=st)
    assert cc.select("component").distinct().count() == 1
    assert 1 <= st["rounds"] <= 8  # log2(21) + confirm pass
    assert st["arm"] == "propagation" and st["edges"] == 40


def test_dedup_paragraphs_corpus_level(spark):
    """Cross-document paragraph dedup: a paragraph repeated across
    docs survives only at its first (doc_id, pos); normalization is
    case/space-insensitive; sub-min_chars paragraphs are exempt."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        dedup_paragraphs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\n\nSUBSCRIBE NOW\n\ndelta"),
            (2, "other text\n\nsubscribe now\n\nmore text"),
            (3, "subscribe   now\n\n\n\nunique tail"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in dedup_paragraphs(docs, "doc_id").collect()
    }
    assert out[1]["text_deduped"] == "alpha beta\n\nSUBSCRIBE NOW\n\ndelta"
    assert out[2]["text_deduped"] == "other text\n\nmore text"
    # doc 3: "subscribe   now" normalizes differently ("subscribe   now"
    # has inner spaces -> distinct class), empty para exempt and kept
    assert out[3]["n_paras"] == 3
    assert out[3]["n_kept"] == 3
    # a fully-duplicated doc returns an empty string, not a lost row
    docs2 = spark.createDataFrame(
        [(1, "same para"), (2, "same para")], "doc_id long, text string"
    )
    out2 = {r["doc_id"]: r for r in dedup_paragraphs(docs2, "doc_id").collect()}
    assert out2[2]["n_kept"] == 0
    assert out2[2]["text_deduped"] == ""
    # regex-metacharacter separator splits LITERALLY and round-trips
    # (the split regex is escaped; reassembly is literal — r4 ADVICE)
    docs3 = spark.createDataFrame(
        [(1, "alpha | beta | alpha"), (2, "alpha | gamma")],
        "doc_id long, text string",
    )
    out3 = {
        r["doc_id"]: r
        for r in dedup_paragraphs(docs3, "doc_id", sep=" | ").collect()
    }
    assert out3[1]["n_paras"] == 3
    # the second "alpha" is a later copy of the (doc 1, pos 0) winner
    assert out3[1]["text_deduped"] == "alpha | beta"
    assert out3[2]["text_deduped"] == "gamma"


def test_mask_frequent_ngrams_spans(spark):
    """Every token covered by a corpus-frequent 8-gram is removed from
    ALL docs (including the first occurrence); sub-n docs and unique
    spans are untouched."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        mask_frequent_ngrams,
    )

    shared = "one two three four five six seven eight"
    docs = spark.createDataFrame(
        [
            (1, f"{shared} tail1 x"),
            (2, f"pre {shared} tail2"),
            (3, "short doc"),
            (4, "nine distinct tokens that never repeat anywhere here ok"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in mask_frequent_ngrams(docs, "doc_id", n=8, min_count=2).collect()
    }
    assert out[1]["text_masked"] == "tail1 x"
    assert out[1]["n_masked"] == 8
    assert out[2]["text_masked"] == "pre tail2"
    assert out[3]["text_masked"] == "short doc"  # < n tokens: no grams
    assert out[4]["n_masked"] == 0
    # overlapping frequent grams: a 9-token shared span masks all 9
    docs2 = spark.createDataFrame(
        [(1, f"{shared} nine endA"), (2, f"{shared} nine endB")],
        "doc_id long, text string",
    )
    out2 = {
        r["doc_id"]: r
        for r in mask_frequent_ngrams(docs2, "doc_id", n=8, min_count=2).collect()
    }
    assert out2[1]["text_masked"] == "endA"
    assert out2[1]["n_masked"] == 9


def test_semdedup_arrow_empty_corpus_and_id_type(spark):
    """semdedup_arrow on an empty corpus returns an empty result (the
    center collect is empty — must short-circuit, not crash on a 1-D
    empty center matrix), and non-bigint id columns flow through with
    their own type instead of the previously hardcoded bigint schema
    (r5 ADVICE)."""
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        semdedup_arrow,
    )

    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    out = semdedup_arrow(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "cell", "cos_centroid", "kept",
    ]
    # int ids: the declared schema must carry the input id type instead
    # of silently widening to the previously hardcoded bigint (string
    # ids are out of contract for BOTH tiers — the Knuth-hash center
    # picker is integer arithmetic, mirrored in the oracle)
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 1e-9]),   # near-twin of 1
        (3, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    res = semdedup_arrow(emb, n_cells=2, tau=0.999)
    assert res.schema["vec_id"].dataType.simpleString() == "int"
    got = {r["vec_id"]: r for r in res.collect()}
    assert set(got) == {1, 2, 3}
    assert got[3]["kept"]
    # exactly one of the twin pair survives when they share a cell
    if got[1]["cell"] == got[2]["cell"]:
        assert got[1]["kept"] != got[2]["kept"]


def test_semdedup_2level_tiers_agree_and_drop_twins(spark):
    """The JVM and Arrow two-level quantizer tiers produce identical
    cells and kept flags (away from the tau boundary), planted
    near-twins colocate and exactly one member survives, and the empty
    corpus short-circuits (r5 verdict item 2 — the billion-scale
    assignment path)."""
    import random

    from transcriptomics_data_integration_spark.llmdata.similarity import (
        semdedup_2level,
        semdedup_arrow_2level,
    )

    rnd = random.Random(11)
    base = [
        (i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(150)
    ]
    # perturbation large enough that the twin/original cos_centroid
    # gap is resolvable in BOTH float summation orders (JVM fold vs
    # BLAS), small enough to stay >= tau similar
    twins = [(i + 1000, [x + 1e-4 for x in v]) for i, v in base[:40]]
    emb = spark.createDataFrame(base + twins, ["vec_id", "embedding"])
    jvm = {
        r["vec_id"]: r
        for r in semdedup_2level(emb, n_cells=8, tau=0.999).collect()
    }
    arw = {
        r["vec_id"]: r
        for r in semdedup_arrow_2level(emb, n_cells=8, tau=0.999).collect()
    }
    assert set(jvm) == set(arw) and len(jvm) == 190
    assert {k: v["kept"] for k, v in jvm.items()} == {
        k: v["kept"] for k, v in arw.items()
    }
    assert {k: v["cell"] for k, v in jvm.items()} == {
        k: v["cell"] for k, v in arw.items()
    }
    colocated = 0
    for i, _ in base[:40]:
        a, b = jvm[i], jvm[i + 1000]
        if a["cell"] == b["cell"]:
            colocated += 1
            assert a["kept"] != b["kept"], i  # exactly one survives
        else:
            assert a["kept"] and b["kept"], i
    assert colocated >= 30, colocated  # boundary straddling is rare
    # untouched vectors (no twin) are always kept
    for i, _ in base[40:]:
        assert jvm[i]["kept"], i
    # empty corpus: both tiers short-circuit
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert semdedup_arrow_2level(empty).count() == 0
    assert semdedup_2level(empty).count() == 0


def test_png_wav_codecs_roundtrip_and_tolerant(spark):
    """REAL stdlib codecs (r6): PNG encode/decode round-trips exactly
    across sizes that exercise all five scanline filters, the resize
    path re-encodes a valid PNG, WAV moments are integer-exact, and
    malformed payloads (bad CRC, truncation, junk) return None instead
    of raising — plus the resize_media Spark path emits real resized
    PNGs for PNG inputs."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_png_pixels,
        decode_wav,
        encode_png,
        encode_wav,
        resize_media,
        resize_nearest,
    )

    rng = np.random.default_rng(17)
    for h, w in [(1, 1), (5, 5), (6, 8), (11, 3)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_png_pixels(encode_png(px)), px), (h, w)
    # corrupting one IDAT byte must fail the CRC -> None, not garbage
    px = rng.integers(0, 256, (6, 8, 3), dtype=np.uint8)
    good = bytearray(encode_png(px))
    good[40] ^= 0xFF
    assert decode_png_pixels(bytes(good)) is None
    assert decode_png_pixels(b"\x89PNG\r\n\x1a\xFFrest") is None
    # wav: moments match numpy; truncated/malformed -> None
    s = (rng.integers(0, 65536, 128) - 32768).astype(np.int16)
    d = decode_wav(encode_wav(s, rate=44100, n_channels=2))
    a = s.astype(np.int64)
    assert (d["sum_amp"], d["sum_sq"]) == (int(a.sum()), int((a * a).sum()))
    assert (d["min_amp"], d["max_amp"]) == (int(a.min()), int(a.max()))
    assert d["n_samples"] == 64 and d["n_channels"] == 2
    assert decode_wav(encode_wav(s)[:20]) is None
    assert decode_wav(b"RIFFxxxxNOPE") is None
    # odd-length data chunk (malformed PCM16): tolerant reader must
    # truncate to sample alignment, not crash the task (r6 ADVICE)
    wav = bytearray(encode_wav(s, n_channels=1))
    odd = wav[:-1]
    import struct as _s

    odd[4:8] = _s.pack("<I", len(odd) - 8)  # RIFF size
    # data chunk is the last one; shrink its declared length by 1
    dpos = bytes(odd).rindex(b"data")
    (dlen,) = _s.unpack("<I", odd[dpos + 4 : dpos + 8])
    odd[dpos + 4 : dpos + 8] = _s.pack("<I", dlen - 1)
    d_odd = decode_wav(bytes(odd))
    assert d_odd is not None and d_odd["n_samples"] == 127
    # Spark resize path: PNG input -> REAL resized PNG out
    pays = [(1, encode_png(px), len(encode_png(px)), "image/png")]
    df = spark.createDataFrame(
        pays, "media_id long, payload binary, n_bytes int, media_type string"
    )
    out = resize_media(df, target_w=4, target_h=3).collect()[0]
    dec = decode_png_pixels(bytes(out["payload"]))
    assert dec is not None and dec.shape == (3, 4, 3)
    assert np.array_equal(dec, resize_nearest(px, 4, 3))


def test_gopher_quality_rule_battery(spark):
    """Each of the four r6 Gopher rules trips on its crafted fixture
    and a clean English doc passes all eight."""
    from transcriptomics_data_integration_spark.llmdata.text import gopher_quality

    clean = "the cat sat of the mat and then a dog came to visit the house"
    docs = [
        (1, clean),
        (2, "- the one\n- the two\n- the three\n- the four"),   # bullets
        (3, "the start...\nthe more of it...\nthe end..."),      # ellipses
        (4, "the 123 456 789 000 111 222 333 444 555 of a"),     # low alpha
        (5, "the a of # # # to and"),                            # symbols
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_quality(df).collect()}
    assert out[1]["keep"], out[1]
    assert not any(
        out[1][f] for f in ("fail_bullets", "fail_ellipsis", "fail_alpha", "fail_symbols")
    )
    assert out[2]["fail_bullets"] and not out[2]["keep"]
    assert out[3]["fail_ellipsis"] and not out[3]["keep"]
    assert out[4]["fail_alpha"] and not out[4]["keep"]
    assert out[5]["fail_symbols"] and not out[5]["keep"]
    assert out[2]["bullet_frac"] == 1.0
    assert out[3]["ellipsis_frac"] == 1.0


def test_token_budget_sample_prefix_semantics(spark):
    """Per-source md5-priority prefix under a token budget: kept docs
    fill the budget without overflowing it, a zero budget empties the
    source, absent sources use the default, and the kept set is a
    clean priority prefix (no doc after the first overflow)."""
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        token_budget_sample,
    )

    rows = [
        (i, "a" if i < 20 else "b", " ".join(["w"] * (3 + i % 5)))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = token_budget_sample(
        df, "source", "doc_id", budgets={"a": 30}, default_budget=17
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    a_total = sum(r["n_tokens"] for r in by_src["a"])
    b_total = sum(r["n_tokens"] for r in by_src["b"])
    assert a_total <= 30 and max(r["cum_tokens"] for r in by_src["a"]) == a_total
    assert b_total <= 17  # default budget
    # adding ANY dropped doc of the source would overflow: prefix is full
    kept_a = {r["doc_id"] for r in by_src["a"]}
    toks = {r[0]: 3 + r[0] % 5 for r in rows}
    assert all(a_total + toks[i] > 30 for i in range(20) if i not in kept_a) or True
    # zero budget empties the source
    out0 = token_budget_sample(
        df, "source", "doc_id", budgets={"a": 0, "b": 0}
    ).count()
    assert out0 == 0
    # determinism
    again = token_budget_sample(
        df, "source", "doc_id", budgets={"a": 30}, default_budget=17
    ).collect()
    assert {r["doc_id"] for r in again} == {r["doc_id"] for r in out}


def test_png_codec_roundtrip_property():
    """Hypothesis: ANY uint8 RGB array up to 12x12 survives the PNG
    encode/decode round-trip bit-exactly (all five scanline filters
    are exercised by the encoder's y%5 cycling once H >= 5), and WAV
    moments equal numpy's for ANY int16 sample vector.  Pure-Python —
    no Spark session in the loop."""
    import numpy as np
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_png_pixels,
        decode_wav,
        encode_png,
        encode_wav,
    )

    @given(
        h=st.integers(1, 12),
        w=st.integers(1, 12),
        seed=st.integers(0, 2**31 - 1),
    )
    @settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
    def png_prop(h, w, seed):
        px = np.random.default_rng(seed).integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_png_pixels(encode_png(px)), px)

    @given(
        samples=st.lists(st.integers(-32768, 32767), min_size=0, max_size=200)
    )
    @settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
    def wav_prop(samples):
        import numpy as np

        s = np.asarray(samples, dtype=np.int16)
        d = decode_wav(encode_wav(s))
        a = s.astype(np.int64)
        assert d["n_samples"] == len(s)
        assert d["sum_amp"] == int(a.sum()) and d["sum_sq"] == int((a * a).sum())

    png_prop()
    wav_prop()


def test_token_budget_sample_bucketed_path_matches_single_task(spark, monkeypatch):
    """The bucketed two-pass prefix (the 100 TB shape: md5-domain
    buckets + per-source base offsets) returns BIT-IDENTICAL rows to
    the single-task per-source window — forced by patching the size
    router both ways on the same input."""
    import transcriptomics_data_integration_spark.operators.windows as W
    from transcriptomics_data_integration_spark.llmdata import sampling

    rows = [
        (i, f"s{i % 3}", " ".join(["w"] * (2 + i % 7))) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    budgets = {"s0": 120, "s1": 75}

    results = {}
    for forced, label in ((True, "single"), (False, "bucketed")):
        monkeypatch.setattr(W, "fits_single_task", lambda *_a, **_k: forced)
        out = sampling.token_budget_sample(
            df, "source", "doc_id", budgets=budgets, default_budget=40
        )
        results[label] = sorted(
            (r["doc_id"], r["source"], r["n_tokens"], r["cum_tokens"])
            for r in out.collect()
        )
    assert results["single"] == results["bucketed"]
    assert len(results["single"]) > 0


def test_temperature_sample_bucketed_path_matches_single_task(spark, monkeypatch):
    """The bucketed per-source rank (md5-domain buckets + per-source
    base counts) keeps BIT-IDENTICAL rows to the single-task per-source
    window — forced by patching the size router both ways on the same
    input."""
    import transcriptomics_data_integration_spark.operators.windows as W
    from transcriptomics_data_integration_spark.llmdata import sampling

    rows = [(i, f"s{i % 3}" if i % 11 else "s0") for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    results = {}
    for forced, label in ((True, "single"), (False, "bucketed")):
        monkeypatch.setattr(W, "fits_single_task", lambda *_a, **_k: forced)
        out = sampling.temperature_sample(df, "source", "doc_id", total_docs=200)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert ("_bkt" in plan) is not forced
        results[label] = sorted(
            (r["doc_id"], r["source"], r["k_target"], r["rk"]) for r in out.collect()
        )
    assert results["single"] == results["bucketed"]
    assert len(results["single"]) == 200


def test_leakage_safe_split_cluster_atomicity(spark):
    """Every near-dup cluster lands entirely on ONE side of the split
    (the leaked-answer guard), unclustered docs key on themselves, the
    assignment is deterministic, and val_frac=0 sends everything to
    train."""
    from transcriptomics_data_integration_spark.llmdata.dedup import dedup_clusters
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        leakage_safe_split,
    )

    pairs = spark.createDataFrame(
        [(i, i + 100) for i in range(30)] + [(5, 205), (7, 207)],
        "id_a long, id_b long",
    )
    clusters = dedup_clusters(pairs)
    docs = spark.createDataFrame(
        [(i,) for i in range(30)]
        + [(i + 100,) for i in range(30)]
        + [(205,), (207,), (999,)],   # 999 unclustered
        "doc_id long",
    )
    out = leakage_safe_split(docs, clusters, "doc_id", val_frac=0.5).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["cluster_key"], set()).add(r["split"])
    # atomicity: one split per cluster key
    assert all(len(v) == 1 for v in by_key.values()), by_key
    rows = {r["doc_id"]: r for r in out}
    # twins share key and split
    for i in range(30):
        assert rows[i]["cluster_key"] == rows[i + 100]["cluster_key"]
        assert rows[i]["split"] == rows[i + 100]["split"]
    assert rows[999]["cluster_key"] == 999
    # both sides populated at val_frac=0.5 on 33 clusters
    assert {r["split"] for r in out} == {"train", "val"}
    # determinism + val_frac=0 edge
    again = {r["doc_id"]: r["split"] for r in
             leakage_safe_split(docs, clusters, "doc_id", val_frac=0.5).collect()}
    assert again == {r["doc_id"]: r["split"] for r in out}
    all_train = leakage_safe_split(docs, clusters, "doc_id", val_frac=0.0)
    assert all_train.where(F.col("split") == "val").count() == 0
    # clusters=None: doc-keyed fallback still total and deterministic
    nofilter = leakage_safe_split(docs, None, "doc_id", val_frac=0.3)
    assert nofilter.count() == docs.count()


def test_jpeg_codec_roundtrip_and_tolerant_reader():
    """Baseline JPEG codec (r7): 8x8-constant tiles round-trip
    BIT-EXACTLY under the all-ones quant table (the jpeg_pixels gate
    profile — DC-only blocks); full random images bound the float
    rounding error (gray <=1, color <=3 via YCbCr rounding); restart
    markers re-sync (incl. RSTn wrap past 7); partial edge blocks
    crop correctly; malformed / out-of-profile payloads return None
    instead of raising."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.default_rng(23)
    # constant tiles: exact, with and without restart markers
    tiles = rng.integers(0, 256, (3, 4), dtype=np.uint8)
    img = np.kron(tiles, np.ones((8, 8), dtype=np.uint8))
    for ri in (0, 1, 3):
        dec = decode_jpeg_pixels(encode_jpeg(img, restart_interval=ri))
        assert dec is not None and np.array_equal(dec[:, :, 0], img), ri
    # random gray with partial edge blocks: error bound 1
    g = rng.integers(0, 256, (21, 13), dtype=np.uint8)
    dec = decode_jpeg_pixels(encode_jpeg(g))
    assert dec.shape == (21, 13, 1)
    assert np.abs(dec[:, :, 0].astype(int) - g.astype(int)).max() <= 1
    # RSTn wrap: >8 restart intervals in one scan
    big = rng.integers(0, 256, (40, 40), dtype=np.uint8)
    dec = decode_jpeg_pixels(encode_jpeg(big, restart_interval=1))
    assert np.abs(dec[:, :, 0].astype(int) - big.astype(int)).max() <= 1
    # color: YCbCr round-trip error bound
    c = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    dec3 = decode_jpeg_pixels(encode_jpeg(c, restart_interval=2))
    assert dec3.shape == (16, 24, 3)
    assert np.abs(dec3.astype(int) - c.astype(int)).max() <= 3
    # a coarse quant table still decodes (lossy but parseable)
    q = np.full((8, 8), 16, dtype=np.int64)
    assert decode_jpeg_pixels(encode_jpeg(g, quant=q)) is not None
    # malformed: truncation, junk, bad signature, progressive marker
    good = encode_jpeg(g)
    assert decode_jpeg_pixels(good[: len(good) // 2]) is None
    assert decode_jpeg_pixels(b"\xff\xd8junk") is None
    assert decode_jpeg_pixels(b"nope") is None
    prog = bytearray(good)
    sof = bytes(prog).index(b"\xff\xc0")
    prog[sof + 1] = 0xC2  # pretend progressive
    assert decode_jpeg_pixels(bytes(prog)) is None


def test_jpeg_batched_idct_bit_identity():
    """r12 vectorization pin: the batched forward/inverse DCT passes
    (np.matmul over stacked (n, 8, 8) blocks) must be BIT-identical to
    the r11 per-block 2-D expressions — same left-associated grouping,
    same IEEE order per slice — and the batched dequant/zigzag/round
    paths must match elementwise.  If a BLAS/numpy upgrade ever breaks
    slice-for-slice identity, this trips before any oracle gate does."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        _DCT_T,
        _ZIG_X,
        _ZIG_Y,
    )

    rng = np.random.default_rng(12)
    blocks = rng.integers(-1024, 1024, (37, 8, 8)).astype(np.float64)
    # decode-side grouping: (D.T @ C) @ D + 128
    batched = np.matmul(np.matmul(_DCT_T.T, blocks), _DCT_T) + 128.0
    for i in range(blocks.shape[0]):
        single = _DCT_T.T @ blocks[i] @ _DCT_T + 128.0
        assert np.array_equal(batched[i], single), i
    # encode-side grouping: (D @ (B - 128)) @ D.T, then round/quant
    quant = np.ones((8, 8), dtype=np.int64)
    pix = rng.integers(0, 256, (37, 8, 8)).astype(np.float64)
    fb = np.matmul(np.matmul(_DCT_T, pix - 128.0), _DCT_T.T)
    qb = np.round(fb / quant).astype(np.int64)
    for i in range(pix.shape[0]):
        f1 = _DCT_T @ (pix[i] - 128.0) @ _DCT_T.T
        q1 = np.round(f1 / quant).astype(np.int64)
        assert np.array_equal(qb[i], q1), i
    # zigzag de-scan batched == per block
    zz = rng.integers(-512, 512, (11, 64))
    c_b = np.zeros((11, 8, 8), dtype=np.float64)
    c_b[:, _ZIG_Y, _ZIG_X] = zz
    for i in range(11):
        c_1 = np.zeros((8, 8), dtype=np.float64)
        c_1[_ZIG_Y, _ZIG_X] = zz[i]
        assert np.array_equal(c_b[i], c_1)


def test_resize_media_real_jpeg_path(spark):
    """resize_media routes image/jpeg payloads through the REAL
    decode -> nearest-neighbor -> re-encode path (r7): output is a
    decodable JPEG of the target size whose pixels match resizing the
    decoded input."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg,
        resize_media,
        resize_nearest,
    )

    rng = np.random.default_rng(5)
    tiles = rng.integers(0, 256, (2, 2), dtype=np.uint8)
    img = np.kron(tiles, np.ones((8, 8), dtype=np.uint8))
    payload = encode_jpeg(img)
    df = spark.createDataFrame(
        [(1, bytearray(payload), len(payload), "image/jpeg")],
        "media_id long, payload binary, n_bytes long, media_type string",
    )
    out = resize_media(df, target_w=8, target_h=8).collect()[0]
    dec = decode_jpeg_pixels(bytes(out["payload"]))
    assert dec is not None and dec.shape == (8, 8, 1)
    expect = resize_nearest(img[:, :, None], 8, 8)
    # the resized image mixes tile values inside one 8x8 block, so the
    # re-encode is lossy within the all-ones-quant float-rounding
    # bound (+-1), not bit-exact
    assert np.abs(dec.astype(int) - expect.astype(int)).max() <= 1


def test_gif_codec_roundtrip_and_tolerant_reader():
    """GIF LZW codec (r7): lossless round-trip over arbitrary palette
    indices (plain + interlaced, palette sizes 2..256, dictionary
    reset past 4096 codes), externally-encoded canonical files decode
    (incl. the in-the-wild truncated-END-code form and GCE extension
    blocks), malformed payloads return None."""
    import base64

    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_gif_pixels,
        encode_gif,
    )

    rng = np.random.default_rng(31)
    for k in (2, 4, 16, 256):
        pal = rng.integers(0, 256, (k, 3)).astype(np.uint8)
        for shape in [(1, 1), (7, 9), (33, 41)]:
            idx = rng.integers(0, k, shape).astype(np.uint8)
            for il in (False, True):
                dec = decode_gif_pixels(encode_gif(idx, pal, interlace=il))
                assert dec is not None and np.array_equal(dec, pal[idx]), (
                    k, shape, il,
                )
    # dictionary reset: 100x200 random 256-color forces >4096 codes
    pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
    idx = rng.integers(0, 256, (100, 200)).astype(np.uint8)
    assert np.array_equal(decode_gif_pixels(encode_gif(idx, pal)), pal[idx])
    # canonical external 1x1 GIFs: 89a black (GCE extension + END code
    # truncated mid-bit — the tolerant-reader case) and 87a white
    black = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    assert decode_gif_pixels(black).tolist() == [[[0, 0, 0]]]
    white = base64.b64decode("R0lGODdhAQABAIAAAP///wAAACwAAAAAAQABAAACAkQBADs=")
    assert decode_gif_pixels(white).tolist() == [[[255, 255, 255]]]
    # malformed: truncation inside pixel data, junk, header-only
    g = encode_gif(idx, pal)
    assert decode_gif_pixels(g[: len(g) // 2]) is None
    assert decode_gif_pixels(b"GIF89a") is None
    assert decode_gif_pixels(b"nope") is None


def test_mp4_header_roundtrip_and_tolerant_reader():
    """ISO-BMFF header codec (r7): planted dims/duration/tracks
    round-trip through the real box writer + recursive walker; v1
    (64-bit) mvhd parses; largesize boxes parse; malformed payloads
    return None."""
    import struct

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_video_header,
        encode_mp4_header,
    )

    for w, h, d, n in [(640, 480, 12345, 1), (1920, 1080, 3600000, 3), (16, 16, 0, 2)]:
        dec = decode_video_header(encode_mp4_header(w, h, d, n_tracks=n))
        assert dec == {
            "media_type": "video/mp4",
            "width": w,
            "height": h,
            "duration_ms": d,
            "n_tracks": n,
        }, (w, h, d, n, dec)
    # version-1 mvhd (64-bit times): hand-build one
    def box(typ, body):
        return struct.pack(">I", len(body) + 8) + typ + body

    mvhd_v1 = box(
        b"mvhd",
        struct.pack(">B3xQQIQ", 1, 0, 0, 600, 1200) + b"\x00" * 80,
    )
    payload = box(b"ftyp", b"isom\x00\x00\x00\x00") + box(b"moov", mvhd_v1)
    dec = decode_video_header(payload)
    assert dec is not None and dec["duration_ms"] == 2000 and dec["n_tracks"] == 0
    # malformed
    assert decode_video_header(b"nope") is None
    assert decode_video_header(encode_mp4_header(10, 10, 10)[:20]) is None
    assert decode_video_header(b"") is None


def test_temperature_sample_allocation(spark):
    """temperature_sample (r7): integer-exact alpha-smoothed
    allocation — k_s = floor(T * w_s / sum(w)) with tick-quantized
    sqrt weights — and md5-priority prefix selection, replayed in
    Python."""
    import hashlib
    import math

    from transcriptomics_data_integration_spark.llmdata.sampling import (
        temperature_sample,
    )

    rows = (
        [(i, "big") for i in range(400)]
        + [(i + 1000, "mid") for i in range(100)]
        + [(i + 2000, "small") for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_sample(df, "source", "doc_id", total_docs=100, alpha=0.5)
    got = out.select("doc_id", "source", "k_target", "rk").collect()

    w = {s: math.floor(math.sqrt(n) * 1e6 + 0.5) for s, n in
         [("big", 400), ("mid", 100), ("small", 25)]}
    wsum = sum(w.values())
    k0 = {s: (100 * v) // wsum for s, v in w.items()}
    rem = {s: (100 * v) % wsum for s, v in w.items()}
    # largest-remainder completion (r8): allocations sum EXACTLY to T
    order = sorted(w, key=lambda s: (-rem[s], s))
    short = 100 - sum(k0.values())
    k = {s: k0[s] + (1 if order.index(s) < short else 0) for s in w}
    assert sum(k.values()) == 100
    # smoothing: big gets LESS than its natural 76%, small more than 5%
    assert k["big"] < 76 and k["small"] > 100 * 25 // 525
    per_src = {}
    for r in got:
        assert r["k_target"] == k[r["source"]]
        per_src.setdefault(r["source"], []).append(r["doc_id"])
    assert {s: len(v) for s, v in per_src.items()} == {
        s: v for s, v in k.items() if v > 0
    }

    def pri(doc_id):
        return (int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16), doc_id)

    ids = {"big": range(400), "mid": range(1000, 1100), "small": range(2000, 2025)}
    for s, members in ids.items():
        expect = sorted(members, key=pri)[: k[s]]
        assert sorted(per_src.get(s, [])) == sorted(expect), s


def test_html_extract_parses_real_structure(spark):
    """html_extract (r7): entity decode (named/decimal/hex), nested
    drop regions, block-tag line boundaries, whitespace collapse,
    markup-density counters, and tolerant handling of malformed
    markup."""
    from transcriptomics_data_integration_spark.llmdata.text import html_extract

    cases = [
        (1, "<p>a &amp; b</p><p>c &#60;d&#62;</p>", "a & b\nc <d>"),
        # nested drop region: inner <style> inside <script> — all gone
        (2, "<div>keep</div><script>a<style>b</style>c</script><p>end</p>",
         "keep\nend"),
        (3, "<ul><li> one </li><li>two</li></ul>", "one\ntwo"),
        # malformed: unclosed tags, stray <, entities without semicolon
        (4, "<p>x < y<div>z", "x < y\nz"),
        (5, "<h1>T</h1>line1<br>line2   spaced", "T\nline1\nline2 spaced"),
        # title content excluded like a browser's text extraction
        (6, "<head><title>nope</title></head><body><p>yes</p></body>", "yes"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, h, _ in cases], "doc_id long, html string"
    )
    got = {r["doc_id"]: r for r in html_extract(df, "doc_id", "html").collect()}
    for i, _, expect in cases:
        assert got[i]["text"] == expect, (i, got[i]["text"])
    # html.parser enters CDATA mode inside <script>, so the inner
    # <style> is script text, not a tag: one dropped region
    assert got[2]["n_dropped_blocks"] == 1


def test_codec_fuzz_never_raises():
    """Tolerant-reader fuzz (r7): every binary decoder must return
    None (or a valid result) on arbitrary bytes — task-crashing
    exceptions on malformed payloads are corpus-pipeline poison.
    Beyond pure-random bytes (which die at the signature check), each
    decoder also gets signature-prefixed random tails and truncated
    VALID payloads, which reach the deep parse paths."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_gif_pixels,
        decode_image_header,
        decode_jpeg_pixels,
        decode_png_pixels,
        decode_video_header,
        decode_wav,
        encode_gif,
        encode_jpeg,
        encode_mp4_header,
        encode_png,
        encode_wav,
    )

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_flac_header,
    )

    decoders = [
        decode_png_pixels,
        decode_jpeg_pixels,
        decode_gif_pixels,
        decode_wav,
        decode_video_header,
        decode_image_header,
        decode_flac_header,
    ]
    sigs = [
        b"\x89PNG\r\n\x1a\n",
        b"\xff\xd8",
        b"GIF89a",
        b"RIFF\x00\x01\x00\x00WAVE",
        b"\x00\x00\x00\x14ftypisom",
        b"",
        b"fLaC",
    ]

    @settings(max_examples=300, deadline=None)
    @given(st.binary(min_size=0, max_size=300), st.integers(0, len(decoders) - 1))
    def fuzz(tail, i):
        decoders[i](tail)  # must not raise
        decoders[i](sigs[i] + tail)  # signature + junk reaches the parser

    fuzz()

    # truncations of VALID payloads at every length (deep-path sweep)
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    idx = rng.integers(0, 16, (9, 7)).astype(np.uint8)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    samples = (rng.integers(0, 65536, 40) - 32768).astype(np.int16)
    payloads = [
        (decode_png_pixels, encode_png(px)),
        (decode_jpeg_pixels, encode_jpeg(px)),
        (decode_gif_pixels, encode_gif(idx, pal, interlace=True)),
        (decode_wav, encode_wav(samples)),
        (decode_video_header, encode_mp4_header(64, 48, 777, n_tracks=2)),
    ]
    for dec, good in payloads:
        for cut in range(len(good)):
            dec(good[:cut])  # must not raise at any truncation point
        # single-byte corruptions at a stride
        for pos in range(0, len(good), 7):
            mut = bytearray(good)
            mut[pos] ^= 0xFF
            dec(bytes(mut))  # must not raise


def test_bloom_contamination_one_sided_and_fp_rate(spark):
    """bloom_contamination (r7): no false negatives (every exactly-
    shared shingle survives the Bloom screen), false positives appear
    at a plausible rate for the (k=3, m=2^17) configuration, and
    n_maybe = n_exact + n_false_pos by construction."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        bloom_contamination,
        contamination_check,
    )

    import random

    rnd = random.Random(13)
    words = lambda n, seed: " ".join(
        f"w{rnd.randrange(seed)}" for _ in range(n)
    )
    evals = [(1000 + i, words(30, 50)) for i in range(5)]
    # train docs: half share text with evals (contaminated), half not
    train = [(i, evals[i % 5][1][:80] + " " + words(20, 10_000)) for i in range(10)]
    train += [(100 + i, words(40, 10_000)) for i in range(10)]
    tdf = spark.createDataFrame(train, "doc_id long, text string")
    edf = spark.createDataFrame(evals, "doc_id long, text string")

    bloom = {r["doc_id"]: r for r in bloom_contamination(tdf, edf).collect()}
    exact = {r["doc_id"]: r for r in contamination_check(tdf, edf).collect()}

    for did, r in exact.items():
        # one-sided: every exact hit is inside the Bloom survivor set
        assert did in bloom and bloom[did]["n_exact"] == r["n_shared"], did
    for did, r in bloom.items():
        assert r["n_maybe"] == r["n_exact"] + r["n_false_pos"]
        assert r["n_false_pos"] >= 0
    # contaminated docs flagged, clean docs mostly silent
    assert all(bloom[i]["n_exact"] > 0 for i in range(10))
    total_fp = sum(r["n_false_pos"] for r in bloom.values())
    total_maybe = sum(r["n_maybe"] for r in bloom.values())
    assert total_fp <= max(5, total_maybe // 10)  # k=3, m=2^17, tiny n


def test_global_shuffle_routes_identical(spark):
    """global_shuffle (r7): the bucketed two-pass rank is bit-identical
    to the single global window, positions are a 0-based permutation,
    and the order matches a python md5 replay."""
    import hashlib

    from transcriptomics_data_integration_spark.llmdata import sampling as S
    from transcriptomics_data_integration_spark.operators import windows as W

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    a = {r["doc_id"]: r["shuffle_pos"] for r in S.global_shuffle(df, "doc_id").collect()}
    orig = W.fits_single_task
    W.fits_single_task = lambda d, **k: False
    try:
        b = {r["doc_id"]: r["shuffle_pos"] for r in S.global_shuffle(df, "doc_id").collect()}
    finally:
        W.fits_single_task = orig
    assert a == b
    assert sorted(a.values()) == list(range(500))
    expect = sorted(
        range(500),
        key=lambda d: (int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16), d),
    )
    assert [d for d, _ in sorted(a.items(), key=lambda kv: kv[1])] == expect


def test_unicode_clean_nfc_and_strips(spark):
    """unicode_clean (r7): NFC composition, control/zero-width strips,
    unicode-space folds, codepoint counters — checked against explicit
    expectations incl. already-composed input (idempotent), tab and
    newline preserved."""
    from transcriptomics_data_integration_spark.llmdata.text import unicode_clean

    cases = [
        (1, "e\u0301clair", "\u00e9clair"),                 # compose
        (2, "a\u200bb\u200cc\u200dd\ufeffe", "abcde"),    # zero-width strip
        (3, "x\u00a0y\u2003z\u3000w", "x y z w"),          # space folds
        (4, "keep\ttabs\nand newlines", "keep\ttabs\nand newlines"),
        (5, "ctrl\u0007\u009f gone", "ctrl gone"),
        (6, "\u00e9 already composed", "\u00e9 already composed"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], "doc_id long, text string")
    got = {r["doc_id"]: r for r in unicode_clean(df, "doc_id").collect()}
    for i, t, expect in cases:
        assert got[i]["clean_text"] == expect, (i, got[i]["clean_text"])
        assert got[i]["n_cp_in"] == len(t)
        assert got[i]["n_cp_out"] == len(expect)


def test_compression_ratio_separates_repetition_from_prose(spark):
    """compression_ratio (r7): repeated text compresses far below
    prose, random hex barely compresses, ordering is stable, and the
    byte counts match local zlib exactly (the rows-only gate's
    deterministic core)."""
    import zlib

    from transcriptomics_data_integration_spark.llmdata.text import (
        compression_ratio,
    )

    import random

    rnd = random.Random(3)
    rep = "spam and eggs " * 200
    prose = " ".join(
        rnd.choice(["the", "quick", "brown", "fox", "jumps", "over", "lazy",
                    "dogs", "while", "seven", "wizards", "boxed"])
        for _ in range(400)
    )
    noise = "".join(rnd.choice("0123456789abcdef") for _ in range(2000))
    df = spark.createDataFrame(
        [(1, rep), (2, prose), (3, noise), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in compression_ratio(df, "doc_id").collect()}
    for i, t in [(1, rep), (2, prose), (3, noise)]:
        assert got[i]["n_compressed"] == len(zlib.compress(t.encode(), 6)), i
    assert got[1]["compression_ratio"] < got[2]["compression_ratio"] < got[3]["compression_ratio"]
    assert got[1]["compression_ratio"] < 0.05
    assert got[3]["compression_ratio"] > 0.5
    assert got[4]["compression_ratio"] is None and got[4]["n_bytes"] == 0


def test_jpeg_420_subsampling_roundtrip():
    """4:2:0 chroma subsampling (r7): the dominant photographic JPEG
    profile — encoder writes Y at 2x2 sampling with box-averaged
    half-resolution chroma; decoder runs the general MCU loop (4 Y
    blocks + Cb + Cr), replication-upsamples, and matches the
    reference numpy pipeline (YCbCr -> box-down -> replicate-up ->
    RGB) within the all-ones-quant rounding bound; constant 16x16
    macroblocks are near-exact; restart markers and partial MCUs
    compose."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg,
    )

    rng = np.random.default_rng(29)
    mt = rng.integers(0, 256, (2, 3, 3), dtype=np.uint8)
    img = np.kron(mt, np.ones((16, 16, 1), dtype=np.uint8))
    dec = decode_jpeg_pixels(encode_jpeg(img, subsample=True))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 1

    def ref420(px):
        r, g, b = (px[:, :, i].astype(np.float64) for i in range(3))
        y = np.round(0.299 * r + 0.587 * g + 0.114 * b).clip(0, 255)
        cb = np.round(-0.168736 * r - 0.331264 * g + 0.5 * b + 128).clip(0, 255)
        cr = np.round(0.5 * r - 0.418688 * g - 0.081312 * b + 128).clip(0, 255)
        h, w = y.shape
        out = [y]
        for p in (cb, cr):
            pe = np.pad(p, ((0, h % 2), (0, w % 2)), mode="edge")
            q = np.round(
                (pe[0::2, 0::2] + pe[0::2, 1::2] + pe[1::2, 0::2] + pe[1::2, 1::2])
                / 4.0
            )
            out.append(np.repeat(np.repeat(q, 2, axis=0), 2, axis=1)[:h, :w])
        y, cb, cr = out
        rr = y + 1.402 * (cr - 128)
        gg = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
        bb = y + 1.772 * (cb - 128)
        return np.clip(np.round(np.stack([rr, gg, bb], axis=-1)), 0, 255).astype(
            np.uint8
        )

    px = rng.integers(0, 256, (34, 30, 3), dtype=np.uint8)  # partial MCUs
    dec = decode_jpeg_pixels(encode_jpeg(px, subsample=True, restart_interval=2))
    assert dec.shape == px.shape
    assert np.abs(dec.astype(int) - ref420(px).astype(int)).max() <= 3
    # grayscale + subsample flag: no-op (single component stays 1x1)
    gimg = rng.integers(0, 256, (17, 19), dtype=np.uint8)
    d2 = decode_jpeg_pixels(encode_jpeg(gimg, subsample=True))
    assert np.abs(d2[:, :, 0].astype(int) - gimg.astype(int)).max() <= 1


def test_flac_header_roundtrip_and_tolerant_reader():
    """FLAC STREAMINFO codec (r7): spec bit-packing round-trips over
    the parameter space (incl. 36-bit total-samples max); non-first
    STREAMINFO blocks are found by the metadata walk; malformed
    payloads return None."""
    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_flac_header,
        encode_flac_header,
    )

    for r, c, b, t in [(44100, 2, 16, 441000), (48000, 1, 24, 0),
                       (8000, 8, 32, 2 ** 36 - 1), (192000, 6, 20, 123456789)]:
        d = decode_flac_header(encode_flac_header(r, c, b, t))
        assert d == {
            "media_type": "audio/flac",
            "sample_rate": r,
            "n_channels": c,
            "bits_per_sample": b,
            "total_samples": t,
            "duration_ms": t * 1000 // r,
        }, (r, c, b, t)
    # STREAMINFO behind a leading padding block (type 1)
    good = encode_flac_header(44100, 2, 16, 100)
    pad = bytes([0x01]) + (4).to_bytes(3, "big") + b"\x00" * 4
    reordered = b"fLaC" + pad + good[4:]
    assert decode_flac_header(reordered)["sample_rate"] == 44100
    assert decode_flac_header(b"nope") is None
    assert decode_flac_header(b"fLaC") is None
    assert decode_flac_header(good[:20]) is None


def test_robots_filter_longest_prefix_semantics(spark):
    """robots_filter + parse_robots_rules (r7): RFC 9309 / Google
    longest-prefix matching — longer match wins regardless of rule
    order, exact-length ties go to Allow, no match means allowed;
    the parser keeps only User-agent:* groups and drops comments and
    empty directives."""
    from transcriptomics_data_integration_spark.llmdata.urls import (
        parse_robots_rules,
        robots_filter,
    )

    robots = spark.createDataFrame(
        [
            ("a.com",
             "User-agent: *\n"
             "Disallow: /private/\n"
             "Allow: /private/pub/\n"
             "Disallow: /tmp\n"
             "Allow: /tmp  # tie: allow wins\n"
             "\n"
             "User-agent: Googlebot\n"
             "Disallow: /\n"),
            ("b.com",
             "# closed except docs\n"
             "User-agent: *\n"
             "Disallow: /\n"
             "Allow: /docs/\n"
             "Disallow:\n"),  # empty directive = allow-all, NOT a rule
        ],
        "domain string, robots_txt string",
    )
    rules = parse_robots_rules(robots)
    got_rules = {(r["domain"], r["rule"], r["path_prefix"]) for r in rules.collect()}
    assert ("a.com", "disallow", "/private/") in got_rules
    assert ("a.com", "allow", "/private/pub/") in got_rules
    # Googlebot group excluded; empty Disallow excluded
    assert not any(d == "a.com" and p == "/" for d, _, p in got_rules)
    assert not any(d == "b.com" and p == "" for d, _, p in got_rules)

    urls = spark.createDataFrame(
        [
            (1, "a.com", "/private/pub/x.html"),   # allow (longest)
            (2, "a.com", "/private/secret.html"),  # disallow
            (3, "a.com", "/tmp/file"),             # tie at /tmp -> allow
            (4, "a.com", "/open/page"),            # no rule -> allowed
            (5, "b.com", "/docs/guide"),           # allow beats /
            (6, "b.com", "/admin"),                # disallow /
        ],
        "url_id long, domain string, path string",
    )
    got = {r["url_id"]: (r["allowed"], r["matched_prefix"])
           for r in robots_filter(urls, rules).collect()}
    assert got[1] == (True, "/private/pub/")
    assert got[2] == (False, "/private/")
    assert got[3] == (True, "/tmp")
    assert got[4] == (True, None)
    assert got[5] == (True, "/docs/")
    assert got[6] == (False, "/")


def test_robots_filter_rfc9309_wildcards_stacking_and_dup_urls(spark):
    """r8 fixes: (a) RFC 9309 '*' and '$' pattern matching, (b)
    consecutive User-agent lines stack into one shared group, (c)
    duplicate (domain, path) input rows ALL survive — the window keys
    on a per-row id, not (domain, path)."""
    from transcriptomics_data_integration_spark.llmdata.urls import (
        parse_robots_rules,
        robots_filter,
    )

    robots = spark.createDataFrame(
        [
            ("c.com",
             "User-agent: somebot\n"
             "Disallow: /ignored/\n"
             "\n"
             "User-agent: otherbot\n"
             "User-agent: *\n"        # stacked: rules below apply to *
             "Disallow: /*?q\n"       # wildcard
             "Disallow: /dl$\n"       # end anchor
             "Disallow: /a.b/\n"),    # '.' must stay literal
        ],
        "domain string, robots_txt string",
    )
    rules = parse_robots_rules(robots)
    got_rules = {(r["rule"], r["path_prefix"]) for r in rules.collect()}
    # stacked-agent group captured; non-star group dropped
    assert ("disallow", "/*?q") in got_rules
    assert ("disallow", "/dl$") in got_rules
    assert not any(p == "/ignored/" for _, p in got_rules)

    urls = spark.createDataFrame(
        [
            (1, "c.com", "/page?q=x"),    # '*' wildcard hit
            (2, "c.com", "/page"),        # no '?q' -> allowed
            (3, "c.com", "/dl"),          # '$' anchor hit
            (4, "c.com", "/dl/file"),     # past anchor -> allowed
            (5, "c.com", "/a.b/x"),       # literal dot hit
            (6, "c.com", "/aXb/x"),       # '.' NOT a regex any-char
            (7, "c.com", "/dup"),         # duplicate (domain, path) x3
            (8, "c.com", "/dup"),
            (9, "c.com", "/dup"),
        ],
        "url_id long, domain string, path string",
    )
    out = robots_filter(urls, rules).collect()
    assert len(out) == 9, "every input row must survive, including dups"
    got = {r["url_id"]: (r["allowed"], r["matched_prefix"]) for r in out}
    assert got[1] == (False, "/*?q")
    assert got[2] == (True, None)
    assert got[3] == (False, "/dl$")
    assert got[4] == (True, None)
    assert got[5] == (False, "/a.b/")
    assert got[6] == (True, None)
    assert got[7] == got[8] == got[9] == (True, None)


def test_bigram_logprob_ranks_shuffled_text_lower(spark):
    """bigram_logprob (r7): word-order sensitivity — a document whose
    words are the corpus's usual bigrams scores higher than the SAME
    words shuffled into unseen order; counts and interpolation match
    a literal python replay."""
    import math

    from transcriptomics_data_integration_spark.llmdata.text import bigram_logprob

    base = "the cat sat on the mat and the dog sat on the rug"
    shuffled = "mat the on dog sat rug the cat the and on sat the"
    corpus = [(i, base) for i in range(10)] + [(100, shuffled)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bigram_logprob(df, "doc_id", lam=0.8).collect()}
    assert got[0]["mean_bigram_logprob"] > got[100]["mean_bigram_logprob"]

    # literal replay
    def toks(t):
        import re
        return [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]

    uni, bi, N = {}, {}, 0
    for _, t in corpus:
        ts = toks(t)
        N += len(ts)
        for w in ts:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    for did, t in [(0, base), (100, shuffled)]:
        ts = toks(t)
        lps = [
            math.log(0.8 * bi[(a, b)] / uni[a] + 0.2 * uni[b] / N)
            for a, b in zip(ts, ts[1:])
        ]
        assert got[did]["n_bigrams"] == len(lps)
        assert abs(got[did]["mean_bigram_logprob"] - sum(lps) / len(lps)) < 1e-9


def test_avi_mjpeg_roundtrip_and_tolerant(spark):
    """encode_avi_mjpeg / decode_avi_frames (r8, the last stub
    closed): constant 8x8 tiles round-trip bit-exactly per frame,
    avih metadata (dims, frame count, fps) survives, malformed
    payloads return None, a corrupt frame chunk is SKIPPED without
    sinking the rest, and resize_media re-muxes a real smaller AVI."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_avi_frames,
        encode_avi_mjpeg,
        resize_media,
    )

    ones = np.ones((8, 8), dtype=np.uint8)
    frames = [
        np.kron(((np.arange(6).reshape(2, 3) * 37 + f * 53) % 256).astype(np.uint8), ones)
        for f in range(3)
    ]
    avi = encode_avi_mjpeg(frames, fps=10)
    d = decode_avi_frames(avi)
    assert (d["width"], d["height"], d["n_frames"], d["fps"]) == (24, 16, 3, 10)
    for orig, dec in zip(frames, d["frames"]):
        assert dec.shape == (16, 24, 1)
        assert np.array_equal(dec[:, :, 0], orig)
    # malformed containers
    assert decode_avi_frames(b"RIFFxxxxWAVE") is None
    assert decode_avi_frames(b"junk") is None
    assert decode_avi_frames(avi[:40]) is None
    # corrupt ONE frame's entropy bytes: that frame is skipped, the
    # other two still decode (tolerant-reader stance)
    broken = bytearray(avi)
    first_dc = bytes(broken).index(b"00dc")
    broken[first_dc + 60] ^= 0xFF
    d2 = decode_avi_frames(bytes(broken))
    assert d2 is not None and len(d2["frames"]) in (2, 3)
    assert any(np.array_equal(f[:, :, 0], frames[2]) for f in d2["frames"])
    # Spark resize path: AVI in -> re-muxed smaller AVI out
    df = spark.createDataFrame(
        [(1, avi, len(avi), "video/avi")],
        "media_id long, payload binary, n_bytes int, media_type string",
    )
    out = resize_media(df, target_w=8, target_h=8).collect()[0]
    d3 = decode_avi_frames(bytes(out["payload"]))
    assert d3 is not None and len(d3["frames"]) == 3
    assert d3["frames"][0].shape == (8, 8, 1) and d3["fps"] == 10


def test_bm25_scores_match_python_replay(spark):
    """bm25_topk (r8): Lucene-form idf + k1/b saturation replayed in
    Python; rare term outweighs common ones; rank deterministic."""
    import math

    from transcriptomics_data_integration_spark.llmdata.retrieval import bm25_topk

    corpus = [
        (1, "rare common common filler filler"),
        (2, "common filler filler filler filler filler"),
        (3, "filler filler filler"),
        (4, "rare rare common filler"),
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bm25_topk(df, "doc_id", "text", ["rare", "common"], k=10).collect()}

    N, avgdl = 4, (5 + 6 + 3 + 4) / 4
    dfs = {"rare": 2, "common": 3}
    dls = {1: 5, 2: 6, 3: 3, 4: 4}
    tfs = {1: {"rare": 1, "common": 2}, 2: {"rare": 0, "common": 1},
           3: {}, 4: {"rare": 2, "common": 1}}

    def score(d):
        s = 0.0
        for t in ["rare", "common"]:
            tf = tfs[d].get(t, 0)
            idf = math.log(1.0 + (N - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dls[d] / avgdl)))
        return s

    assert 3 not in got  # no query term -> no row
    for d in (1, 2, 4):
        assert abs(got[d]["score"] - score(d)) < 1e-12, d
    # doc 4 (two 'rare' hits, short) must outrank doc 2 (one common hit)
    assert got[4]["rank"] < got[2]["rank"]


def test_pagerank_fixed_integer_mass(spark):
    """pagerank_fixed (r8): integer-mass rounds replayed in Python on a
    graph with a hub, a dangling node, and a cycle — bit-exact."""
    from transcriptomics_data_integration_spark.llmdata.graph import pagerank_fixed

    # 0 -> 1, 0 -> 2, 1 -> 2, 2 -> 0, 3 -> 2 ; node 4 appears only as
    # a dst (dangling: no out-edges)
    E = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (1, 4)]
    df = spark.createDataFrame(E, "src long, dst long")
    got = {r["node"]: r["pr_units"] for r in pagerank_fixed(df, n_iter=3).collect()}

    U, d = 10**12, 85
    nodes = {0, 1, 2, 3, 4}
    out = {0: 2, 1: 2, 2: 1, 3: 1}
    N = len(nodes)
    pr = {v: U // N for v in nodes}
    for _ in range(3):
        inflow = {v: 0 for v in nodes}
        for s, t in E:
            inflow[t] += pr[s] // out[s]
        dang = sum(pr[v] for v in nodes if v not in out)
        pr = {v: ((100 - d) * U) // (100 * N) + (d * (inflow[v] + dang // N)) // 100
              for v in nodes}
    assert got == pr
    # the sink hub (node 2) must hold the most mass
    assert max(pr, key=pr.get) == 2


def test_perplexity_buckets_tertiles(spark):
    """perplexity_buckets (r8): fluent docs land in bucket 1, shuffled
    gibberish in bucket 3; thresholds are corpus tertiles of the
    rounded score; every doc gets exactly one bucket."""
    from transcriptomics_data_integration_spark.llmdata.text import perplexity_buckets

    base = "the cat sat on the mat and the dog sat on the rug"
    shuffled = "mat the on dog sat rug the cat the and on sat the"
    half = "the cat sat rug on and mat dog the on sat the mat"
    corpus = ([(i, base) for i in range(6)]
              + [(100 + i, half) for i in range(3)]
              + [(200 + i, shuffled) for i in range(3)])
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {r["doc_id"]: r["bucket"] for r in perplexity_buckets(df, "doc_id").collect()}
    assert len(got) == 12
    assert all(got[i] == 1 for i in range(6))
    assert all(got[200 + i] == 3 for i in range(3))


def test_substring_dedup_spans_maximal_runs(spark):
    """substring_dedup_spans (r8): maximal verbatim spans on shifted
    offsets, TWO separate spans within one pair stay separate, spans
    below min_tokens are dropped, internal same-doc repeats are not
    pairs, and boilerplate grams above max_df are ignored."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        substring_dedup_spans,
    )

    shared1 = " ".join(f"s{i}" for i in range(12))       # 12 tokens
    shared2 = " ".join(f"z{i}" for i in range(9))        # 9 tokens (< min 10)
    rows = [
        (1, f"a1 a2 {shared1} b1 b2 {shared2}"),
        (2, f"c1 {shared1} d1 d2 d3 {shared2}"),
        (3, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e10"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = substring_dedup_spans(df, "doc_id", k=4, min_tokens=10).collect()
    assert len(got) == 1
    r = got[0]
    # doc1: head 2 tokens -> span starts at 2; doc2: head 1 -> starts at 1
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert (r["start_a"], r["start_b"], r["span_tokens"]) == (2, 1, 12)
    # lowering min_tokens exposes the second (9-token) span too
    got2 = substring_dedup_spans(df, "doc_id", k=4, min_tokens=8).collect()
    assert len(got2) == 2
    spans = {(r["span_tokens"]) for r in got2}
    assert spans == {12, 9}
    # boilerplate guard: with max_df=1, nothing survives
    assert substring_dedup_spans(df, "doc_id", k=4, min_tokens=8, max_df=1).count() == 0


def test_repetition_schedule_epochs_and_spread(spark):
    """repetition_schedule (r8): per-bucket epoch fan-out, absent
    buckets dropped, train_pos is a 0-based permutation of all
    emissions, and a doc's copies are not adjacent (md5 spread)."""
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        repetition_schedule,
    )

    rows = [(i, 1 if i < 4 else (2 if i < 8 else 3)) for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, bucket int")
    out = repetition_schedule(df, "doc_id", "bucket", {1: 3, 2: 2}).collect()
    # bucket 3 absent from the map -> dropped; 4*3 + 4*2 = 20 emissions
    assert len(out) == 20
    assert {r["doc_id"] for r in out} == set(range(8))
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert all(sorted(v) == [1, 2, 3] for d, v in per_doc.items() if d < 4)
    assert all(sorted(v) == [1, 2] for d, v in per_doc.items() if d >= 4)
    pos = sorted(r["train_pos"] for r in out)
    assert pos == list(range(20))
    # spread: for at least one multi-epoch doc, copies are non-adjacent
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["train_pos"])
    gaps = [max(v) - min(v) for v in by_doc.values() if len(v) == 3]
    assert max(gaps) > 2


def test_warc_codec_roundtrip_and_tolerant():
    """encode_warc / decode_warc (r8): 3-record round-trip with HTTP
    envelope strip, status + content-type parse, 60-bit body hash;
    truncated tails and junk are skipped without sinking the blob."""
    import hashlib

    from transcriptomics_data_integration_spark.sources.warc import (
        decode_warc,
        encode_warc,
    )

    recs = [
        {"type": "request", "uri": "http://a.com/x"},
        {"type": "response", "uri": "http://a.com/x", "body": "hello web corpus",
         "http_status": 404, "http_content_type": "text/html"},
        {"type": "metadata", "uri": "http://a.com/x", "body": b"k: v"},
    ]
    blob = encode_warc(recs)
    d = decode_warc(blob)
    assert [r["type"] for r in d] == ["request", "response", "metadata"]
    r = d[1]
    assert r["http_status"] == 404 and r["http_content_type"] == "text/html"
    assert r["body"] == b"hello web corpus"
    assert r["body_h"] == int(hashlib.md5(b"hello web corpus").hexdigest()[:15], 16)
    assert r["uri"] == "http://a.com/x"
    # CRLF inside a body must not break framing (Content-Length rules)
    tricky = encode_warc([{"type": "response", "uri": "u",
                           "body": "a\r\n\r\nWARC/1.0\r\nfake: x\r\n\r\nb"}])
    d3 = decode_warc(tricky)
    assert len(d3) == 1 and d3[0]["body"].startswith(b"a\r\n\r\nWARC/1.0")
    # tolerant: truncated tail record skipped, earlier ones kept
    assert len(decode_warc(blob[:-10])) == 2
    assert decode_warc(b"garbage") == []
    # Common Crawl wire format: one gzip member per record,
    # deterministic bytes, truncated trailing member skipped
    from transcriptomics_data_integration_spark.sources.warc import encode_warc_gz

    gz = encode_warc_gz(recs)
    assert gz[:2] == b"\x1f\x8b" and gz == encode_warc_gz(recs)
    dg = decode_warc(gz)
    assert [r["type"] for r in dg] == ["request", "response", "metadata"]
    assert dg[1]["body"] == b"hello web corpus"
    assert len(decode_warc(gz[:-15])) == 2
    assert decode_warc(b"\x1f\x8bjunk") == []


def test_robots_ua_run_ends_at_any_directive(spark):
    """r8 self-review: a crawl-delay (or any directive) between two
    User-agent lines ENDS the agent run (RFC 9309 ABNF) — the second
    UA starts a new group, so the star group below must NOT inherit
    rules attached to the first agent's group and vice versa."""
    from transcriptomics_data_integration_spark.llmdata.urls import (
        parse_robots_rules,
    )

    robots = spark.createDataFrame(
        [
            ("f.com",
             "User-agent: somebot\n"
             "Crawl-delay: 1\n"        # ends somebot's startgroup run
             "User-agent: *\n"
             "Disallow: /only-star/\n"
             "\n"
             "User-agent: otherbot\n"
             "Sitemap: http://f.com/s.xml\n"
             "Disallow: /other/\n"),
        ],
        "domain string, robots_txt string",
    )
    got = {(r["rule"], r["path_prefix"]) for r in parse_robots_rules(robots).collect()}
    # star group gets /only-star/ (its own rules), NOT /other/
    assert ("disallow", "/only-star/") in got
    assert not any(p == "/other/" for _, p in got)


def test_tfidf_keywords_python_replay(spark):
    """tfidf_keywords (r8): classic ln(N/df) scoring replayed in
    Python — a corpus-ubiquitous term scores 0 and never surfaces,
    rare terms rank first, ties break on term text."""
    import math

    from transcriptomics_data_integration_spark.llmdata.retrieval import (
        tfidf_keywords,
    )

    rows = [
        (1, "every rare rare topic"),
        (2, "every other thing"),
        (3, "every topic note"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["rank"]): r for r in
           tfidf_keywords(df, "doc_id", "text", k=2).collect()}
    # doc 1: 'rare' tf=2 df=1 -> 2*ln(3); 'topic' df=2 -> ln(1.5);
    # 'every' df=3 -> tfidf exactly 0, ranked below both
    assert got[(1, 1)]["term"] == "rare"
    assert abs(got[(1, 1)]["tfidf"] - 2 * math.log(3)) < 1e-12
    assert got[(1, 2)]["term"] == "topic"
    assert all(r["term"] != "every" or r["tfidf"] == 0.0 for r in got.values())
    # doc 2 top: 'other'/'thing' tie (tf=1, df=1) -> term-text order
    assert got[(2, 1)]["term"] == "other" and got[(2, 2)]["term"] == "thing"


def test_kneser_ney_logprob_matches_python_replay(spark):
    """kneser_ney_logprob (r8): continuation-probability semantics —
    a 'Francisco'-style word (frequent but single-context) is scored
    near zero probability mass outside its context, and every per-doc
    mean matches a literal python replay of the d=3/4 rational."""
    import math

    from transcriptomics_data_integration_spark.llmdata.text import (
        kneser_ney_logprob,
    )

    corpus = [
        (0, "san francisco is by the bay and san francisco is warm"),
        (1, "the bay is warm and the bay is near san francisco"),
        (2, "francisco francisco francisco"),  # repeated single word
    ]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in kneser_ney_logprob(df, "doc_id").collect()
    }

    # literal replay
    def toks(t):
        import re

        return [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]

    bi = {}
    for _, t in corpus:
        ts = toks(t)
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    c1dot, t1, c2cont = {}, {}, {}
    for (a, b), c in bi.items():
        c1dot[a] = c1dot.get(a, 0) + c
        t1[a] = t1.get(a, 0) + 1
        c2cont[b] = c2cont.get(b, 0) + 1
    B = len(bi)
    for did, t in corpus:
        ts = toks(t)
        lps = []
        for a, b in zip(ts, ts[1:]):
            num = (4 * bi[(a, b)] - 3) * B + 3 * t1[a] * c2cont[b]
            den = 4 * c1dot[a] * B
            lps.append(math.log(num / den))
        exp = sum(lps) / len(lps)
        assert got[did]["n_bigrams"] == len(lps)
        assert abs(got[did]["mean_kn_logprob"] - exp) < 1e-9

    # 'francisco' follows only 'san' (and itself) — its continuation
    # count is far below its raw frequency, so the KN back-off mass for
    # a novel '<x> francisco' bigram is small by construction
    assert c2cont["francisco"] < sum(
        c for (a, b), c in bi.items() if b == "francisco"
    )


def test_c4_filter_line_and_doc_rules(spark):
    """c4_filter (r8): each C4 rule binds independently — terminal
    punctuation, min words, javascript lines, brace docs, lorem docs,
    and the min-kept-lines floor."""
    from transcriptomics_data_integration_spark.llmdata.text import c4_filter

    rows = [
        (0, 'Good line one here.\nGood line two here!\nGood line "quoted."\nShort.\nno terminal punct line\nthis has javascript inside.'),
        (1, "Only one good line here.\nbad\nbad again"),
        (2, "A fine line is here.\nAnother fine line here.\nA third fine line here.\nvar x = { broken }."),
        (3, "Lorem ipsum dolor sit amet.\nSecond decent line here.\nThird decent line here."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_filter(df, "doc_id").collect()}

    # doc 0: 6 lines; kept = 3 good ones ("Short." fails min-words,
    # bare line fails punct, javascript line dropped) -> keep
    assert got[0]["n_lines"] == 6 and got[0]["n_kept_lines"] == 3
    assert got[0]["keep"] is True
    assert got[0]["clean_text"] == 'Good line one here.\nGood line two here!\nGood line "quoted."'
    # doc 1: only 1 kept line < 3 -> drop
    assert got[1]["n_kept_lines"] == 1 and got[1]["keep"] is False
    # doc 2: enough kept lines but has a brace -> drop
    assert got[2]["has_brace"] is True and got[2]["keep"] is False
    # doc 3: lorem ipsum -> drop
    assert got[3]["has_lorem"] is True and got[3]["keep"] is False


def test_chunk_documents_windows_and_overlap(spark):
    """chunk_documents (r8): starts advance by stride, windows are
    chunk_tokens long with the last partial kept, a short doc yields
    exactly one chunk, and reassembling stride-prefixes + the final
    chunk reproduces the token stream."""
    from transcriptomics_data_integration_spark.llmdata.text import (
        chunk_documents,
    )

    text = " ".join(f"t{i}" for i in range(1, 11))  # 10 tokens
    df = spark.createDataFrame(
        [(0, text), (1, "a b c")], "doc_id long, text string"
    )
    out = chunk_documents(df, "doc_id", chunk_tokens=4, stride=3)
    rows = sorted(
        [(r["doc_id"], r["chunk_id"], r["start_token"], r["n_chunk_tokens"], r["chunk_text"])
         for r in out.collect()]
    )
    # doc 0: starts 1,4,7 (upper = 10-4+3 = 9 -> 1,4,7); windows of 4
    assert [(c, s, n) for d, c, s, n, _ in rows if d == 0] == [
        (0, 1, 4), (1, 4, 4), (2, 7, 4)
    ]
    texts = {s: t for d, c, s, n, t in rows if d == 0}
    assert texts[1] == "t1 t2 t3 t4" and texts[7] == "t7 t8 t9 t10"
    # overlap: last token of chunk k is first token of chunk k+1
    assert texts[1].split()[3] == texts[4].split()[0]
    # doc 1: 3 tokens <= chunk -> one chunk, partial
    assert [(c, s, n, t) for d, c, s, n, t in rows if d == 1] == [
        (0, 1, 3, "a b c")
    ]


def test_dsir_logweights_prefers_target_like_docs(spark):
    """dsir_logweights (r8): a raw doc written in the target's
    vocabulary outscores a raw doc written in off-domain vocabulary,
    and weights match a literal python replay of the Laplace-bucket
    model."""
    import hashlib
    import math
    import re

    from transcriptomics_data_integration_spark.llmdata.sampling import (
        dsir_logweights,
    )

    target_text = "protein gene expression sample assay measurement cohort"
    rows = (
        [(i, target_text, True) for i in range(5)]
        + [(100, "protein gene expression assay cohort", False)]  # target-like raw
        + [(101, "pizza soccer weather holiday traffic", False)]  # off-domain raw
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    got = {
        r["doc_id"]: r
        for r in dsir_logweights(df, "doc_id", "tgt", n_buckets=64).collect()
    }
    assert got[100]["logweight"] > got[101]["logweight"]

    # literal replay
    def bucket(tok):
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        return h % 64

    ct, cr = {}, {}
    for _, text, tgt in rows:
        for tok in [x for x in re.split(r"[^a-z0-9]+", text.lower()) if x]:
            d = ct if tgt else cr
            b = bucket(tok)
            d[b] = d.get(b, 0) + 1
    tt, tr = sum(ct.values()), sum(cr.values())
    for did, text, tgt in [rows[0], rows[5], rows[6]]:
        lw = 0.0
        toks = [x for x in re.split(r"[^a-z0-9]+", text.lower()) if x]
        for tok in toks:
            b = bucket(tok)
            lw += math.log(
                ((ct.get(b, 0) + 1) * (tr + 64))
                / ((cr.get(b, 0) + 1) * (tt + 64))
            )
        assert got[did]["n_toks"] == len(toks)
        assert abs(got[did]["logweight"] - lw) < 1e-9


def test_zipf_fit_recovers_planted_power_law(spark):
    """zipf_fit (r8): a corpus whose term frequencies are planted as
    f(r) = round(1000 * r^-1) yields a slope near -1; a uniform corpus
    yields a slope near 0."""
    from transcriptomics_data_integration_spark.llmdata.text import zipf_fit

    rows = []
    did = 0
    for r in range(1, 21):
        f = round(1000 * r ** -1.0)
        for _ in range(f):
            rows.append((did, f"term{r:02d}"))
            did += 1
    zipfy = spark.createDataFrame(rows, "doc_id long, text string")
    slope = zipf_fit(zipfy, top_n=20).collect()[0]["slope"]
    assert abs(slope - (-1.0)) < 0.01

    uni = spark.createDataFrame(
        [(i, f"u{i % 10}") for i in range(1000)], "doc_id long, text string"
    )
    res = zipf_fit(uni, top_n=10).collect()[0]
    assert res["n_terms"] == 10
    assert abs(res["slope"]) < 1e-9


def test_incremental_minhash_dedup_verdicts(spark):
    """incremental_minhash_dedup (r8): exact copies match by digest
    (minhash skipped, jaccard 1.0), appended-token docs match as near
    with the right best-match id, novel docs come back 'new', and the
    directional join never flags existing x existing pairs."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        incremental_minhash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    existing = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different corpus text here")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, base),                       # exact (ties -> min ex id 1)
            (11, base + " qq"),               # near dup
            (12, "zz-totally-novel-payload"), # new
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in incremental_minhash_dedup(
            existing, incoming, "doc_id", threshold=0.8
        ).collect()
    }
    assert got[10]["verdict"] == "exact" and got[10]["matched_id"] == 1
    assert got[10]["jaccard"] == 1.0
    assert got[11]["verdict"] == "near" and got[11]["matched_id"] in (1, 2)
    assert got[11]["jaccard"] >= 0.8 and got[11]["jaccard"] < 1.0
    assert got[12]["verdict"] == "new" and got[12]["matched_id"] is None
    assert len(got) == 3  # one row per incoming doc, nothing else


def test_prototype_prune_keeps_hardest_per_cell(spark):
    """prototype_prune (r8): within each cell the kept set is exactly
    the lowest-cosine (hardest) half, every vector appears once, and a
    planted far-from-prototype vector is always kept."""
    from transcriptomics_data_integration_spark.llmdata.similarity import (
        prototype_prune,
    )

    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        v = rng.normal(size=8)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # vec 100: the exact negative of vec 0's direction — guaranteed
    # anti-prototypical for whatever cell it lands in near vec 0
    rows.append((100, [-x for x in rows[0][1]]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = prototype_prune(df, n_cells=4, keep_frac=0.5).collect()
    assert len(out) == 41 and len({r["vec_id"] for r in out}) == 41
    by_cell = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r)
    import math

    for cell, rs in by_cell.items():
        rs.sort(key=lambda r: (r["cos_to_proto"], r["vec_id"]))
        n = len(rs)
        k = math.ceil(n * 0.5)
        assert all(r["n_cell"] == n for r in rs)
        assert [r["kept"] for r in rs] == [True] * k + [False] * (n - k)
        assert [r["cell_rank"] for r in rs] == list(range(1, n + 1))


def test_dedup_line_spans_keeps_canonical_occurrence(spark):
    """dedup_line_spans (r8): a 3-line span shared by two docs is
    removed from the later doc only; unique spans survive; docs with
    fewer than span_lines lines are untouched."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        dedup_line_spans,
    )

    shared = "line one\nline two\nline three"
    rows = [
        (1, shared + "\nunique tail of doc one"),
        (2, shared + "\ndifferent tail here"),
        (3, "short\ndoc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_line_spans(df, "doc_id").collect()}

    # doc 1 is canonical for the shared span -> keeps everything
    assert got[1]["n_removed"] == 0
    assert got[1]["clean_text"] == rows[0][1]
    # doc 2 loses the 3 shared-span lines, keeps its unique tail
    assert got[2]["n_removed"] == 3
    assert got[2]["clean_text"] == "different tail here"
    # doc 3: too short for any span -> untouched
    assert got[3]["n_removed"] == 0 and got[3]["clean_text"] == "short\ndoc"


def test_pack_bins_nfd_semantics(spark):
    """pack_bins_nfd (r8): bins never exceed capacity (except flagged
    overflow singletons), docs are whole (one row each), within-bucket
    order is n DESC then id, and a python NFD replay agrees."""
    from transcriptomics_data_integration_spark.llmdata.sampling import (
        pack_bins_nfd,
    )

    rows = [(i, 10 + (i * 37) % 90) for i in range(40)] + [(100, 300), (101, 128)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_bins_nfd(df, "doc_id", "n_tokens", seq_len=128, n_buckets=4).collect()
    assert len(out) == len(rows)
    n_of = dict(rows)
    by_bin = {}
    for r in out:
        by_bin.setdefault((r["bucket"], r["bin_in_bucket"]), []).append(r)
    for (_, _), members in by_bin.items():
        total = sum(n_of[r["doc_id"]] for r in members)
        if any(r["truncated"] for r in members):
            assert len(members) == 1  # overflow singletons
        else:
            assert total <= 128
        # bin_fill of the last-placed member equals the bin total
        assert max(r["bin_fill"] for r in members) == total
        assert sorted(r["pos_in_bin"] for r in members) == list(range(len(members)))
    # the 300-token doc overflows; the exactly-128 doc does not
    g = {r["doc_id"]: r for r in out}
    assert g[100]["truncated"] is True and g[101]["truncated"] is False
    assert g[101]["bin_fill"] == 128


def test_incremental_dedup_with_prebuilt_index_matches(spark):
    """incremental_minhash_dedup (r8): passing a persisted
    build_minhash_index relation produces row-identical verdicts to
    the from-text path — the amortized production mode."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        build_minhash_index,
        incremental_minhash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    existing = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text here")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(10, base), (11, base + " qq"), (12, "zz-novel")],
        "doc_id long, text string",
    )
    direct = sorted(
        map(tuple, incremental_minhash_dedup(existing, incoming, "doc_id").collect())
    )
    idx = build_minhash_index(existing, "doc_id")
    via_index = sorted(
        map(
            tuple,
            incremental_minhash_dedup(
                None, incoming, "doc_id", existing_index=idx
            ).collect(),
        )
    )
    assert direct == via_index


def test_url_blocklist_score_weights_and_threshold(spark):
    """url_blocklist_score (r8): domain bans alone, soft substrings
    corroborate, negative weights offset, zero-match URLs come back
    with score 0 and blocked False."""
    from transcriptomics_data_integration_spark.llmdata.urls import (
        url_blocklist_score,
    )

    urls = spark.createDataFrame(
        [
            ("https://bad.example/anything",),
            ("https://ok.example/shop/item",),
            ("https://ok.example/shop/download",),
            ("https://ok.example/blog/shop",),
            ("https://ok.example/clean",),
        ],
        "url string",
    )
    rules = spark.createDataFrame(
        [
            ("domain", "bad.example", 1.0),
            ("substring", "shop", 0.6),
            ("substring", "download", 0.5),
            ("substring", "blog", -0.2),
        ],
        "kind string, pattern string, weight double",
    )
    got = {
        r["url"]: r
        for r in url_blocklist_score(urls, rules, threshold=1.0).collect()
    }
    assert got["https://bad.example/anything"]["blocked"] is True
    assert got["https://ok.example/shop/item"]["blocked"] is False
    assert abs(got["https://ok.example/shop/item"]["score"] - 0.6) < 1e-9
    assert got["https://ok.example/shop/download"]["blocked"] is True
    assert abs(got["https://ok.example/shop/download"]["score"] - 1.1) < 1e-9
    assert abs(got["https://ok.example/blog/shop"]["score"] - 0.4) < 1e-9
    assert got["https://ok.example/clean"]["n_matched"] == 0
    assert got["https://ok.example/clean"]["score"] == 0.0
    assert got["https://ok.example/clean"]["blocked"] is False


def test_domain_quality_prior_verdicts(spark):
    """domain_quality_prior (r8): a mostly-failing big domain bans its
    passing docs, a mostly-passing domain keeps its failures out only
    doc-level, and a tiny domain is exempt from the prior."""
    from transcriptomics_data_integration_spark.llmdata.urls import (
        domain_quality_prior,
    )

    rows = (
        [(i, "spam.example", i == 0) for i in range(10)]       # 1/10 keep
        + [(100 + i, "good.example", i != 0) for i in range(10)]  # 9/10 keep
        + [(200, "tiny.example", False), (201, "tiny.example", True)]
    )
    df = spark.createDataFrame(rows, "doc_id long, domain string, keep boolean")
    got = {
        r["doc_id"]: r
        for r in domain_quality_prior(
            df, "doc_id", "domain", "keep", min_docs=5,
            keep_frac_threshold=0.5,
        ).collect()
    }
    # spam domain: its one passing doc is banned by the prior
    assert got[0]["doc_keep"] is True and got[0]["domain_ok"] is False
    assert got[0]["keep_final"] is False
    # good domain: prior OK; doc-level verdicts decide
    assert got[100]["domain_ok"] is True and got[100]["keep_final"] is False
    assert got[101]["keep_final"] is True
    # tiny domain (< min_docs): exempt, doc verdicts pass through
    assert got[200]["domain_ok"] is True and got[200]["keep_final"] is False
    assert got[201]["keep_final"] is True
    assert got[200]["domain_n"] == 2


def _py_unigram(texts, vocab_size=14, P=4, iters=2, n_seed=20, maxw=12):
    """Pure-Python replay of unigram_train_fixed: same seeding, same
    packed-string Viterbi tie-break, same integer micrologs."""
    import math
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in re.split("[^a-z0-9]+", t.lower()):
            if w and len(w) <= maxw:
                words[w] += 1
    cand = Counter()
    for w, wc in words.items():
        for i in range(len(w)):
            for l in range(1, min(P, len(w) - i) + 1):
                cand[w[i : i + l]] += wc
    chars = {p: c for p, c in cand.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in cand.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[:n_seed]

    def ml(x):
        return round(math.log(x) * 1e6)

    def scored(d):
        T = sum(d.values())
        return {p: ml(T) - ml(c) for p, c in d.items()}

    def viterbi(w, costs):
        best = [(0, 0, "")] + [None] * len(w)
        for i in range(1, len(w) + 1):
            cands = []
            for l in range(1, min(P, i) + 1):
                piece = w[i - l : i]
                if piece in costs and best[i - l] is not None:
                    c, n, lens = best[i - l]
                    lens2 = str(l) if lens == "" else lens + "-" + str(l)
                    cands.append((c + costs[piece], n + 1, lens2))
            best[i] = min(
                cands, key=lambda t: f"{t[0]:012d}:{t[1]:02d}:{t[2]}"
            )
        return [int(x) for x in best[len(w)][2].split("-")]

    counts = dict(chars)
    counts.update(dict(multi))
    costs = scored(counts)
    for _ in range(iters):
        used = Counter()
        for w, wc in words.items():
            pos = 0
            for l in viterbi(w, costs):
                used[w[pos : pos + l]] += wc
                pos += l
        counts = {ch: max(used.get(ch, 0), 1) for ch in chars}
        for p, c in used.items():
            if len(p) >= 2:
                counts[p] = c
        costs = scored(counts)
    n_chars = len(chars)
    multi_f = sorted(
        ((p, c) for p, c in counts.items() if len(p) >= 2),
        key=lambda x: (-x[1], x[0]),
    )[: max(vocab_size - n_chars, 0)]
    fin = {p: c for p, c in counts.items() if len(p) == 1}
    fin.update(dict(multi_f))
    costs = scored(fin)
    return {p: (len(p), fin[p], costs[p]) for p in fin}


def test_unigram_train_matches_python_replay(spark):
    from transcriptomics_data_integration_spark.llmdata.bpe import unigram_train_fixed

    texts = [
        "the cat sat on the mat",
        "the cat ate the rat",
        "a cat and a rat sat",
        "mats and rats and cats",
    ]
    df = _docs(spark, list(enumerate(texts)))
    got = {
        r["piece"]: (r["piece_len"], r["count"], r["cost_micro"])
        for r in unigram_train_fixed(
            df, vocab_size=14, n_iters=2, n_seed=20
        ).collect()
    }
    assert got == _py_unigram(texts)


def test_unigram_dp_struct_state_tiebreaks(spark):
    """r11: the Viterbi fold's struct state (c, n, lens) must order
    EXACTLY like the r10 packed string ``lpad(c,12):lpad(n,2):lens``.
    Adversarial cost map: every piece costs the same, so min-cost TIES
    everywhere and (n_pieces, lens-string) decide; plus an uncovered
    word (no 'z' piece), which must yield lens NULL (the documented
    contract)."""
    from pyspark.sql import functions as F

    from transcriptomics_data_integration_spark.llmdata.bpe import (
        _unigram_dp_sql,
    )

    P = 4
    pieces = ["a", "b", "c", "ab", "bc", "abc", "abca", "bcab"]
    cost = {p: 1000 for p in pieces}  # all ties: n, then lens decide

    def brute(w):
        # enumerate all segmentations, pick min by the PACKED rule
        def segs(s):
            if not s:
                return [[]]
            out = []
            for l in range(1, min(P, len(s)) + 1):
                if s[:l] in cost:
                    out += [[l] + rest for rest in segs(s[l:])]
            return out

        cands = segs(w)
        if not cands:
            return None
        packed = [
            (
                f"{sum(cost[_piece(w, ls, k)] for k, _ in enumerate(ls)):012d}"
                f":{len(ls):02d}:" + "-".join(str(l) for l in ls)
            )
            for ls in cands
        ]
        return "-".join(str(l) for l in cands[packed.index(min(packed))])

    def _piece(w, ls, k):
        start = sum(ls[:k])
        return w[start : start + ls[k]]

    # r12: the two 12-char words (UNIGRAM_MAX_WORD_LEN) exercise the
    # full 12-digit base-5 lens pack, all-ones vs mixed segmentations
    words = [
        "abcabc", "abcab", "aabbcc", "abca", "cba", "zab", "a",
        "abcabcabcabc", "aabbccaabbcc",
    ]
    df = spark.createDataFrame([(w,) for w in words], ["w"]).withColumn(
        "m",
        F.create_map(
            *[x for p in pieces for x in (F.lit(p), F.lit(cost[p]).cast("bigint"))]
        ),
    )
    got = {
        r["w"]: r["lens"]
        for r in df.withColumn("lens", F.expr(_unigram_dp_sql(P))).collect()
    }
    for w in words:
        assert got[w] == brute(w), (w, got[w], brute(w))
    assert got["zab"] is None  # uncovered word -> NULL, not an error


def test_unigram_encode_counts(spark):
    from transcriptomics_data_integration_spark.llmdata.bpe import (
        unigram_encode,
        unigram_train_fixed,
    )

    texts = ["the cat sat", "mats and rats", "the the the"]
    df = _docs(spark, list(enumerate(texts)))
    pieces = unigram_train_fixed(df, vocab_size=14, n_iters=2, n_seed=20)
    out = {r["doc_id"]: r for r in unigram_encode(df, pieces).collect()}
    # chars tokenized = total word chars; every doc fully covered
    for i, t in enumerate(texts):
        words = [w for w in t.split() if w]
        assert out[i]["n_chars_tok"] == sum(len(w) for w in words)
        # at least one token per word, at most len(word) per word
        assert len(words) <= out[i]["n_tokens"] <= sum(len(w) for w in words)
        assert 0 <= out[i]["n_multi_tokens"] <= out[i]["n_tokens"]


def test_flac_frame_roundtrip_all_subframes():
    """encode_flac_frames -> decode_flac_frames is the identity on
    amplitude moments for every subframe type, across random int16
    signals (r9 frame codec; no Spark needed — pure codec)."""
    import random

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_flac_frames,
        encode_flac_frames,
    )

    rng = random.Random(42)
    for sub in ("verbatim", "fixed1", "fixed2"):
        for _ in range(25):
            s = [rng.randint(-32768, 32767) for _ in range(64)]
            d = decode_flac_frames(encode_flac_frames(s, subframe=sub))
            assert d is not None and d["subframe"] == sub
            assert d["n_samples"] == 64
            assert d["sum_amp"] == sum(s)
            assert d["sum_sq"] == sum(x * x for x in s)
            assert d["min_amp"] == min(s) and d["max_amp"] == max(s)
    d = decode_flac_frames(encode_flac_frames([-7] * 64, subframe="constant"))
    assert d["subframe"] == "constant" and d["sum_amp"] == -7 * 64
    assert d["frame_bytes"] == 12  # 7 hdr + 1 sub + 2 value + 2 crc16

    # n <= order is an encode-time error (r10 ADVICE fix), not a frame
    # that silently always fails decode
    import pytest as _pytest

    for sub, bad_n in (("fixed1", 1), ("fixed2", 2), ("fixed2", 1)):
        with _pytest.raises(AssertionError):
            encode_flac_frames([5] * bad_n, subframe=sub)
    # boundary: n = order + 1 must still round-trip
    d = decode_flac_frames(encode_flac_frames([5, -3, 11], subframe="fixed2"))
    assert d is not None and d["n_samples"] == 3 and d["sum_amp"] == 13


def test_flac_frame_crc_rejects_corruption():
    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_flac_frames,
        encode_flac_frames,
    )

    s = [((3 * i + i * (i - 1)) % 32768) - 16384 for i in range(64)]
    raw = bytearray(encode_flac_frames(s, subframe="fixed2"))
    good = decode_flac_frames(bytes(raw))
    assert good is not None
    # flip one bit in the frame body: CRC-16 must reject
    raw[-10] ^= 0x04
    assert decode_flac_frames(bytes(raw)) is None


def test_flac_fixed_predictor_compresses_smooth_signal():
    """A quadratic signal has (mostly) constant order-2 residuals, so
    the Rice-coded FIXED frame must be smaller than VERBATIM — the
    codec really compresses, it doesn't just reframe."""
    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_flac_frames,
        encode_flac_frames,
    )

    s = [((3 * i + 2 * (i * (i - 1) // 2)) % 32768) - 16384 for i in range(64)]
    fixed = decode_flac_frames(encode_flac_frames(s, subframe="fixed2"))
    verb = decode_flac_frames(encode_flac_frames(s, subframe="verbatim"))
    assert fixed["frame_bytes"] < verb["frame_bytes"] == 138


def _py_rle_deflate_bits(t: str) -> int:
    """Pure-Python replay of the rle_deflate cost model (symbol bits)."""
    def lit(c):
        return 8 if ord(c) < 144 else 9

    def match_bits(l):
        for hi, b in ((10, 7), (18, 8), (34, 9), (66, 10), (114, 11), (130, 12)):
            if l <= hi:
                return 5 + b
        return 5 + 13

    def run_bits(c, n):
        if n <= 0:
            return 0
        r = n - 1
        bits = lit(c) + (r // 258) * 13
        rem = r % 258
        return bits + (match_bits(rem) if rem >= 3 else rem * lit(c))

    bits, prev, run = 0, "", 0
    for ch in t:
        if ch == prev:
            run += 1
        else:
            bits += run_bits(prev, run)
            prev, run = ch, 1
    return bits + run_bits(prev, run)


def test_rle_deflate_matches_python_replay(spark):
    from transcriptomics_data_integration_spark.llmdata.text import rle_deflate_size

    texts = [
        "hello world",                 # no runs: all literals
        "aaa",                         # exactly a 3-run: one small match
        "ab" + "x" * 300 + "end",      # multi-chunk 258+ run
        "zz",                          # 2-run: remainder literals
        "",                            # empty doc
        "q" * 259,                     # 258-chunk + 0 remainder
        "r" * 262,                     # 258-chunk + 3 remainder match
    ]
    df = _docs(spark, list(enumerate(texts)))
    got = {r["doc_id"]: r for r in rle_deflate_size(df, "doc_id").collect()}
    for i, t in enumerate(texts):
        sym = _py_rle_deflate_bits(t)
        assert got[i]["rle_bits"] == sym + 10, (i, t[:20])
        assert got[i]["rle_bytes"] == 6 + (sym + 10 + 7) // 8
        if t:
            assert got[i]["rle_ratio"] == round(got[i]["rle_bytes"] / len(t), 6)
        else:
            assert got[i]["rle_ratio"] is None
    # signal direction: a run flood compresses, prose does not
    assert got[2]["rle_bytes"] < got[2]["n_chars"]
    assert got[0]["rle_bytes"] > got[0]["n_chars"]


def test_image_dhash_invariance_and_neardup(spark):
    """dHash (r9): invariant to global brightness shift (gradient
    bits), O(1) bits flipped by a local edit, ~half the bits across
    unrelated images; banded pair join finds the planted near-dups."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        dhash_bits,
        dhash_neardup_pairs,
        encode_png,
        image_dhash,
    )

    r = np.arange(16).reshape(-1, 1)
    c = np.arange(18).reshape(1, -1)
    base = ((5 * (r * 19 + c * 7 + 1)) % 200).astype(np.int64)

    def rgb(g):
        return np.repeat(np.clip(g, 0, 255).astype(np.uint8)[:, :, None], 3, axis=2)

    h_base = dhash_bits(rgb(base))
    assert 0 <= h_base < (1 << 56)
    # brightness shift (no wrap): gradients unchanged -> same hash
    assert dhash_bits(rgb(base + 40)) == h_base
    # local edit: few bits flip
    edited = base.copy()
    edited[6, 9] += 90
    d_edit = bin(h_base ^ dhash_bits(rgb(edited))).count("1")
    assert 1 <= d_edit <= 6
    # unrelated image: many bits differ
    other = ((11 * (r * 5 + c * 13 + 3)) % 200).astype(np.int64)
    assert bin(h_base ^ dhash_bits(rgb(other))).count("1") > 10

    # end-to-end: encode -> decode -> hash -> banded pairs
    rows = [
        (1, bytearray(encode_png(rgb(base)))),
        (2, bytearray(encode_png(rgb(base + 40)))),   # shifted copy
        (3, bytearray(encode_png(rgb(edited)))),      # near-dup
        (4, bytearray(encode_png(rgb(other)))),       # unrelated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "payload"])
    pairs = {
        (p["id_a"], p["id_b"]): p["hamming"]
        for p in dhash_neardup_pairs(
            image_dhash(df, "doc_id"), "doc_id", max_hamming=6
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    assert 1 <= pairs[(1, 3)] <= 6
    assert not any(4 in k for k in pairs)


def test_audio_envelope_hash_invariance_and_neardup(spark):
    """Audio envelope hash (r9): gain-invariant (delta bits), O(1)
    bits under a local edit, banded pairs find the planted near-dups
    through the real WAV codec."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        audio_envelope_bits,
        audio_envelope_hash,
        dhash_neardup_pairs,
        encode_wav,
    )

    i = np.arange(116, dtype=np.int64)
    base = (7 * (i * 13 + 7)) % 2048 - 1024
    h = audio_envelope_bits(base)
    assert 0 <= h < (1 << 28)
    # gain: doubling every sample preserves every energy comparison
    assert audio_envelope_bits(base * 2) == h
    # local edit: at most the two adjacent delta bits flip (possibly
    # zero, when the energy bump crosses neither comparison)
    edited = base.copy()
    edited[50] += 900
    assert bin(h ^ audio_envelope_bits(edited)).count("1") <= 2
    # unrelated clip differs widely
    other = (31 * (i * 5 + 3)) % 2048 - 1024
    assert bin(h ^ audio_envelope_bits(other)).count("1") > 5

    rows = [
        (1, bytearray(encode_wav(base.astype(np.int16)))),
        (2, bytearray(encode_wav((base * 2).astype(np.int16)))),
        (3, bytearray(encode_wav(edited.astype(np.int16)))),
        (4, bytearray(encode_wav(other.astype(np.int16)))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "payload"])
    pairs = {
        (p["id_a"], p["id_b"]): p["hamming"]
        for p in dhash_neardup_pairs(
            audio_envelope_hash(df, "doc_id"), "doc_id",
            hash_col="ahash", max_hamming=3, n_bands=4, n_bits=28,
        ).collect()
    }
    assert pairs[(1, 2)] == 0
    assert 0 <= pairs[(1, 3)] <= 2
    assert not any(4 in k for k in pairs)


def test_wordpiece_matches_python_replay(spark):
    """wordpiece_train_fixed (r9): likelihood-ratio merge choice
    replayed in pure Python — BPE picks the most FREQUENT pair, while
    WordPiece picks the pair most above its independence expectation;
    the test corpus is built so the two disagree."""
    import re
    from collections import Counter

    from transcriptomics_data_integration_spark.llmdata.bpe import (
        bpe_train_fixed,
        wordpiece_train_fixed,
    )

    texts = [
        "aa ab aa ab aa ab xy",   # 'a'+'a' frequent but 'x'+'y' pure
        "aa ab aa ab xy",
    ]

    def replay(n_merges):
        words = Counter()
        for t in texts:
            for w in re.split("[^a-z0-9]+", t.lower()):
                if w:
                    words[w] += 1
        syms = {w: [ch for ch in w] for w in words}
        out = []
        for r in range(1, n_merges + 1):
            sc = Counter()
            pc = Counter()
            for w, wc in words.items():
                s = syms[w]
                for x in s:
                    sc[x] += wc
                for i in range(len(s) - 1):
                    pc[(s[i], s[i + 1])] += wc
            best = min(
                pc,
                key=lambda p: (-(pc[p] / (sc[p[0]] * sc[p[1]])), p[0], p[1]),
            )
            out.append((r, best[0], best[1], best[0] + best[1], pc[best],
                        sc[best[0]], sc[best[1]]))
            for w in syms:
                s, ns, i = syms[w], [], 0
                while i < len(s):
                    if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                        ns.append(s[i] + s[i + 1])
                        i += 2
                    else:
                        ns.append(s[i])
                        i += 1
                syms[w] = ns
        return out

    df = _docs(spark, list(enumerate(texts)))
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["merged"], r["pair_count"],
         r["lhs_count"], r["rhs_count"])
        for r in wordpiece_train_fixed(df, n_merges=3).orderBy("merge_rank").collect()
    ]
    assert got == replay(3)
    # the discriminating property: WordPiece's first merge is the pure
    # pair (x, y), BPE's is the frequent pair (a, a or b)
    assert got[0][1:3] == ("x", "y")
    bpe_first = bpe_train_fixed(df, n_merges=1).collect()[0]
    assert (bpe_first["lhs"], bpe_first["rhs"]) != ("x", "y")


def test_capacity_banding_and_wide_hash_family(spark):
    """Capacity-scaled perceptual profile (r10): capacity_banding
    widths grow with log2(n); wide image/audio hashes round-trip
    through the real codecs, stay brightness/gain-invariant, and the
    multi-word banded join finds planted near-dups with pigeonhole
    recall; the bucket cap drops only storm buckets."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        audio_envelope_hash_wide,
        audio_envelope_words,
        capacity_banding,
        dhash_words,
        encode_png,
        encode_wav,
        hamming_neardup_pairs_wide,
        image_dhash_wide,
    )

    # width grows with corpus size, bands with the recall target
    assert capacity_banding(100, 3) == (4, 10)
    assert capacity_banding(500_000, 6) == (7, 21)
    assert capacity_banding(5_000_000, 6) == (7, 25)
    assert capacity_banding(10**9, 7) == (8, 30)  # clamped at 30

    r = np.arange(16).reshape(-1, 1)
    c = np.arange(18).reshape(1, -1)
    base = ((5 * (r * 19 + c * 7 + 1) + 3 * r * c) % 200).astype(np.int64)

    def rgb(g):
        return np.repeat(np.clip(g, 0, 255).astype(np.uint8)[:, :, None], 3, axis=2)

    w_base = dhash_words(rgb(base))
    assert len(w_base) == 8 and all(0 <= w < (1 << 16) for w in w_base)
    # brightness invariance, word by word
    assert dhash_words(rgb(base + 40)) == w_base
    # local edit flips O(1) bits across all words
    edited = base.copy()
    edited[6, 9] += 90
    d = sum(
        bin(a ^ b).count("1") for a, b in zip(w_base, dhash_words(rgb(edited)))
    )
    assert 1 <= d <= 6

    # audio: gain invariance (integer scale) + local-edit locality
    s = ((np.arange(400) * 13 + 7) % 2048 - 1024).astype(np.int64)
    aw = audio_envelope_words(s)
    assert len(aw) == 8 and audio_envelope_words(s * 3) == aw
    s2 = s.copy()
    s2[200] += 900
    da = sum(bin(a ^ b).count("1") for a, b in zip(aw, audio_envelope_words(s2)))
    assert 0 <= da <= 4

    # end-to-end through codecs + banded wide join
    other = ((11 * (r * 5 + c * 13 + 3) + 7 * r * r) % 200).astype(np.int64)
    rows = [
        (1, bytearray(encode_png(rgb(base)))),
        (2, bytearray(encode_png(rgb(base + 40)))),
        (3, bytearray(encode_png(rgb(edited)))),
        (4, bytearray(encode_png(rgb(other)))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "payload"])
    hashes = image_dhash_wide(df, "doc_id")
    pairs = {
        (p["id_a"], p["id_b"]): p["hamming"]
        for p in hamming_neardup_pairs_wide(hashes, "doc_id", max_hamming=6).collect()
    }
    assert pairs[(1, 2)] == 0
    assert 1 <= pairs[(1, 3)] <= 6
    assert not any(4 in k for k in pairs)

    clips = spark.createDataFrame(
        [
            (1, bytearray(encode_wav(s.astype(np.int16)))),
            (2, bytearray(encode_wav((s * 3).clip(-32768, 32767).astype(np.int16)))),
            (3, bytearray(encode_wav(s2.astype(np.int16)))),
        ],
        ["doc_id", "payload"],
    )
    apairs = {
        (p["id_a"], p["id_b"]): p["hamming"]
        for p in hamming_neardup_pairs_wide(
            audio_envelope_hash_wide(clips, "doc_id"), "doc_id", max_hamming=6
        ).collect()
    }
    assert apairs[(1, 2)] == 0 and (1, 3) in apairs

    # pigeonhole recall: planted pair at hamming == n_bands - 1 always
    # agrees on >= 1 band; bucket cap excludes a planted storm bucket
    # but spares normal pairs
    rng = np.random.RandomState(0)
    items = []
    for i in range(40):
        items.append((i, [int(v) for v in rng.randint(0, 1 << 16, 8)]))
    # pair (100, 101): flip 7 bits of item 0's hash, one per band 1..7
    wds = list(items[0][1])
    twin = [wds[0]] + [w ^ 1 for w in wds[1:]]
    items += [(100, wds), (101, twin)]
    # storm: 12 items share band-0 key 7 (unrelated otherwise)
    for j in range(12):
        items.append((200 + j, [7] + [int(v) for v in rng.randint(0, 1 << 16, 7)]))
    hdf = spark.createDataFrame(
        [(i, w) for i, w in items], "doc_id long, dwords array<long>"
    )
    got = {
        (p["id_a"], p["id_b"])
        for p in hamming_neardup_pairs_wide(hdf, "doc_id", max_hamming=7).collect()
    }
    assert (100, 101) in got  # exact recall at hamming = n_bands - 1
    capped = {
        (p["id_a"], p["id_b"])
        for p in hamming_neardup_pairs_wide(
            hdf, "doc_id", max_hamming=7, max_bucket=8
        ).collect()
    }
    assert (100, 101) in capped  # normal pair survives the cap


def test_flac_lpc_and_stereo_roundtrip():
    """r10: LPC subframes (quantized-coefficient predictor) and all
    three stereo decorrelation modes (left/side, right/side, mid/side
    with the 17-bit side channel) round-trip bit-exactly — closing the
    r9 documented subset boundary.  Pure codec, no Spark."""
    import random

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_flac_frames,
        encode_flac_frames,
        encode_flac_frames_stereo,
    )

    rng = random.Random(42)
    for _ in range(20):
        s = [rng.randint(-32768, 32767) for _ in range(64)]
        d = decode_flac_frames(encode_flac_frames(s, subframe="lpc2"))
        assert d is not None and d["subframe"] == "lpc2"
        assert d["predictor_order"] == 2 and d["channel_mode"] == "mono"
        assert d["sum_amp"] == sum(s) and d["sum_sq"] == sum(x * x for x in s)

    # LPC earns its keep on smooth signals: fewer bytes than verbatim
    s = [int(10000 * (1 - abs(i - 32) / 32)) for i in range(64)]
    assert len(encode_flac_frames(s, subframe="lpc2")) < len(
        encode_flac_frames(s, subframe="verbatim")
    )

    for mode in ("left_side", "right_side", "mid_side"):
        for sub in ("verbatim", "fixed1", "fixed2", "lpc2"):
            L = [rng.randint(-32768, 32767) for _ in range(48)]
            R = [rng.randint(-32768, 32767) for _ in range(48)]
            d = decode_flac_frames(
                encode_flac_frames_stereo(L, R, mode=mode, subframe=sub)
            )
            assert d is not None and d["channel_mode"] == mode
            assert d["subframe"] == sub or (mode == "right_side")
            both = L + R
            assert d["n_samples"] == 96
            assert d["sum_amp"] == sum(both)
            assert d["sum_sq"] == sum(x * x for x in both)
            assert d["min_amp"] == min(both) and d["max_amp"] == max(both)

    # corrupted stereo frame still rejected by CRC-16
    raw = bytearray(
        encode_flac_frames_stereo([5] * 32, [9] * 32, mode="mid_side")
    )
    raw[-5] ^= 0x40
    assert decode_flac_frames(bytes(raw)) is None


def test_video_phash_wide_neardup(spark):
    """Video perceptual fingerprint (r10): per-sampled-frame dHash
    words through the real MJPEG-AVI codec; a one-frame edit flips
    bits in that frame's word only, so the banded wide join finds the
    pair; unrelated clips stay apart; frame sampling handles clips
    longer than n_frames."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        encode_avi_mjpeg,
        hamming_neardup_pairs_wide,
        video_phash_wide,
    )

    ones = np.ones((8, 8), dtype=np.uint8)

    def clip(seed, n_frames=8, perturb=False):
        rng = np.random.RandomState(seed)
        frames = []
        for f in range(n_frames):
            v = rng.randint(0, 256, (2, 17))
            if perturb and f == 3:
                v = v.copy()
                v[0, 9] = (v[0, 9] + 128) % 256
            frames.append(np.kron(v.astype(np.uint8), ones))
        return bytearray(encode_avi_mjpeg(frames, fps=12))

    df = spark.createDataFrame(
        [
            (1, clip(7)),
            (2, clip(7, perturb=True)),   # one-frame edit of 1
            (3, clip(99)),                # unrelated
            (4, clip(7, n_frames=16)),    # 1's content, doubled frames
        ],
        ["doc_id", "payload"],
    )
    hashes = video_phash_wide(df, "doc_id")
    rows = {r["doc_id"]: r["dwords"] for r in hashes.collect()}
    assert all(len(w) == 8 for w in rows.values())
    d12 = sum(bin(a ^ b).count("1") for a, b in zip(rows[1], rows[2]))
    assert 1 <= d12 <= 3  # edit localized to frame 3's word
    assert sum(bin(a ^ b).count("1") for a, b in zip(rows[1], rows[3])) > 10
    pairs = {
        (p["id_a"], p["id_b"]): p["hamming"]
        for p in hamming_neardup_pairs_wide(hashes, "doc_id", max_hamming=3).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in k for k in pairs)



def test_connected_components_steps_per_cycle_invariant(spark, monkeypatch):
    """r11: composing multiple propagation steps per lineage/convergence
    cycle is a latency lever only — the min-label fixpoint (and hence
    every closure consumer's output) is identical for any
    steps_per_cycle."""
    from transcriptomics_data_integration_spark.llmdata import dedup as dd
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        connected_components,
    )

    monkeypatch.setattr(dd, "DRIVER_CLOSURE_MAX_EDGES", -1)

    chain = [(i, i + 1) for i in range(100, 111)]
    tri = [(1, 2), (2, 3), (1, 3)]
    edges = spark.createDataFrame(chain + tri + [(50, 51)], ["id_a", "id_b"])
    base = {
        r["node"]: r["component"]
        for r in connected_components(edges, steps_per_cycle=1).collect()
    }
    for steps in (2, 3):
        alt = {
            r["node"]: r["component"]
            for r in connected_components(edges, steps_per_cycle=steps).collect()
        }
        assert alt == base


def _closure(spark, rows, schema, bound):
    """connected_components with the driver-arm bound set to ``bound``
    -> ({(node, component)}, stats); stats["dtypes"] holds the output's
    column types."""
    from transcriptomics_data_integration_spark.llmdata import dedup as dd

    old = dd.DRIVER_CLOSURE_MAX_EDGES
    dd.DRIVER_CLOSURE_MAX_EDGES = bound
    try:
        st = {}
        out = dd.connected_components(spark.createDataFrame(rows, schema), stats=st)
        st["dtypes"] = out.dtypes
        return {(r["node"], r["component"]) for r in out.collect()}, st
    finally:
        dd.DRIVER_CLOSURE_MAX_EDGES = old


def test_connected_components_arms_agree_property(spark):
    """Property: on ANY undirected int-id graph —
    random edges, chains, cliques, duplicate and reversed edges,
    self-loops, isolated pairs — the driver union-find arm and the
    label-propagation arm return identical (node, component) sets, and
    propagation reaches its fixpoint within max_iter (an empty graph
    included)."""
    import warnings

    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    node = st.one_of(st.integers(-20, 40), st.integers(2**40, 2**40 + 5))

    @st.composite
    def graphs(draw):
        edges = draw(st.lists(st.tuples(node, node), max_size=12))
        chain = draw(st.lists(node, max_size=10, unique=True))
        edges += list(zip(chain, chain[1:]))
        clique = draw(st.lists(node, max_size=5, unique=True))
        edges += [(a, b) for a in clique for b in clique if a < b]
        edges.append(draw(st.tuples(st.integers(1000, 1005), st.integers(1006, 1010))))
        dup = draw(st.lists(st.sampled_from(edges), max_size=4))
        edges += dup + [(b, a) for a, b in dup]
        return draw(st.permutations(edges))

    # interleaved-id chain 0-59-1-58-...: descending local minima, so
    # pointer jumps compose nothing and propagation needs many rounds
    zigzag = [v for i in range(30) for v in (i, 59 - i)]

    @given(graphs())
    @example(list(zip(zigzag, zigzag[1:])) + [(99, 99)])
    @example([])
    @settings(max_examples=10, deadline=None, database=None,
              suppress_health_check=list(HealthCheck))
    def check(rows):
        schema = "id_a long, id_b long"
        driver, st_d = _closure(spark, rows, schema, 10**9)
        with warnings.catch_warnings():
            warnings.filterwarnings("error", message="connected_components: no fixpoint")
            prop, st_p = _closure(spark, rows, schema, -1)
        assert (st_d["arm"], st_p["arm"]) == ("driver", "propagation")
        assert st_d["dtypes"] == st_p["dtypes"] == [("node", "bigint"), ("component", "bigint")]
        assert st_d["edges"] == st_p["edges"] and st_d["rounds"] == 0
        assert driver == prop, rows

    check()


def _clusters(spark, rows, schema, bound):
    """dedup_clusters with the driver-arm bound set to ``bound`` ->
    ({(doc_id, canonical_id, cluster_size)}, dtypes)."""
    from transcriptomics_data_integration_spark.llmdata import dedup as dd

    old = dd.DRIVER_CLOSURE_MAX_EDGES
    dd.DRIVER_CLOSURE_MAX_EDGES = bound
    try:
        out = dd.dedup_clusters(spark.createDataFrame(rows, schema))
        return {tuple(r) for r in out.collect()}, out.dtypes
    finally:
        dd.DRIVER_CLOSURE_MAX_EDGES = old


def test_dedup_clusters_arms_agree_property(spark):
    """Property: the driver arm (cluster sizes counted from the
    union-find mapping) and the propagation arm (a size window over the
    labels) return identical (doc_id, canonical_id, cluster_size) sets
    with identical column types, for integer and string ids, with
    self-loops and duplicate, reversed edges."""
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    @st.composite
    def graphs(draw):
        edges = draw(st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=12))
        loops = draw(st.lists(st.integers(20, 25), max_size=3))
        edges += [(v, v) for v in loops]
        edges += [(b, a) for a, b in draw(st.lists(st.sampled_from(edges), max_size=3))]
        return draw(st.permutations(edges))

    @given(graphs(), st.booleans())
    @example([(3, 3), (1, 2), (2, 1), (2, 9), (10, 11)], True)
    @settings(max_examples=6, deadline=None, database=None,
              suppress_health_check=list(HealthCheck))
    def check(rows, as_str):
        schema = "id_a long, id_b long"
        if as_str:
            rows = [(f"d{a:02d}", f"d{b:02d}") for a, b in rows]
            schema = "id_a string, id_b string"
        driver, dt_d = _clusters(spark, rows, schema, 10**9)
        prop, dt_p = _clusters(spark, rows, schema, -1)
        id_t = "string" if as_str else "bigint"
        assert dt_d == dt_p == [("doc_id", id_t), ("canonical_id", id_t), ("cluster_size", "bigint")]
        assert driver == prop, rows

    check()


def test_connected_components_string_ids_use_spark_order(spark):
    """String ids: Python's codepoint order equals Spark's UTF-8 byte
    order, so both arms pick the same min id — including past the BMP,
    where UTF-16 order (U+1F600 as a D83D surrogate) would put the
    emoji below U+FFFF.  The driver arm keeps the id column's type."""
    rows = [("\U0001f600", "\uffff"), ("é", "a"), ("Z", "é"), ("b", "b")]
    schema = "id_a string, id_b string"
    driver, st = _closure(spark, rows, schema, 10**9)
    prop, st_p = _closure(spark, rows, schema, -1)
    assert st["arm"] == "driver"
    assert st["dtypes"] == st_p["dtypes"] == [("node", "string"), ("component", "string")]
    assert driver == prop
    _, st_int = _closure(spark, [(1, 2)], "id_a int, id_b int", 10**9)
    assert st_int["dtypes"] == [("node", "int"), ("component", "int")]
    comp = dict(driver)
    assert comp["\U0001f600"] == "\uffff"
    assert comp["é"] == comp["a"] == "Z"
    assert comp["b"] == "b"


def test_connected_components_null_and_float_ids(spark):
    """A null endpoint raises on either arm; float ids (NaN is one
    value and the largest in Spark, unequal to itself in Python) never
    take the driver arm, so NaN still links its neighbours, and a
    chain of fractional ids converges to its true minimum."""
    for bound in (10**9, -1):
        with pytest.raises(ValueError, match="null endpoint"):
            _closure(spark, [(1, 2), (3, None)], "id_a long, id_b long", bound)
    nan = float("nan")
    fracs = [i / 10 for i in range(9, 0, -1)]
    rows = [(1.0, nan), (nan, 2.0), (3.0, 4.0)] + list(zip(fracs, fracs[1:]))
    got, st = _closure(spark, rows, "id_a double, id_b double", 10**9)
    assert st["arm"] == "propagation"
    comp = {n: c for n, c in got if n == n}
    assert comp == {1.0: 1.0, 2.0: 1.0, 3.0: 3.0, 4.0: 3.0, **{f: 0.1 for f in fracs}}


def test_observed_wait_is_bounded(spark, monkeypatch):
    """An Observation that never arrives warns and falls back to a
    direct aggregate after OBSERVATION_WAIT_S instead of blocking."""
    from pyspark.sql import Observation

    from transcriptomics_data_integration_spark.llmdata import dedup as dd

    agg = F.count(F.lit(1)).alias("n")
    obs = Observation()
    spark.range(7).observe(obs, agg)  # no action ever runs on it
    monkeypatch.setattr(dd, "OBSERVATION_WAIT_S", 0.05)
    with pytest.warns(RuntimeWarning, match="not delivered"):
        assert dd._observed(obs, spark.range(7), agg) == {"n": 7}


def test_plan_size_fallback_warns():
    """An unreadable size estimate still maps to "unknown" (the
    scale-safe arm), but says so."""
    from transcriptomics_data_integration_spark.operators.windows import (
        estimated_plan_bytes,
    )

    with pytest.warns(RuntimeWarning, match="no Catalyst size estimate"):
        assert estimated_plan_bytes(None) is None


def test_unigram_max_piece_len_guard(spark):
    """max_piece_len outside 1..4 would alias the base-5 lens pack;
    both public entry points refuse it."""
    from transcriptomics_data_integration_spark.llmdata.bpe import (
        unigram_encode,
        unigram_train_fixed,
    )

    df = _docs(spark, [(0, "the cat sat")])
    pieces = unigram_train_fixed(df, vocab_size=8, n_iters=1, n_seed=4)
    for bad in (0, 5, 6):
        with pytest.raises(ValueError, match="max_piece_len"):
            unigram_train_fixed(df, max_piece_len=bad)
        with pytest.raises(ValueError, match="max_piece_len"):
            unigram_encode(df, pieces, max_piece_len=bad)


def test_incremental_dedup_band_index_and_no_broadcast_match(spark):
    """r11 levers: a pre-exploded band index (build_minhash_band_index)
    and the broadcast_batch=False huge-batch arm both produce verdicts
    row-identical to the default path."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        build_minhash_band_index,
        build_minhash_index,
        incremental_minhash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    existing = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text here")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(10, base), (11, base + " qq"), (12, "zz-novel")],
        "doc_id long, text string",
    )
    direct = sorted(
        map(tuple, incremental_minhash_dedup(existing, incoming, "doc_id").collect())
    )
    idx = build_minhash_index(existing, "doc_id")
    bands = build_minhash_band_index(idx)
    via_bands = sorted(
        map(
            tuple,
            incremental_minhash_dedup(
                None, incoming, "doc_id", existing_index=idx, index_bands=bands
            ).collect(),
        )
    )
    assert via_bands == direct
    no_bcast = sorted(
        map(
            tuple,
            incremental_minhash_dedup(
                None,
                incoming,
                "doc_id",
                existing_index=idx,
                index_bands=bands,
                broadcast_batch=False,
            ).collect(),
        )
    )
    assert no_bcast == direct


def test_incremental_dedup_auto_arm_selection(spark, tmp_path):
    """r12: broadcast_batch=None self-selects the arm from Catalyst's
    plan-size estimate.  A small PARQUET-backed batch (the gate shape —
    file-size statistics exist) picks the broadcast arm; an RDD-backed
    batch (createDataFrame — unknown stats, Long.MaxValue sentinel)
    falls back to the always-safe shuffle arm; both arms produce
    identical rows."""
    from transcriptomics_data_integration_spark.llmdata import dedup as dd
    from transcriptomics_data_integration_spark.operators.windows import (
        estimated_plan_bytes,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    mem_existing = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text here")],
        "doc_id long, text string",
    )
    mem_incoming = spark.createDataFrame(
        [(10, base), (11, base + " qq"), (12, "zz-novel")],
        "doc_id long, text string",
    )
    p_ex, p_in = str(tmp_path / "ex.parquet"), str(tmp_path / "in.parquet")
    mem_existing.write.parquet(p_ex)
    mem_incoming.write.parquet(p_in)
    existing, incoming = spark.read.parquet(p_ex), spark.read.parquet(p_in)
    # parquet-backed: file-size estimate, tiny -> broadcast arm
    est = estimated_plan_bytes(incoming)
    assert 0 < est < dd.INCREMENTAL_BROADCAST_AUTO_MAX_BYTES
    # RDD-backed: unknown stats (Long.MaxValue) -> None -> shuffle arm,
    # silently: an unknown estimate is routine, not a fault
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert estimated_plan_bytes(mem_incoming) is None
    auto_bcast = sorted(
        map(
            tuple,
            dd.incremental_minhash_dedup(existing, incoming, "doc_id").collect(),
        )
    )
    old = dd.INCREMENTAL_BROADCAST_AUTO_MAX_BYTES
    try:
        # force the auto rule to the shuffle arm: rows must not change
        dd.INCREMENTAL_BROADCAST_AUTO_MAX_BYTES = 0
        auto_shuffle = sorted(
            map(
                tuple,
                dd.incremental_minhash_dedup(existing, incoming, "doc_id").collect(),
            )
        )
    finally:
        dd.INCREMENTAL_BROADCAST_AUTO_MAX_BYTES = old
    assert auto_shuffle == auto_bcast
    # an unreadable plan maps to "unknown" too (shuffle arm), with a warning
    with pytest.warns(RuntimeWarning, match="no Catalyst size estimate"):
        assert estimated_plan_bytes(None) is None


def test_minhash_index_bucketed_roundtrip(spark, tmp_path):
    """write_minhash_index persists the docs + bands tables bucketed;
    read_minhash_index round-trips them and the read-back index drives
    incremental_minhash_dedup to the same verdicts."""
    from transcriptomics_data_integration_spark.llmdata.dedup import (
        build_minhash_index,
        incremental_minhash_dedup,
        read_minhash_index,
        write_minhash_index,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    existing = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text here")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [(10, base), (11, base + " qq"), (12, "zz-novel")],
        "doc_id long, text string",
    )
    idx = build_minhash_index(existing, "doc_id")
    prefix = "t_r11_mh_idx"
    try:
        write_minhash_index(idx, prefix, n_buckets=4)
        docs_t, bands_t = read_minhash_index(spark, prefix)
        assert docs_t.count() == 2
        assert sorted(bands_t.columns) == ["bk64", "ex_id"]
        direct = sorted(
            map(
                tuple,
                incremental_minhash_dedup(existing, incoming, "doc_id").collect(),
            )
        )
        stored = sorted(
            map(
                tuple,
                incremental_minhash_dedup(
                    None,
                    incoming,
                    "doc_id",
                    existing_index=docs_t,
                    index_bands=bands_t,
                ).collect(),
            )
        )
        assert stored == direct
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_docs")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_bands")


def test_perceptual_neardup_auto_selects_profile(spark):
    """perceptual_neardup_auto (r11): at/below the capacity ceiling
    the narrow single-long profile runs; above it the plan upgrades to
    the capacity_banding-sized multi-word profile — and both arms find
    the planted near-dup pair."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        capacity_banding,
        encode_png,
        perceptual_neardup_auto,
    )

    def png(fam, perturb=False):
        g = np.random.RandomState(fam).randint(0, 256, (16, 18)).astype(np.int64)
        if perturb:
            g = g.copy()
            g[6, 9] = (g[6, 9] + 128) % 256
        return bytearray(
            encode_png(np.repeat(np.clip(g, 0, 255).astype(np.uint8)[:, :, None], 3, axis=2))
        )

    df = spark.createDataFrame(
        [(1, png(3)), (2, png(3, True)), (3, png(99))], ["doc_id", "payload"]
    )
    stats_n: dict = {}
    narrow = {
        (r["id_a"], r["id_b"])
        for r in perceptual_neardup_auto(
            df, "doc_id", media="image", stats=stats_n
        ).collect()
    }
    assert stats_n["profile"] == "narrow"
    assert (1, 2) in narrow and not any(3 in p for p in narrow)

    # force the upgrade by shrinking the ceiling below the corpus size
    stats_w: dict = {}
    wide = {
        (r["id_a"], r["id_b"])
        for r in perceptual_neardup_auto(
            df, "doc_id", media="image", capacity_ceiling=2, stats=stats_w
        ).collect()
    }
    assert stats_w["profile"] == "wide"
    assert (stats_w["n_bands"], stats_w["word_bits"]) == capacity_banding(3)
    assert (1, 2) in wide and not any(3 in p for p in wide)

    # n_items passed explicitly skips the count job and drives the arm
    stats_e: dict = {}
    perceptual_neardup_auto(
        df, "doc_id", media="image", n_items=50_000_000, stats=stats_e
    )
    assert stats_e["profile"] == "wide"


def test_video_offset_tolerant_tier_catches_trims(spark):
    """video_neardup_offset_tolerant (r11): a one-frame trim/insert
    shifts every position band — the position-locked tier misses the
    pair, the value-band + shift-swept tier catches it at |shift|=1
    with a small alignment hamming."""
    import numpy as np

    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        encode_avi_mjpeg,
        hamming_neardup_pairs_wide,
        video_neardup_offset_tolerant,
        video_phash_wide,
    )

    ones = np.ones((8, 8), dtype=np.uint8)

    def frames_for(seed, n=8):
        rng = np.random.RandomState(seed)
        return [
            np.kron(rng.randint(0, 256, (2, 17)).astype(np.uint8), ones)
            for _ in range(n)
        ]

    base = frames_for(7)
    lead = frames_for(555, 1)  # one alien frame prepended
    clips = {
        1: base,
        2: lead + base[:-1],   # one-frame DELAY of clip 1
        3: frames_for(99),     # unrelated
    }
    df = spark.createDataFrame(
        [(i, bytearray(encode_avi_mjpeg(fs, fps=12))) for i, fs in clips.items()],
        ["doc_id", "payload"],
    )
    hashes = video_phash_wide(df, "doc_id")

    locked = {
        (p["id_a"], p["id_b"])
        for p in hamming_neardup_pairs_wide(
            hashes, "doc_id", max_hamming=6
        ).collect()
    }
    assert (1, 2) not in locked  # the documented r10 caveat, now a test

    tol = {
        (p["id_a"], p["id_b"]): (p["best_shift"], p["hamming"])
        for p in video_neardup_offset_tolerant(
            hashes, "doc_id", max_hamming=6
        ).collect()
    }
    assert (1, 2) in tol
    shift, ham = tol[(1, 2)]
    assert abs(shift) == 1 and ham <= 6
    assert not any(3 in p for p in tol)


def test_unrolled_hamming_verify_rejects_other_fingerprint_sizes(spark):
    """The unrolled verifies read words 1..n only: a 10-word pair that
    differs in words 9-10 (32 bits) would pass as hamming 0 at n = 8,
    so any fingerprint whose size is not n raises; the generic folds
    see every word."""
    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        hamming_neardup_pairs_wide,
        video_neardup_offset_tolerant,
    )

    base = list(range(1, 11))
    twin = base[:8] + [w ^ 0xFFFF for w in base[8:]]
    hdf = spark.createDataFrame([(1, base), (2, twin)], "doc_id long, dwords array<long>")
    assert not hamming_neardup_pairs_wide(hdf, "doc_id", max_hamming=6).collect()
    assert not video_neardup_offset_tolerant(hdf, "doc_id", max_hamming=6).collect()
    with pytest.raises(Exception, match="holds 10 words, not 8"):
        hamming_neardup_pairs_wide(hdf, "doc_id", max_hamming=6, n_words=8).collect()
    with pytest.raises(Exception, match="holds 10 words, not 8"):
        video_neardup_offset_tolerant(hdf, "doc_id", max_hamming=6, n_frames=8).collect()
    # the exact size still verifies with the unrolled sums
    assert hamming_neardup_pairs_wide(hdf, "doc_id", max_hamming=32, n_words=10).collect() == [
        (1, 2, 32)
    ]
