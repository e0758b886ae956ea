"""Streaming ingestion of arriving expression/count data.

Reference seam: count files arrive per sample/dataset
(`scripts/rna-seq_data_processing/GenExpression_RNAseq.pl:177-189`) and
the registry append is idempotent (S9, `:104-131`).  Batch semantics are
preserved: the streaming transformations below are the SAME DataFrame
expressions as the batch operators (Structured Streaming contract), so
a replay of the stream equals the batch result — the property the
streaming test asserts.

Scale: file-source streaming with ``maxFilesPerTrigger`` bounds
per-micro-batch work; ``dropDuplicates`` on the dataset key holds only
the key set as state; windowed aggregations with watermarks bound state
for event-time data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

COUNT_SCHEMA = T.StructType(
    [
        T.StructField("gene_id", T.StringType(), True),
        T.StructField("sample_id", T.StringType(), True),
        T.StructField("read_count", T.LongType(), True),
        T.StructField("dataset", T.StringType(), True),
    ]
)


def stream_count_files(spark: SparkSession, path: str) -> DataFrame:
    """readStream over an ingest directory of count CSVs; drops htseq
    ``__`` summary rows and duplicate datasets (idempotent-registry
    semantics)."""
    raw = (
        spark.readStream.schema(COUNT_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .csv(path, sep="\t", header=True)
    )
    return raw.where(~F.col("gene_id").startswith("__"))


def streaming_window_counts(
    events: DataFrame, ts_col: str, key_col: str, value_col: str, window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of
    the batch ``q_event_window_counts`` suite query."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def run_stream_to_memory(stream_df: DataFrame, query_name: str, out_mode: str = "append"):
    """Drive a streaming query synchronously to completion over the
    currently-available input (test/driver harness)."""
    q = (
        stream_df.writeStream.outputMode(out_mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stateful_running_stats(stream_df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Custom stateful streaming operator (SURVEY.md section 2.8 seam):
    running per-key count/sum/mean maintained in GroupState across
    micro-batches via ``applyInPandasWithState`` — the
    ``applyInPandasWithState`` tier of the custom-operator policy.

    State is one (count, total) pair per key — O(keys) state, no
    per-event growth.
    """
    import pandas as pd

    def update(key, pdfs, state):
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            count += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((count, total))
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "n_events": [count],
                "total": [total],
                "mean": [total / count if count else None],
            }
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} string, n_events long, total double, mean double",
        stateStructType="count long, total double",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def streaming_dedup(
    stream_df: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: emit the FIRST row per key across
    micro-batches (the streaming twin of ``exact_dedup`` / the S9
    idempotent-registry semantics).

    With ``ts_col`` the dedup state is watermarked — keys older than the
    watermark age out, bounding state for unbounded key universes (the
    crawl-dedup case).  Without it, state is one entry per distinct key
    (the registry case: dataset ids, bounded by design).
    """
    if ts_col is not None:
        return stream_df.withWatermark(ts_col, watermark).dropDuplicates(
            key_cols + [ts_col]
        )
    return stream_df.dropDuplicates(key_cols)


def streaming_sessionize(
    stream_df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_ns: int = 1800 * 1_000_000_000,
) -> DataFrame:
    """Streaming gap-based sessionization — the stateful-streaming twin
    of the batch ``sessionize`` suite query (lag + running sum), built
    on ``applyInPandasWithState``.

    State per key is ONE open session (start, end, count).  Each
    micro-batch's events extend it; a gap > ``gap_ns`` closes it (the
    closed session is emitted with ``closed=true``) and opens a new one.
    The current open session is also emitted every batch with
    ``closed=false`` (update-mode snapshot), so a downstream consumer
    always sees the latest state without waiting for a timeout; take the
    last row per (key, session_start) for the settled view.

    Timestamps are epoch-nanosecond longs (the engine's exact-integer
    time convention).  Events must be time-ordered ACROSS micro-batches
    per key (within a batch they are sorted here) — the file-arrival
    ingest seam delivers that; for out-of-order sources put a
    watermarked buffer in front.
    """
    import pandas as pd

    def update(key, pdfs, state):
        start, end, n = state.get if state.exists else (None, None, 0)
        out_rows = []
        # a key's micro-batch data may span several Arrow chunks:
        # concatenate BEFORE sorting, or chunk boundaries would feed
        # out-of-order timestamps into the fold and split sessions
        chunks = [pdf[ts_col] for pdf in pdfs]
        all_ts = (
            pd.concat(chunks, ignore_index=True)
            if chunks
            else pd.Series([], dtype="int64")
        )
        for ts in all_ts.sort_values():
            ts = int(ts)
            if start is None:
                start, end, n = ts, ts, 1
            elif ts - end > gap_ns:
                out_rows.append((key[0], start, end, n, True))
                start, end, n = ts, ts, 1
            else:
                end, n = max(end, ts), n + 1
        state.update((start, end, n))
        if start is not None:
            out_rows.append((key[0], start, end, n, False))
        yield pd.DataFrame(
            out_rows,
            columns=[key_col, "session_start", "session_end", "n_events", "closed"],
        )

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"{key_col} long, session_start long, session_end long, "
            "n_events long, closed boolean"
        ),
        stateStructType="start long, end long, n long",
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str = "lts",
    right_ts: str = "rts",
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream inner join: match right-stream events
    to left-stream events on the key where the right event lands within
    ``(left_ts, left_ts + max_lag]`` — the impression->click attribution
    shape.

    Both sides carry watermarks and the join condition bounds the time
    difference in both directions, so Spark can size the join state and
    evict rows older than watermark + lag — the requirement for an
    unbounded stream-stream join to run with finite state.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    return lw.join(
        rw,
        F.expr(
            f"{key_col} = {key_col}_r AND "
            f"{right_ts} > {left_ts} AND "
            f"{right_ts} <= {left_ts} + interval {max_lag}"
        ),
        "inner",
    )


def streaming_minhash_neardup(
    stream_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Streaming MinHash near-duplicate detection — the stateful twin
    of the batch ``minhash_lsh_pairs`` pipeline (llmdata/dedup.py),
    for dedup-at-ingest: each arriving document is checked against
    everything previously streamed before it enters the corpus.

    Per-row signature (no shuffle): the same 30-bit md5-lane minhash
    as the batch path (seed j = the 30-bit half of
    ``md5(shingle || '#' || j//4)`` picked by (j//2)%2 and j%2 — see
    ``llmdata.dedup.hashed_shingles``), computed in an Arrow-batched
    pandas UDF so signatures are BIT-IDENTICAL to the batch
    pipeline's.  Docs then explode to their
    ``n_bands`` band keys and ``applyInPandasWithState`` keyed by
    band-bucket holds the bucket's (id, signature) inventory: a new
    doc emits a pair for every stored doc whose signature agrees on
    >= ``threshold`` of positions (the streaming-budget estimate of
    Jaccard — the batch path verifies candidates with EXACT Jaccard,
    which would require keeping full shingle sets in state).

    Contract notes: a pair sharing several bands emits once per shared
    band — downstream consumers dedup on (id_a, id_b) (the batch path
    does this with ``.distinct()``); state per bucket is capped at
    ``max_bucket`` most-recent docs (crawl-scale buckets are bounded
    by the banding; the cap is a backstop, not the design size).
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    if n_hashes % n_bands != 0:
        raise ValueError("n_hashes must divide into n_bands")
    r = n_hashes // n_bands

    # no type hints on the UDF: `from __future__ import annotations`
    # stringifies them, which defeats pandas_udf's hint inference —
    # the explicit returnType above carries the schema
    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(texts):
        n_dig = (n_hashes + 3) // 4
        out = []
        for t in texts:
            t = t or ""
            n_sh = max(len(t) - k + 1, 1)
            sh = {t[i:i + k] for i in range(n_sh)}
            # ceil(n/4) md5s per shingle, four 30-bit lanes each —
            # same recipe (and same call count) as the batch kernel
            vals = []
            for s in sh:
                digs = [
                    hashlib.md5(f"{s}#{q}".encode()).hexdigest()
                    for q in range(n_dig)
                ]
                ws = [
                    int(digs[w // 2][15 * (w % 2):15 * (w % 2) + 15], 16)
                    for w in range((n_hashes + 1) // 2)
                ]
                vals.append([
                    (ws[j // 2] >> 30) if j % 2 == 0 else (ws[j // 2] & ((1 << 30) - 1))
                    for j in range(n_hashes)
                ])
            out.append([min(v[j] for v in vals) for j in range(n_hashes)])
        return pd.Series(out)

    with_sig = stream_df.select(
        F.col(id_col).cast("long").alias("_id"),
        sig_udf(F.col(text_col)).alias("sig"),
    )
    band_keys = F.array(*[
        F.concat_ws(
            "_", F.lit(b), *[F.col("sig")[j].cast("string") for j in range(b * r, (b + 1) * r)]
        )
        for b in range(n_bands)
    ])
    exploded = with_sig.select("_id", "sig", F.explode(band_keys).alias("band_key"))

    def update(key, pdfs, state):
        if state.exists:
            ids, sigs = state.get
            ids = list(ids)
            sigs = [list(s) for s in sigs]
        else:
            ids, sigs = [], []
        rows = []
        for pdf in pdfs:
            for _id, sig in zip(pdf["_id"], pdf["sig"]):
                _id = int(_id)
                sig = [int(x) for x in sig]
                if _id in ids:
                    continue  # replay guard within the bucket
                for pid, psig in zip(ids, sigs):
                    est = sum(a == b for a, b in zip(sig, psig)) / len(sig)
                    if est >= threshold:
                        rows.append((min(pid, _id), max(pid, _id), est))
                ids.append(_id)
                sigs.append(sig)
        if len(ids) > max_bucket:
            ids, sigs = ids[-max_bucket:], sigs[-max_bucket:]
        state.update((ids, sigs))
        yield pd.DataFrame(rows, columns=["id_a", "id_b", "est_jaccard"])

    return exploded.groupBy("band_key").applyInPandasWithState(
        update,
        outputStructType="id_a long, id_b long, est_jaccard double",
        stateStructType="ids array<bigint>, sigs array<array<bigint>>",
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def streaming_bloom_contamination(
    stream_df: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 3,
    m_bits: int = 1 << 17,
) -> DataFrame:
    """Streaming twin of ``llmdata.text.bloom_contamination`` (r8) —
    decontaminate-at-ingest: every arriving training document is
    screened against a STATIC eval corpus before it enters the pool,
    the shape a continuously-fed corpus needs (the batch kernel
    re-reads the whole training side; the stream screens each
    micro-batch as it lands).

    The eval side is bounded (a benchmark suite), so its distinct
    shingle inventory, the Bloom BIT SET (same md5 'bloom{i}#shingle'
    positions as the batch kernel), and the exact shingle set are
    built ONCE at plan build and broadcast; each document is then a
    stateless map — an Arrow-batched pandas UDF computing, over the
    doc's DISTINCT k-shingles, the Bloom-maybe count, the exact-hit
    count, and the false-positive difference.  No state store, no
    shuffle, works identically in any output mode; counts are
    BIT-IDENTICAL to the batch kernel's (same shingling, same hashes,
    same distinct semantics), which the batch-equivalence test pins.

    Output (docs with >= 1 Bloom survivor, like the batch kernel):
    (id, n_maybe, n_exact, n_false_pos).
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    def _shingles(t: str) -> set:
        t = t or ""
        n_sh = max(len(t) - k + 1, 1)
        return {t[i : i + k] for i in range(n_sh)}

    def _positions(s: str) -> tuple:
        return tuple(
            int(hashlib.md5(f"bloom{i}#{s}".encode()).hexdigest()[:15], 16) % m_bits
            for i in range(n_hashes)
        )

    ev_sh: set = set()
    for row in eval_docs.select(text_col).collect():  # bounded eval suite
        ev_sh.update(_shingles(row[0]))
    bits: set = set()
    for s in ev_sh:
        bits.update(_positions(s))
    sc = eval_docs.sparkSession.sparkContext
    b_bits = sc.broadcast(frozenset(bits))
    b_ev = sc.broadcast(frozenset(ev_sh))

    @F.pandas_udf(
        StructType(
            [StructField("n_maybe", LongType()), StructField("n_exact", LongType())]
        )
    )
    def screen(texts):
        bitset = b_bits.value
        ev = b_ev.value
        rows = []
        for t in texts:
            maybe = [
                s for s in _shingles(t)
                if all(p in bitset for p in _positions(s))
            ]
            rows.append(
                (len(maybe), sum(1 for s in maybe if s in ev))
            )
        return pd.DataFrame(rows, columns=["n_maybe", "n_exact"])

    return (
        stream_df.select(F.col(id_col), screen(F.col(text_col)).alias("_s"))
        .select(
            id_col,
            F.col("_s.n_maybe").alias("n_maybe"),
            F.col("_s.n_exact").alias("n_exact"),
            (F.col("_s.n_maybe") - F.col("_s.n_exact")).alias("n_false_pos"),
        )
        .where(F.col("n_maybe") > 0)
    )


def streaming_incremental_dedup(
    stream_df: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.8,
) -> DataFrame:
    """Streaming twin of ``llmdata.dedup.incremental_minhash_dedup``
    (r8) — dedupe-at-ingest: every arriving document is screened
    against the KEPT corpus's content index (digests + band buckets +
    shingle sets) before it enters the pool.  This is the streaming
    half of the incremental story: the batch kernel handles
    batch-vs-corpus (both sides shuffled); this twin handles
    doc-at-a-time arrival against a BROADCAST-bounded index snapshot —
    right when the kept index fits executor memory (dedup against a
    curated core set, an eval suite, a single partner corpus).  For a
    100 TB kept side, run the batch kernel per micro-batch window
    instead; the hashes are the same content functions either way.

    The index is built once at plan build: digest -> min kept id,
    band tuple -> kept ids, kept id -> distinct-shingle set.  Each
    arriving doc is then a stateless Arrow map — digest probe first
    (exact), else 16-seed minhash -> 4 band tuples -> candidate kept
    ids -> exact-Jaccard verify -> best match (max jaccard, tie ->
    min kept id).  No state store, no shuffle; verdicts are
    BIT-IDENTICAL to the batch kernel's (same 30-bit md5-lane recipe,
    same banding, same 60-bit-shingle-id verify sets — not raw
    strings — same tie rules), which the batch-equivalence test
    pins.

    Output: (id, verdict, matched_id, n_inter, n_a, n_b, jaccard).
    """
    import hashlib

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    _n_dig = (n_hashes + 3) // 4
    _n_words = (n_hashes + 1) // 2

    def _sh_lanevals(t: str) -> list:
        """Per distinct shingle: (sid, [h_0..h_{n-1}]) — the 60-bit
        shingle id (word 0 undivided) plus the 30-bit md5-lane seeds.

        sid is the SAME id set the batch kernel verifies with
        (collect_set(sid)), so n_a/n_b/n_inter are bit-identical, not
        merely identical-up-to-hash-collisions.
        """
        t = t or ""
        n_sh = max(len(t) - k + 1, 1)
        vals = []
        for s in {t[i : i + k] for i in range(n_sh)}:
            digs = [
                hashlib.md5(f"{s}#{q}".encode()).hexdigest()
                for q in range(_n_dig)
            ]
            ws = [
                int(digs[w // 2][15 * (w % 2) : 15 * (w % 2) + 15], 16)
                for w in range(_n_words)
            ]
            hs = [
                (ws[j // 2] >> 30) if j % 2 == 0 else (ws[j // 2] & ((1 << 30) - 1))
                for j in range(n_hashes)
            ]
            vals.append((ws[0], hs))
        return vals

    def _minhash_bands(vals: list) -> tuple:
        sigs = [min(hs[j] for _, hs in vals) for j in range(n_hashes)]
        rpb = n_hashes // n_bands
        return tuple(
            tuple(sigs[b * rpb : (b + 1) * rpb]) for b in range(n_bands)
        )

    digest_index: dict = {}
    band_index: dict = {}
    shingle_sets: dict = {}
    for ex_id, txt in existing.select(id_col, text_col).collect():  # bounded index
        dg = hashlib.md5((txt or "").encode()).hexdigest()
        if dg not in digest_index or ex_id < digest_index[dg]:
            digest_index[dg] = ex_id
        vals = _sh_lanevals(txt)
        shingle_sets[ex_id] = frozenset(sid for sid, _ in vals)
        for b, key in enumerate(_minhash_bands(vals)):
            band_index.setdefault((b, key), []).append(ex_id)

    sc = existing.sparkSession.sparkContext
    b_digest = sc.broadcast(digest_index)
    b_bands = sc.broadcast(band_index)
    b_sets = sc.broadcast(shingle_sets)

    @F.pandas_udf(
        StructType(
            [
                StructField("verdict", StringType()),
                StructField("matched_id", LongType()),
                StructField("n_inter", IntegerType()),
                StructField("n_a", IntegerType()),
                StructField("n_b", IntegerType()),
                StructField("jaccard", DoubleType()),
            ]
        )
    )
    def screen(texts):
        dgi = b_digest.value
        bdi = b_bands.value
        sets = b_sets.value
        rows = []
        for t in texts:
            dg = hashlib.md5((t or "").encode()).hexdigest()
            if dg in dgi:
                rows.append(("exact", dgi[dg], None, None, None, 1.0))
                continue
            vals = _sh_lanevals(t)
            sh = {sid for sid, _ in vals}
            cands: set = set()
            for b, key in enumerate(_minhash_bands(vals)):
                cands.update(bdi.get((b, key), ()))
            best = None
            for ex_id in sorted(cands):
                ex_sh = sets[ex_id]
                inter = len(sh & ex_sh)
                j = inter / (len(sh) + len(ex_sh) - inter)
                if j >= threshold and (
                    best is None or j > best[5] or (j == best[5] and ex_id < best[1])
                ):
                    best = ("near", ex_id, inter, len(sh), len(ex_sh), j)
            rows.append(best or ("new", None, None, None, None, None))
        return pd.DataFrame(
            rows,
            columns=["verdict", "matched_id", "n_inter", "n_a", "n_b", "jaccard"],
        )

    return stream_df.select(F.col(id_col), screen(F.col(text_col)).alias("_s")).select(
        id_col,
        F.col("_s.verdict").alias("verdict"),
        F.col("_s.matched_id").alias("matched_id"),
        F.col("_s.n_inter").alias("n_inter"),
        F.col("_s.n_a").alias("n_a"),
        F.col("_s.n_b").alias("n_b"),
        F.col("_s.jaccard").alias("jaccard"),
    )


def _perceptual_screen(
    stream_df: DataFrame,
    existing_hashes: list,
    payload_hash_fn,
    id_col: str,
    payload_col: str,
    max_hamming: int,
    n_bands: int,
    n_bits: int,
) -> DataFrame:
    """Shared screen-at-ingest core for the perceptual streaming
    twins: build a driver-side band index over the kept corpus's
    (id, hash) rows (BOUNDED: one long per kept item), broadcast it,
    and screen each arriving payload with ``payload_hash_fn`` —
    same banding, same pigeonhole recall contract as the batch pair
    join.  NULL / undecodable payloads screen as 'new'."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    width = n_bits // n_bands
    band_index: dict = {}
    hash_by_id: dict = {}
    for ex_id, h in existing_hashes:
        hash_by_id[ex_id] = h
        for b in range(n_bands):
            key = (b, (h >> (b * width)) % (1 << width))
            band_index.setdefault(key, []).append(ex_id)

    sc = stream_df.sparkSession.sparkContext
    b_bands = sc.broadcast(band_index)
    b_hashes = sc.broadcast(hash_by_id)

    @F.pandas_udf(
        StructType(
            [
                StructField("verdict", StringType()),
                StructField("matched_id", LongType()),
                StructField("hamming", IntegerType()),
            ]
        )
    )
    def screen(payloads):
        bdi = b_bands.value
        hbi = b_hashes.value
        rows = []
        for p in payloads:
            h = None if p is None else payload_hash_fn(bytes(p))
            if h is None:  # NULL or undecodable payload
                rows.append(("new", None, None))
                continue
            cands: set = set()
            for b in range(n_bands):
                key = (b, (h >> (b * width)) % (1 << width))
                cands.update(bdi.get(key, ()))
            best = None
            for ex_id in sorted(cands):
                d = bin(h ^ hbi[ex_id]).count("1")
                if d <= max_hamming and (best is None or d < best[2]):
                    best = ("near", ex_id, d)
            rows.append(best or ("new", None, None))
        return pd.DataFrame(rows, columns=["verdict", "matched_id", "hamming"])

    return stream_df.select(
        F.col(id_col), screen(F.col(payload_col)).alias("_s")
    ).select(
        id_col,
        F.col("_s.verdict").alias("verdict"),
        F.col("_s.matched_id").alias("matched_id"),
        F.col("_s.hamming").alias("hamming"),
    )


def streaming_perceptual_dedup(
    stream_df: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 6,
    n_bands: int = 4,
    n_bits: int = 56,
) -> DataFrame:
    """Streaming twin of the batch perceptual image dedup
    (`llmdata.multimodal.image_dhash` + `dhash_neardup_pairs`) —
    screen-at-ingest for image corpora: each arriving PNG payload is
    decoded, dHashed, and checked against a BROADCAST-bounded band
    index of the kept corpus's hashes; the best match (min hamming,
    tie -> min kept id) within ``max_hamming`` is reported.  Same
    banding (equal integer bands), same pigeonhole recall contract,
    same hash recipe as the batch kernel — the batch-equivalence test
    pins verdict identity.  For kept sides beyond executor memory,
    run the batch pair join per micro-batch window instead; hashes
    are the same content function either way.

    Output: (id, verdict 'near'|'new', matched_id, hamming).
    """
    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_png_pixels,
        dhash_bits,
        image_dhash,
    )

    def hash_payload(raw: bytes):
        px = decode_png_pixels(raw)
        return None if px is None else dhash_bits(px)

    return _perceptual_screen(
        stream_df,
        image_dhash(existing, id_col, payload_col).collect(),
        hash_payload, id_col, payload_col, max_hamming, n_bands, n_bits,
    )


def streaming_audio_perceptual_dedup(
    stream_df: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    n_bands: int = 4,
    n_frames: int = 29,
) -> DataFrame:
    """Streaming twin of the batch perceptual AUDIO dedup (r10 —
    `llmdata.multimodal.audio_envelope_hash` + `dhash_neardup_pairs`
    at n_bits = n_frames - 1), mirroring the r9 image
    screen-at-ingest: each arriving WAV payload is PCM16-decoded,
    envelope-hashed, and screened against the broadcast band index of
    the kept corpus.  Same bounded-kept-side contract and batch
    fallback as the image twin.

    Output: (id, verdict 'near'|'new', matched_id, hamming).
    """
    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        audio_envelope_bits,
        audio_envelope_hash,
        decode_wav_samples,
    )

    def hash_payload(raw: bytes):
        s = decode_wav_samples(raw)
        return None if s is None else audio_envelope_bits(s, n_frames)

    return _perceptual_screen(
        stream_df,
        audio_envelope_hash(existing, id_col, payload_col, n_frames).collect(),
        hash_payload, id_col, payload_col, max_hamming, n_bands,
        n_frames - 1,
    )


def _perceptual_screen_wide(
    stream_df: DataFrame,
    existing_words: list,
    payload_words_fn,
    id_col: str,
    payload_col: str,
    max_hamming: int,
) -> DataFrame:
    """Screen-at-ingest core for MULTI-WORD perceptual hashes (r11):
    the kept corpus's (id, words array) rows build a driver-side band
    index keyed (band position, word) — each word is one band key, the
    capacity-scaled contract of `multimodal.hamming_neardup_pairs_wide`
    — and each arriving payload's words probe it; candidates verify by
    total summed bit_count across positions.  Bounded kept side
    (n_bands longs per kept item), broadcast once; NULL / undecodable
    payloads screen as 'new'."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    band_index: dict = {}
    words_by_id: dict = {}
    for ex_id, ws in existing_words:
        ws = list(ws)
        words_by_id[ex_id] = ws
        for b, w in enumerate(ws):
            band_index.setdefault((b, w), []).append(ex_id)

    sc = stream_df.sparkSession.sparkContext
    b_bands = sc.broadcast(band_index)
    b_words = sc.broadcast(words_by_id)

    @F.pandas_udf(
        StructType(
            [
                StructField("verdict", StringType()),
                StructField("matched_id", LongType()),
                StructField("hamming", IntegerType()),
            ]
        )
    )
    def screen(payloads):
        bdi = b_bands.value
        wbi = b_words.value
        rows = []
        for p in payloads:
            ws = None if p is None else payload_words_fn(bytes(p))
            if ws is None:
                rows.append(("new", None, None))
                continue
            cands: set = set()
            for b, w in enumerate(ws):
                cands.update(bdi.get((b, w), ()))
            best = None
            for ex_id in sorted(cands):
                ew = wbi[ex_id]
                d = sum(
                    bin(x ^ y).count("1") for x, y in zip(ws, ew)
                )
                if d <= max_hamming and (best is None or d < best[2]):
                    best = ("near", ex_id, d)
            rows.append(best or ("new", None, None))
        return pd.DataFrame(rows, columns=["verdict", "matched_id", "hamming"])

    return stream_df.select(
        F.col(id_col), screen(F.col(payload_col)).alias("_s")
    ).select(
        id_col,
        F.col("_s.verdict").alias("verdict"),
        F.col("_s.matched_id").alias("matched_id"),
        F.col("_s.hamming").alias("hamming"),
    )


def streaming_video_perceptual_dedup(
    stream_df: DataFrame,
    existing: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    n_frames: int = 8,
    word_bits: int = 16,
) -> DataFrame:
    """Streaming twin of the batch perceptual VIDEO dedup (r11,
    completing the streaming perceptual family: image r9, audio r10 —
    `llmdata.multimodal.video_phash_wide` +
    `hamming_neardup_pairs_wide`): each arriving MJPEG-AVI payload is
    demuxed, its evenly-sampled frames dHashed to the per-frame word
    fingerprint, and screened against the broadcast (frame position,
    word) band index of the kept corpus — frame = band, identical to
    the batch join's contract, so the batch-equivalence test pins
    verdict identity.  Same bounded-kept-side contract (n_frames longs
    per kept clip) and per-micro-batch batch fallback as the other
    twins.

    Output: (id, verdict 'near'|'new', matched_id, hamming).
    """
    from transcriptomics_data_integration_spark.llmdata.multimodal import (
        decode_avi_frames,
        dhash_words,
        video_phash_wide,
    )

    def payload_words(raw: bytes):
        vid = decode_avi_frames(raw)
        if vid is None or not vid["frames"]:
            return None
        frames = vid["frames"]
        nf = len(frames)
        return [
            dhash_words(frames[k * nf // n_frames], 1, word_bits)[0]
            for k in range(n_frames)
        ]

    kept = [
        (r[id_col], list(r["dwords"]))
        for r in video_phash_wide(
            existing, id_col, payload_col, n_frames, word_bits
        ).collect()
    ]
    return _perceptual_screen_wide(
        stream_df, kept, payload_words, id_col, payload_col, max_hamming
    )
